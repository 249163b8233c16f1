package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark build and its DuckDB oracle.
  *
  * `build(spark, sfDir)` returns the query's DataFrame. `oracle()` returns
  * the SQL that runs against views named after the parquet fixtures and
  * must produce the SAME column names and the SAME values (after the
  * rounding baked into both sides). Arithmetic mirrors the Spark
  * expression trees operation for operation, so doubles agree bit for bit
  * before rounding; the driver hash-compares values after sorting columns
  * by name. The oracle is a thunk so that looking a query up never builds
  * oracle SQL.
  */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, oracle: () => String)
