package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Line-oriented text sources — the formats web-scale corpora actually
  * arrive in (JSONL crawl dumps, CSV exports) — read with an EXPLICIT
  * schema and a corrupt-record QUARANTINE instead of silent null-filling
  * or job-killing FAILFAST: at 100 TB a handful of mangled lines per
  * shard is the norm, and the pipeline must both keep them out of the
  * corpus AND keep them inspectable.
  *
  * Scale notes: both readers are line-splittable (every executor reads
  * its own byte range), so ingest parallelism is input-sized. CSV fields
  * containing embedded newlines require `multiLine=true`, which makes
  * files NON-splittable (one task per file) — quote-escape newlines at
  * export time instead, or accept per-file parallelism. Schema inference
  * is never used: it costs an extra full scan and silently widens types
  * on dirty data.
  */
object TextSources {

  /** The quarantine column added to every read. */
  val CorruptCol = "_corrupt"

  private def withCorrupt(schema: StructType): StructType =
    StructType(schema.fields :+ StructField(CorruptCol, StringType, nullable = true))

  /** Read newline-delimited JSON with `schema`; malformed lines land in
    * [[CorruptCol]] with every data column null. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** Read headerless CSV with `schema` (RFC-4180 quoting; `multiLine`
    * only if embedded newlines are unavoidable — see scale notes). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              multiLine: Boolean = false): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("header", "false")
      .option("multiLine", multiLine.toString)
      .csv(path)

  /** Split a permissive read into (clean, quarantine). The frame is
    * pinned first: Spark disallows plans that reference ONLY the corrupt
    * column of a raw file scan, and the pin also makes the two sides one
    * read instead of two. The quarantine side carries the raw line for
    * inspection. At cluster scale, land both sides to storage from this
    * single pinned pass (or run the split inside a foreachBatch). */
  def quarantineSplit(df: DataFrame): (DataFrame, DataFrame) = {
    val pinned = CheckpointPolicy.pin(df)
    val clean = pinned.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = pinned.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol).as("raw_line"))
    (clean, bad)
  }
}
