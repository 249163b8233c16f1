package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided Parquet fixtures (TESTDATA.md).
  *
  * All queries take a scale-factor directory (e.g. /root/testdata/sf0.01) and
  * read only the tables they need; Catalyst pushes column pruning and filters
  * into the Parquet scan, so at 100 TB each operator touches only its own
  * bytes.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) (read via the legacy
    // nanos-as-long mapping) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // (read as TIMESTAMP_NTZ). Normalize both to the session-TZ TIMESTAMP the
    // operators expect; the session is pinned to UTC so the instants agree.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    } else df
  }

  /** Widen a NARROW scan to cluster parallelism before a per-row-heavy
    * map chain (regex/HOF sweeps, media encode/decode, HTML parsing).
    *
    * The fixture parquets ship as a single row group, so their scans are
    * ONE task and every narrow chain above them runs single-threaded
    * until the first exchange — the guide §2.5 "unsplittable input"
    * shape (q137's n-gram featurization measured 5.0 s single-task vs
    * 0.3 s wide at sf0.1). At production scale the scan already has
    * more partitions than cores and this is a no-op: the repartition
    * fires only when the plan's scan parallelism is BELOW the session's
    * default parallelism, so no payload shuffle is ever added to an
    * already-wide input. Round-robin keeps row sets identical; Spark's
    * sort-before-repartition (default on) keeps retries deterministic. */
  def fanOut(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Width probe WITHOUT executing (r14 ADVICE): under AQE, Dataset.rdd
    // forces AdaptiveSparkPlanExec to materialize upstream query stages at
    // plan-build time, so probing an exchange-bearing frame would RUN its
    // shuffles and then re-plan them. The pre-adaptive physical plan
    // answers the width question statically: a plan already containing an
    // exchange is (or is about to be) cluster-wide — fanOut is a
    // leaf-scan device and no-ops there — otherwise the leaves' split
    // counts are the plan's parallelism (building a leaf scan's RDD plans
    // splits, it runs no job).
    val plan = df.queryExecution.sparkPlan
    if (plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]))
      return df
    val width = plan.collectLeaves().map { l =>
      try l.execute().getNumPartitions catch { case _: Exception => target }
    }.sum
    if (width >= target) df
    // hash-partition when the caller names keys: deterministic, no
    // sort-before-repartition, and the exchange is reusable across the
    // plan's branches (a round-robin exchange re-pays its local sort on
    // every recompute of a pure-projection frame)
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = load(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
