package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global ranking. A bare `Window.orderBy(...)` (no partitioning)
  * collapses the whole input into ONE task — correct at fixture scale,
  * fatal at 100 TB. The operators here produce the exact same numbers with
  * a range-repartition + per-partition window + prefix offsets: every stage
  * is parallel, and the only driver-side data is one count per partition.
  */
object Ranking {

  /** Exact global row_number over `sortCols` without a single-task sort:
    * range-repartition on the sort key (so partition p holds a contiguous
    * key range, in order), number rows within each partition with a
    * partitioned window, then add the number of rows in all earlier
    * partitions (collected counts — ≤ `partitions` scalars).
    *
    * The two passes (counts, numbering) must see identical partition
    * contents, so the ranged input is pinned ([[CheckpointPolicy.pin]]). */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      out: String = "rn", partitions: Int = 32): DataFrame = {
    val ranged = CheckpointPolicy.pin(
      df.repartitionByRange(partitions, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getAs[Int]("__pid") -> r.getAs[Long]("c")).toMap
    val offsets = Array.tabulate(partitions) { p =>
      (0 until p).map(counts.getOrElse(_, 0L)).sum
    }
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    ranged
      .withColumn(out,
        row_number().over(w).cast("long") + element_at(lit(offsets), col("__pid") + 1))
      .drop("__pid")
  }

  /** Per-GROUP row number without a per-group window sort — the grouped
    * form of [[globalRowNumber]]: a window partitioned by a low-cardinality
    * group (5 languages at any corpus size) sorts each group's ENTIRE
    * contents in one task; this range-partitions on (group, sortCols), so
    * a group spans many partitions and each task sorts only its slice.
    * Per-(partition, group) counts (≤ partitions × groups scalars on the
    * driver) provide each slice's offset within its group via a broadcast
    * join. High-cardinality groups don't need this — there a plain window
    * is already balanced; this is for the low-cardinality/huge-group
    * shape. `sortCols` must totally order rows WITHIN a group. */
  def groupedRowNumber(df: DataFrame, group: Column, sortCols: Seq[Column],
                       out: String = "rn", partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranged = CheckpointPolicy.pin(
      df.withColumn("__g", group)
        // the group's SPARK-rendered string is the join identity on BOTH
        // sides — collecting the raw value and re-rendering it on the driver
        // (String.valueOf) can disagree with Spark's cast for timestamps
        // (timezone) and nulls, silently emptying the join
        .withColumn("__gs", col("__g").cast("string"))
        .repartitionByRange(partitions, col("__g") +: sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy("__pid", "__gs").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getAs[Int]("__pid"), r.getAs[String]("__gs"),
        r.getAs[Long]("c")))
    val offsets = counts
      .groupBy(_._2).iterator.flatMap { case (gs, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, c) =>
          val off = acc; acc += c; (pid, gs, off)
        }
      }.toSeq.toDF("__opid", "__ogs", "__off")
    val w = Window.partitionBy("__pid", "__g").orderBy(sortCols: _*)
    ranged
      .join(broadcast(offsets),
        col("__pid") === col("__opid") && col("__gs") <=> col("__ogs"))
      .withColumn(out, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__g", "__gs", "__opid", "__ogs", "__off")
  }

  /** Exact global running sum of `value` (a long) over the `sortCols`
    * total order, with the same no-single-task-sort construction as
    * [[globalRowNumber]]: range-repartition, per-partition window sum,
    * plus the prefix sum of earlier partitions' totals (≤ `partitions`
    * scalars on the driver). `sortCols` must be a TOTAL order (include a
    * unique id) — ties would make the running sum include the whole tie
    * group for every tied row. The inclusive cum for a row r is
    * `sum(value) over rows ≤ r`. */
  def globalCumSum(df: DataFrame, sortCols: Seq[Column], value: Column,
                   out: String = "cum", partitions: Int = 32): DataFrame = {
    val ranged = CheckpointPolicy.pin(
      df.repartitionByRange(partitions, sortCols: _*)
        .withColumn("__v", value.cast("long"))
        .withColumn("__pid", spark_partition_id()))
    val sums = ranged.groupBy("__pid").agg(sum("__v").as("s"))
      .collect().map(r => r.getAs[Int]("__pid") -> r.getAs[Long]("s")).toMap
    val offsets = Array.tabulate(partitions) { p =>
      (0 until p).map(sums.getOrElse(_, 0L)).sum
    }
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    ranged
      .withColumn(out,
        sum(col("__v")).over(w) + element_at(lit(offsets), col("__pid") + 1))
      .drop("__pid", "__v")
  }

  /** Equi-depth (quantile) binning — feature discretization: assign each
    * row its k-quantile `bucket` (exact SQL ntile semantics) without a
    * single-task global window, via [[globalRowNumber]] +
    * [[ntileFromRank]]. `tieBreak` must make (value, tieBreak…) a total
    * order so bucket assignment is deterministic at bucket boundaries. */
  def equiDepth(df: DataFrame, value: Column, tieBreak: Seq[Column], k: Int,
                out: String = "bucket", partitions: Int = 32): DataFrame = {
    // pinned: the rank window + offsets join would otherwise recompute on
    // BOTH crossJoin branches (the count agg and the projection)
    val ranked = CheckpointPolicy.pin(
      globalRowNumber(df, value +: tieBreak, out = "__edr", partitions = partitions))
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__edn"))))
      .withColumn(out, ntileFromRank(col("__edr"), col("__edn"), k))
      .drop("__edr", "__edn")
  }

  /** ntile bucket from a 1-based global rank `r` of `n` rows — the exact
    * SQL ntile(k) remainder semantics (first n%k buckets get one extra
    * row), as pure integer arithmetic so it composes with
    * [[globalRowNumber]] instead of requiring a global window. */
  def ntileFromRank(r: Column, n: Column, k: Int): Column = {
    // Column./ is double division; via floor it is exact integer division
    // for operands < 2^53 (n is a row count — always true here).
    def idiv(a: Column, b: Column): Column =
      floor(a.cast("double") / b.cast("double")).cast("long")
    val qf = idiv(n, lit(k)) // base bucket size
    val rem = n.cast("long") % k
    val big = rem * (qf + 1) // rows living in the (qf+1)-sized buckets
    when(r <= big, idiv(r + qf, qf + 1)) // = ceil(r / (qf+1))
      .otherwise(rem + idiv(r - big + qf - 1, qf))
  }
}
