package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout — multi-dimensional clustering for
  * min/max-statistics pruning. A 100 TB table sorted on ONE column is
  * prunable on that column only; interleaving the bits of d grid
  * coordinates (bit i of column j → output bit `i·d + j`) gives a single
  * sort key under which records close in EVERY dimension land in the same
  * files, so per-file min/max stats prune multi-column range predicates
  * too (the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`;
  * z-curves are public knowledge going back to Morton 1966).
  *
  * The z-value is composed from BUILT-IN bitwise expressions (shift, and,
  * or) — `d·bits` codegen'd terms collapsed into one projection; no UDF,
  * no custom expression needed, and the identical arithmetic replays in
  * the q63 DuckDB oracle. */
object Layout {

  /** Morton interleave of non-negative integer grid coordinates (each
    * masked to `bits` low bits; `d·bits ≤ 63`). Scale continuous columns
    * to grid cells first. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val d = cols.size
    require(d >= 1 && bits >= 1 && d * bits <= 63, "need 1+ cols, d*bits <= 63")
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * d + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Cluster a table for multi-dim pruning: range-partition + sort by the
    * z-value, so each output file covers a compact z-range and min/max
    * file statistics become a 2-D (or d-D) index. Write the result with
    * the z column retained to keep the stats actionable. */
  def clusterByZ(df: DataFrame, cols: Seq[Column], bits: Int,
                 partitions: Int = 32): DataFrame = {
    val z = zValue(cols, bits)
    df.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
  }

  /** Rendezvous (highest-random-weight) shard assignment: a row's shard is
    * argmaxₛ md5(key|salt|s) over s ∈ [0, shards). The property that makes
    * this the right way to assign a mutable shard count at 100 TB: growing
    * from N to N+1 shards moves EXACTLY the rows whose new-shard weight
    * wins — an expected 1/(N+1) of the corpus, all of it to the NEW shard;
    * every other row keeps its placement (mod-N hashing reshuffles
    * (N-1)/N of everything). md5 (not xxhash64) so the assignment is
    * engine-portable and oracle-replayable.
    *
    * Pure projection — no shuffle, no state; the argmax is an `array_max`
    * over `shards` (hash, s) structs built from literals. */
  def rendezvousShard(key: Column, shards: Int, salt: String = "hrw"): Column = {
    require(shards >= 1, "need at least one shard")
    array_max(array((0 until shards).map(s =>
      struct(md5(concat_ws("|", key, lit(salt), lit(s)).cast("binary")).as("h"),
        lit(s).as("s"))): _*)).getField("s")
  }
}
