package graft.queries

import graft.Tables
import graft.functions.TextOps
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.md5Int52

/** Mergeable sketches: HLL, Count-Min, KMV, histogram and rank-sketch
  * quantiles, heavy hitters and the sketch gates. */
object SketchQueries {

  /** Sketch gates — the 100 TB profiling path. Exact distinct counts and
    * exact percentiles shuffle full value sets; the scale substitutes are
    * HyperLogLog++ (`approx_count_distinct`, fixed-size sketch, one pass)
    * and t-digest-style `percentile_approx`. This query anchors BOTH: the
    * exact values hash-check against DuckDB, and the sketches gate against
    * the exact values with closed-form error flags (HLL++ at rsd 0.01,
    * gated at 5% — the default 5%-rsd sketch deterministically misses that
    * gate on the sf0.001 cardinalities; percentile_approx rank error
    * n/accuracy → well under 1% in value on the price distribution). */
  def q48SketchGates(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // SEPARATE aggregations, deliberately: mixing exact count-distincts
    // with `percentile` in one agg makes Spark Expand the input x3 and
    // build the percentile value-map on every expanded branch (measured
    // 115 s at sf0.1 vs ~2 s split); even two exact distincts alone Expand
    // x3, so each runs as its own single-distinct, single-column aggregate
    // (column-pruned scan) — all four passes submitted concurrently.
    val passes = PlanOps.runJobs[Any](Seq(
      () => li.agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("h_ok"),
        approx_count_distinct(col("l_partkey"), 0.01).as("h_pk"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p_apx"))
        .head(),
      () => li.select(col("l_orderkey"))
        .agg(countDistinct(col("l_orderkey"))).head().getLong(0),
      () => li.select(col("l_partkey"))
        .agg(countDistinct(col("l_partkey"))).head().getLong(0),
      () => li.agg(expr("percentile(l_extendedprice, 0.5)")).head().getDouble(0)),
      session = Some(s))
    val sk = passes(0).asInstanceOf[org.apache.spark.sql.Row]
    val nOk = passes(1).asInstanceOf[Long]
    val nPk = passes(2).asInstanceOf[Long]
    val pEx = passes(3).asInstanceOf[Double]
    val hllOk = math.abs(sk.getLong(0).toDouble / nOk - 1.0) <= 0.05 &&
      math.abs(sk.getLong(1).toDouble / nPk - 1.0) <= 0.05
    val pctlOk = math.abs(sk.getDouble(2) / pEx - 1.0) <= 0.01
    s.range(1).select(
      lit(nOk).as("n_orderkeys"),
      lit(nPk).as("n_partkeys"),
      lit(if (hllOk) 1L else 0L).as("hll_ok"),
      lit(if (pctlOk) 1L else 0L).as("pctl_ok"))
  }

  // Sketch gates: exact distinct counts anchor the hash check; the HLL and
  // t-digest error flags are Spark-side (the sketches themselves are not
  // portable across engines, their errors vs exact are).
  def q48Sql = """
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orderkeys,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_partkeys,
           CAST(1 AS BIGINT) AS hll_ok,
           CAST(1 AS BIGINT) AS pctl_ok
    FROM lineitem"""

  /** Corpus heavy hitters: exact top-20 tokens (count desc, token asc —
    * deterministic, hash-checked vs DuckDB) plus a gate on the property
    * Misra-Gries actually guarantees: every token with exact frequency
    * > n/(capacity+1) must survive the one-pass summary (capacity 1024,
    * the bounded-memory 100 TB path). Gating raw "top-20 ⊆ candidates"
    * would be data-dependent — a rank-20 token sitting below the n/(c+1)
    * threshold may legitimately be evicted. */
  def q50HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val capacity = 1024
    val docs = Tables.documents(s, d)
    // TWO corpus scans total: the word-count aggregate (pinned — it feeds
    // both the top-k and the total-count denominator, distinct-word sized)
    // and the Misra-Gries sketch pass it gates. Session-policy pin so a
    // reliable-checkpoint deployment covers this distinct-word-sized block
    // too (q44/q66 precedent).
    val counts = CheckpointPolicy.fromSession(s)
      .pin(HeavyHitters.wordCounts(docs, col("text")))
    val n = counts.agg(sum("cnt")).head().getLong(0)
    val exact = counts.orderBy(desc("cnt"), col("word")).limit(20)
    val cands = HeavyHitters.misraGriesCandidates(docs, col("text"), capacity)
    val top = exact.select("word", "cnt").collect() // ≤ 20 rows
    val mustSurvive = top.filter(_.getLong(1) > n / (capacity + 1))
      .map(_.getString(0))
    val contained = mustSurvive.forall(cands.contains)
    exact.withColumn("mg_ok", lit(if (contained) 1L else 0L))
      .orderBy(desc("cnt"), col("word"))
  }

  // Heavy hitters: exact counts with deterministic tie order; the
  // Misra-Gries containment flag is Spark-side (sketch vs exact, data-
  // verified), pinned to 1 here.
  def q50Sql = """
    WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    w AS (SELECT unnest(toks) AS word FROM t)
    SELECT word, count(*) AS cnt, CAST(1 AS BIGINT) AS mg_ok
    FROM w GROUP BY word ORDER BY cnt DESC, word LIMIT 20"""

  /** Persisted mergeable cardinality sketches ([[Sketches]]): three
    * simulated ingest batches (event_id mod 3) each append one KB-sized
    * HLL sketch row per tracked column; the serve path unions the batch
    * rows. Gates: `apx_ok` pins the union estimate within 5% of the exact
    * distinct count (HLL lgK=12 ⇒ ~1.6% typical error); `merge_ok` pins
    * SPLIT-INVARIANCE exactly — a 3-way and a 2-way batching of the same
    * stream must union to bit-identical estimates, which holds because
    * the merged register state is order-independent and the union serve
    * path uses the composite estimator. (A direct single-pass build is
    * NOT a valid equality anchor: DataSketches' primary HIP estimator is
    * insertion-order-sensitive — observed 1487 vs 1495 on identical
    * sf0.1 data under different plans.) The oracle replays the exact
    * counts; the sketch side is gated by the pinned flags (the q48
    * convention for approx anchors). */
  def q111HllCardinality(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("user_id", "event_type")
    val dir = ArtifactCache.dir(s, "hll", d, "events") { tmp =>
      val ev = Tables.events(s, d)
      // the SAME stream batched two different ways (3-way under a/,
      // 2-way under b/) — serving both proves merge associativity
      (0 until 3).foreach(b => Sketches.appendCardinalitySketches(
        ev.filter(pmod(col("event_id"), lit(3)) === b), cols, s"$tmp/a", b.toLong))
      (0 until 2).foreach(b => Sketches.appendCardinalitySketches(
        ev.filter(pmod(col("event_id"), lit(2)) === b), cols, s"$tmp/b", b.toLong))
      // fold a/ into its base partition; b/ stays per-batch — the
      // merge_ok equality below then drives COMPACTION through the
      // oracle gate too (folded vs unfolded must estimate identically)
      Sketches.compactCardinalitySketches(s, s"$tmp/a")
    }
    val est = Sketches.estimateCardinalities(s, s"$dir/a")
    val est2 = Sketches.estimateCardinalities(s, s"$dir/b")
      .select(col("column"), col("estimate").as("estimate2"))
    val ev = Tables.events(s, d)
    // exact anchor, ONE column per aggregate: a single multi-distinct agg
    // would rewrite through an Expand (input ×cols); the anchors are the
    // gate harness — the production path is the sketches, one scan total
    val base = cols.map { c =>
      ev.agg(countDistinct(col(c)).as("n_exact"))
        .select(lit(c).as("column"), col("n_exact"))
    }.reduce(_ unionByName _)
    est.join(est2, Seq("column")).join(base, Seq("column"))
      .select(col("column"), col("n_rows"), col("n_batches"), col("n_exact"),
        when(abs(col("estimate") - col("n_exact").cast("double")) <=
          lit(0.05) * col("n_exact").cast("double"), 1L).otherwise(0L).as("apx_ok"),
        when(col("estimate") === col("estimate2"), 1L).otherwise(0L).as("merge_ok"))
      .orderBy("column")
  }

  // HLL cardinality sketches (q111): the oracle replays the EXACT side
  // (row/batch/distinct counts); the sketch estimates are gated by the
  // Spark-side pinned flags (union==full-rescan equality + 5% accuracy),
  // the q48 approx-anchor convention.
  def q111Sql = """
    SELECT * FROM (
      SELECT 'user_id' AS "column",
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(3 AS BIGINT) AS n_batches,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
             CAST(1 AS BIGINT) AS apx_ok, CAST(1 AS BIGINT) AS merge_ok
      FROM events
      UNION ALL
      SELECT 'event_type', CAST(count(*) AS BIGINT), CAST(3 AS BIGINT),
             CAST(count(DISTINCT event_type) AS BIGINT),
             CAST(1 AS BIGINT), CAST(1 AS BIGINT)
      FROM events) ORDER BY "column""""

  /** Count-Min frequency sketches ([[Sketches.appendFrequencySketches]]):
    * two simulated ingest batches (doc_id mod 2) each append their sparse
    * (row, bucket, cnt) sketch of the token stream; point estimates for a
    * fixed probe list (three real tokens + one absent) come from the
    * merged cells. Buckets use the engine-portable md5 device, so the
    * oracle replays the ENTIRE sketch — and because merged batch cells
    * are count-sums, the oracle's whole-corpus build equaling the
    * incremental one IS the merge-exactness proof. `n_true` rides along
    * as the exact anchor (CMS never undercounts; at this width the probe
    * estimates are near-exact). */
  def q115CmsFrequency(s: SparkSession, d: String): DataFrame = {
    val probeKeys = Seq("join", "hash", "scan", "zzz_absent_token")
    val dir = ArtifactCache.dir(s, "cms", d, "documents") { tmp =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("tok"))
      (0 until 2).foreach(b => Sketches.appendFrequencySketches(
        toks.filter(pmod(col("doc_id"), lit(2)) === b), col("tok"),
        tmp, b.toLong))
      // fold into the base partition: the oracle's whole-corpus build
      // must equal the folded cells — compaction is oracle-gated
      Sketches.compactFrequencySketches(s, tmp)
    }
    val est = Sketches.cmsEstimate(s, dir, probeKeys)
    val truth = Tables.documents(s, d)
      .select(explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("key"))
      .filter(col("key").isin(probeKeys: _*))
      .groupBy("key").agg(count(lit(1)).as("n_true"))
    est.join(truth, Seq("key"), "left")
      .select(col("key"), col("estimate"),
        coalesce(col("n_true"), lit(0L)).as("n_true"))
      .orderBy("key")
  }

  def q115Sql: String = s"""
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
               FROM documents),
    tok AS (SELECT unnest(toks) AS k FROM t WHERE len(toks) > 0),
    cells AS (SELECT r, ${md5Int52("concat_ws('|', k, 'cms' || r)")} % 1024 AS bucket,
                     count(*) AS cnt
              FROM tok, unnest([0, 1, 2, 3]) AS rr(r)
              GROUP BY 1, 2),
    pk AS (SELECT unnest(['join', 'hash', 'scan', 'zzz_absent_token']) AS key),
    probes AS (SELECT key, r,
                 ${md5Int52("concat_ws('|', key, 'cms' || r)")} % 1024 AS bucket
               FROM pk, unnest([0, 1, 2, 3]) AS rr(r)),
    est AS (SELECT p.key, min(coalesce(c.cnt, 0)) AS estimate
            FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
            GROUP BY p.key),
    truth AS (SELECT k AS key, count(*) AS n_true FROM tok
              WHERE k IN ('join', 'hash', 'scan', 'zzz_absent_token')
              GROUP BY k)
    SELECT e.key, CAST(e.estimate AS BIGINT) AS estimate,
           CAST(coalesce(t2.n_true, 0) AS BIGINT) AS n_true
    FROM est e LEFT JOIN truth t2 ON t2.key = e.key
    ORDER BY e.key"""

  /** Fixed-edge histogram quantile sketches
    * ([[Sketches.appendHistogramSketches]] / [[Sketches.histQuantiles]]):
    * the third mergeable ingest artifact (HLL = cardinality, CMS =
    * frequency, this = distribution). Two batches (event_id mod 2) append
    * bin-count rows over `events.value` with fixed [0, 512) edges ×256
    * bins; quantile estimates interpolate the merged histogram. The
    * oracle replays the whole sketch (whole-corpus build == merged
    * batches, the count-sum-merge argument) AND the exact quantiles;
    * `within_bin` gates the one-bin-width error bound from BOTH sides. */
  def q117HistQuantiles(s: SparkSession, d: String): DataFrame = {
    val (lo, hi, bins) = (0.0, 512.0, 256)
    val binW = (hi - lo) / bins
    val qsP = Seq(0.1, 0.5, 0.9, 0.99)
    val dir = ArtifactCache.dir(s, "hist", d, "events") { tmp =>
      val ev = Tables.events(s, d)
      (0 until 2).foreach(b => Sketches.appendHistogramSketches(
        ev.filter(pmod(col("event_id"), lit(2)) === b), col("value"),
        tmp, b.toLong, lo, hi, bins))
      // fold into the base partition: the oracle's exact quantile
      // replay must match the folded sketch — compaction oracle-gated
      Sketches.compactHistogramSketches(s, tmp)
    }
    import s.implicits._
    val est = Sketches.histQuantiles(s, dir, qsP, lo, hi, bins)
    val exact = Tables.events(s, d)
      .agg(expr(s"percentile(value, array(${qsP.mkString("D, ")}D))").as("p"))
      .select(posexplode(col("p")).as(Seq("i", "exact")))
      .join(qsP.zipWithIndex.map { case (q, i) => (i, q) }.toDF("i", "q"),
        Seq("i"))
      .select(col("q"), round(col("exact"), 6).as("exact_q"))
    est.join(exact, Seq("q"))
      .select(col("q"), col("estimate"), col("exact_q"),
        when(abs(col("estimate") - col("exact_q")) <= lit(binW), 1L)
          .otherwise(0L).as("within_bin"))
      .orderBy("q")
  }

  // Histogram-quantile sketch (q117): whole-corpus fixed-edge histogram ==
  // Spark's merged per-batch builds (count-sum merge); the interpolated
  // estimates AND the exact quantiles both replay.
  def q117Sql = """
    WITH cells AS (SELECT CAST(least(greatest(
                     floor((CAST(value AS DOUBLE) - 0.0) / 2.0), 0.0), 255.0)
                     AS BIGINT) AS bin, count(*) AS cnt
                   FROM events GROUP BY 1),
    cum AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM cells),
    nn AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM cells),
    qq AS (SELECT unnest([0.1, 0.5, 0.9, 0.99]) AS q),
    tgt AS (SELECT q, q * nn.n AS t FROM qq, nn),
    pick AS (SELECT t.q, t.t, c.bin, c.cnt, c.cum,
               row_number() OVER (PARTITION BY t.q ORDER BY c.bin) AS rk
             FROM tgt t JOIN cum c ON CAST(c.cum AS DOUBLE) >= t.t),
    est AS (SELECT q, round(0.0 + (CAST(bin AS DOUBLE) +
              (t - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)) * 2.0, 6)
              AS estimate
            FROM pick WHERE rk = 1),
    ex AS (SELECT unnest([0.1, 0.5, 0.9, 0.99]) AS q,
                  round(unnest(l), 6) AS exact_q
           FROM (SELECT quantile_cont(value, [0.1, 0.5, 0.9, 0.99]) AS l
                 FROM events))
    SELECT e.q, e.estimate, x.exact_q,
           CAST(CASE WHEN abs(e.estimate - x.exact_q) <= 2.0
                THEN 1 ELSE 0 END AS BIGINT) AS within_bin
    FROM est e JOIN ex x ON x.q = e.q ORDER BY e.q"""

  /** q129: KMV (k-minimum-values / theta) sketch set operations
    * ([[Sketches.appendKmvSketches]] / [[Sketches.kmvOverlap]]) — the
    * corpus-overlap audit the HLL family can't do: how much of snapshot
    * B's vocabulary is already in snapshot A, from kilobyte sketches
    * instead of a distinct-join over the corpora. The documents table
    * splits into two snapshots (doc_id parity); side A ingests in three
    * batches and is COMPACTED, side B in two (the q111 batching/fold
    * proof shape — the serve path reads folded and per-batch layouts
    * alike). KMV is deterministic (md5, no seeds), so the oracle replays
    * every estimate EXACTLY — hash distinct, k-min cut, membership
    * flags, the (k−1)/u_(k) estimator, ρ-scaling, 6-dp fences — while
    * the exact per-side/union/intersection anchors ride along in the
    * same row. */
  def q129KmvOverlap(s: SparkSession, d: String): DataFrame = {
    val k = 512
    val dir = ArtifactCache.dir(s, "kmv", d, "documents") { tmp =>
      val words = Tables.documents(s, d).select(col("doc_id"),
        explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("word"))
      val a = words.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b = words.filter(pmod(col("doc_id"), lit(2)) === 1)
      (0 until 3).foreach(i => Sketches.appendKmvSketches(
        a.filter(pmod(expr("doc_id div 2"), lit(3)) === i), col("word"),
        s"$tmp/a", i.toLong, k))
      (0 until 2).foreach(i => Sketches.appendKmvSketches(
        b.filter(pmod(expr("(doc_id - 1) div 2"), lit(2)) === i), col("word"),
        s"$tmp/b", i.toLong, k))
      // fold side A only: the oracle's single-build replay must equal
      // BOTH layouts — compaction rides through the correctness gate
      Sketches.compactKmvSketches(s, s"$tmp/a", k)
    }
    val estA = Sketches.kmvEstimate(s, s"$dir/a", k)
      .select(col("n_kept").as("kept_a"), col("estimate").as("est_a"))
    val estB = Sketches.kmvEstimate(s, s"$dir/b", k)
      .select(col("n_kept").as("kept_b"), col("estimate").as("est_b"))
    val ov = Sketches.kmvOverlap(s, s"$dir/a", s"$dir/b", k)
    // exact anchors, one scan: per-side distinct word sets
    val words = Tables.documents(s, d).select(col("doc_id"),
      explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("word"))
    val sides = words
      .select(col("word"), pmod(col("doc_id"), lit(2)).as("side"))
      .groupBy("word")
      .agg(max(when(col("side") === 0, 1L).otherwise(0L)).as("in_a"),
        max(when(col("side") === 1, 1L).otherwise(0L)).as("in_b"))
    val exact = sides.agg(
      sum(col("in_a")).as("exact_a"), sum(col("in_b")).as("exact_b"),
      count(lit(1)).as("exact_union"),
      sum(col("in_a") * col("in_b")).as("exact_inter"))
    estA.crossJoin(estB).crossJoin(ov).crossJoin(exact)
  }

  // q129: KMV theta-sketch set operations, replayed EXACTLY (KMV is
  // deterministic md5 order statistics — no tolerance gate needed): the
  // per-batch k-min sketches of both corpus snapshots, side A's fold
  // (k-min of the batch union — the compacted layout the Spark side
  // serves), the union k-min sample with membership flags, the
  // (k−1)/u_(k) estimator, the ρ-scaled intersection, the 6-dp fences,
  // and the exact anchors, all from the same scan.
  def q129Sql: String = {
    val k = 512
    val h = md5Int52("concat_ws('|', word, 'kmv')")
    def batchA(i: Int) =
      s"""(SELECT h FROM (SELECT DISTINCT $h AS h FROM w
           WHERE side = 0 AND (doc_id // 2) % 3 = $i) ORDER BY h LIMIT $k)"""
    def batchB(i: Int) =
      s"""(SELECT h FROM (SELECT DISTINCT $h AS h FROM w
           WHERE side = 1 AND ((doc_id - 1) // 2) % 2 = $i) ORDER BY h LIMIT $k)"""
    s"""
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
               FROM documents),
    w AS (SELECT doc_id, doc_id % 2 AS side, unnest(toks) AS word
          FROM t WHERE len(toks) > 0),
    sa AS MATERIALIZED (SELECT h FROM (
          SELECT DISTINCT h FROM (${batchA(0)} UNION ALL ${batchA(1)}
                                  UNION ALL ${batchA(2)}))
          ORDER BY h LIMIT $k),
    sb AS MATERIALIZED (SELECT DISTINCT h FROM (${batchB(0)} UNION ALL ${batchB(1)})),
    ea AS (SELECT count(*) AS kept_a, max(h) AS hk FROM
           (SELECT h FROM sa ORDER BY h LIMIT $k)),
    eb AS (SELECT count(*) AS kept_b, max(h) AS hk FROM
           (SELECT h FROM (SELECT DISTINCT h FROM sb) ORDER BY h LIMIT $k)),
    uk AS (SELECT h FROM (SELECT DISTINCT h FROM
           (SELECT h FROM sa UNION ALL SELECT h FROM sb)) ORDER BY h LIMIT $k),
    fl AS (SELECT count(*) AS n_kept, max(uk.h) AS hk,
                  sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS n_both
           FROM uk LEFT JOIN sa a ON a.h = uk.h LEFT JOIN sb b ON b.h = uk.h),
    ov AS (SELECT CAST(n_kept AS BIGINT) AS n_kept,
                  CAST(n_both AS BIGINT) AS n_both,
                  floor((CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
                         ELSE CAST(${k - 1} AS DOUBLE) * 4503599627370496.0 /
                              CAST(hk AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS union_est,
                  floor((CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE)) *
                        (CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
                         ELSE CAST(${k - 1} AS DOUBLE) * 4503599627370496.0 /
                              CAST(hk AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS inter_est,
                  floor((CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE))
                        * 1e6 + 0.5) / 1e6 AS jaccard
           FROM fl),
    ca AS (SELECT CAST(kept_a AS BIGINT) AS kept_a,
                  floor((CASE WHEN kept_a < $k THEN CAST(kept_a AS DOUBLE)
                         ELSE CAST(${k - 1} AS DOUBLE) * 4503599627370496.0 /
                              CAST(hk AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS est_a
           FROM ea),
    cb AS (SELECT CAST(kept_b AS BIGINT) AS kept_b,
                  floor((CASE WHEN kept_b < $k THEN CAST(kept_b AS DOUBLE)
                         ELSE CAST(${k - 1} AS DOUBLE) * 4503599627370496.0 /
                              CAST(hk AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS est_b
           FROM eb),
    sides AS (SELECT word, max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_a,
                     max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_b
              FROM w GROUP BY word),
    ex AS (SELECT CAST(sum(in_a) AS BIGINT) AS exact_a,
                  CAST(sum(in_b) AS BIGINT) AS exact_b,
                  CAST(count(*) AS BIGINT) AS exact_union,
                  CAST(sum(in_a * in_b) AS BIGINT) AS exact_inter
           FROM sides)
    SELECT * FROM ca, cb, ov, ex"""
  }

  /** q148: bottom-k RANK sketch quantiles ([[Sketches.appendRankSketches]]
    * / [[Sketches.rankQuantiles]]) — the fifth mergeable ingest artifact
    * (HLL = cardinality, CMS = frequency, KMV = distinct sampling,
    * histogram = fixed-range distribution, this = distribution with NO
    * prior range knowledge):
    * two batches (l_orderkey mod 2) append the k=4096 hash-smallest
    * (row-key md5, l_extendedprice) pairs, the fold compacts them, and
    * quantile estimates are the merged sample's empirical quantiles.
    * The oracle replays the WHOLE sketch — per-row 52-bit md5 uniforms,
    * the (h, v) bottom-k cut, the ⌈q·m⌉ pick — so the direct build
    * equaling the Spark side's merged per-batch builds IS the merge
    * proof (the q115 argument); it also replays the exact quantiles and
    * the corpus rank fraction of every estimate, DKW-gated: k=4096 ⇒
    * rank error ≤ √(ln(2/δ)/2k) ≈ 4.2% at δ=1e-6, gated at 4.5% (the
    * 1/m pick offset rides inside the slack). */
  def q148RankQuantiles(s: SparkSession, d: String): DataFrame = {
    val k = 4096
    val qsP = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val dir = ArtifactCache.dir(s, "rank", d, "lineitem") { tmp =>
      val li = Tables.lineitem(s, d)
      // row key: all four integer identity fields — the fixtures do
      // NOT enforce TPC-H uniqueness on (orderkey, linenumber) (23% of
      // rows collide, correlating their sampling coins); the 4-field
      // key is unique at sf0.01/0.1 and has ONE collision at sf0.001
      (0 until 2).foreach(b => Sketches.appendRankSketches(
        li.filter(pmod(col("l_orderkey"), lit(2)) === b),
        col("l_extendedprice"),
        concat_ws(":", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        tmp, b.toLong, k))
      // fold into the base partition: the oracle's direct-build replay
      // must match the folded sketch — compaction oracle-gated
      Sketches.compactRankSketches(s, tmp, k)
    }
    val estRows = Sketches.rankQuantiles(s, dir, qsP, k)
      .orderBy("q").collect().toSeq // ≤ |qsP| rows, bounded
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // the percentile-array pick below indexes by position: the sorted
    // estimate rows must line up with qsP (ascending by construction)
    require(estRows.map(_._1).sameElements(qsP), "qsP must be ascending")
    // exact quantiles + the corpus rank fraction of every estimate, all
    // |qsP| conditional sums AND the percentile array in ONE
    // scan-aggregate (no join, no cartesian, no second pass)
    val v = col("l_extendedprice").cast("double")
    val aggs = (count(lit(1)).cast("double").as("__n") +:
      estRows.zipWithIndex.map { case ((_, e), i) =>
        sum(when(v <= lit(e), 1L).otherwise(0L)).cast("double").as(s"__c_$i") }) :+
      expr(s"percentile(cast(l_extendedprice as double), " +
        s"array(${qsP.mkString("D, ")}D))").as("__p")
    val one = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    val fences = estRows.zipWithIndex.map { case ((q, e), i) =>
      struct(lit(q).as("q"), lit(e).as("estimate"),
        round(element_at(col("__p"), i + 1), 6).as("exact_q"),
        (floor(col(s"__c_$i") / col("__n") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("rank_frac")) }
    one.select(explode(array(fences: _*)).as("s"))
      .select(col("s.q"), col("s.estimate"), col("s.exact_q"), col("s.rank_frac"),
        when(abs(col("s.rank_frac") - col("s.q")) <= lit(0.045), 1L)
          .otherwise(0L).as("dkw_ok"))
      .orderBy("q")
  }

  // q148: the bottom-k rank sketch, FULL replay — per-row 52-bit md5
  // uniforms over the (l_orderkey:l_linenumber) row key, the (h, v)
  // bottom-4096 cut, the ceil(q·m) empirical-quantile pick, the exact
  // quantiles, and the corpus rank fraction of every estimate with the
  // 4.5% DKW gate. The direct build here equaling the Spark side's
  // merged-and-folded per-batch builds IS the merge proof (the q115
  // argument: bottom-k of a union = bottom-k of concatenated bottom-ks).
  def q148Sql: String = {
    val k = 4096
    val qList = "[0.1, 0.25, 0.5, 0.75, 0.9, 0.99]"
    val h = md5Int52("concat_ws('|', concat_ws(':', l_orderkey, " +
      "l_linenumber, l_partkey, l_suppkey), 'rank')")
    s"""
    WITH src AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                        $h AS h
                 FROM lineitem),
    samp AS MATERIALIZED (SELECT h, v FROM src ORDER BY h, v LIMIT $k),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM samp),
    ord AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM samp),
    qq AS (SELECT unnest($qList) AS q),
    est AS (SELECT q, o.v AS estimate
            FROM qq CROSS JOIN mm JOIN ord o
              ON o.rk = greatest(CAST(ceil(q * CAST(mm.m AS DOUBLE)) AS BIGINT), 1)),
    rf AS (SELECT e.q, e.estimate,
                  floor(CAST(sum(CASE WHEN s.v <= e.estimate THEN 1 ELSE 0 END)
                             AS DOUBLE) / CAST(count(*) AS DOUBLE)
                        * 1e6 + 0.5) / 1e6 AS rank_frac
           FROM est e CROSS JOIN src s GROUP BY e.q, e.estimate),
    ex AS (SELECT unnest($qList) AS q, round(unnest(l), 6) AS exact_q
           FROM (SELECT quantile_cont(v, $qList) AS l FROM src))
    SELECT r.q, r.estimate, x.exact_q, r.rank_frac,
           CAST(CASE WHEN abs(r.rank_frac - r.q) <= 0.045 THEN 1 ELSE 0 END
                AS BIGINT) AS dkw_ok
    FROM rf r JOIN ex x ON x.q = r.q ORDER BY r.q"""
  }

  /** q151: GROUP-WISE rank-sketch quantiles
    * ([[Sketches.groupRankQuantiles]]) — q148's bottom-k sample held PER
    * GROUP by a bounded aggregator ([[BottomKRankAggregator]]), the
    * scale-correct alternative to `row_number().over(partitionBy(group))`
    * which sorts every group's full contents through the exchange: here
    * each map partition ships at most k (hash, value) pairs per group,
    * so per-key quantiles over a 100 TB fact table cost one scan plus a
    * k-bounded shuffle. Per l_returnflag: p25/p50/p90 of
    * l_extendedprice at k=1024 (DKW rank error ≤ 8.4% at δ=1e-6, gated
    * at 9%), with exact per-group quantile anchors and the corpus rank
    * fraction of every estimate in-row. The oracle replays the per-group
    * (h, v) bottom-k cut, the ⌈q·m⌉ picks, the anchors, and the gates. */
  def q151GroupRankQuantiles(s: SparkSession, d: String): DataFrame = {
    val k = 1024
    val qsP = Seq(0.25, 0.5, 0.9)
    val li = Tables.lineitem(s, d)
    val keyCol = concat_ws(":", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey")) // the q148 near-unique row key
    val est = Sketches.groupRankQuantiles(li, Seq("l_returnflag"),
      col("l_extendedprice"), keyCol, qsP, k)
    import s.implicits._
    val exact = li.groupBy("l_returnflag")
      .agg(expr(s"percentile(cast(l_extendedprice as double), " +
        s"array(${qsP.mkString("D, ")}D))").as("p"))
      .select(col("l_returnflag"), posexplode(col("p")).as(Seq("i", "exact")))
      .join(qsP.zipWithIndex.map { case (q, i) => (i, q) }.toDF("i", "q"),
        Seq("i"))
      .select(col("l_returnflag"), col("q"), round(col("exact"), 6).as("exact_q"))
    // rank fraction of each estimate within its own group: ONE scan, the
    // |groups|×|qs| estimate frame rides a broadcast hash join
    val rf = li
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("__v"))
      .join(broadcast(est), Seq("l_returnflag"))
      .groupBy("l_returnflag", "q", "estimate", "m")
      .agg((floor(
        sum(when(col("__v") <= col("estimate"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
        .as("rank_frac"))
    rf.join(exact, Seq("l_returnflag", "q"))
      .select(col("l_returnflag"), col("q"), col("estimate"), col("exact_q"),
        col("rank_frac"), col("m"),
        when(abs(col("rank_frac") - col("q")) <= lit(0.09), 1L)
          .otherwise(0L).as("dkw_ok"))
      .orderBy("l_returnflag", "q")
  }

  // q151: the group-wise rank sketch, FULL replay — per-group (h, v)
  // bottom-1024 cut (row_number over the same order), per-group ceil(q·m)
  // picks, exact per-group quantile anchors, corpus rank fractions, and
  // the 9% DKW gate. The Spark side's bounded aggregator kept-multiset
  // equals this ORDER BY h, v LIMIT k per group by construction.
  def q151Sql: String = {
    val k = 1024
    val qList = "[0.25, 0.5, 0.9]"
    val h = md5Int52("concat_ws('|', concat_ws(':', l_orderkey, " +
      "l_linenumber, l_partkey, l_suppkey), 'rank')")
    s"""
    WITH src AS (SELECT l_returnflag AS flag,
                        CAST(l_extendedprice AS DOUBLE) AS v,
                        $h AS hh
                 FROM lineitem),
    rk AS (SELECT flag, v,
             row_number() OVER (PARTITION BY flag ORDER BY hh, v) AS r
           FROM src),
    samp AS MATERIALIZED (SELECT flag, v FROM rk WHERE r <= $k),
    mm AS (SELECT flag, CAST(count(*) AS BIGINT) AS m FROM samp GROUP BY flag),
    ord AS (SELECT flag, v,
              row_number() OVER (PARTITION BY flag ORDER BY v) AS rk2
            FROM samp),
    qq AS (SELECT unnest($qList) AS q),
    est AS (SELECT mm.flag, qq.q, o.v AS estimate, mm.m
            FROM mm CROSS JOIN qq JOIN ord o ON o.flag = mm.flag
              AND o.rk2 = greatest(CAST(ceil(qq.q * CAST(mm.m AS DOUBLE))
                                        AS BIGINT), 1)),
    rf AS (SELECT e.flag, e.q, e.estimate, e.m,
              floor(CAST(sum(CASE WHEN s.v <= e.estimate THEN 1 ELSE 0 END)
                         AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    * 1e6 + 0.5) / 1e6 AS rank_frac
           FROM est e JOIN src s ON s.flag = e.flag
           GROUP BY e.flag, e.q, e.estimate, e.m),
    ex AS (SELECT flag, unnest($qList) AS q, round(unnest(l), 6) AS exact_q
           FROM (SELECT flag, quantile_cont(v, $qList) AS l
                 FROM src GROUP BY flag))
    SELECT r.flag AS l_returnflag, r.q, r.estimate, x.exact_q, r.rank_frac,
           r.m,
           CAST(CASE WHEN abs(r.rank_frac - r.q) <= 0.09 THEN 1 ELSE 0 END
                AS BIGINT) AS dkw_ok
    FROM rf r JOIN ex x ON x.flag = r.flag AND x.q = r.q
    ORDER BY r.flag, r.q"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q48_sketch_gates", q48SketchGates, () => q48Sql),
    QuerySpec("q50_heavy_hitters", q50HeavyHitters, () => q50Sql),
    QuerySpec("q111_hll_cardinality", q111HllCardinality, () => q111Sql),
    QuerySpec("q115_cms_frequency", q115CmsFrequency, () => q115Sql),
    QuerySpec("q117_hist_quantiles", q117HistQuantiles, () => q117Sql),
    QuerySpec("q129_kmv_overlap", q129KmvOverlap, () => q129Sql),
    QuerySpec("q148_rank_sketch_quantiles", q148RankQuantiles, () => q148Sql),
    QuerySpec("q151_group_rank_quantiles", q151GroupRankQuantiles, () => q151Sql)
  )
}
