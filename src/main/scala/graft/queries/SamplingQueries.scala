package graft.queries

import graft.Tables
import graft.functions.{Pdfs, TextOps}
import graft.ml.Calibration
import graft.operators._
import graft.pipelines.{ActiveSampling, ActiveSamplingConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextQueries.q121Sql

/** The reference's sampling pipeline and its relatives: KDE, weighted
  * and stratified samples, grid and Latin-hypercube sources, the
  * active-sampling traces (with the [[flagshipKdeSample]] smoke slice),
  * mixtures, splits, shards, GMM and calibration. */
object SamplingQueries {

  /** Flagship pipeline (driver smoke-check): KDE density of l_extendedprice
    * → inverse-density weights → seeded Efraimidis–Spirakis top-100 — the
    * reference's stage-2 informative sampling with its KDE weights. The
    * registered q26 is this pipeline's hash-deterministic oracle twin. */
  def flagshipKdeSample(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val kde = Kde.fit(li, col("l_extendedprice"))
    val weighted = li.withColumn("pdf", kde.interpolate(col("l_extendedprice")))
      .withColumn("w", lit(1.0) / greatest(col("pdf"), lit(1e-12)))
    Selection.weightedSample(weighted, col("w"), 100, seed = 42)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "pdf", "w")
  }

  /** A-KDE: 1024-point Gaussian KDE of l_extendedprice on a FIXED grid and
    * bandwidth — the oracle-parity configuration (Scott's-rule bandwidth
    * stays the library default and is unit-tested; fixed parameters make
    * the density a pure deterministic function of the data, so the DuckDB
    * oracle replays the linear binning + Gaussian convolution exactly). */
  def q25Kde(s: SparkSession, d: String): DataFrame =
    Kde.fit(Tables.lineitem(s, d), col("l_extendedprice"),
        bandwidth = Some(2000.0), bounds = Some((900.0, 105000.0)))
      .toDF(s)
      .select(round(col("grid_x"), 6).as("grid_x"), round(col("pdf"), 10).as("pdf"))

  // Fixed-parameter KDE (lo=900, hi=105000, g=1024, bw=2000): replays
  // the binned Kde.fit exactly — linear binning (each row splits weight between
  // flanking grid points), normalize, Gaussian-convolve within the 8.5-sigma
  // support. Arithmetic mirrors the Scala loop operation-for-operation
  // (t = (j-i)*step/bw; term = (wsum/total)*knorm*exp(-0.5*(t*t))).
  def q25Sql = """
    WITH p AS (SELECT 900.0 AS lo, 105000.0 AS hi, 2000.0 AS bw,
                      (105000.0 - 900.0) / 1023 AS step,
                      1.0 / (2000.0 * sqrt(2.0 * pi())) AS knorm,
                      CAST(least(1024, ceil(8.5 * 2000.0 / ((105000.0 - 900.0) / 1023)) + 1) AS INTEGER) AS support),
    src AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem, p
            WHERE l_extendedprice IS NOT NULL
              AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
              AND CAST(l_extendedprice AS DOUBLE) >= p.lo
              AND CAST(l_extendedprice AS DOUBLE) <= p.hi),
    ps AS (SELECT (v - lo) / step AS pos,
                  least(greatest(CAST(floor((v - lo) / step) AS INTEGER), 0), 1023) AS i0
           FROM src, p),
    fr AS (SELECT i0, least(greatest(pos - CAST(i0 AS DOUBLE), 0.0), 1.0) AS frac FROM ps),
    pairs AS (
      SELECT i0 AS bin, 1.0 * (1.0 - frac) AS w FROM fr
      UNION ALL
      SELECT least(i0 + 1, 1023) AS bin, 1.0 * frac AS w FROM fr),
    bins AS (SELECT bin, sum(w) AS wsum FROM pairs GROUP BY bin),
    tot AS (SELECT sum(wsum) AS total FROM bins),
    terms AS (
      SELECT j.j AS j, b.wsum, t.total, p.knorm,
             (j.j - b.bin) * p.step / p.bw AS tt
      FROM generate_series(0, 1023) j(j)
      CROSS JOIN bins b CROSS JOIN tot t CROSS JOIN p
      WHERE b.wsum > 0 AND abs(j.j - b.bin) <= p.support),
    conv AS (
      SELECT j, sum((wsum / total) * knorm * exp(-0.5 * (tt * tt))) AS pdf
      FROM terms GROUP BY j)
    SELECT round(p.lo + g.g * p.step, 6) AS grid_x,
           round(coalesce(c.pdf, 0.0), 10) AS pdf
    FROM generate_series(0, 1023) g(g)
    CROSS JOIN p
    LEFT JOIN conv c ON c.j = g.g
    ORDER BY g.g"""

  /** The reference's stage-2 informative sampling, with engine-portable
    * determinism: histogram inverse-density weights (q06 form) feed an
    * Efraimidis–Spirakis top-100 whose sampling uniform is a 52-bit md5
    * hash of the row key instead of rand(seed) — the same u on any engine
    * or partitioning, so DuckDB replays the selection exactly.
    * (Selection.weightedSample keeps the rand-seeded form; the KDE-weighted
    * variant remains the flagship pipeline, exercised by unit tests.)
    * E-S ranking: u^(1/w) desc ⇔ cnt*ln(u) desc for w = 1/cnt — the log
    * form avoids pow() underflow at large bucket counts. */
  def q26WeightedSample(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val stats = li.agg(min(col("l_extendedprice")).as("__mn"),
      max(col("l_extendedprice")).as("__mx"))
    val width = (col("__mx") - col("__mn")) / lit(32.0)
    val withBucket = li.select("l_orderkey", "l_linenumber", "l_extendedprice")
      .crossJoin(broadcast(stats))
      .withColumn("bucket",
        least(floor((col("l_extendedprice") - col("__mn")) / width), lit(31.0)).cast("long"))
    // 52-bit uniform from md5 of the row key (the canonical portable
    // construction — see TextOps.portableUniform52)
    val u = TextOps.portableUniform52(
      concat_ws("|", col("l_orderkey"), col("l_linenumber")))
    withBucket
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("bucket")))
      .withColumn("u", u)
      .withColumn("es_key", col("cnt").cast("double") * log(col("u")))
      .orderBy(desc("es_key"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("l_extendedprice"),
        col("bucket"), round(col("es_key"), 6).as("es_key"))
  }

  // Hash-deterministic Efraimidis-Spirakis informative sample: u is the
  // first 13 md5 hex digits of the row key as a 52-bit integer (exact in a
  // double; the digit fold sums exact integers so fold order is irrelevant),
  // weights are inverse histogram-bucket counts, ranking key cnt*ln(u).
  def q26Sql = """
    WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem),
    b AS (SELECT l_orderkey, l_linenumber, l_extendedprice,
                 CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 32.0)), 31.0) AS BIGINT) AS bucket
          FROM lineitem, s),
    c AS (SELECT *, count(*) OVER (PARTITION BY bucket) AS cnt FROM b),
    h AS (SELECT *, substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 13) AS hx FROM c),
    u AS (SELECT *, list_reduce(list_prepend(0.0,
              list_transform(generate_series(1, 13),
                k -> CAST(strpos('0123456789abcdef', substr(hx, k, 1)) - 1 AS DOUBLE)
                     * pow(16.0, 13 - k))),
            (a, x) -> a + x) / 4503599627370496.0 AS u
          FROM h),
    scored AS (SELECT *, CAST(cnt AS DOUBLE) * ln(u) AS es_key FROM u)
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS l_extendedprice,
           bucket, round(es_key, 6) AS es_key
    FROM scored
    ORDER BY es_key DESC, l_orderkey, l_linenumber
    LIMIT 100"""

  /** S1 grid source + S5 synthetic label — the reference's stage-0 dataset
    * (100x100 lattice, 2-D -> scalar y), oracle-checked. */
  def q32GridSource(s: SparkSession, d: String): DataFrame =
    Sources.grid(s, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), 50)
      .withColumn("y", round(graft.functions.Pdfs.syntheticLabel(col("x1"), col("x2")), 6))
      .select(col("id"), col("x1"), col("x2"), col("y"))
      .orderBy("id")

  def q32Sql = """
    WITH g AS (
      SELECT a.i * 50 + b.i AS id,
             -1.0 + a.i * (2.0 / 49) AS x1,
             -1.0 + b.i * (2.0 / 49) AS x2
      FROM generate_series(0, 49) a(i), generate_series(0, 49) b(i))
    SELECT id, x1, x2,
           round(pow(x1, 3) - x1 + pow(x2, 2) + 0.5 * sin(8 * x1 * x2), 6) AS y
    FROM g ORDER BY id"""

  /** S3 Latin-hypercube source: stratification property is oracle-checked
    * structurally (one sample per stratum per dimension). The two distinct
    * counts run as separate single-distinct aggregates (two distincts in
    * one agg would take Catalyst's Expand path — q48 lesson; trivial here
    * but the plan guard holds every registered query to it). */
  def q33LhsStrata(s: SparkSession, d: String): DataFrame = {
    val n = 64
    val lhs = CheckpointPolicy.pin(
      Sources.latinHypercube(s, Domain(Seq((0.0, 1.0), (0.0, 1.0))), n, seed = 42)
        .select(
          floor(col("x1") * n).cast("long").as("s1"),
          floor(col("x2") * n).cast("long").as("s2")))
    // per dimension: every stratum [i/n,(i+1)/n) holds exactly one sample
    lhs.agg(count_distinct(col("s1")).as("d1"), count(lit(1)).as("n"))
      .crossJoin(broadcast(lhs.agg(count_distinct(col("s2")).as("d2"))))
      .select(col("d1"), col("d2"), col("n"))
  }

  // LHS stratification is a structural guarantee: exactly one sample per
  // stratum per dimension, so the oracle is the closed-form answer.
  def q33Sql = """
    SELECT CAST(64 AS BIGINT) AS d1, CAST(64 AS BIGINT) AS d2,
           CAST(64 AS BIGINT) AS n"""

  /** A-PCA as an oracle-checkable gate (the exact basis is sign/rotation
    * ambiguous, so the eigenvectors themselves can't be SQL-compared; the
    * eigen-INVARIANTS can):
    *   - `trace_sig4`: total variance Σ var_samp(col) to 4 significant
    *     digits — computed via the SAME var_samp aggregate in both engines
    *     (a genuine cross-engine check of the covariance accumulation;
    *     fixture traces sit ≥0.22 of a quantum from the rounding boundary
    *     at every sf, so the 4-digit mantissa is environment-robust).
    *   - `eig_trace_ok`: Σ all-d eigenvalues == trace (ties the eigensolve
    *     to the hashed trace).
    *   - `ortho_ok`: ‖VᵀV − I‖∞ ≤ 1e-9 over the full basis.
    *   - `pcvar_ok`: avg(pc_j²) over the DISTRIBUTED projection equals
    *     λ_j·(n−1)/n for every component — v_j really is an eigenvector
    *     with eigenvalue λ_j, verified against the data, not the model. */
  def q34PcaProject(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val dDim = cols.size
    val li = Tables.lineitem(s, d)
    val model = Pca.fit(li, cols, dDim) // full basis: trace + per-λ checks
    val projAggs = (0 until dDim).map(j => avg(pow(col(s"pc${j + 1}"), 2))) ++
      Seq(count(lit(1)).cast("double")) ++
      cols.map(c => var_samp(col(c)))
    val r = Pca.project(li, cols, model).agg(projAggs.head, projAggs.tail: _*).head()
    val pcVar = Array.tabulate(dDim)(j => r.getDouble(j))
    val n = r.getDouble(dDim)
    val trace = (0 until dDim).map(i => r.getDouble(dDim + 1 + i)).sum
    val traceSig4 = math.round(trace / math.pow(10, math.floor(math.log10(trace)) - 3))
    val eigSum = model.eigenvalues.sum
    val eigTraceOk = math.abs(eigSum - trace) <= 1e-9 * trace
    val orthoErr = (for (a <- 0 until dDim; b <- 0 until dDim) yield {
      val dot = (0 until dDim).map(i => model.components(i)(a) * model.components(i)(b)).sum
      math.abs(dot - (if (a == b) 1.0 else 0.0))
    }).max
    val pcvarOk = (0 until dDim).forall { j =>
      math.abs(pcVar(j) - model.eigenvalues(j) * (n - 1) / n) <= 1e-6 * model.eigenvalues(0)
    }
    s.range(1).select(
      lit(n.toLong).as("n"),
      lit(traceSig4).as("trace_sig4"),
      lit(if (eigTraceOk) 1L else 0L).as("eig_trace_ok"),
      lit(if (orthoErr <= 1e-9) 1L else 0L).as("ortho_ok"),
      lit(if (pcvarOk) 1L else 0L).as("pcvar_ok"))
  }

  // PCA gate: the basis is sign/rotation ambiguous, but total variance
  // (trace of the covariance) is engine-checkable via the same var_samp
  // aggregates, to 4 significant digits; the eigen invariants (Σλ = trace,
  // orthonormality, per-component projection variance = λ·(n−1)/n against
  // the distributed data) are Spark-side 1/0 flags the oracle pins to 1.
  def q34Sql = """
    SELECT CAST(cnt AS BIGINT) AS n,
           CAST(round(t / pow(10, floor(log10(t)) - 3)) AS BIGINT) AS trace_sig4,
           CAST(1 AS BIGINT) AS eig_trace_ok,
           CAST(1 AS BIGINT) AS ortho_ok,
           CAST(1 AS BIGINT) AS pcvar_ok
    FROM (SELECT count(*) AS cnt,
                 var_samp(l_quantity) + var_samp(l_extendedprice)
                 + var_samp(l_discount) + var_samp(l_tax) AS t
          FROM lineitem)"""

  /** Stratified corpus sampling with exact per-cell quotas — the
    * domain-mixing step of a training-data pipeline: within every
    * (lang, source) cell take ceil(10%) of documents, chosen by a
    * deterministic md5 order so any engine reproduces the same sample.
    * Partitioned window — parallel across cells at any scale. */
  def q42StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "source")
      .withColumn("__h", md5(
        concat_ws("|", col("lang"), col("source"), col("doc_id")).cast("binary")))
    val cell = Window.partitionBy("lang", "source")
    docs
      .withColumn("rn", row_number().over(cell.orderBy("__h")))
      .withColumn("n_cell", count(lit(1)).over(cell))
      .filter(col("rn") <= ceil(col("n_cell") * lit(0.1)))
      .select("lang", "source", "doc_id")
      .orderBy("lang", "source", "doc_id")
  }

  // Deterministic stratified sample: same md5 cell-order on both engines.
  def q42Sql = """
    WITH t AS (SELECT lang, source, doc_id,
                      md5(concat_ws('|', lang, source, doc_id)) AS h
               FROM documents),
    r AS (SELECT lang, source, doc_id,
                 row_number() OVER (PARTITION BY lang, source ORDER BY h) AS rn,
                 count(*) OVER (PARTITION BY lang, source) AS n_cell
          FROM t)
    SELECT lang, source, doc_id FROM r
    WHERE rn <= ceil(n_cell * 0.1)
    ORDER BY lang, source, doc_id"""

  /** The flagship BDQA active-sampling LOOP as a driver-checked trace
    * (see [[graft.pipelines.ActiveSampling.deterministicTrace]]): 3
    * iterations × 3 explorer select-and-moves after an md5-deterministic
    * inverse-density init sample on the grid fixture; DuckDB replays every
    * pick — init removal included — with a recursive CTE. */
  def q54BdqaTrace(s: SparkSession, d: String): DataFrame =
    graft.pipelines.ActiveSampling.deterministicTrace(s)
      .withColumn("score", round(col("score"), 6))
      .orderBy("iter", "explorer")

  // BDQA flagship-loop trace: replays the md5-deterministic init sample and
  // the nine explorer picks with a recursive CTE that carries the picked-id
  // list (the pool shrinks by exactly the picked set — the loop's only
  // state). Arithmetic mirrors ActiveSampling.deterministicTrace
  // operation-for-operation: the fixed N(0.5, 0.5) density surrogate, the
  // q26 52-bit md5 uniform, ln(u)·dens(y) E-S keys, and score DESC, id
  // tie-breaks.
  def q54Sql = """
    WITH RECURSIVE g AS (
      SELECT a.i * 50 + b.i AS id,
             -1.0 + a.i * (2.0 / 49) AS x1,
             -1.0 + b.i * (2.0 / 49) AS x2
      FROM generate_series(0, 49) a(i), generate_series(0, 49) b(i)),
    b AS (
      SELECT id,
             pow(x1, 3) - x1 + pow(x2, 2) + 0.5 * sin(8 * x1 * x2) AS y,
             pow(x1 * 0.9, 3) - (x1 * 0.9) + pow(x2 * 0.9, 2)
               + 0.5 * sin(8 * (x1 * 0.9) * (x2 * 0.9)) AS pred,
             0.05 + 0.3 * (x1 * x1 + x2 * x2) AS var
      FROM g),
    h AS (SELECT *, substr(md5(CAST(id AS VARCHAR)), 1, 13) AS hx FROM b),
    uu AS (SELECT *, list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, 13),
                 k -> CAST(strpos('0123456789abcdef', substr(hx, k, 1)) - 1 AS DOUBLE)
                      * pow(16.0, 13 - k))),
             (a, x) -> a + x) / 4503599627370496.0 AS u
           FROM h),
    sc AS (
      SELECT id,
             (pred - y) * (pred - y) AS se,
             var AS us,
             var / GREATEST(exp(-0.5 * (((pred - 0.5) / 0.5) * ((pred - 0.5) / 0.5)))
                            / (0.5 * sqrt(2 * pi())), 1e-12) AS lw,
             ln(u) * (exp(-0.5 * (((y - 0.5) / 0.5) * ((y - 0.5) / 0.5)))
                      / (0.5 * sqrt(2 * pi()))) AS es_key
      FROM uu),
    init AS (SELECT id FROM sc ORDER BY es_key DESC, id LIMIT 100),
    p AS (SELECT sc.* FROM sc WHERE id NOT IN (SELECT id FROM init)),
    sim(step, explorer, id, score, picked) AS (
      SELECT 0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
             CAST(NULL AS DOUBLE), []::BIGINT[]
      UNION ALL
      SELECT t.step + 1,
             CASE t.step % 3 WHEN 0 THEN 'se' WHEN 1 THEN 'us' ELSE 'us_lw' END,
             (SELECT id FROM p WHERE NOT list_contains(t.picked, id)
              ORDER BY CASE t.step % 3 WHEN 0 THEN se WHEN 1 THEN us ELSE lw END DESC, id
              LIMIT 1),
             (SELECT CASE t.step % 3 WHEN 0 THEN se WHEN 1 THEN us ELSE lw END
              FROM p WHERE NOT list_contains(t.picked, id)
              ORDER BY CASE t.step % 3 WHEN 0 THEN se WHEN 1 THEN us ELSE lw END DESC, id
              LIMIT 1),
             list_append(t.picked,
               (SELECT id FROM p WHERE NOT list_contains(t.picked, id)
                ORDER BY CASE t.step % 3 WHEN 0 THEN se WHEN 1 THEN us ELSE lw END DESC, id
                LIMIT 1))
      FROM sim t WHERE t.step < 9)
    SELECT CAST((step + 2) // 3 AS BIGINT) AS iter, explorer,
           id AS selected_id, round(score, 6) AS score
    FROM sim WHERE step >= 1 ORDER BY iter, explorer"""

  /** Data-mixture sampling: reweight the documents table into a training
    * mix (src0 ×2.5 upsampled, src1 ×1.0, src2 ×0.4, everything else
    * ×0.15) and expand the drawn epochs. Deterministic md5 uniforms make
    * the whole sample — which docs survive AND how many epochs each gets —
    * exactly replayable in the oracle, q26-style. */
  def q62MixtureSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val w = Mixture.weightFor(col("source"),
      Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4), default = 0.15)
    Mixture.epochs(docs, col("doc_id"), w, salt = "mix")
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  // Mixture sampling: replays the md5-uniform epoch draw (floor(w)
  // guaranteed + 1 with probability frac(w)) and the epoch expansion — the
  // whole training mix is deterministic in (doc_id, salt).
  def q62Sql = """
    WITH s AS (SELECT doc_id, source,
                      CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
                           WHEN 'src2' THEN 0.4 ELSE 0.15 END AS w,
                      substr(md5(concat_ws('|', doc_id, 'mix')), 1, 13) AS hx
               FROM documents),
    u AS (SELECT doc_id, source, w,
                 list_reduce(list_prepend(0.0,
                     list_transform(generate_series(1, 13),
                       k -> CAST(strpos('0123456789abcdef', substr(hx, k, 1)) - 1 AS DOUBLE)
                            * pow(16.0, 13 - k))),
                   (a, x) -> a + x) / 4503599627370496.0 AS u
          FROM s),
    c AS (SELECT doc_id, source,
                 CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS BIGINT) AS n
          FROM u)
    SELECT doc_id, source, CAST(unnest(range(n)) AS BIGINT) AS epoch
    FROM c WHERE n > 0 ORDER BY doc_id, epoch"""

  /** UQ-calibration reliability table over a deterministic surrogate
    * scorer (q54's trick: closed-form pred/var so the oracle replays the
    * model exactly): predicted variance from exact integer arithmetic on
    * event_id, realized squared error from the 0.9-biased prediction.
    * Ten equi-depth variance bins, each reporting expected vs realized —
    * the audit of the acquisition signal the reference's whole loop
    * trusts ([[graft.ml.Calibration]]). */
  def q73Calibration(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.events(s, d)
      .select(col("event_id"),
        (lit(0.05) + pmod(col("event_id"), lit(97)).cast("double") / lit(100.0))
          .as("var_pred"),
        (col("value") * lit(0.1) * col("value") * lit(0.1)).as("sq_err"))
    Calibration.reliability(scored, col("var_pred"), col("sq_err"),
      col("event_id"), bins = 10)
  }

  // UQ-calibration reliability table: deterministic surrogate (exact
  // integer-derived predicted variance, closed-form squared error)
  // replayed through a plain ntile + per-bin averages.
  def q73Sql = """
    WITH s AS (SELECT event_id,
                      0.05 + CAST(event_id % 97 AS DOUBLE) / 100.0 AS var_pred,
                      value * 0.1 * value * 0.1 AS sq_err
               FROM events),
    b AS (SELECT var_pred, sq_err,
                 ntile(10) OVER (ORDER BY var_pred, event_id) AS bucket
          FROM s)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
           round(avg(var_pred), 6) AS expected_var,
           round(avg(sq_err), 6) AS realized_mse
    FROM b GROUP BY bucket ORDER BY bucket"""

  /** The FLAGSHIP `ActiveSampling.run` composition, driver-gated end-to-end
    * (closing q54's scope: that query replays the selection kernel via a
    * surrogate loop; this one runs `run` ITSELF): 3 iterations over the
    * 50×50 grid fixture in the oracle-parity configuration —
    *
    *   - [[graft.ml.AnalyticScorer]] (closed-form pred/var, the q54
    *     surrogate — the tree ensemble is not SQL-replayable);
    *   - REAL binned-KDE machinery: trueKde over the pool's y (init
    *     weights + the log-pdf-error reference), and a KDE REFIT of the
    *     shrinking pool's preds every iteration feeding the us_lw explorer
    *     — bandwidth pinned 0.2, grid 256, so DuckDB replays the full
    *     binned-KDE convolution 4× (q25 pattern);
    *   - md5-uniform E-S init (`portableInitSample`, the q26/q54 device).
    *
    * Emits the per-iteration convergence trace (iter, mse, mvar,
    * log_pdf_err, train_n, pool_n): every number flows through KDE fit +
    * interpolation + trapz + the 9 select-and-moves, so ANY defect in the
    * loop's composition — scoring, metrics, KDE refit, pool bookkeeping —
    * breaks the hash. */
  def q75ActiveSamplingTrace(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Domain, Sources}
    val pool = Sources.grid(s, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), 50)
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
    val scorer = graft.ml.AnalyticScorer(
      _ => Pdfs.syntheticLabel(col("x1") * lit(0.9), col("x2") * lit(0.9)),
      _ => lit(0.05) + lit(0.3) * (col("x1") * col("x1") + col("x2") * col("x2")))
    val (_, ms) = ActiveSampling.run(s, pool, scorer, ActiveSamplingConfig(
      initSize = 100, iterations = 3, kdeGridSize = 256,
      kdeBandwidth = Some(0.2), portableInitSample = true))
    ActiveSampling.metricsDF(s, ms).select(
      col("iter").cast("long").as("iter"),
      round(col("mse"), 6).as("mse"),
      round(col("meanVar"), 6).as("mvar"),
      round(col("logPdfError"), 6).as("log_pdf_err"),
      col("trainSize").as("train_n"),
      col("poolSize").as("pool_n"))
      .orderBy("iter")
  }

  // --- q75: the FULL ActiveSampling.run replay -----------------------------
  // Composition of three already-proven devices: the q54 grid/label/md5-
  // uniform fixture, the q25 binned KDE convolution (run 4x: trueKde +
  // one pred-KDE refit per iteration over the SHRINKING pool), and the q54
  // pick chain (se/us/us_lw with id tie-breaks). CTEs are MATERIALIZED —
  // DuckDB otherwise inlines them per reference and the pdf grids recompute
  // combinatorially. Interpolation is the join form of Interp.linearUniform
  // (idx = clamp(floor(pos)), frac clamped, v0 + (v1-v0)*frac).
  private val q75G = 256 // kdeGridSize in the q75 oracle-parity config

  private def q75KdeBlock(pfx: String, src: String, value: String): String = {
    val gm1 = q75G - 1
    s"""
    ${pfx}src AS (
      SELECT CAST($value AS DOUBLE) AS v FROM $src, p
      WHERE $value IS NOT NULL AND NOT isnan(CAST($value AS DOUBLE))
        AND CAST($value AS DOUBLE) >= p.lo AND CAST($value AS DOUBLE) <= p.hi),
    ${pfx}fr AS (
      SELECT least(greatest(CAST(floor((v - lo) / step) AS INTEGER), 0), $gm1) AS i0,
             least(greatest((v - lo) / step -
               least(greatest(CAST(floor((v - lo) / step) AS INTEGER), 0), $gm1), 0.0), 1.0) AS frac
      FROM ${pfx}src, p),
    ${pfx}pairs AS (
      SELECT i0 AS bin, 1.0 * (1.0 - frac) AS w FROM ${pfx}fr
      UNION ALL
      SELECT least(i0 + 1, $gm1) AS bin, 1.0 * frac AS w FROM ${pfx}fr),
    ${pfx}bins AS MATERIALIZED (SELECT bin, sum(w) AS wsum FROM ${pfx}pairs GROUP BY bin),
    ${pfx}tot AS (SELECT sum(wsum) AS total FROM ${pfx}bins),
    ${pfx}conv AS (
      SELECT t.j AS j, sum((t.wsum / t.total) * t.knorm * exp(-0.5 * (t.tt * t.tt))) AS pdf
      FROM (SELECT j.j, b.wsum, tt.total, p.knorm, (j.j - b.bin) * p.step / p.bw AS tt
            FROM generate_series(0, $gm1) j(j)
            CROSS JOIN ${pfx}bins b CROSS JOIN ${pfx}tot tt CROSS JOIN p
            WHERE b.wsum > 0 AND abs(j.j - b.bin) <= p.support) AS t(j, wsum, total, knorm, tt)
      GROUP BY t.j),
    ${pfx}pdf AS MATERIALIZED (
      SELECT g.g AS j, coalesce(c.pdf, 0.0) AS pdf
      FROM generate_series(0, $gm1) g(g) LEFT JOIN ${pfx}conv c ON c.j = g.g)"""
  }

  private def q75IterBlock(i: Int, pool: String): String = {
    val gm1 = q75G - 1
    val gm2 = q75G - 2
    s"""
    ${q75KdeBlock(s"k$i", pool, "pred")},
    m$i AS (SELECT avg(pow(pred - y, 2)) AS mse, avg(var) AS mvar FROM $pool),
    d${i}g AS (
      SELECT g.g AS j, p.lo + g.g * p.step AS gx,
             (p.lo + g.g * p.step - p.lo) / p.step AS pos,
             least(greatest(CAST(floor((p.lo + g.g * p.step - p.lo) / p.step) AS INTEGER), 0), $gm2) AS idx
      FROM generate_series(0, $gm1) g(g) CROSS JOIN p),
    d$i AS (
      SELECT q.j, q.gx,
             abs(greatest(-6.0, ln(greatest(
                   p0.pdf + (p1.pdf - p0.pdf) * least(greatest(q.pos - q.idx, 0.0), 1.0), 1e-300)))
               - greatest(-6.0, ln(greatest(t.pdf, 1e-300)))) AS d
      FROM d${i}g q
      JOIN k${i}pdf p0 ON p0.j = q.idx
      JOIN k${i}pdf p1 ON p1.j = q.idx + 1
      JOIN tkpdf t ON t.j = q.j),
    tz$i AS (
      SELECT sum(seg) AS tz FROM (
        SELECT (d + lag(d) OVER (ORDER BY j)) / 2.0 *
               (gx - lag(gx) OVER (ORDER BY j)) AS seg
        FROM d$i) WHERE seg IS NOT NULL),
    se$i AS MATERIALIZED (SELECT id FROM $pool ORDER BY pow(pred - y, 2) DESC, id LIMIT 1),
    us$i AS MATERIALIZED (SELECT id FROM $pool WHERE id NOT IN (SELECT id FROM se$i)
              ORDER BY var DESC, id LIMIT 1),
    lw${i}q AS (
      SELECT id, var, (pred - p.lo) / p.step AS pos,
             least(greatest(CAST(floor((pred - p.lo) / p.step) AS INTEGER), 0), $gm2) AS idx
      FROM $pool, p),
    lw$i AS MATERIALIZED (
      SELECT q.id FROM lw${i}q q
      JOIN k${i}pdf p0 ON p0.j = q.idx
      JOIN k${i}pdf p1 ON p1.j = q.idx + 1
      WHERE q.id NOT IN (SELECT id FROM se$i UNION ALL SELECT id FROM us$i)
      ORDER BY (1.0 / greatest(p0.pdf + (p1.pdf - p0.pdf) *
                  least(greatest(q.pos - q.idx, 0.0), 1.0), 1e-12)) * q.var DESC, q.id
      LIMIT 1),
    pool${i + 1} AS MATERIALIZED (
      SELECT * FROM $pool WHERE id NOT IN (
        SELECT id FROM se$i UNION ALL SELECT id FROM us$i UNION ALL SELECT id FROM lw$i))"""
  }

  def q75Sql: String = {
    val gm1 = q75G - 1
    val gm2 = q75G - 2
    s"""
    WITH base AS MATERIALIZED (
      SELECT a.i * 50 + b.i AS id,
             -1.0 + a.i * (2.0 / 49) AS x1,
             -1.0 + b.i * (2.0 / 49) AS x2
      FROM generate_series(0, 49) a(i), generate_series(0, 49) b(i)),
    lab AS MATERIALIZED (
      SELECT id, x1, x2,
             pow(x1, 3) - x1 + pow(x2, 2) + 0.5 * sin(8 * x1 * x2) AS y,
             pow(x1 * 0.9, 3) - (x1 * 0.9) + pow(x2 * 0.9, 2)
               + 0.5 * sin(8 * (x1 * 0.9) * (x2 * 0.9)) AS pred,
             0.05 + 0.3 * (x1 * x1 + x2 * x2) AS var
      FROM base),
    uu AS MATERIALIZED (
      SELECT *, list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, 13),
            k -> CAST(strpos('0123456789abcdef',
                   substr(substr(md5(CAST(id AS VARCHAR)), 1, 13), k, 1)) - 1 AS DOUBLE)
                 * pow(16.0, 13 - k))),
        (a, x) -> a + x) / 4503599627370496.0 AS u
      FROM lab),
    p AS MATERIALIZED (
      SELECT min(y) - 3 * CAST(0.2 AS DOUBLE) AS lo,
             max(y) + 3 * CAST(0.2 AS DOUBLE) AS hi,
             CAST(0.2 AS DOUBLE) AS bw,
             (max(y) + 3 * CAST(0.2 AS DOUBLE) - (min(y) - 3 * CAST(0.2 AS DOUBLE))) / $gm1 AS step,
             1.0 / (CAST(0.2 AS DOUBLE) * sqrt(2.0 * pi())) AS knorm,
             least($q75G, CAST(ceil(8.5 * CAST(0.2 AS DOUBLE) /
               ((max(y) + 3 * CAST(0.2 AS DOUBLE) - (min(y) - 3 * CAST(0.2 AS DOUBLE))) / $gm1)) AS INTEGER) + 1) AS support
      FROM lab),
    ${q75KdeBlock("tk", "lab", "y")},
    esq AS (
      SELECT id, u, (y - p.lo) / p.step AS pos,
             least(greatest(CAST(floor((y - p.lo) / p.step) AS INTEGER), 0), $gm2) AS idx
      FROM uu, p),
    init AS MATERIALIZED (
      SELECT q.id FROM esq q
      JOIN tkpdf p0 ON p0.j = q.idx
      JOIN tkpdf p1 ON p1.j = q.idx + 1
      ORDER BY ln(q.u) * greatest(p0.pdf + (p1.pdf - p0.pdf) *
                 least(greatest(q.pos - q.idx, 0.0), 1.0), 1e-12) DESC, q.id
      LIMIT 100),
    pool1 AS MATERIALIZED (SELECT * FROM uu WHERE id NOT IN (SELECT id FROM init)),
    ${q75IterBlock(1, "pool1")},
    ${q75IterBlock(2, "pool2")},
    ${q75IterBlock(3, "pool3")}
    SELECT CAST(1 AS BIGINT) AS iter, round(mse, 6) AS mse, round(mvar, 6) AS mvar,
           round(tz, 6) AS log_pdf_err, CAST(103 AS BIGINT) AS train_n, CAST(2397 AS BIGINT) AS pool_n
    FROM m1, tz1
    UNION ALL
    SELECT CAST(2 AS BIGINT), round(mse, 6), round(mvar, 6), round(tz, 6),
           CAST(106 AS BIGINT), CAST(2394 AS BIGINT) FROM m2, tz2
    UNION ALL
    SELECT CAST(3 AS BIGINT), round(mse, 6), round(mvar, 6), round(tz, 6),
           CAST(109 AS BIGINT), CAST(2391 AS BIGINT) FROM m3, tz3
    ORDER BY iter"""
  }

  /** Deterministic train/val/test hash split over documents (0.8/0.1/0.1,
    * keyed by doc_id) — the assignment a pipeline makes once and must
    * never churn: stable under re-runs/retries/repartitioning AND under
    * incremental corpus growth (tomorrow's doc lands where it would have
    * landed today). Fully per-row oracle-checked: DuckDB replays the md5
    * uniform and the cumulative-cut CASE exactly. */
  def q76HashSplit(s: SparkSession, d: String): DataFrame =
    Mixture.hashSplit(Tables.documents(s, d).select("doc_id"), col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")

  // Deterministic hash split: the md5-uniform (q26 device) + cumulative-cut
  // CASE replayed per row. Cut expressions are computed the same way the
  // Scala side folds them (0.8, then 0.8 + 0.1 in IEEE doubles) so a
  // uniform landing between 0.9 and the folded sum can't diverge.
  def q76Sql = """
    WITH u AS (
      SELECT doc_id, list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, 13),
            k -> CAST(strpos('0123456789abcdef',
                   substr(substr(md5(concat_ws('|', doc_id, 'split')), 1, 13), k, 1)) - 1 AS DOUBLE)
                 * pow(16.0, 13 - k))),
        (a, x) -> a + x) / 4503599627370496.0 AS u
      FROM documents)
    SELECT doc_id,
           CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
                WHEN u < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE) THEN 'val'
                ELSE 'test' END AS split
    FROM u ORDER BY doc_id"""

  /** DSIR importance selection over documents — distribution-matching
    * data selection ([[Dsir.select]]): target = the English subset,
    * hashed-unigram bucket log-ratios, top 25% kept. Full replay: the
    * oracle recomputes bucketing (md5 fold), smoothed ratios, the ordered
    * per-doc score fold, and the (rounded score, doc_id) selection rank —
    * score AND keep flag hash-compared per doc. */
  def q82DsirSelection(s: SparkSession, d: String): DataFrame =
    Dsir.select(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))),
        col("lang") === "en", buckets = 256, frac = 0.25)
      .orderBy("doc_id")

  // DSIR importance selection, FULL replay: token buckets via the md5
  // integer fold (first 6 hex chars mod 256 — exact integers in both
  // engines), add-one-smoothed per-bucket target/corpus log ratios
  // densified over range(256) (buckets with no tokens get the pure
  // smoothing ratio, mirroring the Spark driver arrays), per-doc score =
  // ordered fold of bucket ratios in TOKEN order (list ORDER BY pos =
  // Spark's aggregate-HOF order; ~1e-14 ln/sum ulp drift absorbed by the
  // 6 dp round), keep flag = rank by (rounded score desc, doc_id) ≤
  // floor(n·0.25). Score and flag both hash-compared.
  def q82Sql: String = {
    val bucket = """CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, 6),
    k -> CAST((strpos('0123456789abcdef', substr(substr(md5(tk), 1, 6), k, 1)) - 1) * CAST(pow(16.0, 6 - k) AS BIGINT) AS BIGINT))),
  (a, x) -> a + x) % 256 AS BIGINT)"""
    s"""
    WITH t AS (SELECT doc_id, lang,
          CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks FROM documents),
    btok AS (SELECT doc_id, pos, lang, $bucket AS b FROM
      (SELECT doc_id, lang, unnest(range(len(toks))) AS pos, unnest(toks) AS tk FROM t)),
    cnt AS (SELECT b, count(*) AS tot,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt
            FROM btok GROUP BY b),
    dense AS (SELECT bs.b AS b, coalesce(c.tot, 0) AS tot, coalesce(c.tgt, 0) AS tgt
              FROM (SELECT unnest(range(256)) AS b) bs LEFT JOIN cnt c ON c.b = bs.b),
    tots AS (SELECT sum(tot) + 256.0 AS tot_all, sum(tgt) + 256.0 AS tgt_all FROM dense),
    lrl AS (SELECT list(ln((tgt + 1.0) / tgt_all) - ln((tot + 1.0) / tot_all) ORDER BY b) AS l
            FROM dense, tots),
    scl AS (SELECT doc_id, list(lrl.l[b + 1] ORDER BY pos) AS terms
            FROM btok, lrl GROUP BY doc_id),
    sc AS (SELECT t.doc_id,
                  round(coalesce(list_reduce(list_prepend(0.0, scl.terms), (a, x) -> a + x), 0.0), 6) AS score
           FROM t LEFT JOIN scl ON scl.doc_id = t.doc_id),
    n AS (SELECT count(*) AS n FROM t),
    rk AS (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc)
    SELECT doc_id, score,
           CAST(CASE WHEN rn <= floor(n.n * 0.25) THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM rk, n ORDER BY doc_id"""
  }

  /** Neyman-allocation stratified sampling ([[Selection.neymanSample]]):
    * a 200-doc budget split across languages ∝ Nₕ·σₕ of n_chars, selection
    * = smallest md5-uniforms per stratum via the bounded top-k aggregator.
    * Full replay: DuckDB recomputes σ, the floor allocation, the ranked
    * selection, and the sorted-id digest per stratum. */
  def q97NeymanSample(s: SparkSession, d: String): DataFrame =
    Selection.neymanSample(Tables.documents(s, d), col("lang"),
        col("n_chars"), col("doc_id"), budget = 200)
      .orderBy("stratum")

  // Neyman-allocation stratified sample, FULL replay: stddev_pop, the
  // floor allocation, the md5-uniform ranked selection (q76 device, salt
  // 'neyman'), and the per-stratum sorted-id digest.
  def q97Sql = """
    WITH v AS (SELECT lang AS stratum, doc_id, CAST(n_chars AS DOUBLE) AS x
               FROM documents),
    s AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_pop,
                 coalesce(stddev_pop(x), 0.0) AS sig
          FROM v GROUP BY stratum),
    w AS (SELECT *, n_pop * sig AS wh FROM s),
    tot AS (SELECT sum(wh) AS wsum FROM w),
    a AS (SELECT stratum, n_pop, sig,
                 CASE WHEN wsum > 0
                 THEN least(n_pop, CAST(floor(200.0 * wh / wsum) AS BIGINT))
                 ELSE 0 END AS n_alloc
          FROM w, tot),
    u AS (SELECT stratum, doc_id, list_reduce(list_prepend(0.0,
            list_transform(generate_series(1, 13),
              k -> CAST(strpos('0123456789abcdef',
                     substr(substr(md5(concat_ws('|', doc_id, 'neyman')), 1, 13), k, 1)) - 1 AS DOUBLE)
                   * pow(16.0, 13 - k))),
          (acc, y) -> acc + y) / 4503599627370496.0 AS u
          FROM v),
    r AS (SELECT stratum, doc_id,
                 row_number() OVER (PARTITION BY stratum ORDER BY u, doc_id) AS rn
          FROM u),
    sel AS (SELECT r.stratum, CAST(count(*) AS BIGINT) AS n_selected,
                   md5(array_to_string(list_sort(list(r.doc_id)), ',')) AS sel_md5
            FROM r JOIN a ON a.stratum = r.stratum
            WHERE r.rn <= a.n_alloc GROUP BY r.stratum)
    SELECT a.stratum, a.n_pop, round(a.sig, 6) AS sigma, a.n_alloc,
           coalesce(sel.n_selected, 0) AS n_selected,
           coalesce(sel.sel_md5, md5('')) AS sel_md5
    FROM a LEFT JOIN sel ON sel.stratum = a.stratum
    ORDER BY a.stratum"""

  /** Rendezvous sharding ([[Layout.rendezvousShard]]): every doc's shard
    * under 8 and under 9 shards, plus the moved flag — growing the shard
    * count must move ~1/9 of rows, all of them to the NEW shard (the HRW
    * minimal-disruption property; the oracle replays the md5 argmax and
    * both assignments row by row, so a tie-break or hash divergence reds
    * every row it touches). */
  def q98RendezvousShards(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        Layout.rendezvousShard(col("doc_id"), 8).cast("long").as("shard8"),
        Layout.rendezvousShard(col("doc_id"), 9).cast("long").as("shard9"))
      .withColumn("moved",
        when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
      .orderBy("doc_id")

  // Rendezvous sharding, FULL replay: the md5 argmax for both shard
  // counts, per row.
  def q98Sql = """
    WITH a AS (SELECT doc_id,
                 CAST(list_sort(list_transform(generate_series(0, 7),
                   s -> {'h': md5(concat_ws('|', doc_id, 'hrw', s)), 's': s}),
                   'DESC')[1].s AS BIGINT) AS shard8,
                 CAST(list_sort(list_transform(generate_series(0, 8),
                   s -> {'h': md5(concat_ws('|', doc_id, 'hrw', s)), 's': s}),
                   'DESC')[1].s AS BIGINT) AS shard9
               FROM documents)
    SELECT doc_id, shard8, shard9,
           CAST(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END AS BIGINT) AS moved
    FROM a ORDER BY doc_id"""

  /** Gaussian-mixture EM (SURVEY A-GMM — the one §2 operator previously
    * left as a documented omission): 3-component diagonal GMM over
    * (l_quantity, l_tax), 3 EM iterations, md5-portable init, every score/
    * responsibility/parameter rounded inside Spark SQL ([[Gmm.fitDiag]]).
    * The oracle replays the ENTIRE trajectory — init pick, all three
    * E/M steps, final hard assignment — so any drift anywhere in the EM
    * arithmetic breaks the hash. Output: per-component weight, per-dim
    * mean/var, and the hard-assignment count under the final model. */
  def q108GmmEm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val cols = Seq("l_quantity", "l_tax")
    val model = Gmm.fitDiag(li, cols, k = 3, iters = 3,
      keyCols = Seq(col("l_orderkey"), col("l_linenumber")), salt = "gmm")
    // k rows — bounded driver pull, same class as the Pca eigen row
    val counts = Gmm.assign(li, cols, model)
      .groupBy("component").agg(count(lit(1)).as("n_assigned"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until model.k).map { c =>
      (c.toLong, model.weights(c), model.means(c)(0), model.vars(c)(0),
        model.means(c)(1), model.vars(c)(1), counts.getOrElse(c.toLong, 0L))
    }.toDF("component", "weight", "mean_qty", "var_qty", "mean_tax",
      "var_tax", "n_assigned")
      .select(col("component"), round(col("weight"), 6).as("weight"),
        round(col("mean_qty"), 6).as("mean_qty"),
        round(col("var_qty"), 6).as("var_qty"),
        round(col("mean_tax"), 6).as("mean_tax"),
        round(col("var_tax"), 6).as("var_tax"), col("n_assigned"))
      .orderBy("component")
  }

  // GMM EM trajectory replay (q108): one E/R/P CTE triple per iteration,
  // with all k components as COLUMNS of one row (no per-row window — the
  // synthetic fixtures have duplicate (orderkey, linenumber) pairs, so no
  // row-identity partition key exists). Every rounding fence mirrors
  // Gmm.fitDiag exactly: scores 12, responsibilities 9, updates 9 —
  // in the same left-to-right multiplication/addition order as Spark.
  private val gmmK = 3

  private def gmmPdf(x: String, m: String, sg: String) =
    s"(exp(-0.5*(p.$x-pr.$m)*(p.$x-pr.$m)/pr.$sg)/sqrt(2*pi()*pr.$sg))"

  // per-row fences replayed as the SAME floor arithmetic Gmm.fence uses
  private def gmmFence(expr: String, pow: String) =
    s"floor(($expr) * $pow + 0.5) / $pow"

  // weight * (pdf0 * pdf1) — parenthesised to match Gmm.responsibilities'
  // association exactly (reduceLeft over the pdfs first, THEN the weight);
  // IEEE multiplication is non-associative, so left-assoc SQL could differ
  // by an ulp right at a rounding-fence boundary
  private def gmmScores: String = (0 until gmmK).map(c =>
    gmmFence(s"pr.w$c * (${gmmPdf("x0", s"m${c}0", s"s${c}0")} * ${gmmPdf("x1", s"m${c}1", s"s${c}1")})",
      "1000000000000.0") + s" AS sc$c")
    .mkString(", ")

  private def gmmResps: String = {
    val tot = (0 until gmmK).map(c => s"sc$c").mkString(" + ")
    (0 until gmmK).map(c =>
      gmmFence(s"sc$c / greatest($tot, 1e-30)", "1000000000.0") + s" AS r$c").mkString(", ")
  }

  private def gmmIter(i: Int): String = {
    val prev = s"p${i - 1}"
    def mU(c: Int, x: String) = s"round(sum(r$c*$x) / greatest(sum(r$c), 1e-12), 9)"
    val ps = (0 until gmmK).flatMap { c =>
      s"round(sum(r$c) / max(gg.n), 9) AS w$c" +: (0 until 2).map { j =>
        val x = s"x$j"
        s"${mU(c, x)} AS m$c$j, " +
          s"round(greatest(sum(r$c*$x*$x) / greatest(sum(r$c), 1e-12) - ${mU(c, x)}*${mU(c, x)}, 0.000001), 9) AS s$c$j"
      }
    }.mkString(", ")
    s"""
    e$i AS (SELECT p.x0, p.x1, $gmmScores FROM gpts p CROSS JOIN $prev pr),
    r$i AS (SELECT x0, x1, $gmmResps FROM e$i),
    p$i AS (SELECT $ps FROM r$i, gg)"""
  }

  def q108Sql: String = {
    val initPivot = (0 until gmmK).flatMap { c =>
      s"round(1.0/3, 9) AS w$c" +: (0 until 2).map(j =>
        // greatest(·, varFloor) mirrors fitDiag's init floor — without it
        // a near-constant feature (var_pop < 1e-6) would divide by ~zero
        // here while Spark proceeds floored
        s"max(CASE WHEN c = $c THEN x$j END) AS m$c$j, greatest(max(gg.v$j), 0.000001) AS s$c$j")
    }.mkString(", ")
    val outRows = (0 until gmmK).map { c =>
      s"""SELECT CAST($c AS BIGINT) AS component, round(p.w$c, 6) AS weight,
           round(p.m${c}0, 6) AS mean_qty, round(p.s${c}0, 6) AS var_qty,
           round(p.m${c}1, 6) AS mean_tax, round(p.s${c}1, 6) AS var_tax,
           CAST(coalesce((SELECT n FROM gcnt WHERE comp = $c), 0) AS BIGINT) AS n_assigned
         FROM p3 p"""
    }.mkString(" UNION ALL ")
    s"""
    WITH gpts AS (SELECT concat_ws('|', l_orderkey, l_linenumber) AS key,
                    CAST(l_quantity AS DOUBLE) AS x0, CAST(l_tax AS DOUBLE) AS x1
                  FROM lineitem),
    gg AS (SELECT CAST(count(*) AS DOUBLE) AS n, round(var_pop(x0), 9) AS v0,
                  round(var_pop(x1), 9) AS v1 FROM gpts),
    gh AS (SELECT *, substr(md5(concat_ws('|', key, 'gmm')), 1, 13) AS hx FROM gpts),
    gu AS (SELECT *, list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, 13),
                 k -> CAST(strpos('0123456789abcdef', substr(hx, k, 1)) - 1 AS DOUBLE)
                      * pow(16.0, 13 - k))),
             (a, x) -> a + x) / 4503599627370496.0 AS u
           FROM gh),
    ginit AS (SELECT row_number() OVER (ORDER BY u, key, x0, x1) - 1 AS c, x0, x1
              FROM gu ORDER BY u, key, x0, x1 LIMIT $gmmK),
    p0 AS (SELECT $initPivot FROM ginit, gg),
    ${gmmIter(1)},
    ${gmmIter(2)},
    ${gmmIter(3)},
    e4 AS (SELECT p.x0, p.x1, $gmmScores FROM gpts p CROSS JOIN p3 pr),
    r4 AS (SELECT x0, x1, $gmmResps FROM e4),
    ga AS (SELECT CASE WHEN r0 >= r1 AND r0 >= r2 THEN 0
                       WHEN r1 >= r2 THEN 1 ELSE 2 END AS comp
           FROM r4),
    gcnt AS (SELECT comp, count(*) AS n FROM ga GROUP BY comp)
    SELECT * FROM ($outRows) ORDER BY component"""
  }

  /** Temperature-based mixture planning ([[Mixture.temperatureWeights]] →
    * [[Mixture.epochs]]): α = 0.5 flattens the documents table's source
    * skew toward a 10k-doc training mix; each source's realized sample
    * count comes from the deterministic epochs expansion. The oracle
    * replays the share/temperature/weight arithmetic AND every per-doc
    * md5-uniform epoch draw. */
  def q113TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val w = Mixture.temperatureWeights(docs, col("source"), alpha = 0.5,
      targetRows = 10000L)
    val sampled = Mixture.epochs(docs.join(w.select("source", "weight"),
        Seq("source")), col("doc_id"), col("weight"), salt = "temp")
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    w.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("share_before"),
        col("share_after"), col("weight"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("source")
  }

  // Temperature mixture (q113): share/alpha/weight arithmetic + the q62
  // per-doc md5-uniform epoch draws, replayed end-to-end.
  def q113Sql = """
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    nn AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nn FROM c),
    pp AS (SELECT source, n_docs, CAST(n_docs AS DOUBLE) / nn.nn AS p,
                  pow(CAST(n_docs AS DOUBLE) / nn.nn, 0.5) AS pa
           FROM c, nn),
    z AS (SELECT sum(pa) AS za FROM pp),
    w AS (SELECT source, n_docs, round(p, 9) AS share_before,
                 round(pa / za, 9) AS share_after,
                 round(pa / za * 10000.0 / CAST(n_docs AS DOUBLE), 9) AS weight
          FROM pp, z),
    dd AS (SELECT d.doc_id, d.source, w.weight,
                  substr(md5(concat_ws('|', d.doc_id, 'temp')), 1, 13) AS hx
           FROM documents d JOIN w USING (source)),
    u AS (SELECT *, list_reduce(list_prepend(0.0,
              list_transform(generate_series(1, 13),
                k -> CAST(strpos('0123456789abcdef', substr(hx, k, 1)) - 1 AS DOUBLE)
                     * pow(16.0, 13 - k))),
            (a, x) -> a + x) / 4503599627370496.0 AS u
          FROM dd),
    e AS (SELECT source,
                 sum(CAST(floor(weight) AS BIGINT) +
                     CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END) AS n_sampled
          FROM u GROUP BY source)
    SELECT w.source, w.n_docs, w.share_before, w.share_after, w.weight,
           CAST(coalesce(e.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM w LEFT JOIN e USING (source) ORDER BY w.source"""

  /** q127: LEAKAGE-SAFE train/val/test split — the q76 hash split keyed by
    * near-dup COMPONENT instead of document: q121's exact prefix-filter
    * pairs (COMPLETE at the threshold — no LSH miss can leak a pair) feed
    * [[Dedup.clusters]], and [[Mixture.hashSplit]] assigns the split from
    * the md5 uniform of the CLUSTER id, so a test document can never have
    * a train-side near-duplicate at Jaccard ≥ 0.8 — the
    * eval-contamination guarantee a doc-keyed split cannot give. Same
    * doc_id % 10 sample as q121 (the pair oracle's budget). */
  def q127LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
    val pairs = SimilarityJoin.allPairsJaccard(docs, col("doc_id"), col("text"),
      threshold = 0.8)
    val clusters = Dedup.clusters(pairs, docs.select("doc_id"))
    Mixture.hashSplit(clusters, col("cluster_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "leaksafe")
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")
  }

  // q127: q121's exact pair set → recursive min-label components → the q76
  // uniform/cumulative-cut split arithmetic keyed on cluster_id ('leaksafe'
  // salt). Pairs body reuses q121 verbatim (same sample, same threshold).
  def q127Sql: String = {
    val pairsBody = q121Sql.trim.stripSuffix("ORDER BY id_a, id_b").trim
    s"""
    WITH RECURSIVE pr AS ($pairsBody),
    ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
    lbl(id, label) AS (
        SELECT doc_id, doc_id FROM ids
      UNION
        SELECT e.src, l.label FROM edges e JOIN lbl l ON l.id = e.dst
    ),
    cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM lbl GROUP BY id),
    u AS (
      SELECT doc_id, cluster_id, list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, 13),
            k -> CAST(strpos('0123456789abcdef',
                   substr(substr(md5(concat_ws('|', cluster_id, 'leaksafe')), 1, 13), k, 1)) - 1 AS DOUBLE)
                 * pow(16.0, 13 - k))),
        (a, x) -> a + x) / 4503599627370496.0 AS u
      FROM cl)
    SELECT doc_id, cluster_id,
           CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
                WHEN u < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE) THEN 'val'
                ELSE 'test' END AS split
    FROM u ORDER BY doc_id"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q25_kde", q25Kde, () => q25Sql),
    QuerySpec("q26_weighted_sample", q26WeightedSample, () => q26Sql),
    QuerySpec("q32_grid_source", q32GridSource, () => q32Sql),
    QuerySpec("q33_lhs_strata", q33LhsStrata, () => q33Sql),
    QuerySpec("q34_pca_project", q34PcaProject, () => q34Sql),
    QuerySpec("q42_stratified_sample", q42StratifiedSample, () => q42Sql),
    QuerySpec("q54_bdqa_trace", q54BdqaTrace, () => q54Sql),
    QuerySpec("q62_mixture_sample", q62MixtureSample, () => q62Sql),
    QuerySpec("q73_calibration", q73Calibration, () => q73Sql),
    QuerySpec("q75_active_sampling_trace", q75ActiveSamplingTrace, () => q75Sql),
    QuerySpec("q76_hash_split", q76HashSplit, () => q76Sql),
    QuerySpec("q82_dsir_selection", q82DsirSelection, () => q82Sql),
    QuerySpec("q97_neyman_sample", q97NeymanSample, () => q97Sql),
    QuerySpec("q98_rendezvous_shards", q98RendezvousShards, () => q98Sql),
    QuerySpec("q108_gmm_em", q108GmmEm, () => q108Sql),
    QuerySpec("q113_temperature_mix", q113TemperatureMix, () => q113Sql),
    QuerySpec("q127_leakage_safe_split", q127LeakageSafeSplit, () => q127Sql)
  )
}
