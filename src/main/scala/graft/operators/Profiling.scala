package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling and validation rules — the "quality assessment"
  * surface generalized to relational tables (BASELINE.json north star).
  *
  * `profile` computes per-column statistics in ONE aggregate pass over the
  * table (a single scan regardless of column count); `validate` evaluates a
  * rule set in one pass, emitting a violations count per rule.
  */
object Profiling {

  /** Per-column profile: rows, nulls, null_rate, distinct,
    * min/max as strings (type-erased for a uniform tall schema).
    *
    * Distinct counts are the scale hazard: several exact `count_distinct`s
    * in ONE aggregate make Catalyst Expand the input ×(distincts+1) and
    * shuffle full value sets — the q48 lesson. So:
    *   - `approxDistinct = true` (the 100 TB default): ONE scan, all columns
    *     profiled in a single aggregate with HLL++ sketches
    *     (`approx_count_distinct` is not a distinct-rewrite aggregate — no
    *     Expand, fixed-size buffers).
    *   - `approxDistinct = false` (the oracle-exact companion): the
    *     non-distinct stats stay in one scan; each exact distinct runs as
    *     its OWN single-column aggregate (a single distinct never Expands,
    *     and column pruning means each pass reads one column from parquet),
    *     submitted as CONCURRENT jobs at construction (the
    *     [[robustOutliers]] exact-mode pattern — wall-clock ≈ one column's
    *     pass, and the final plan stays flat instead of one crossJoin layer
    *     per column). */
  def profile(df: DataFrame, cols: Seq[String],
              approxDistinct: Boolean = true, rsd: Double = 0.01): DataFrame = {
    val baseAggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
          min(col(c)).cast("string").as(s"__min_$c"),
          max(col(c)).cast("string").as(s"__max_$c")) ++
        (if (approxDistinct)
           Seq(approx_count_distinct(col(c), rsd).as(s"__dst_$c")) else Nil)
    }
    val total = count(lit(1)).as("__total")
    val base = df.agg(total, baseAggs: _*)
    val wide =
      if (approxDistinct) base
      else {
        val vals = PlanOps.runJobs(cols.map(c => () =>
          df.select(col(c)).agg(count_distinct(col(c))).head().getLong(0)),
          session = Some(df.sparkSession))
        cols.zip(vals).foldLeft(base) {
          case (acc, (c, v)) => acc.withColumn(s"__dst_$c", lit(v))
        }
      }
    // pivot the single wide row to a tall (column, metric...) table
    val stacked = cols.map { c =>
      struct(lit(c).as("col_name"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"__cnt_$c")).as("n_nulls"),
        round((col("__total") - col(s"__cnt_$c")).cast("double") / col("__total"), 6).as("null_rate"),
        col(s"__dst_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    wide.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** A validation rule: named boolean predicate that each row should pass. */
  case class Rule(name: String, predicate: Column)

  def notNull(c: String): Rule = Rule(s"not_null_$c", col(c).isNotNull)
  def inRange(c: String, lo: Double, hi: Double): Rule =
    Rule(s"range_$c", col(c).isNotNull && col(c) >= lo && col(c) <= hi)
  def matches(c: String, regex: String): Rule =
    Rule(s"regex_$c", col(c).isNotNull && col(c).rlike(regex))
  def nonNegative(c: String): Rule = Rule(s"non_negative_$c", col(c).isNotNull && col(c) >= 0)

  /** Evaluate all rules in ONE pass: each rule is a conditional-count
    * aggregate; output one row per rule (rule, violations, n_rows,
    * violation_rate). */
  def validate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val aggs = rules.map(r =>
      count(when(!coalesce(r.predicate, lit(false)), 1)).as(s"__v_${r.name}"))
    val wide = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val stacked = rules.map { r =>
      struct(lit(r.name).as("rule"),
        col(s"__v_${r.name}").as("violations"),
        col("__total").as("n_rows"),
        round(col(s"__v_${r.name}").cast("double") / col("__total"), 6).as("violation_rate"))
    }
    wide.select(explode(array(stacked: _*)).as("v")).select("v.*")
  }

  /** Key-uniqueness check: duplicate key values with their multiplicities.
    * Hash-aggregate on the key columns only. */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("dups"))
      .filter(col("dups") > 1)

  /** Robust per-column outlier scan: median/MAD z-scores (Iglewicz-Hoaglin;
    * 1.4826·MAD estimates σ under normality), which — unlike mean/stddev
    * scoring — don't let the outliers drag their own threshold. Three
    * passes: medians → MADs (|x−median| medians) → outlier counts. Tall
    * output: (column, median, mad, n_outliers).
    *
    * `approx = true` (the 100 TB default) uses `percentile_approx` — a
    * fixed-size t-digest-style sketch per column, one aggregate per pass,
    * bounded memory ([[approxOutlierGate]] anchors the sketch to the data).
    * `approx = false` is the oracle-exact companion: exact `percentile`
    * buffers the full per-column value map in one final task, so each
    * column runs as its OWN single-column aggregate and the columns run as
    * CONCURRENT jobs (per-task buffer = one column, wall-clock ≈ one
    * column's pass). */
  def robustOutliers(df: DataFrame, cols: Seq[String], z: Double = 3.5,
                     approx: Boolean = true, accuracy: Int = 10000): DataFrame = {
    def p50(c: Column): Column =
      if (approx) percentile_approx(c, lit(0.5), lit(accuracy))
      else call_function("percentile", c, lit(0.5))
    def medianPass(exprs: Seq[Column]): Array[Double] =
      if (approx) {
        val r = df.agg(p50(exprs.head), exprs.tail.map(p50): _*).head()
        cols.indices.map(r.getDouble).toArray
      } else {
        PlanOps.runJobs(exprs.map(e => () =>
          df.select(e.as("__x")).agg(p50(col("__x"))).head().getDouble(0)),
          session = Some(df.sparkSession)).toArray
      }
    val med = medianPass(cols.map(col))
    val mad = medianPass(cols.zipWithIndex.map { case (c, i) =>
      abs(col(c) - med(i))
    })
    val cntAggs = cols.zipWithIndex.map { case (c, i) =>
      sum(when(abs(col(c) - med(i)) > z * 1.4826 * mad(i), 1L).otherwise(0L))
    }
    val cntRow = df.agg(cntAggs.head, cntAggs.tail: _*).head()
    val rows = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"),
        round(lit(med(i)), 6).as("median"),
        round(lit(mad(i)), 6).as("mad"),
        lit(cntRow.getLong(i)).as("n_outliers"))
    }
    df.sparkSession.range(1)
      .select(explode(array(rows: _*)).as("v")).select("v.*")
  }

  /** q48-style sketch gate for [[robustOutliers]]'s approx mode: for every
    * column, the EXACT rank of the sketch median must sit within n·delta of
    * n/2 (`percentile_approx`'s contract is rank error ≤ n/accuracy, so
    * delta = 0.01 leaves a 100× deterministic margin at the default
    * accuracy), and likewise the sketch MAD's rank within the |x − med~|
    * distribution. Duplicate-heavy columns are handled by interval logic:
    * a value's rank is the interval (count(<v), count(≤v)], which must
    * intersect the target band. Cost: two bounded-sketch aggregates + ONE
    * counting scan — no full-value buffers anywhere. Returns column → 1/0. */
  def approxOutlierGate(df: DataFrame, cols: Seq[String],
                        accuracy: Int = 10000, delta: Double = 0.01): Map[String, Long] = {
    val medAggs = cols.map(c => percentile_approx(col(c), lit(0.5), lit(accuracy)))
    val medRow = df.agg(medAggs.head, medAggs.tail: _*).head()
    val apxMed = cols.indices.map(medRow.getDouble).toArray
    val madAggs = cols.zipWithIndex.map { case (c, i) =>
      percentile_approx(abs(col(c) - apxMed(i)), lit(0.5), lit(accuracy))
    }
    val madRow = df.agg(madAggs.head, madAggs.tail: _*).head()
    val apxMad = cols.indices.map(madRow.getDouble).toArray
    val cnts = cols.zipWithIndex.flatMap { case (c, i) =>
      val dev = abs(col(c) - apxMed(i))
      Seq(count(when(col(c) < apxMed(i), 1)), count(when(col(c) <= apxMed(i), 1)),
        count(when(dev < apxMad(i), 1)), count(when(dev <= apxMad(i), 1)))
    } :+ count(lit(1))
    val r = df.agg(cnts.head, cnts.tail: _*).head()
    val n = r.getLong(4 * cols.size).toDouble
    val lo = n * (0.5 - delta); val hi = n * (0.5 + delta)
    cols.zipWithIndex.map { case (c, i) =>
      val medOk = r.getLong(4 * i) <= hi && r.getLong(4 * i + 1) >= lo
      val madOk = r.getLong(4 * i + 2) <= hi && r.getLong(4 * i + 3) >= lo
      c -> (if (medOk && madOk) 1L else 0L)
    }.toMap
  }

  /** Join-key skew diagnostic — the measurement that decides between a
    * plain shuffle join, AQE skew splitting, and [[Joins.saltedJoin]]: the
    * `topK` hottest key values with their row counts, alongside the
    * global total / distinct-key count / mean so the skew ratio
    * (`cnt · n_keys / total`) reads directly off each row. One hash
    * aggregate on the key plus a TakeOrdered of `topK` rows — the scan
    * shuffles only (key, count) pairs, and the only driver-side data is
    * the topK result. Deterministic (cnt desc, key asc) for the q67
    * oracle. */
  def keySkew(df: DataFrame, key: Column, topK: Int = 5): DataFrame = {
    // pinned: the (key, count) frame feeds BOTH the stats aggregate and
    // the TakeOrdered branch — unpinned, the source would be scanned and
    // hash-aggregated twice (the diagnostic's dominant cost, doubled)
    val counts = df.groupBy(key.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val stats = counts.agg(sum("cnt").as("total_rows"),
      count(lit(1)).as("n_keys"))
    // NULL keys explicitly last, matching the oracle engine's default —
    // Spark's asc default is nulls-first, which would diverge at the cut
    counts.orderBy(desc("cnt"), asc_nulls_last("key")).limit(topK)
      .crossJoin(broadcast(stats))
      .select(col("key"), col("cnt"), col("total_rows"), col("n_keys"),
        // cnt and n_keys widen to double BEFORE multiplying: the long×long
        // product overflows at exactly the cardinalities this diagnostic
        // is for (billions of keys × hot-key counts)
        round(col("cnt").cast("double") * col("n_keys").cast("double")
          / col("total_rows").cast("double"), 6).as("skew_ratio"))
      .orderBy(desc("cnt"), asc_nulls_last("key"))
  }

  /** Corpus drift between two snapshots — the ingest-monitoring question
    * ("did today's crawl change shape vs yesterday's?") as one tall
    * drift table. Per column:
    *
    *  - numeric: a `bins`-bucket equi-width histogram over the COMBINED
    *    min/max, per-side mass fractions, and the PSI contribution per
    *    bucket `(p_a' − p_b')·ln(p_a'/p_b')` with both fractions clamped
    *    at `eps` (the standard population-stability-index form; PSI ≥ 0.2
    *    is the usual "investigate" rule of thumb);
    *  - categorical: the same formula over observed category values;
    *  - `tokens` (optional array column): one token-frequency
    *    KL(A‖B) summary row with add-one smoothing over the union
    *    vocabulary — the text twin of the reference's log-pdf error
    *    metric, generalized to corpus monitoring.
    *
    * Output (column, bucket, p_a, p_b, contrib): per-bucket rows plus a
    * `__psi` total row per column and a `__kl` row for tokens. Scale
    * shape: numeric = two scans of the union (one k-row stats aggregate,
    * one histogram aggregate joined to the broadcast stats); categorical =
    * one scan (totals derive from the category counts); tokens = one
    * distinct-token-sized full-outer join. Nothing driver-side, no
    * windows, no per-row UDFs. */
  def drift(a: DataFrame, b: DataFrame,
            numeric: Seq[String] = Nil, categorical: Seq[String] = Nil,
            tokens: Option[String] = None,
            bins: Int = 10, eps: Double = 1e-4): DataFrame = {
    require(bins >= 2, "need at least two histogram bins")
    require(numeric.nonEmpty || categorical.nonEmpty || tokens.nonEmpty,
      "nothing to compare")
    val spark = a.sparkSession
    def tagged(cols: Seq[String]) =
      a.select(cols.map(col): _*).withColumn("__side", lit("a"))
        .unionByName(b.select(cols.map(col): _*).withColumn("__side", lit("b")))
    def sideCnt(side: String) =
      sum(when(col("__side") === side, 1L).otherwise(0L))
    // raw fractions from long counts divide identically in any engine;
    // clamping happens only inside the PSI term
    def frac(c: Column, n: Column) =
      when(n > 0, c.cast("double") / n.cast("double")).otherwise(lit(0.0))
    def psiTerm(pa: Column, pb: Column) = {
      val pac = greatest(pa, lit(eps))
      val pbc = greatest(pb, lit(eps))
      round((pac - pbc) * log(pac / pbc), 6)
    }
    // Every aggregate below is pinned the moment it is bucket/category/
    // token-count-sized: each feeds 2+ plan branches, and without the pin
    // every branch re-derives it from its own CORPUS scan — 24 scans for
    // the q104 shape instead of the 8 passes the operator actually needs.
    def outRows(perBucket: DataFrame): DataFrame = {
      val rows = CheckpointPolicy.pin(perBucket.select(col("column"), col("bucket"),
        round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
        psiTerm(col("pa"), col("pb")).as("contrib")))
      rows.unionByName(rows.groupBy("column")
        .agg(round(sum("contrib"), 6).as("contrib"))
        .select(col("column"), lit("__psi").as("bucket"),
          lit(0.0).as("p_a"), lit(0.0).as("p_b"), col("contrib")))
    }

    val numericRows = if (numeric.isEmpty) None else Some {
      val melt = tagged(numeric).select(col("__side"),
          explode(array(numeric.map(c => struct(lit(c).as("column"),
            col(c).cast("double").as("v"))): _*)).as("kv"))
        .select(col("__side"), col("kv.column").as("column"), col("kv.v").as("v"))
        .filter(col("v").isNotNull)
      val stats = CheckpointPolicy.pin(melt.groupBy("column").agg(
        min("v").as("mn"), max("v").as("mx"),
        sideCnt("a").as("na"), sideCnt("b").as("nb")))
      val width = (col("mx") - col("mn")) / lit(bins.toDouble)
      val hist = CheckpointPolicy.pin(melt.join(broadcast(stats), Seq("column"))
        .select(col("column"),
          when(col("mx") > col("mn"),
            least(floor((col("v") - col("mn")) / width), lit(bins - 1.0)))
            .otherwise(lit(0.0)).cast("long").as("bucket"),
          col("__side"))
        .groupBy("column", "bucket")
        .agg(sideCnt("a").as("ca"), sideCnt("b").as("cb")))
      // every (column, bucket) emitted, observed or not — empty buckets
      // carry PSI mass through the eps clamp
      val frame = stats.select(col("column"), col("na"), col("nb"))
        .crossJoin(spark.range(bins).select(col("id").as("bucket")))
      outRows(frame.join(hist, Seq("column", "bucket"), "left")
        .select(col("column"), col("bucket").cast("string").as("bucket"),
          frac(coalesce(col("ca"), lit(0L)), col("na")).as("pa"),
          frac(coalesce(col("cb"), lit(0L)), col("nb")).as("pb")))
    }

    val categoricalRows = if (categorical.isEmpty) None else Some {
      val melt = tagged(categorical).select(col("__side"),
          explode(array(categorical.map(c => struct(lit(c).as("column"),
            col(c).cast("string").as("v"))): _*)).as("kv"))
        .select(col("__side"), col("kv.column").as("column"), col("kv.v").as("v"))
        .filter(col("v").isNotNull)
      val counts = CheckpointPolicy.pin(melt.groupBy("column", "v")
        .agg(sideCnt("a").as("ca"), sideCnt("b").as("cb")))
      val totals = counts.groupBy("column")
        .agg(sum("ca").as("na"), sum("cb").as("nb"))
      outRows(counts.join(broadcast(totals), Seq("column"))
        .select(col("column"), col("v").as("bucket"),
          frac(col("ca"), col("na")).as("pa"),
          frac(col("cb"), col("nb")).as("pb")))
    }

    val tokenRows = tokens.map { tcol =>
      val ta = a.select(explode(col(tcol)).as("t")).groupBy("t")
        .agg(count(lit(1)).as("ca"))
      val tb = b.select(explode(col(tcol)).as("t")).groupBy("t")
        .agg(count(lit(1)).as("cb"))
      val joined = CheckpointPolicy.pin(ta.join(tb, Seq("t"), "full_outer")
        .select(coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb")))
      // add-one smoothing over the union vocabulary (the q83 CCNet
      // convention) — KL stays finite for tokens absent on either side
      val stats = joined.agg(sum("ca").as("ta"), sum("cb").as("tb"),
        count(lit(1)).as("v"))
      joined.crossJoin(broadcast(stats))
        .select((((col("ca") + 1).cast("double") /
            (col("ta") + col("v")).cast("double"))).as("pa"),
          (((col("cb") + 1).cast("double") /
            (col("tb") + col("v")).cast("double"))).as("pb"))
        .agg(round(sum(col("pa") * log(col("pa") / col("pb"))), 6).as("contrib"))
        .select(lit(tcol).as("column"), lit("__kl").as("bucket"),
          lit(0.0).as("p_a"), lit(0.0).as("p_b"), col("contrib"))
    }

    (numericRows.toSeq ++ categoricalRows.toSeq ++ tokenRows.toSeq)
      .reduce(_.unionByName(_))
  }

  /** Streaming-friendly anomaly detection: each event's value is z-scored
    * against the PREVIOUS time bucket's (mean, std) for its key — the
    * monitoring rule a pipeline runs continuously ("is this hour's metric
    * off vs last hour?").
    *
    * Deliberately NOT a per-key ordered window: a window partitioned by a
    * low-cardinality key (5 event types at any corpus size) sorts each
    * key's ENTIRE history in one task — the classic scale-killer. The
    * bucketed two-pass is one partial-aggregatable groupBy over (key,
    * bucket) + a join of events to that tiny stats frame (broadcast at any
    * realistic key×bucket cardinality), both linear and fully parallel.
    *
    * Events in a key's first bucket have no baseline and are omitted.
    * Output: (event id, key, bucket start µs, value, z at 6 dp, is_anom
    * flag where |z| > threshold and the baseline std > 0). */
  def anomalyZScores(events: DataFrame, id: Column, key: Column, ts: Column,
                     value: Column, bucket: String = "hour",
                     threshold: Double = 3.0): DataFrame = {
    val e = events.select(id.cast("long").as("event_id"), key.as("key"),
      date_trunc(bucket, ts).as("__b"), value.cast("double").as("value"))
    val stats = e.groupBy(col("key"), col("__b"))
      .agg(avg("value").as("__mu"), var_pop(col("value")).as("__var"),
        count(lit(1)).as("__n"))
      // the bucket these stats are the baseline FOR
      .withColumn("__b", col("__b") + expr(s"INTERVAL 1 $bucket"))
    val z = (col("value") - col("__mu")) / sqrt(col("__var"))
    e.join(stats, Seq("key", "__b"))
      .select(col("event_id"), col("key"),
        unix_micros(col("__b")).as("bucket_us"), col("value"),
        round(when(col("__var") > 0, z).otherwise(lit(0.0)), 6).as("z"),
        when(col("__var") > 0 && abs(z) > threshold, 1L).otherwise(0L)
          .as("is_anom"),
        col("__n").as("baseline_n"))
  }
}
