package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** The selection kernel — the heart of the reference's active-sampling
  * "query" (SURVEY.md §2.5): weighted sampling, argmax / top-k select,
  * pool deletion, dedup, lookup.
  *
  * Every op is a pure `DataFrame => DataFrame`; nothing collects more than
  * the k selected rows (or, in [[selectAndMoveEach]], a few candidates per
  * partition). Top-k plans as TakeOrderedAndProject (distributed
  * partial top-k per partition, then a k-row exchange — no full sort), and
  * pool deletion is a broadcast anti-join on the tiny selected side
  * ([[selectAndMoveEach]]: a filter on an array literal of the picked ids),
  * so each primitive is a single narrow-ish pass over the pool.
  */
object Selection {

  /** Weighted random sampling without replacement via the
    * Efraimidis–Spirakis exponent key: top-k rows by `rand(seed)^(1/w)`.
    *
    * Replaces the reference's `np.random.choice(..., p=w/sum(w))`
    * (`BigDataQualityAssessment_ActiveSampling.py:56`,
    * `SDE_forecast_ActiveSampling.py:121`). Semantic divergence, by design:
    * the reference samples WITH replacement then dedups anyway
    * (`SDE_forecast_ActiveSampling.py:134-135`); E-S is without replacement
    * and scale-invariant in w, so the reference's normalize-to-1 pass
    * (`:52-54`) is unnecessary. One scan + TakeOrderedAndProject; no shuffle
    * of the input.
    */
  def weightedSample(df: DataFrame, weight: Column, k: Int, seed: Long): DataFrame =
    df.withColumn("__es_key",
        when(weight > 0, pow(rand(seed), lit(1.0) / weight)).otherwise(lit(-1.0)))
      .orderBy(desc("__es_key"))
      .limit(k)
      .drop("__es_key")

  /** Distributed top-k by score with deterministic tie-breaking.
    * The reference's `np.argsort(err)[::-1][:k]`
    * (`SDE_forecast_ActiveSampling.py:220-222`). */
  def topK(df: DataFrame, score: Column, k: Int, tieBreak: Seq[Column] = Nil): DataFrame =
    df.orderBy(score.desc +: tieBreak.map(_.asc): _*).limit(k)

  /** Argmax row (k=1 top-k) — the reference's `np.argmax(score)` select
    * (`BigDataQualityAssessment_ActiveSampling.py:226`). */
  def argmax(df: DataFrame, score: Column, tieBreak: Seq[Column] = Nil): DataFrame =
    topK(df, score, 1, tieBreak)

  /** Top-k rows PER GROUP — group-limit at scale: the
    * `row_number().over(partitionBy(group).orderBy(...)) <= k` window
    * form sorts every group's full contents; this uses the bounded
    * [[graft.operators.TopKAggregator]] instead, so the exchange carries
    * at most k (score, id) pairs per group per map partition and nothing
    * ever sorts more than k elements. Rows are identified by a LONG `id`
    * column (join the payload back, or pass a key you can decode).
    * Deterministic: score desc, id asc tie-break. Rows whose score or id
    * is NULL (incl. failed casts) are EXCLUDED — the aggregator's buffer
    * is non-nullable; `coalesce` upstream if they must rank (the window
    * form would put null scores last). Output:
    * (group columns…, rank, id, score). */
  def topKPerGroup(df: DataFrame, groups: Seq[String], score: Column,
                   id: Column, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[ScoredId])
    df.select(groups.map(col) :+ score.cast("double").as("__s") :+
        id.cast("long").as("__id"): _*)
      .filter(col("__s").isNotNull && col("__id").isNotNull)
      .groupBy(groups.map(col): _*)
      .agg(topk(col("__s"), col("__id")).as("__nn"))
      .select(groups.map(col) :+ posexplode(col("__nn")).as(Seq("__r0", "__n")): _*)
      .select(groups.map(col) ++ Seq(
        (col("__r0") + 1).cast("long").as("rank"),
        col("__n.id").as("id"), col("__n.score").as("score")): _*)
  }

  /** [[topKPerGroup]] for STRING-identified rows (anchor phrases,
    * tokens, titles — no long id exists): same bounded
    * [[graft.operators.TopKTagAggregator]] shape — ≤ k (score, tag)
    * pairs per (map partition, group), no per-group window sort. Ties
    * on score break toward the lexicographically SMALLER tag. Rows with
    * a NULL score or tag are excluded, as in [[topKPerGroup]]. Output:
    * (group columns…, rank, tag, score). */
  def topKPerGroupTagged(df: DataFrame, groups: Seq[String], score: Column,
                         tag: Column, k: Int): DataFrame = {
    val topk = udaf(new TopKTagAggregator(k),
      org.apache.spark.sql.Encoders.product[ScoredTag])
    df.select(groups.map(col) :+ score.cast("double").as("__s") :+
        tag.cast("string").as("__t"): _*)
      .filter(col("__s").isNotNull && col("__t").isNotNull)
      .groupBy(groups.map(col): _*)
      .agg(topk(col("__s"), col("__t")).as("__nn"))
      .select(groups.map(col) :+ posexplode(col("__nn")).as(Seq("__r0", "__n")): _*)
      .select(groups.map(col) ++ Seq(
        (col("__r0") + 1).cast("long").as("rank"),
        col("__n.tag").as("tag"), col("__n.score").as("score")): _*)
  }

  /** Neyman-allocation stratified sampling (the survey-sampling optimum:
    * a fixed budget is split across strata ∝ Nₕ·σₕ, so high-variance
    * strata get proportionally MORE than their population share — minimum
    * estimator variance for a fixed n). Allocation nₕ = min(Nₕ,
    * ⌊budget·Nₕσₕ / Σ Nₖσₖ⌋); within each stratum the sample is the nₕ
    * smallest md5-uniforms (deterministic, append-stable, replayable —
    * the q76 split device), taken with the bounded [[TopKAggregator]]
    * (≤ budget candidates per stratum per map partition shuffle — no
    * full-stratum sort, no low-cardinality window).
    *
    * Output is one row per stratum: population, σ (6 dp), allocation,
    * selected count, and an md5 digest of the sorted selected ids — the
    * digest makes the SELECTION itself oracle-checkable, not just the
    * allocation arithmetic. */
  def neymanSample(df: DataFrame, stratum: Column, value: Column, id: Column,
                   budget: Int, salt: String = "neyman"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val v = df.select(stratum.as("stratum"), id.cast("long").as("doc_id"),
      value.cast("double").as("__v"))
    val stats = v.groupBy("stratum")
      .agg(count(lit(1)).as("n_pop"), stddev_pop(col("__v")).as("__sig"))
      .withColumn("__w", col("n_pop") * coalesce(col("__sig"), lit(0.0)))
    val total = stats.agg(sum("__w").as("__wsum"))
    val alloc = stats.crossJoin(broadcast(total))
      .withColumn("n_alloc",
        when(col("__wsum") > 0,
          least(col("n_pop"),
            floor(lit(budget.toDouble) * col("__w") / col("__wsum")).cast("long")))
          .otherwise(lit(0L)))
    val u = graft.operators.Mixture.portableUniform(col("doc_id"), salt)
    val ranked = topKPerGroup(v.withColumn("__u", u), Seq("stratum"),
      -col("__u"), col("doc_id"), k = budget)
    val selected = ranked.join(alloc.select("stratum", "n_alloc"), Seq("stratum"))
      .filter(col("rank") <= col("n_alloc"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_selected"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(col("id"))), x => x.cast("string")))
          .cast("binary")).as("sel_md5"))
    alloc.join(selected, Seq("stratum"), "left")
      .select(col("stratum"), col("n_pop"),
        round(coalesce(col("__sig"), lit(0.0)), 6).as("sigma"),
        col("n_alloc"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_md5"),
          md5(lit("").cast("binary"))).as("sel_md5"))
  }

  /** Pool deletion: remove rows whose id appears in `selected` — the
    * reference's `np.delete(pool, idx)`
    * (`BigDataQualityAssessment_ActiveSampling.py:236-237`). Broadcast
    * anti-join: `selected` is k rows, so no shuffle of the pool. */
  def removeById(pool: DataFrame, selected: DataFrame, idCol: String): DataFrame =
    pool.join(broadcast(selected.select(idCol)), Seq(idCol), "left_anti")

  /** Select-and-move: take the top-k scored rows out of the pool and append
    * them to the train set tagged with the explorer name. Returns
    * (pool', train', selected). One composite step = one reference explorer
    * iteration (`BigDataQualityAssessment_ActiveSampling.py:222-237`). */
  def selectAndMove(pool: DataFrame, train: DataFrame, score: Column, k: Int,
                    idCol: String, explorer: String,
                    tieBreak: Seq[Column] = Nil): (DataFrame, DataFrame, DataFrame) = {
    // Materialize the k selected rows: otherwise pool' = anti(pool,
    // topK(pool)) embeds the pool plan TWICE, and chained select-and-moves
    // double the logical plan each round (exponential analyzer cost by
    // iteration 10). localCheckpoint turns the k-row side into a leaf.
    val selected = topK(pool, score, k, tieBreak).localCheckpoint()
    val trainCols = train.columns.filter(_ != "explorer")
    val moved = selected.select(trainCols.map(col).toSeq: _*)
      .withColumn("explorer", lit(explorer))
    (removeById(pool, selected, idCol), train.unionByName(moved), selected)
  }

  /** Top-1 select-and-move for each explorer in turn, in ONE job: equal to
    * chaining [[selectAndMove]] with k=1 and the `idCol` tie-break once per
    * explorer — each explorer takes its best row among those the explorers
    * before it left in the pool. The job collects each explorer's top-n
    * candidates (n = number of explorers, so an explorer always finds one
    * its predecessors did not take), with the train columns; the driver
    * settles the picks. The moved rows become a driver-built leaf (no
    * checkpoint job, and the plan still does not grow per round), and the
    * pool drops exactly the picked ids with the anti-join's null semantics
    * (a null id is never dropped). The id list is an array literal, which
    * codegen passes by reference, so later rounds reuse the compiled
    * classes. Scores rank as doubles, ids as longs; `idCol` must be unique.
    * The scan ranks Spark's internal rows and copies only those that enter
    * a partition's top-n. Against three chained [[selectAndMove]]s on a
    * cached 6-column pool (local[4], 4-cpu host, median of 5), the call
    * took 0.14 vs 0.64 s at 1M rows and 0.30 vs 0.98 s at 4M; larger pools
    * were not measured.
    * Returns (pool', train', moved) — moved holds the train columns plus
    * `explorer`, one row per pick in explorer order. The active-sampling
    * loop's SE / US / US-LW step
    * (`BigDataQualityAssessment_ActiveSampling.py:222-269`). */
  def selectAndMoveEach(pool: DataFrame, train: DataFrame,
                        explorers: Seq[(String, Column)],
                        idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val n = explorers.size
    val trainCols = train.columns.filter(_ != "explorer").toSeq
    // candidate layout: (id, score_0 .. score_{n-1}, train columns...)
    val cands = pool.select((col(idCol).cast("long") +:
      explorers.map(_._2.cast("double"))) ++ trainCols.map(col): _*)
    val ranks = (1 to n).map(rankBy)
    val perPart = cands.queryExecution.toRdd
      .mapPartitions(rows => Iterator(keepBest(rows, ranks, n))).collect()
    val toRow = CatalystTypeConverters.createToScalaConverter(cands.schema)
    val taken = scala.collection.mutable.Set.empty[Long]
    val moved = explorers.indices.flatMap { e =>
      val top = perPart.flatMap(_(e)).sorted(ranks(e)).take(n)
      val pick = top.find(r => r.isNullAt(0) || !taken(r.getLong(0)))
      require(pick.nonEmpty || top.size < n, s"duplicate $idCol values in the pool")
      pick.map { r =>
        if (!r.isNullAt(0)) taken += r.getLong(0)
        Row.fromSeq(toRow(r).asInstanceOf[Row].toSeq.drop(1 + n) :+ explorers(e)._1)
      }
    }
    val schema = StructType(cands.schema.drop(1 + n) :+
      StructField("explorer", StringType, nullable = false))
    val leaf = pool.sparkSession.createDataFrame(moved.asJava, schema)
    val pool2 = if (taken.isEmpty) pool else pool.filter(col(idCol).isNull ||
      !array_contains(typedLit(taken.toSeq), col(idCol)))
    (pool2, train.unionByName(leaf), leaf)
  }

  /** Spark's order of `desc(score), asc(id)` over candidate rows laid out
    * as (id, scores...), for the score at `s`: null scores last, NaN above
    * every number, -0.0 equal to 0.0; then null ids first. */
  private def rankBy(s: Int): Ordering[InternalRow] = new Ordering[InternalRow] {
    def compare(a: InternalRow, b: InternalRow): Int = {
      val byScore =
        if (a.isNullAt(s) || b.isNullAt(s))
          java.lang.Boolean.compare(a.isNullAt(s), b.isNullAt(s))
        else {
          val (x, y) = (a.getDouble(s), b.getDouble(s))
          if (x == y) 0 else java.lang.Double.compare(y, x)
        }
      if (byScore != 0) byScore
      else if (a.isNullAt(0) || b.isNullAt(0))
        java.lang.Boolean.compare(b.isNullAt(0), a.isNullAt(0))
      else java.lang.Long.compare(a.getLong(0), b.getLong(0))
    }
  }

  /** The n best rows under each ordering, in one pass. The scan reuses
    * its row object, so a row is copied when it is kept. */
  private def keepBest(rows: Iterator[InternalRow], ranks: Seq[Ordering[InternalRow]],
                       n: Int): Seq[Vector[InternalRow]] = {
    val top = Array.fill(ranks.size)(Vector.empty[InternalRow])
    rows.foreach { r =>
      var kept: InternalRow = null
      ranks.indices.foreach { e =>
        if (top(e).size < n || ranks(e).lt(r, top(e).last)) {
          if (kept == null) kept = r.copy()
          top(e) = (top(e) :+ kept).sorted(ranks(e)).take(n)
        }
      }
    }
    top.toSeq
  }

  /** Whole-row dedup — the reference's `np.unique(X, axis=0)`
    * (`SDE_forecast_ActiveSampling.py:134-135`; we dedup whole rows, not X
    * and y independently — the reference's independent dedup is a latent
    * misalignment bug, SURVEY.md §2.5 O1). */
  def dedup(df: DataFrame, cols: Seq[String] = Nil): DataFrame =
    if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** Seeded random permutation — `np.random.permutation`
    * (`SDE_forecast_ActiveSampling.py:146-149`). NOTE the scale cost:
    * `orderBy` is a global range sort, and its RangePartitioner first
    * SAMPLES the rand keys — an extra scan of the input before the sort
    * pass, and `rand` makes retried tasks non-reproducible. Prefer
    * [[shuffleByKey]] wherever a row key exists. */
  def shuffle(df: DataFrame, seed: Long): DataFrame = df.orderBy(rand(seed))

  /** Deterministic permutation by hashed key — the reproducible form of
    * [[shuffle]]: each row's position is the engine-portable md5 uniform of
    * (key, salt), so the resulting ORDER is a pure function of the data —
    * independent of partition count/AQE, identical across re-runs and task
    * retries, and replayable by a SQL engine (`ORDER BY` the same md5
    * construction). Different salts give independent permutations; `key`
    * must be unique per row for a true permutation (md5-equal keys
    * tie-break by key). Still a range sort underneath — its sampling pass
    * runs over the cheap derived uniform, and because u is uniform by
    * construction, a custom partitioner could compute range bounds as i/P
    * without sampling if that scan ever mattered at scale. */
  def shuffleByKey(df: DataFrame, key: Column, salt: String = ""): DataFrame = {
    val u = graft.functions.TextOps.portableUniform52(
      concat_ws("|", key.cast("string"), lit(salt)))
    df.withColumn("__u", u)
      .orderBy(col("__u"), key)
      .drop("__u")
  }

  /** Value→row lookup picking the MIDDLE duplicate: for each key value,
    * the ceil(n/2)-th row in `order` — the reference's
    * `matches[int(len(matches)/2)]` tie resolution
    * (`BigDataQualityAssessment_ActiveSampling.py:67-69`, SURVEY.md P8/W3). */
  def middleByKey(df: DataFrame, key: Column, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(key)))
      .filter(col("__rn") === floor(col("__cnt") / 2) + lit(1))
      .drop("__rn", "__cnt")
  }
}
