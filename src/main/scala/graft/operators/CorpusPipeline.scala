package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs, chaining the library's gates in the standard order
  * (cheap row-local rules first, pair-generating dedup last):
  *
  *   1. rule gate        — [[QualityRules.gopherFlags]] `pass = 1`
  *   2. repetition cap   — [[QualityRules.repetitionStats]] top-word
  *      fraction ≤ `maxTopWordFrac`
  *   3. exact dedup      — [[Dedup.exactByContent]] keepers (min doc id per
  *      normalized content)
  *   4. near-dup dedup   — [[Dedup.minhashDedupPairs]] →
  *      [[Dedup.clusters]]; keep each component's canonical doc
  *   5. decontamination  — drop docs sharing any word-5-shingle with the
  *      `benchmark` set (the q43 scan as a filter; benchmark shingles are
  *      corpus-independent and broadcast)
  *
  * Every stage is a left-semi/anti join against a doc_id set, so the
  * curated frame keeps the input's full schema. Stage frames are pinned
  * with [[CheckpointPolicy.pin]] (each feeds its own gate computation AND the next
  * stage — unpinned, every consumer replays the chain from the scan;
  * measured 7.7 → 4.9 s on the q66 composition at sf0.1). Stage order
  * matters at scale: the single-pass filters (1, 2-lite) shrink the
  * corpus before the shuffle-bearing stages (3, 4) touch it. */
object CorpusPipeline {

  /** Every stage's survivor-id frame (single `__cid` column) plus the
    * input and the last pinned survivor frame — ONE computation shared by
    * [[curate]] and [[curateAudit]], so the audit cannot drift from the
    * real gates. */
  private final case class CurationStages(
      keyed: DataFrame, rulePass: DataFrame, repPass: DataFrame,
      exactKeep: DataFrame, nearKeep: DataFrame, afterNear: DataFrame,
      contaminated: DataFrame)

  private def curationStages(docs: DataFrame, id: Column, text: Column,
                             benchmark: Option[DataFrame],
                             maxTopWordFrac: Double,
                             minhashThreshold: Double): CurationStages = {
    val keyed = docs.withColumn("__cid", id.cast("long"))

    // Each stage's frame feeds ≥2 consumers (its own gate computation AND
    // the next stage's join left side); without pins every consumer
    // replays the whole upstream chain from the scan (q66: 7.7 → 4.9 s at
    // sf0.1). At 100 TB these pins are where a production pipeline writes
    // its stage tables — with spark.graft.checkpoint.dir set,
    // CheckpointPolicy.pin makes them survive executor loss on a real
    // cluster.
    // 1: single-pass rule flags
    val ruleIds = QualityRules.gopherFlags(keyed, col("__cid"), text)
      .filter(col("pass") === 1L).select(col("doc_id").as("__cid"))
    val afterRules = CheckpointPolicy.pin(keyed.join(ruleIds, Seq("__cid"), "left_semi"))

    // 2: repetition cap (aggregating stage, runs on the rule-gated subset)
    val repIds = QualityRules.repetitionStats(afterRules, col("__cid"), text)
      .filter(col("top_word_frac") <= maxTopWordFrac)
      .select(col("doc_id").as("__cid"))
    val afterRep = CheckpointPolicy.pin(afterRules.join(repIds, Seq("__cid"), "left_semi"))

    // 3: exact-content keepers
    val exactIds = Dedup.exactByContent(afterRep, col("__cid"), text)
      .select(col("keep_id").as("__cid"))
    // feeds pair gen, cluster ids, AND the next join
    val afterExact = CheckpointPolicy.pin(afterRep.join(exactIds, Seq("__cid"), "left_semi"))

    // 4: near-dup cluster keepers
    val pairs = Dedup.minhashDedupPairs(afterExact, col("__cid"), text,
      threshold = minhashThreshold)
    val keeperIds = Dedup.clusters(pairs,
        afterExact.select(col("__cid").as("doc_id")))
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id").as("__cid"))
    // feeds the contamination scan AND the anti-join
    val afterNear = CheckpointPolicy.pin(afterExact.join(keeperIds, Seq("__cid"), "left_semi"))

    // 5: benchmark contamination ids (anti-joined by curate; flagged by
    // the audit). `text` must resolve in BOTH frames (same column name) —
    // the benchmark is a document table too.
    val contaminated = benchmark match {
      case None => keyed.select("__cid").limit(0)
      case Some(b) =>
        val benchShingles = b
          .select(graft.functions.TextOps.tokens(text).as("__tk"))
          .select(graft.functions.VectorExprs
            .hashedWordShingles(col("__tk"), 5).as("__sh"))
          .select(explode(col("__sh")).as("__s")).distinct()
        afterNear
          .select(col("__cid"), graft.functions.TextOps.tokens(text).as("__tk"))
          .select(col("__cid"), graft.functions.VectorExprs
            .hashedWordShingles(col("__tk"), 5).as("__sh"))
          .select(col("__cid"), explode(col("__sh")).as("__s"))
          .join(broadcast(benchShingles), Seq("__s"))
          .select("__cid").distinct()
    }
    CurationStages(keyed, ruleIds, repIds, exactIds, keeperIds, afterNear,
      contaminated)
  }

  def curate(docs: DataFrame, id: Column, text: Column,
             benchmark: Option[DataFrame] = None,
             maxTopWordFrac: Double = 0.5,
             minhashThreshold: Double = 0.5): DataFrame = {
    val st = curationStages(docs, id, text, benchmark, maxTopWordFrac,
      minhashThreshold)
    val curated = benchmark match {
      case None => st.afterNear
      case Some(_) =>
        st.afterNear.join(st.contaminated, Seq("__cid"), "left_anti")
    }
    curated.drop("__cid")
  }

  /** Explainable-curation audit — the "why was this document dropped"
    * table a curation team ships next to every corpus release: per INPUT
    * doc, the verdict of every [[curate]] gate in order, with -1 for gates
    * the doc never reached (stages only evaluate survivors — auditing must
    * preserve that, or a doc failing rules would also be blamed for
    * repetition it was never tested on), the final kept flag, and the
    * first-failing reason. Same stage operators and parameters as
    * [[curate]], so kept == curate's survivor set by construction.
    *
    * Scale shape: the stage computations are curate's own (each one
    * partial-aggregatable / bucket-joined as documented there); the audit
    * assembly is five left joins of id-sets against the input ids —
    * id-sized frames, broadcast by AQE when small. */
  def curateAudit(docs: DataFrame, id: Column, text: Column,
                  benchmark: Option[DataFrame] = None,
                  maxTopWordFrac: Double = 0.5,
                  minhashThreshold: Double = 0.5): DataFrame = {
    val st = curationStages(docs, id, text, benchmark, maxTopWordFrac,
      minhashThreshold)
    def mark(ids: DataFrame, as: String): DataFrame =
      ids.select(col("__cid").as("doc_id"), lit(1L).as(as))
    val gate = (reached: Column, hit: Column) =>
      when(!reached, lit(-1L)).otherwise(when(hit, 1L).otherwise(0L))
    st.keyed.select(col("__cid").as("doc_id"))
      .join(mark(st.rulePass, "__rule"), Seq("doc_id"), "left")
      .join(mark(st.repPass, "__rep"), Seq("doc_id"), "left")
      .join(mark(st.exactKeep, "__exact"), Seq("doc_id"), "left")
      .join(mark(st.nearKeep, "__near"), Seq("doc_id"), "left")
      .join(mark(st.contaminated, "__cont"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__rule").isNotNull, 1L).otherwise(0L).as("rule_pass"),
        gate(col("__rule").isNotNull, col("__rep").isNotNull).as("rep_pass"),
        gate(col("__rep").isNotNull, col("__exact").isNotNull).as("exact_keeper"),
        gate(col("__exact").isNotNull, col("__near").isNotNull).as("near_keeper"),
        gate(col("__near").isNotNull, col("__cont").isNotNull).as("contaminated"),
        when(col("__near").isNotNull && col("__cont").isNull, 1L)
          .otherwise(0L).as("kept"),
        when(col("__rule").isNull, "rules")
          .when(col("__rep").isNull, "repetition")
          .when(col("__exact").isNull, "exact_dup")
          .when(col("__near").isNull, "near_dup")
          .when(col("__cont").isNotNull, "contaminated")
          .otherwise("kept").as("reason"))
  }

  /** Corpus → dataloader: [[curate]] then reweight into a training mix
    * ([[Mixture.epochs]] — deterministic md5 draws, so the recipe is
    * reproducible) then lay the epoch stream into fixed-token windows
    * ([[Packing.concatAndCut]], ordered by (epoch, doc_id): all first
    * epochs lay out before any repeat, so a doc's copies land far apart in
    * the stream instead of back-to-back in the same training window).
    * Output: curated schema + `epoch`, `n_tok`, `first_bin`, `last_bin`,
    * `bin_off` — everything a shard writer needs. NOTE: [[curate]]'s
    * stage pins are EAGER ([[CheckpointPolicy.pin]]), so constructing this frame
    * already runs the curation stages — the stage-table shape, not a
    * fully lazy plan; mixture and packing stay lazy on top. */
  def toDataloader(docs: DataFrame, id: Column, text: Column,
                   sourceWeights: Map[String, Double], defaultWeight: Double,
                   source: Column, tokenBudget: Long,
                   benchmark: Option[DataFrame] = None,
                   salt: String = "mix"): DataFrame =
    toDataloaderFrom(curate(docs, id, text, benchmark),
      id, text, sourceWeights, defaultWeight, source, tokenBudget, salt)

  /** The mixture + packing half of [[toDataloader]] over an
    * ALREADY-CURATED frame — lets a caller that computed curation once
    * (e.g. for the q100 audit) reuse it instead of re-running the stage
    * chain. `curated` must carry the `id`/`text`/`source` columns. */
  def toDataloaderFrom(curated: DataFrame, id: Column, text: Column,
                       sourceWeights: Map[String, Double],
                       defaultWeight: Double, source: Column,
                       tokenBudget: Long, salt: String = "mix"): DataFrame = {
    val w = Mixture.weightFor(source, sourceWeights, defaultWeight)
    val mixed = Mixture.epochs(curated, id, w, salt)
    Packing.concatAndCut(mixed, order = Seq(col("epoch"), id),
      tok = graft.functions.TextOps.tokenCount(text), budget = tokenBudget)
  }
}
