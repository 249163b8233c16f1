package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Cluster-bounded semantic deduplication — SemDeDup (Abbas et al. 2023,
  * arXiv:2303.09540, public): k-means the embedding space first, then look
  * for near-duplicates ONLY within each cluster. The complementary scale
  * route to the banded hyperplane LSH family (`Dedup.embeddingNearDupPairs`
  * — q74/q77): LSH bounds candidate volume by hash collisions with
  * probabilistic recall; SemDeDup bounds it by cluster membership with
  * recall exactly 1 WITHIN a cluster (every within-cluster pair is scored
  * exactly) and misses only pairs split across clusters. On a 100 TB
  * corpus the two compose: k scales with the corpus (the paper used 110k
  * clusters at 5B docs) so mean cluster size n/k stays fixed and the
  * within-cluster pair work is O(n²/k) — choose k ≈ n/1000 and the whole
  * pass is output-sized plus a linear assignment scan.
  *
  * Determinism and engine-portability (the q76/q26 convention): centroid
  * init picks the k distinct vectors with the smallest md5-portable
  * uniforms ([[Mixture.portableUniform]]) — no rand(), so the clustering
  * is reproducible run-to-run and replayable in SQL; Lloyd refinement runs
  * a fixed `lloydIters` steps; every discrete decision (cell argmax, pair
  * threshold) compares cosines ROUNDED to 9 decimals, so the ~1e-15
  * cross-engine differences in float-sum order can never flip an
  * assignment between this and the DuckDB replay (the q81 oracle).
  *
  * Scale shape mirrors the rest of the dedup family: bit-identical vectors
  * collapse to one distinct-vector group BEFORE clustering (exact dups
  * never multiply the pair join); centroids live in a k×dim plan literal
  * (driver pulls are k×dim and k×dim-per-Lloyd-step rows — bounded);
  * assignment is one codegen'd pass; the within-cell join carries
  * (cell, gid, v) with doc ids expanding from per-group lists at the end.
  */
object SemDedup {

  /** Per-document SemDeDup verdict over an embedding column:
    * `(doc_id, cell, keeper, dropped)` — `cell` is the k-means cluster,
    * `keeper` the minimum doc id of the document's near-dup component
    * (components connect within-cell pairs at rounded-cosine ≥
    * `threshold`; exact-duplicate vectors are one group throughout), and
    * `dropped` = 1 for every document except its component's keeper. The
    * deduplicated corpus is `dropped = 0`.
    *
    * Lloyd steps average the DISTINCT vectors assigned to a cell (not
    * doc-weighted — duplicate mass must not drag centroids), empty cells
    * keep their previous centroid ([[Ann]] `pqTrain` convention), and
    * cell argmax ties break toward the SMALLER cell index
    * (`array_position` finds the first max — the oracle mirrors it). */
  def semdedupKeepers(df: DataFrame, id: Column, vec: Column,
                      k: Int = 8, lloydIters: Int = 2,
                      threshold: Double = 0.95,
                      salt: String = "semdedup"): DataFrame = {
    require(k >= 1 && lloydIters >= 0, "need k >= 1 and lloydIters >= 0")
    val docs = df.select(id.cast("long").as("vid"),
      vec.cast("array<double>").as("v")).filter(col("v").isNotNull)
    // distinct-vector collapse; feeds the init pull, every Lloyd pass, both
    // sides of the pair join, and the final expansion — checkpoint once
    val groups = CheckpointPolicy.pin(
      docs.groupBy("v").agg(collect_list("vid").as("ids"))
        .withColumn("gid", array_min(col("ids"))))
    val initRows = groups
      .select(col("v"), Mixture.portableUniform(col("gid"), salt).as("__u"),
        col("gid"))
      .orderBy(col("__u"), col("gid"))
      .limit(k).select("v").collect()
    if (initRows.isEmpty)
      // empty corpus (or all-null vectors): empty verdict, not a throw —
      // the embeddingGroupsAndCandidates empty-input contract
      return docs.select(col("vid").as("doc_id"), lit(0L).as("cell"),
        col("vid").as("keeper"), lit(0L).as("dropped")).limit(0)
    var cents: Array[Array[Double]] = initRows.map(_.getSeq[Double](0).toArray)
    // ONE transform lambda over a 2-D centroid literal (the ivfCellOf
    // shape) — cosine planned once, never a pairwise when/otherwise
    // reduce. Flat double scores, not structs: lambda-body aliases are
    // stripped by the analyzer (fields become col1/y_2), so getField
    // by name fails — argmax via array_position(scores, max) instead,
    // which also fixes the tie-break to the FIRST (smallest) cell.
    def cellOf(vc: Column): Column = {
      val centArr = typedLit(cents.map(_.toSeq).toSeq)
      val scores = transform(centArr, c => round(VectorOps.cosine(vc, c), 9))
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }
    for (_ <- 1 to lloydIters) {
      val means = groups.select(cellOf(col("v")).as("cell"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .collect() // k×dim rows — bounded like trainIvfCentroids
      val refined = cents.map(_.clone())
      means.foreach(r =>
        refined(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) = r.getAs[Double]("m"))
      cents = refined
    }
    val assigned = CheckpointPolicy.pin( // feeds both pair-join sides + labels + expansion
      groups.withColumn("cell", cellOf(col("v"))))
    val pairs = assigned.select(col("cell"), col("gid").as("id_a"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("gid").as("id_b"), col("v").as("vb")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorOps.cosine(col("va"), col("vb")), 9) >= threshold)
      .select("id_a", "id_b")
    val labels = Dedup.clusters(pairs, assigned.select(col("gid").as("doc_id")))
    assigned.select(col("gid"), col("cell"), explode(col("ids")).as("doc_id"))
      .join(labels.select(col("doc_id").as("gid"), col("cluster_id").as("keeper")),
        Seq("gid"))
      .select(col("doc_id"), col("cell").cast("long").as("cell"), col("keeper"),
        when(col("doc_id") === col("keeper"), 0L).otherwise(1L).as("dropped"))
  }
}
