package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT all-pairs set-similarity self-join via prefix filtering — the
  * AllPairs/PPJoin family (Bayardo, Ma, Srikant, "Scaling Up All Pairs
  * Similarity Search", WWW 2007; Xiao et al., PPJoin — public methods).
  *
  * The LSH paths ([[Dedup.minhashDedupPairs]], [[Dedup.ngramJaccardPairs]]'
  * length/first-char blocking) trade recall for speed: a pair can be missed
  * when it lands in no shared bucket. This operator is COMPLETE — every
  * pair with Jaccard ≥ t is emitted — while still avoiding the O(n²) cross
  * join, via the prefix-filter lemma: order all tokens by ascending
  * document frequency (rarest first, ties by token); a record x of size
  * |x| keeps a prefix of its first |x| − ⌈t·|x|⌉ + 1 tokens; then for any
  * pair with overlap ≥ max(⌈t·|x|⌉, ⌈t·|y|⌉) the rarest COMMON token must
  * sit inside BOTH prefixes (if it didn't, all common tokens would fit in
  * a suffix of size ⌈t·|x|⌉ − 1 < overlap). Candidate generation is thus an
  * equi-join of exploded prefixes on the token id — and because prefixes
  * are rarest-first, the join keys are exactly the tokens with the lowest
  * document frequency, keeping per-key fan-out small.
  *
  * 100 TB shape: one corpus scan builds distinct-token postings; document
  * frequency is a token-keyed count; the global rarity ranking is the
  * scale-safe [[Ranking.globalRowNumber]] (range partition + offsets — no
  * single-task sort); candidate generation shuffles only (token id, group
  * id, set size) triples; verification re-joins the two candidate sides to
  * their sorted id vectors and merge-intersects them in one codegen'd
  * expression ([[graft.functions.ArrayExprs.sortedIntersectSize]]).
  * Duplicate-heavy corpora (the LSH quadratic-cluster gotcha) are handled
  * by running the whole join over DISTINCT token SETS — identical documents
  * collapse into one group keyed by the sorted id vector, pairs are found
  * between groups, and doc pairs expand at the very end (intra-group pairs
  * are emitted directly at jaccard 1.0).
  */
object SimilarityJoin {

  /** All document pairs with word-set Jaccard ≥ `threshold`, exactly.
    *
    * Tokens are whitespace words of [[TextOps.normalized]] text (the
    * corpus-dedup normalization); documents with an empty token set have
    * undefined Jaccard and pair with nothing. Output: (id_a, id_b,
    * jaccard) with id_a < id_b, jaccard rounded to 6 dp (the q15
    * convention — identical arithmetic to the DuckDB replay).
    */
  def allPairsJaccard(df: DataFrame, id: Column, text: Column,
                      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val toks = df
      .select(id.cast("long").as("doc_id"),
        explode(array_distinct(TextOps.tokens(TextOps.normalized(text)))).as("tok"))
    // Global rarity ranking: ascending document frequency, ties by token —
    // a total order, so every engine/partitioning assigns the same ids.
    val vocab = Ranking.globalRowNumber(
      toks.groupBy("tok").agg(count(lit(1)).as("df_cnt")),
      Seq(col("df_cnt"), col("tok")), out = "tid")
      .select("tok", "tid")
    // Sorted-ascending tid vector per doc = rarest-first prefix order AND
    // value-sorted input for the merge-intersect verifier, in one array.
    val vecs = toks.join(vocab, "tok")
      .groupBy("doc_id").agg(sort_array(collect_list(col("tid"))).as("v"))
    // Distinct token sets: group docs by the vector itself; gid = min doc id
    // (collision-free — each doc belongs to exactly one group).
    val groups = CheckpointPolicy.pin(
      vecs.groupBy("v").agg(collect_list(col("doc_id")).as("ids"))
        .withColumn("gid", array_min(col("ids")))
        .withColumn("n", size(col("v"))))
    // Prefix explode WITHOUT the vector payload: candidate rows carry only
    // (ptok, gid, n) — the full vectors re-join after candidate dedup.
    val pre = groups.select(col("gid"), col("n"),
      explode(slice(col("v"), lit(1),
        (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))).as("ptok"))
    val cand = pre.select(col("ptok"), col("gid").as("gid_a"), col("n").as("n_a"))
      .join(pre.select(col("ptok"), col("gid").as("gid_b"), col("n").as("n_b")),
        Seq("ptok"))
      .filter(col("gid_a") < col("gid_b"))
      // length filter: J ≥ t ⇒ min(|x|,|y|) ≥ t·max(|x|,|y|)
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")).cast("double"))
      .dropDuplicates("gid_a", "gid_b")
      .select("gid_a", "gid_b")
    val verified = cand
      .join(groups.select(col("gid").as("gid_a"), col("v").as("va"), col("n").as("na")), Seq("gid_a"))
      .join(groups.select(col("gid").as("gid_b"), col("v").as("vb"), col("n").as("nb")), Seq("gid_b"))
      .withColumn("__inter",
        graft.functions.ArrayExprs.sortedIntersectSize(col("va"), col("vb")))
      .select(col("gid_a"), col("gid_b"),
        round(col("__inter").cast("double") /
          (col("na") + col("nb") - col("__inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val cross = verified
      .join(groups.select(col("gid").as("gid_a"), col("ids").as("ids_a")), Seq("gid_a"))
      .join(groups.select(col("gid").as("gid_b"), col("ids").as("ids_b")), Seq("gid_b"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("ia"), col("ids"))
      .select(col("ia"), explode(col("ids")).as("ib"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(intra).select("id_a", "id_b", "jaccard")
  }

  /** EXACT all-pairs edit-distance-1 self-join over distinct strings, via
    * deletion-neighborhood blocking (the SymSpell device — Garbe 2012;
    * Mor & Fraenkel 1982's deletion-variant dictionary — public methods):
    * the fuzzy-matching primitive behind typo-tolerant entity resolution
    * and spell-correction candidate tables.
    *
    * Completeness: if lev(a, b) ≤ 1 the two strings share a DELETION KEY
    * — a member of {x} ∪ {x minus one char}: equal strings share
    * themselves; an insertion's longer side deletes the inserted char to
    * reach the shorter; a substitution at position i gives both sides the
    * same string when position i is deleted. The key join is therefore a
    * complete candidate generator (it also admits some distance-2 pairs —
    * two different single-char deletions meeting in the middle — which
    * the exact `levenshtein` verification removes).
    *
    * 100 TB shape: candidates come from an equi-join on exploded deletion
    * keys over DISTINCT strings — (len+1) keys per string, per-key
    * fan-out bounded by how many strings collapse onto one deletion (a
    * vocabulary property, ~alphabet-sized for natural keys) — never an
    * all-pairs product; the verifier is one codegen `levenshtein` per
    * candidate. Output: (word_a, word_b) with word_a < word_b, exactly
    * the lev ≤ 1 pairs.
    */
  def editNeighborPairs(words: DataFrame, word: Column): DataFrame = {
    val w = words.select(word.cast("string").as("word"))
      .filter(col("word").isNotNull).distinct()
    // Deletion keys TAGGED with the edit position, grouped — no join at
    // all. The untagged SymSpell equi-join admits every cross-position
    // collision as a candidate (on a fixed-format vocabulary like
    // "prefix + digits" that is millions of rows, all killed by the
    // verifier) and pays a second exchange + broadcast for the self-join.
    // Tagging by position makes bucket membership EXACT:
    //  - SUBSTITUTION: a, b equal length differing at exactly position i
    //    ⇒ delete_i(a) = delete_i(b) — both land in bucket (i, key) and
    //    in no other shared bucket;
    //  - INSERT/DELETE: b = a minus the char at i ⇒ b IS a's deletion key
    //    — b's IDENTITY rows are tagged at every insert position
    //    1..len(b)+1, so bucket (i, b) holds both (a run of equal chars
    //    meets at each of its positions — deduped at the end);
    //  - EQUAL strings cannot pair (the input is distinct).
    // Every pair sharing a bucket therefore has lev ≤ 1 (same-tag same-key
    // rows agree everywhere but the tagged position), and every lev ≤ 1
    // pair shares one: pairs fall out of ONE (pos, key) aggregation.
    // Bucket width is bounded by |alphabet|+1 (one char varies at a fixed
    // position, plus the identity), so the per-bucket pair expansion is
    // alphabet-bounded — never the positions × alphabet fan-out of the
    // untagged join. The levenshtein guard runs on OUTPUT-sized data.
    val keyed = w.select(col("word"), explode(concat(
        transform(sequence(lit(1), length(col("word")) + 1), i =>
          struct(i.as("pos"), col("word").as("key"))),
        transform(sequence(lit(1), length(col("word"))), i =>
          struct(i.as("pos"),
            concat(col("word").substr(lit(1), i - 1),
              col("word").substr(i + 1, length(col("word")))).as("key")))))
        .as("pk"))
      .select(col("pk.pos").as("pos"), col("pk.key").as("key"), col("word"))
    // NO distinct here: (pos, key, word) rows are unique by construction —
    // identity tags are distinct positions, deletion keys are one row per
    // position, and an identity row can never equal a deletion row (their
    // key lengths differ). A run of equal chars duplicates the KEY across
    // positions, which is exactly the multi-bucket membership the indel
    // case needs; the duplicate PAIRS it emits die in the final distinct.
    val buckets = keyed.groupBy("pos", "key")
      .agg(sort_array(collect_list(col("word"))).as("ws"))
      .filter(size(col("ws")) > 1)
    buckets.select(explode(flatten(transform(col("ws"), (x, i) =>
        transform(slice(col("ws"), i + lit(2), size(col("ws")) - i - 1), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("word_a"), col("p.b").as("word_b"))
      // strict < restores the documented word_a < word_b contract on the
      // one degenerate input the construction admits: the EMPTY string,
      // whose sequence(1, length) defaults to step -1 (Spark yields
      // [1, 0] for length 0) and duplicates its identity row, letting a
      // ("", "") self-pair survive the lev ≤ 1 filter (r14 ADVICE).
      // Output-sized, no extra exchange.
      .filter(col("word_a") < col("word_b"))
      .filter(levenshtein(col("word_a"), col("word_b")) <= 1)
      .distinct()
  }
}
