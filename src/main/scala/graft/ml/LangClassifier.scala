package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained character-n-gram language identifier — the fastText langid
  * shape (Joulin et al. 2017: hashed char-n-gram features + a linear
  * multiclass model), upgrading [[graft.functions.TextOps.langId]]'s
  * marker-lexicon argmax (reference `core/text.py:1` is the heuristic
  * analogue) to a model with a per-document CONFIDENCE. The lexicon path
  * stays as the oracle-exact fallback (q13); this is the curation-grade
  * classifier a real crawl pipeline runs, where "which language" matters
  * less than "how sure — route low-confidence docs to review".
  *
  * Scale shape: identical to [[TextClassifier]] — features are
  * vocabulary-free hashed counts built by codegen'd HOFs (substr sweep →
  * HashingTF), training is spark.ml L-BFGS (per-iteration treeAggregate
  * of gradient partials — data-parallel at any corpus size, and a linear
  * model saturates on a bounded sample anyway), the fitted model is
  * KB-sized and broadcast, scoring is a shuffle-free map-stage
  * projection. No UDFs anywhere on the scoring path.
  */
/** The planted multilingual fixture (q137 and the specs): five languages,
  * one characteristic phrase each — function words and diacritics chosen
  * so the char-2/3-gram distributions are far apart (the actual signal
  * real language ID keys on). Repeated 3× when planted so the phrase
  * n-grams outweigh per-doc boilerplate noise. */
object LangPlant {
  val langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  val phrases: Map[String, String] = Map(
    "de" -> "der schnelle braune fuchs springt über die faule straße und zwölf",
    "en" -> "the quick brown fox jumps over the lazy dog with enough thought",
    "es" -> "el zorro marrón rápido salta sobre el perro perezoso español",
    "fr" -> "le renard brun rapide saute par dessus le chien paresseux où déjà",
    "zh" -> "敏捷的棕色狐狸跳过懒狗 这是一个中文句子 我们在这里写字")

  /** The phrase as planted: tripled. */
  def planted(code: String): String = {
    val p = phrases(code)
    s"$p $p $p"
  }
}

object LangClassifier {

  /** All character n-grams of `text` for one n, as an array column — a
    * pure HOF sweep (`sequence` of start positions → `substr`), fully
    * codegen, no UDF. Empty/short strings yield an empty array. */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n >= 1: $n")
    val t = coalesce(text, lit(""))
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(t) - lit(n - 1)),
        i => t.substr(i, lit(n))))
  }

  /** Hashed char-n-gram features + class-index label frame.
    *
    * The lowered text is BOUND TO AN ATTRIBUTE behind a projection
    * boundary before the n-gram HOF sweep: `transform`'s lambda inlines
    * whatever expression tree the text column is, so a computed column
    * (q137 feeds `concat_ws(substr(...), phrase)`) would be re-evaluated
    * once PER ARRAY ELEMENT — ~1000 re-lowercased full strings per doc
    * (measured 26 s of a 30 s q137 before this boundary, ~3 s after). */
  def featurize(docs: DataFrame, id: Column, text: Column, labelIdx: Column,
                numFeatures: Int = 4096): DataFrame = {
    val bound = docs.select(id.cast("long").as("doc_id"),
      lower(coalesce(text, lit(""))).as("lctext"),
      labelIdx.cast("double").as("label"))
    val base = bound.select(col("doc_id"),
      concat(charNgrams(col("lctext"), 2), charNgrams(col("lctext"), 3))
        .as("cgrams"),
      col("label"))
    new HashingTF().setInputCol("cgrams").setOutputCol("features")
      .setNumFeatures(numFeatures).transform(base)
  }

  /** Multinomial LR over the hashed char-n-gram features. */
  def train(train: DataFrame, maxIter: Int = 40, regParam: Double = 1e-4,
            tol: Double = 1e-6): LogisticRegressionModel =
    new LogisticRegression().setMaxIter(maxIter).setRegParam(regParam)
      .setTol(tol)
      .setFamily("multinomial")
      .setFeaturesCol("features").setLabelCol("label")
      .fit(train)

  /** Score a featurized frame: predicted class index + CONFIDENCE = the
    * winning class posterior (array_max over the probability vector —
    * the supported codegen bridge, no UDF). */
  def score(model: LogisticRegressionModel, df: DataFrame): DataFrame =
    model.transform(df)
      .withColumn("p", org.apache.spark.ml.functions.vector_to_array(col("probability")))
      .select(col("doc_id"), col("label"),
        col("prediction").cast("long").as("pred"),
        array_max(col("p")).as("confidence"))

  /** End-to-end driver gate, PER CLASS (stronger than [[TextClassifier
    * .holdoutGate]]'s single flag): deterministic md5 hash split, fit on
    * the train fold, score the held-out fold, and emit one row per class
    * with its fold sizes and a held-out recall flag. Fold sizes are pure
    * split arithmetic an oracle replays exactly; the recall flags are the
    * model gate — a broken n-gram sweep, hasher, or optimizer reds a
    * row. `langOf` maps the class index back to its code for the output
    * (index i -> langs(i)). */
  def holdoutGatePerClass(docs: DataFrame, id: Column, text: Column,
                          labelIdx: Column, langs: Seq[String],
                          trainFrac: Double = 0.8,
                          recallThreshold: Double = 0.9,
                          numFeatures: Int = 4096,
                          maxIter: Int = 10,
                          tol: Double = 1e-3): DataFrame = {
    val feat = featurize(docs, id, text, labelIdx, numFeatures)
    val split = graft.operators.Mixture.hashSplit(feat, col("doc_id"),
      Seq("train" -> trainFrac, "test" -> (1.0 - trainFrac)))
    // the FIT runs tens of L-BFGS jobs over a KB-scale coefficient vector:
    // on a bounded training sample the per-iteration cost is Spark job
    // overhead, not compute — coalesce the fit input to a few partitions
    // (measured 22 s -> ~8 s at sf0.1 on 32 cores). Featurization and
    // scoring stay at full width; this narrows only the iterative stage.
    val fitParts = math.max(2, docs.sparkSession.sparkContext.defaultParallelism / 8)
    val train0 = split.filter(col("split") === "train")
      .coalesce(fitParts).localCheckpoint(true)
    val test0 = split.filter(col("split") === "test").localCheckpoint(true)
    // The fit stops on convergence (tol 1e-3 — the gate's output is a
    // 0.9-threshold recall FLAG, insensitive to coefficient digits at
    // that scale) with maxIter as the cap; BOTH knobs are caller-visible
    // now (r14 hard-coded maxIter=10 inside the operator, justified only
    // by the planted fixture saturating at 4 iterations). A caller near
    // the recall threshold on real data raises maxIter/loosens tol
    // without editing the operator; LangClassifierSpec gates flag
    // stability across maxIter 10/20 on the planted corpus. (maxIter=20
    // with tol 1e-4 was measured NOT to early-stop on the separable
    // fixture — q137 3.3 -> 5.0 s warm — so the default cap stays 10.)
    val model = train(train0, maxIter = maxIter, tol = tol)
    val scored = score(model, test0)
    val langName = langs.zipWithIndex
      .foldLeft(lit("?"): Column) { case (acc, (code, i)) =>
        when(col("label") === i.toDouble, lit(code)).otherwise(acc) }
    val trainCounts = train0.groupBy(col("label")).agg(count(lit(1)).as("n_train"))
    scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("pred") === col("label").cast("long"), 1L).otherwise(0L))
          .as("n_hit"))
      .join(trainCounts, Seq("label"), "full_outer")
      .na.fill(0L, Seq("n_train", "n_test", "n_hit"))
      .select(langName.as("lang"), col("n_train"), col("n_test"),
        when(col("n_test") > 0 &&
            col("n_hit") >= col("n_test") * recallThreshold, 1L)
          .otherwise(0L).as("recall_ok"))
      .orderBy("lang")
  }
}
