package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

import graft.functions._

/** SQL surface for graft's native codegen expressions: a
  * `SparkSessionExtensions` hook that registers them in the session's
  * FunctionRegistry, so plain-SQL users get the same kernels the Column
  * API uses (no UDF wrappers — the registered builders construct the
  * Catalyst expressions directly, so whole-stage codegen, null semantics,
  * and constant folding all apply).
  *
  * Enable at session build time
  * (`SparkSession.builder.withExtensions(new GraftExtensions)`) or via
  * `spark.sql.extensions=graft.GraftExtensions`; for an already-running
  * session use [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Register all graft SQL functions into a LIVE session (the
    * post-startup twin of the extensions hook). Idempotent: re-registering
    * overwrites with identical builders. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  private def litInt(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(
        s"$fn: $arg must be an INT literal, got $other")
  }

  private def litBool(fn: String, arg: String, e: Expression): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case other =>
      throw new IllegalArgumentException(
        s"$fn: $arg must be a BOOLEAN literal, got $other")
  }

  private def arity(fn: String, es: Seq[Expression], ns: Int*): Unit =
    require(ns.contains(es.length),
      s"$fn expects ${ns.mkString(" or ")} arguments, got ${es.length}")

  /** (identifier, info, builder) triples — the FunctionRegistry contract. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = {
    def d(name: String, usage: String)(builder: FunctionBuilder) =
      (FunctionIdentifier(name),
        // (arguments, examples, note, group, since, deprecated, source)
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", ""),
        builder)
    Seq(
      // no builder-side casts: the kernels declare ImplicitCastInputTypes,
      // so the ANALYZER widens numeric arrays (array<float> embeddings are
      // correct, not garbage-bits) and rejects non-numeric ones with a type
      // error — for resolved and not-yet-resolved arguments alike (the
      // r4-advice fix: a blind builder Cast turned array<string> into a
      // null-producing cast instead of an analysis error)
      d("graft_dot",
        "graft_dot(a, b) - dot product of two float/double arrays") { es =>
        arity("graft_dot", es, 2)
        DotProduct(es(0), es(1))
      },
      d("graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two float/double arrays") { es =>
        arity("graft_cosine", es, 2)
        CosineSimilarity(es(0), es(1))
      },
      d("graft_simhash64",
        "graft_simhash64(tokens[, portable]) - 64-bit SimHash of a token array") { es =>
        arity("graft_simhash64", es, 1, 2)
        SimHash64(es.head,
          if (es.length == 2) litBool("graft_simhash64", "portable", es(1)) else false)
      },
      d("graft_char_ngrams64",
        "graft_char_ngrams64(text, n) - sorted distinct 64-bit hashes of char n-grams") { es =>
        arity("graft_char_ngrams64", es, 2)
        HashedCharNGrams(es.head, litInt("graft_char_ngrams64", "n", es(1)))
      },
      d("graft_word_shingles64",
        "graft_word_shingles64(tokens, w) - sorted distinct 64-bit hashes of w-word shingles") { es =>
        arity("graft_word_shingles64", es, 2)
        HashedWordShingles(es.head, litInt("graft_word_shingles64", "w", es(1)))
      },
      d("graft_token_stats",
        "graft_token_stats(tokens) - struct<n_tokens, sum_len, stop_hits> in one pass") { es =>
        arity("graft_token_stats", es, 1)
        TokenStats(es.head, TextOps.EnglishStopwords)
      },
      d("graft_sorted_intersect_size",
        "graft_sorted_intersect_size(a, b) - |a ∩ b| of two sorted distinct long arrays") { es =>
        arity("graft_sorted_intersect_size", es, 2)
        SortedLongIntersectSize(es(0), es(1))
      }
    )
  }
}
