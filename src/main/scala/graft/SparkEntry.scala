package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + BASELINE.md gates. */
object SparkEntry {

  /** Flagship query (smoke-checked rows>0 at sf0.001): the reference's
    * stage-0..2 informative-sampling slice — KDE density profile of
    * l_extendedprice → inverse-density weights → Efraimidis–Spirakis top-100
    * informative sample (SURVEY.md §7 "minimum end-to-end slice"). */
  def entry(spark: SparkSession): DataFrame =
    SamplingQueries.flagshipKdeSample(spark, "/root/testdata/sf0.001")

  /** Every registered query, one family at a time; a name registered
    * twice fails here. */
  private[graft] lazy val specs: Seq[QuerySpec] = {
    val all = Seq(TabularQueries.specs, SamplingQueries.specs,
      TextQueries.specs, TokenizerQueries.specs, RetrievalQueries.specs,
      SketchQueries.specs, SourceQueries.specs, MediaQueries.specs,
      CrawlQueries.specs, GraphQueries.specs).flatten
    val dups = all.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.mkString(", ")}")
    all
  }

  /** name → build, for every registered query. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** name → DuckDB oracle SQL for EVERY query above — since round 3 none
    * are rows-only: the non-SQL-native ops (KDE, sampling, LSH, ANN, PCA)
    * run in engine-portable modes or emit closed-form invariant gates.
    * Each statement ships on one line: every whitespace run collapses to
    * one space, so a significant multi-space inside a SQL string literal
    * must be written as `chr(32)` concatenation (see q143's plant). */
  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracle().replaceAll("\\s+", " ").trim).toMap
}
