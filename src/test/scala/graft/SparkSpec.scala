package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM), built with the engine's own session conf — the
  * codegen cache, ANSI mode and SQL extensions the mains run under. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf001 = "/root/testdata/sf0.001"

  /** Runs `body` on a private, writable copy of the sf0.001 fixture dir —
    * a path no artifact-cache entry has seen yet, whose tables a test may
    * rewrite — and deletes the copy afterwards. */
  def withFixtureCopy[T](body: String => T): T = {
    val src = Paths.get(sf001)
    val dst = Files.createTempDirectory("spec_fixture_")
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.write(t, Files.readAllBytes(p))
    } finally walk.close()
    try body(dst.toString) finally SparkSpec.deleteTree(dst)
  }

  /** `body`'s result and the number of Spark jobs submitted while it ran. */
  def withJobCount[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` with `spark.graft.checkpoint.dir` set to `dir`, so every
    * `CheckpointPolicy.pin` in it checkpoints to reliable storage; the conf
    * is unset afterwards. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try body finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  /** Runs `body` twice: with `spark.graft.bpe.localTrainMaxWords` at its
    * default, where every test-sized corpus trains in the driver-side
    * sequential loop, and at 0, which forces the distributed prefix-guard
    * loop of batched BPE training. `body` gets a label for assertion
    * messages; the conf is unset afterwards. */
  def atBothBpeLoops[T](body: String => T): Seq[T] =
    Seq(None, Some("0")).map { cap =>
      cap.foreach(spark.conf.set("spark.graft.bpe.localTrainMaxWords", _))
      try body(s"localTrainMaxWords=${cap.getOrElse("default")}")
      finally spark.conf.unset("spark.graft.bpe.localTrainMaxWords")
    }
}
