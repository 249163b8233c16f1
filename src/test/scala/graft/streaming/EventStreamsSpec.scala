package graft.streaming

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

class EventStreamsSpec extends SparkSpec {

  /** FileStreamSource needs a directory: stage the fixture file into one. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("mixture sampling runs unchanged on a stream and matches batch") {
    import graft.operators.Mixture
    // stateless projection + generate: the SAME operator code drives both
    // engines — the ingest-time shape for a continuously arriving corpus
    val docsDir = {
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-docs")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf001/documents.parquet"),
        dir.resolve("documents.parquet"))
      dir.toString
    }
    val schema = Tables.documents(spark, sf001).schema
    val streamDocs = spark.readStream.schema(schema).parquet(docsDir)
    val w = Mixture.weightFor(col("source"),
      Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4), default = 0.15)
    def mix(df: org.apache.spark.sql.DataFrame) =
      Mixture.epochs(df.select(col("doc_id"), col("source")), col("doc_id"), w)
    val got = EventStreams.runToMemory(spark, mix(streamDocs), "mix_stream")
      .select("doc_id", "epoch")
    val batch = mix(Tables.documents(spark, sf001)).select("doc_id", "epoch")
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0, "stream/batch mixture mismatch")
  }

  test("quality gate + PII redaction run unchanged on a stream and match batch") {
    import graft.functions.TextOps
    import graft.operators.QualityRules
    // stateless projection passes: the SAME operator code drives both
    // engines — ingest-time quality gating and scrubbing for a
    // continuously arriving corpus
    val docsDir = {
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-docs-q")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf001/documents.parquet"),
        dir.resolve("documents.parquet"))
      dir.toString
    }
    val schema = Tables.documents(spark, sf001).schema
    def streamDocs = spark.readStream.schema(schema).parquet(docsDir)
    def gate(df: org.apache.spark.sql.DataFrame) =
      QualityRules.gopherFlags(df, col("doc_id"), col("text"))
    def red(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        md5(TextOps.redactPii(col("text")).cast("binary")).as("red_md5"))
    val gotGate = EventStreams.runToMemory(spark, gate(streamDocs), "gate_stream")
    val gotRed = EventStreams.runToMemory(spark, red(streamDocs), "red_stream")
    val docs = Tables.documents(spark, sf001)
    assert(gotGate.count() == docs.count())
    assert(gotGate.exceptAll(gate(docs)).count() == 0, "stream/batch gate mismatch")
    assert(gotRed.count() == docs.count())
    assert(gotRed.exceptAll(red(docs)).count() == 0, "stream/batch redaction mismatch")
  }

  test("streaming latest-state equals batch compaction on a closed stream") {
    import graft.operators.Compaction
    def keyed(df: org.apache.spark.sql.DataFrame) = df.select(
      concat_ws("|", col("user_id"), col("event_type")).as("key"),
      unix_micros(col("ts")).as("ts_us"), col("event_id").as("seq"),
      round(col("value"), 6).as("value"))
    val streamed = EventStreams.streamingLatestState(
      keyed(EventStreams.readEvents(spark, eventsDir)))
    // update mode re-emits refreshed state each trigger; compact the sink
    // table so multi-trigger runs compare cleanly (state rows are monotone)
    val got = Compaction.latestByKey(
      EventStreams.runToMemory(spark, streamed, "latest_state", "update"),
      Seq("key"), Seq("ts_us", "seq"), Seq("value"))
    val batch = Compaction.latestByKey(keyed(Tables.events(spark, sf001)),
      Seq("key"), Seq("ts_us", "seq"), Seq("value"))
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0, "stream/batch latest-state mismatch")
  }

  test("streaming hourly agg matches the batch result on closed windows") {
    val streamed = EventStreams.hourlyByType(EventStreams.readEvents(spark, eventsDir))
    // complete mode over the static fixture: every window closes
    val got = EventStreams.runToMemory(spark, streamed, "hourly_test", "complete")
      .select("window_start", "event_type", "n", "sum_value")

    val batch = Tables.events(spark, sf001)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0, "stream/batch mismatch")
  }

  test("stateful session counts (mapGroupsWithState) match batch sessionize") {
    val streamed = EventStreams.statefulSessionCounts(
      EventStreams.readEvents(spark, eventsDir), gapSeconds = 1800)
    val got = EventStreams.runToMemory(spark, streamed, "sessions_test", "update")
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))

    val batch = graft.operators.Joins.sessionize(
        Tables.events(spark, sf001), Seq("user_id"), col("ts"), gapSeconds = 1800)
      .groupBy("user_id")
      .agg(countDistinct("session_id").as("n_sessions"), count(lit(1)).as("n_events"))

    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0, "stateful stream != batch sessionize")
  }

  test("stateful funnel across micro-batch seams matches the batch operator") {
    // time-ordered log replay: fixture sorted by ts, split into 3 files
    // processed one per trigger — funnel frontiers must cross the seams
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-funnel")
    val ordered = Tables.events(spark, sf001).orderBy("ts", "event_id")
      .select("user_id", "ts", "event_type").collect()
    val third = (ordered.length + 2) / 3
    ordered.grouped(third).zipWithIndex.foreach { case (part, i) =>
      spark.createDataFrame(
          spark.sparkContext.parallelize(part.toIndexedSeq, 1),
          ordered.headOption.map(_.schema).getOrElse(fail("empty fixture")))
        .coalesce(1).write.parquet(s"$dir/part$i")
      // one file per staged dir level isn't what readEvents expects; move
      // the part file up as partI.parquet
      val sub = new java.io.File(s"$dir/part$i")
      val f = sub.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$dir/p$i.parquet"))
      sub.listFiles().foreach(_.delete()); sub.delete()
    }
    val steps = Seq("view", "click", "purchase")
    val streamed = EventStreams.statefulFunnel(
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)),
      steps)
    val got = EventStreams.runToMemory(spark, streamed, "funnel_test", "update")
      .groupBy("user_id")
      .agg(max("steps_completed").as("steps_completed"),
        max("first_us").as("first_us"), max("last_us").as("last_us"),
        max("convert_us").as("convert_us"))
    val batch = graft.operators.Funnel.funnel(Tables.events(spark, sf001),
      col("user_id"), col("ts"), col("event_type"), steps)
    // the stream emits only users with >= 1 funnel event
    val batchParticipants = batch.join(
      Tables.events(spark, sf001).filter(col("event_type").isin(steps: _*))
        .select("user_id").distinct(), Seq("user_id"))
    assert(got.count() == batchParticipants.count())
    assert(got.exceptAll(batchParticipants).count() == 0,
      "stateful funnel != batch funnel")
  }

  test("stateful anomalies across micro-batch seams match the batch operator") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-anom")
    val ordered = Tables.events(spark, sf001).orderBy("ts", "event_id")
      .select("event_id", "ts", "event_type", "value").collect()
    val third = (ordered.length + 2) / 3
    ordered.grouped(third).zipWithIndex.foreach { case (part, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-anom-part")
      spark.createDataFrame(
          spark.sparkContext.parallelize(part.toIndexedSeq, 1), part.head.schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dest = dir.resolve(s"p$i.parquet")
      java.nio.file.Files.move(f, dest)
      dest.toFile.setLastModified(System.currentTimeMillis() - (3 - i) * 60000)
      ()
    }
    val streamed = EventStreams.statefulAnomalies(
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)))
    val got = EventStreams.runToMemory(spark, streamed, "anom_test", "append")
    val batch = graft.operators.Profiling.anomalyZScores(
      Tables.events(spark, sf001), col("event_id"), col("event_type"),
      col("ts"), col("value"))
    assert(got.count() == batch.count(),
      s"row counts: stream ${got.count()} vs batch ${batch.count()}")
    // flags and baselines exact; z within FP tolerance (different but
    // algebraically equal variance formulations)
    val joined = got.select(col("event_id"), col("z").as("z_s"),
        col("is_anom").as("a_s"), col("baseline_n").as("n_s"))
      .join(batch.select(col("event_id"), col("z").as("z_b"),
        col("is_anom").as("a_b"), col("baseline_n").as("n_b")), Seq("event_id"))
    assert(joined.count() == batch.count(), "event sets differ")
    assert(joined.filter(col("a_s") =!= col("a_b") ||
      col("n_s") =!= col("n_b")).count() == 0, "flags/baselines diverged")
    val maxDz = joined.agg(max(abs(col("z_s") - col("z_b")))).head().getDouble(0)
    assert(maxDz < 1e-6, s"z diverged by $maxDz")
  }

  test("streaming dedup keeps one row per key and matches batch distinct") {
    // duplicate the fixture file so every event arrives twice
    val dupDir = java.nio.file.Files.createTempDirectory("graft-stream-dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dupDir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dupDir.resolve("b.parquet"))
    val streamed = EventStreams.dedupEvents(
      EventStreams.readEvents(spark, dupDir.toString))
    val got = EventStreams.runToMemory(spark, streamed, "dedup_test", "append")
    val batch = Tables.events(spark, sf001)
    assert(got.count() == batch.count(),
      s"dedup kept ${got.count()} of 2x${batch.count()} rows")
    assert(got.select("event_id").distinct().count() == batch.count())
  }

  test("stateful streaming featurizer equals the batch featurizer across seams") {
    import org.apache.spark.sql.functions._
    // stage the series as 3 event-range files processed one per micro-batch
    // (oldest-first), so windows straddle the batch boundaries and the
    // carried state seam is genuinely exercised
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    val maxId = raw.agg(max("event_id")).head().getLong(0)
    val cut1 = maxId / 3; val cut2 = 2 * maxId / 3
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-feat")
    Seq(("a", 0L, cut1), ("b", cut1 + 1, cut2), ("c", cut2 + 1, maxId))
      .foreach { case (name, lo, hi) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-slice-$name")
        raw.filter(col("event_id").between(lo, hi))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
          .find(_.endsWith(".parquet")).get
        java.nio.file.Files.copy(java.nio.file.Paths.get(part),
          dir.resolve(s"$name.parquet"))
        Thread.sleep(1100) // distinct mtimes -> deterministic oldest-first order
      }
    val streamed = EventStreams.statefulFeaturize(
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)),
      history = 10, pred = 5)
    val got = EventStreams.runToMemory(spark, streamed, "feat_parity", "append")
      .orderBy("win_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Double](2)))
    val batch = graft.operators.SlidingWindows.featurizeByIndex(
        graft.Tables.events(spark, sf001), col("event_id"), col("value"),
        history = 10, pred = 5)
      .orderBy("win_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Double](2)))
    assert(got.length == batch.length, s"${got.length} vs ${batch.length}")
    got.zip(batch).foreach { case (a, b) => assert(a == b) }
  }

  test("sliding windows emit overlapping frames with sane stats") {
    val streamed = EventStreams.slidingValueStats(EventStreams.readEvents(spark, eventsDir))
    val got = EventStreams.runToMemory(spark, streamed, "sliding_test", "complete")
    assert(got.count() > 0)
    val r = got.head()
    assert(r.getAs[Double]("min_value") <= r.getAs[Double]("mean_value"))
    assert(r.getAs[Double]("mean_value") <= r.getAs[Double]("max_value"))
    // sliding 30m/10m → each event lands in 3 windows: total n across
    // windows = 3x event count
    val totalN = got.agg(sum("n")).head().getLong(0)
    val events = Tables.events(spark, sf001).count()
    assert(totalN == 3 * events, s"$totalN != 3*$events")
  }

  test("stateful gap fill equals the batch gapFill across micro-batch seams") {
    // slice by event_id range (the fixture's time order), one file per
    // trigger, so open buckets and gaps straddle the batch boundaries
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    val maxId = raw.agg(max("event_id")).head().getLong(0)
    val cut1 = maxId / 3; val cut2 = 2 * maxId / 3
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-gap")
    Seq(("a", 0L, cut1), ("b", cut1 + 1, cut2), ("c", cut2 + 1, maxId))
      .foreach { case (name, lo, hi) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-gap-$name")
        raw.filter(col("event_id").between(lo, hi))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
          .find(_.endsWith(".parquet")).get
        java.nio.file.Files.copy(java.nio.file.Paths.get(part),
          dir.resolve(s"$name.parquet"))
        Thread.sleep(1100) // distinct mtimes -> deterministic oldest-first order
      }
    val streamed = EventStreams.statefulGapFill(
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)),
      bucketSeconds = 3600L)
    val got = EventStreams.runToMemory(spark, streamed, "gap_parity", "append")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // batch truth minus each series' final (perpetually open) bucket
    val full = graft.operators.TimeSeries.gapFill(
        Tables.events(spark, sf001), col("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val lastBucket = full.keys.groupBy(_._1).map { case (s, ks) => s -> ks.map(_._2).max }
    val expected = full.filter { case ((s, b), _) => b != lastBucket(s) }
    assert(got.size == expected.size, s"${got.size} vs ${expected.size}")
    expected.foreach { case (k, v) =>
      assert(got(k) == v, s"series/bucket $k: ${got(k)} vs $v") }
  }

  test("stateful ewma equals the batch ewma-over-gapfill across seams") {
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    val maxId = raw.agg(max("event_id")).head().getLong(0)
    val cut1 = maxId / 3; val cut2 = 2 * maxId / 3
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ewma")
    Seq(("a", 0L, cut1), ("b", cut1 + 1, cut2), ("c", cut2 + 1, maxId))
      .foreach { case (name, lo, hi) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft-ewma-$name")
        raw.filter(col("event_id").between(lo, hi))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
          .find(_.endsWith(".parquet")).get
        java.nio.file.Files.copy(java.nio.file.Paths.get(part),
          dir.resolve(s"$name.parquet"))
        Thread.sleep(1100)
      }
    val streamed = EventStreams.statefulEwma(
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = Some(1)),
      bucketSeconds = 3600L, alpha = 0.5)
    val got = EventStreams.runToMemory(spark, streamed, "ewma_parity", "append")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val full = graft.operators.TimeSeries.ewma(
        graft.operators.TimeSeries.gapFill(
          Tables.events(spark, sf001), col("user_id"), col("ts"), col("value")),
        alpha = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val lastBucket = full.keys.groupBy(_._1).map { case (s, ks) => s -> ks.map(_._2).max }
    val expected = full.filter { case ((s, b), _) => b != lastBucket(s) }
    assert(got.size == expected.size, s"${got.size} vs ${expected.size}")
    expected.foreach { case (k, v) =>
      assert(got(k) == v, s"series/bucket $k: ${got(k)} vs $v") }
  }

  test("stream-stream attribution join matches the batch range join (q47)") {
    val streamed = EventStreams.attributionJoin(
      EventStreams.readEvents(spark, eventsDir))
    val got = EventStreams.runToMemory(spark, streamed, "attr_test", "append")
      .select("click_id", "purchase_id", "user_id", "dt_us")
    val batch = SparkEntry.queries("q47_range_join")(spark, sf001)
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0, "stream/batch attribution mismatch")
    assert(batch.count() > 0, "fixture should produce at least one attribution pair")
  }
}
