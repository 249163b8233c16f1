package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Custom stream state: last event time (µs), running session/event counts. */
case class SessionState(lastTs: Long, sessions: Long, events: Long)
case class LatestState(key: String, ts_us: Long, seq: Long, value: Double)

/** Stateful-featurizer buffer: index of the first buffered value + the
  * buffered values (at most history+pred-1 between micro-batches). */
case class FeaturizeBuffer(headIdx: Long, values: Seq[Double])

/** Stateful-featurizer output row (matches the batch featurizer schema). */
case class FeaturizedWindow(win_id: Long, hist: Seq[Double], target: Seq[Double])

/** Stateful-streaming output row: per-user running session statistics. */
case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

/** Streaming-funnel state: frontier depth + first/deepest accepted times. */
case class FunnelState(filled: Int, first: Long, last: Long)

/** Streaming-anomaly state per key: the open bucket's running sums and the
  * closed previous bucket's baseline. */
case class AnomalyState(curBucket: Long, n: Long, sum: Double, sumSq: Double,
                        prevBucket: Long, prevMu: Double, prevVar: Double,
                        prevN: Long)

/** Streaming-anomaly output row (matches Profiling.anomalyZScores). */
case class AnomalyRow(event_id: Long, key: String, bucket_us: Long,
                      value: Double, z: Double, is_anom: Long,
                      baseline_n: Long)

/** Streaming-funnel output row (matches the batch Funnel.funnel schema). */
case class UserFunnel(user_id: Long, steps_completed: Long, first_us: Long,
                      last_us: Long, convert_us: Long)

/** Streaming gap-fill state per series: the OPEN bucket's running count
  * and sum — fixed size, never the events. */
case class GapFillState(openBucket: Long, n: Long, sum: Double)

/** Streaming gap-fill output row (matches TimeSeries.gapFill's schema). */
case class GapRow(series_id: Long, bucket: Long, n_events: Long,
                  filled: Long, value_sum: Double)

/** Streaming EWMA state: the gap-fill state plus the running smoother
  * (`hasY` distinguishes "no closed bucket yet" from y = 0). */
case class EwmaState(openBucket: Long, n: Long, sum: Double,
                     y: Double, hasY: Boolean)

/** Streaming EWMA output row (matches TimeSeries.ewma's schema). */
case class EwmaRow(series_id: Long, bucket: Long, value_sum: Double,
                   ewma: Double)

/** Structured Streaming form of the event-table operators. The reference has
  * no streaming (SURVEY.md §2.8 — its "time series" is batch-simulated), so
  * this is the forward-looking surface for the 100 TB pipeline: the same
  * windowed aggregations as the batch queries (q19/q24), expressed over
  * `readStream` with watermarks, so ingest can run continuously and the
  * batch/stream results agree on closed windows.
  */
object EventStreams {

  /** The events schema (readStream needs it explicitly; ts arrives as
    * nanos-epoch long under the legacy parquet mapping and is normalized to
    * a timestamp exactly like Tables.events). */
  /** File schema with `ts` as the given physical type — the fixture has
    * shipped as TIMESTAMP(NANOS) (epoch-nanos longs under the legacy flag)
    * and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (TIMESTAMP_NTZ). */
  def eventsSchema(tsType: DataType = LongType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** `dir` must be a DIRECTORY of event parquet files (FileStreamSource
    * rejects a single-file path) — the natural shape for a streaming ingest
    * drop zone. Tests stage the fixture file into a temp dir. */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // footer-only batch probe: which physical ts representation is on disk.
    // An empty / not-yet-populated drop zone can't be probed — fall back to
    // the nanos-as-long schema (the original contract) so the stream can
    // still be DEFINED before files land. The probe pins ONE encoding for
    // the stream's lifetime; a drop zone must not mix encodings.
    val tsType = try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => LongType }
    val reader = spark.readStream.schema(eventsSchema(tsType))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Tumbling hourly aggregate with a 2-hour watermark — the streaming twin
    * of the batch q19. Output: (window_start, event_type, n, sum_value). */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 30-minute windows every 10 minutes over value — the streaming
    * profile feed (mean/min/max per window). */
  def slidingValueStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("mean_value"),
        min("value").as("min_value"), max("value").as("max_value"))
      .select(col("w.start").as("window_start"), col("n"),
        col("mean_value"), col("min_value"), col("max_value"))

  /** Streaming exact dedup — the continuous-ingest twin of
    * `Dedup.exactByContent` for a training-data pipeline: keep the FIRST
    * event per `event_id` (the dedup key), with state bounded by the
    * watermark via `dropDuplicatesWithinWatermark` (duplicates are only
    * possible within the ingest-replay horizon, so expired keys age out of
    * state instead of accumulating forever — the property that makes
    * streaming dedup viable at 100 TB/day). */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user session statistics via custom state
    * (`mapGroupsWithState`): state = (last-event time, session count); a
    * gap > `gapSeconds` starts a new session. Emits one row per user per
    * trigger with the running totals — the stateful-streaming twin of
    * `Joins.sessionize`. */
  def statefulSessionCounts(events: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoders, Row}
    val stateEnc = Encoders.product[SessionState]
    val outEnc = Encoders.product[UserSessions]
    val byUser = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as(Encoders.row(eventMicrosSchema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    byUser.mapGroupsWithState(GroupStateTimeout.NoTimeout)(
      (userId: Long, rows: Iterator[Row],
       state: org.apache.spark.sql.streaming.GroupState[SessionState]) => {
        val sorted = rows.map(_.getLong(1)).toArray.sorted
        var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
        sorted.foreach { t =>
          val isNew = st.lastTs == Long.MinValue || t - st.lastTs > gapSeconds * 1000000L
          st = SessionState(t, st.sessions + (if (isNew) 1 else 0), st.events + 1)
        }
        state.update(st)
        UserSessions(userId, st.sessions, st.events)
      })(stateEnc, outEnc).toDF()
  }

  /** Streaming twin of [[graft.operators.Profiling.anomalyZScores]] via
    * `flatMapGroupsWithState`: per key the state is the OPEN bucket's
    * running (n, Σv, Σv²) plus the closed previous bucket's (µ, σ², n)
    * baseline — fixed-size, never the events. Each trigger folds its
    * batch's events in ts order; an event whose bucket is newer than the
    * open one closes it (the closed sums become the baseline iff the
    * buckets are CONTIGUOUS — a silent hour with no events voids the
    * baseline, exactly like the batch +1h join). Verdict rows are emitted
    * only for events with a baseline, matching the batch inner join.
    *
    * In-order contract: per-key non-decreasing event time across
    * micro-batches (the [[statefulFunnel]] contract). Variance is
    * Σv²/n − µ² — algebraically var_pop; the batch twin's central-moment
    * aggregation can differ in the last ulps, so parity tests compare z at
    * a tolerance rather than bit-for-bit. */
  def statefulAnomalies(events: DataFrame, bucketUs: Long = 3600L * 1000000,
                        threshold: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    val schema = new StructType()
      .add("event_id", LongType).add("key", StringType)
      .add("ts_us", LongType).add("value", DoubleType)
    val byKey = events
      .select(col("event_id").cast("long").as("event_id"),
        col("event_type").as("key"), unix_micros(col("ts")).as("ts_us"),
        col("value").cast("double").as("value"))
      .as(Encoders.row(schema))
      .groupByKey((r: Row) => r.getString(1))(Encoders.STRING)
    byKey.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (key: String, rows: Iterator[Row],
       state: org.apache.spark.sql.streaming.GroupState[AnomalyState]) => {
        val batch = rows.map(r => (r.getLong(2), r.getLong(0), r.getDouble(3)))
          .toArray.sortBy(e => (e._1, e._2))
        var st = state.getOption.getOrElse(
          AnomalyState(Long.MinValue, 0L, 0.0, 0.0, Long.MinValue, 0.0, 0.0, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyRow]
        batch.foreach { case (ts, eventId, v) =>
          val b = Math.floorDiv(ts, bucketUs) * bucketUs
          if (b != st.curBucket) {
            // close the open bucket; contiguous => it becomes the baseline
            val (pb, mu, va, pn) =
              if (st.curBucket != Long.MinValue && st.n > 0)
                (st.curBucket, st.sum / st.n,
                  math.max(st.sumSq / st.n - (st.sum / st.n) * (st.sum / st.n), 0.0),
                  st.n)
              else (Long.MinValue, 0.0, 0.0, 0L)
            st = AnomalyState(b, 0L, 0.0, 0.0, pb, mu, va, pn)
          }
          if (st.prevBucket != Long.MinValue && st.prevBucket + bucketUs == b) {
            val z = if (st.prevVar > 0) (v - st.prevMu) / math.sqrt(st.prevVar) else 0.0
            out += AnomalyRow(eventId, key, b, v,
              math.rint(z * 1e6) / 1e6,
              if (st.prevVar > 0 && math.abs(z) > threshold) 1L else 0L,
              st.prevN)
          }
          st = st.copy(n = st.n + 1, sum = st.sum + v, sumSq = st.sumSq + v * v)
        }
        state.update(st)
        out.iterator
      })(Encoders.product[AnomalyState], Encoders.product[AnomalyRow]).toDF()
  }

  private val eventMicrosSchema = new StructType()
    .add("user_id", LongType).add("ts_us", LongType)

  /** Streaming twin of [[graft.operators.Funnel.funnel]] via
    * `mapGroupsWithState`: state is the O(1) funnel frontier (depth +
    * first/deepest accepted times) per user — 24 bytes, never the event
    * history. Each trigger folds its batch's events (sorted by (ts, step)
    * inside the batch, exactly the batch operator's order) into the saved
    * frontier and emits the user's refreshed running row (update mode;
    * compact the sink to latest-per-user like the session twin).
    *
    * In-order contract: events must arrive per-user in non-decreasing ts
    * across micro-batches (the time-ordered log-replay shape; same contract
    * as [[statefulFeaturize]]) — with O(1) state a frontier already
    * advanced past t cannot reconsider a late event before t. Under that
    * contract the final rows equal the batch operator on the union of all
    * batches. */
  def statefulFunnel(events: DataFrame, steps: Seq[String],
                     windowUs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoders, Row}
    val k = steps.size
    val idx = steps.zipWithIndex
      .foldRight(lit(-1): Column) { case ((s, i), acc) =>
        when(col("event_type") === lit(s), lit(i)).otherwise(acc)
      }
    val schema = new StructType()
      .add("user_id", LongType).add("ts_us", LongType).add("step_idx", IntegerType)
    val byUser = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        idx.as("step_idx"))
      .filter(col("step_idx") >= 0)
      .as(Encoders.row(schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    byUser.mapGroupsWithState(GroupStateTimeout.NoTimeout)(
      (userId: Long, rows: Iterator[Row],
       state: org.apache.spark.sql.streaming.GroupState[FunnelState]) => {
        val batch = rows.map(r => (r.getLong(1), r.getInt(2))).toArray.sorted
        var st = state.getOption.getOrElse(FunnelState(0, -1L, -1L))
        batch.foreach { case (ts, stepIdx) =>
          val inWindow = windowUs.forall(w => st.filled == 0 || ts <= st.first + w)
          if (st.filled < k && stepIdx == st.filled &&
              (st.filled == 0 || ts > st.last) && inWindow)
            st = FunnelState(st.filled + 1,
              if (st.filled == 0) ts else st.first, ts)
        }
        state.update(st)
        UserFunnel(userId, st.filled.toLong, st.first, st.last,
          if (st.filled == k) st.last - st.first else -1L)
      })(Encoders.product[FunnelState], Encoders.product[UserFunnel]).toDF()
  }

  /** Streaming twin of `SlidingWindows.featurizeByIndex` via
    * `flatMapGroupsWithState`: windows form continuously as a series
    * streams in, with custom state carrying ONLY the last
    * history+pred−1 values across micro-batch boundaries (the seam) —
    * bounded state, append-mode output, each window emitted exactly once.
    * The series must arrive in index order per key (the replay /
    * partition-per-series ingest shape; the reference's W1 is a batch
    * array, so in-order is its natural streaming analogue). One state
    * group per series — parallel across series. */
  def statefulFeaturize(events: DataFrame, history: Int, pred: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    val span = history + pred
    val rowsEnc = Encoders.row(new StructType()
      .add("series", LongType).add("idx", LongType).add("v", DoubleType))
    val byKey = events
      .select(lit(0L).as("series"), col("event_id").as("idx"),
        col("value").cast("double").as("v"))
      .as(rowsEnc)
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    byKey.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (_: Long, rows: Iterator[Row],
       state: org.apache.spark.sql.streaming.GroupState[FeaturizeBuffer]) => {
        val batch = rows.map(r => (r.getLong(1), r.getDouble(2))).toArray.sortBy(_._1)
        val prior = state.getOption.getOrElse(
          FeaturizeBuffer(if (batch.isEmpty) 0L else batch.head._1, Seq.empty))
        // Enforce the documented in-order contract instead of assuming it:
        // a gap or out-of-order micro-batch would otherwise silently emit
        // windows mixing non-adjacent values under misaligned win_ids.
        if (batch.nonEmpty) {
          val expectedHead = prior.headIdx + prior.values.length
          if (state.exists && batch.head._1 != expectedHead)
            throw new IllegalStateException(
              s"statefulFeaturize: batch starts at idx ${batch.head._1}, " +
                s"expected $expectedHead — input is gapped or out of order")
          var i = 1
          while (i < batch.length) {
            if (batch(i)._1 != batch(i - 1)._1 + 1)
              throw new IllegalStateException(
                s"statefulFeaturize: non-consecutive indices " +
                  s"${batch(i - 1)._1} -> ${batch(i)._1} within a micro-batch")
            i += 1
          }
        }
        val buf = prior.values.toArray ++ batch.map(_._2)
        val head = prior.headIdx
        val nWindows = math.max(0, buf.length - span + 1)
        val out = (0 until nWindows).iterator.map { i =>
          FeaturizedWindow(head + i,
            buf.slice(i, i + history).toSeq,
            buf.slice(i + history, i + span).toSeq)
        }
        val keep = math.min(span - 1, buf.length)
        state.update(FeaturizeBuffer(head + buf.length - keep,
          buf.takeRight(keep).toSeq))
        out
      })(Encoders.product[FeaturizeBuffer], Encoders.product[FeaturizedWindow])
      .toDF()
  }

  /** Stream-stream interval join — the streaming twin of the batch
    * `Joins.rangeJoin` attribution query (q47): clicks join same-user
    * purchases whose [p_ts, p_ts + windowMinutes] window contains them.
    * Both sides carry event-time watermarks, and the join condition bounds
    * event-time distance, so Spark's state store evicts rows as watermarks
    * advance — bounded state on an unbounded stream, append-mode output,
    * each matched pair emitted exactly once. (Batch rangeJoin bounds the
    * join by bucketized time cells; the streaming form bounds it by the
    * same window in the join condition — same pairs, dual mechanisms.) */
  def attributionJoin(events: DataFrame, windowMinutes: Int = 30,
                      watermarkDelay: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      .withWatermark("ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    clicks.join(purchases,
        expr(s"""user_id = p_user_id AND
                 ts >= p_ts AND ts <= p_ts + INTERVAL $windowMinutes MINUTES"""))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("p_ts"))).as("dt_us"))
  }

  /** Run a streaming query to completion against the (static) fixture dir
    * via the memory sink — the batch-parity harness used by tests: process
    * all available input, return the materialized result. */
  /** Streaming twin of [[graft.operators.TimeSeries.gapFill]] via
    * `flatMapGroupsWithState`: per series the state is the OPEN bucket's
    * running (n, Σv) — fixed size, never the events. A bucket is emitted
    * when a LATER bucket's first event closes it; the gap buckets between
    * them are emitted at the same moment, `filled = 1`, carrying the
    * just-closed bucket's rounded sum — exactly the batch operator's
    * forward fill, which by construction carries the most recently
    * OBSERVED bucket's value. The perpetually-open last bucket is never
    * emitted (a stream has no "max bucket"); replaying a closed stream
    * therefore equals the batch gapFill minus each series' final row.
    *
    * Rounding mirrors the batch side bit-for-bit: Spark's `round(x, 2)` on
    * doubles is `BigDecimal.decimal(x).setScale(2, HALF_UP)` — the same
    * expression used here, so a filled row's carried value is identical to
    * the batch fill (the per-bucket SUM itself folds in ts order, which
    * can differ from the aggregate's order in final ulps; the 2-dp round
    * resolves it for any realistically-scaled values, and the parity spec
    * pins it on the real fixture).
    *
    * In-order contract (the [[statefulFeaturize]] shape): per-series
    * non-decreasing bucket across and within micro-batches — an event for
    * an already-closed bucket fails loudly rather than silently
    * double-emitting. */
  def statefulGapFill(events: DataFrame, bucketSeconds: Long = 3600L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    val schema = new StructType()
      .add("series_id", LongType).add("ts_s", LongType).add("value", DoubleType)
    def round2(x: Double): Double =
      BigDecimal.decimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byKey = events
      .select(col("user_id").cast("long").as("series_id"),
        col("ts").cast("long").as("ts_s"), col("value").cast("double").as("value"))
      .as(Encoders.row(schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    byKey.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (key: Long, rows: Iterator[Row],
       state: org.apache.spark.sql.streaming.GroupState[GapFillState]) => {
        val batch = rows.map(r => (r.getLong(1), r.getDouble(2)))
          .toArray.sortBy(_._1)
        var st = state.getOption.getOrElse(GapFillState(Long.MinValue, 0L, 0.0))
        val out = scala.collection.mutable.ArrayBuffer.empty[GapRow]
        batch.foreach { case (tsS, v) =>
          val b = Math.floorDiv(tsS, bucketSeconds)
          if (st.openBucket == Long.MinValue) {
            st = GapFillState(b, 0L, 0.0)
          } else if (b < st.openBucket) {
            throw new IllegalStateException(
              s"out-of-order event for series $key: bucket $b after ${st.openBucket}")
          } else if (b > st.openBucket) {
            val vs = round2(st.sum)
            out += GapRow(key, st.openBucket, st.n, 0L, vs)
            var g = st.openBucket + 1
            while (g < b) { out += GapRow(key, g, 0L, 1L, vs); g += 1 }
            st = GapFillState(b, 0L, 0.0)
          }
          st = st.copy(n = st.n + 1, sum = st.sum + v)
        }
        state.update(st)
        out.iterator
      })(Encoders.product[GapFillState], Encoders.product[GapRow]).toDF()
  }

  /** Streaming twin of `TimeSeries.ewma(TimeSeries.gapFill(...))` — the
    * [[statefulGapFill]] state machine carrying the running smoother: when
    * a bucket closes, its rounded sum x updates y (y₁ = x₁, then
    * y = α·x + (1−α)·y) and the (bucket, x, y) row is emitted; gap buckets
    * re-feed the carried x, exactly like the batch fill feeds the batch
    * fold. The per-step arithmetic is the identical product/sum order, so
    * on a closed stream the rows equal the batch composition bit-for-bit
    * (minus each series' perpetually-open final bucket). Same in-order
    * contract as [[statefulGapFill]]. */
  def statefulEwma(events: DataFrame, bucketSeconds: Long = 3600L,
                   alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    val beta = 1.0 - alpha
    val schema = new StructType()
      .add("series_id", LongType).add("ts_s", LongType).add("value", DoubleType)
    def round2(x: Double): Double =
      BigDecimal.decimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byKey = events
      .select(col("user_id").cast("long").as("series_id"),
        col("ts").cast("long").as("ts_s"), col("value").cast("double").as("value"))
      .as(Encoders.row(schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    byKey.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (key: Long, rows: Iterator[Row],
       state: org.apache.spark.sql.streaming.GroupState[EwmaState]) => {
        val batch = rows.map(r => (r.getLong(1), r.getDouble(2)))
          .toArray.sortBy(_._1)
        var st = state.getOption.getOrElse(
          EwmaState(Long.MinValue, 0L, 0.0, 0.0, hasY = false))
        val out = scala.collection.mutable.ArrayBuffer.empty[EwmaRow]
        def step(x: Double): Double = {
          val y = if (!st.hasY) x else alpha * x + beta * st.y
          st = st.copy(y = y, hasY = true)
          y
        }
        batch.foreach { case (tsS, v) =>
          val b = Math.floorDiv(tsS, bucketSeconds)
          if (st.openBucket == Long.MinValue) {
            st = st.copy(openBucket = b, n = 0L, sum = 0.0)
          } else if (b < st.openBucket) {
            throw new IllegalStateException(
              s"out-of-order event for series $key: bucket $b after ${st.openBucket}")
          } else if (b > st.openBucket) {
            val x = round2(st.sum)
            out += EwmaRow(key, st.openBucket, x, step(x))
            var g = st.openBucket + 1
            while (g < b) { out += EwmaRow(key, g, x, step(x)); g += 1 }
            st = st.copy(openBucket = b, n = 0L, sum = 0.0)
          }
          st = st.copy(n = st.n + 1, sum = st.sum + v)
        }
        state.update(st)
        out.iterator
      })(Encoders.product[EwmaState], Encoders.product[EwmaRow]).toDF()
  }

  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  outputMode: String = "append"): DataFrame = {
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Streaming twin of [[graft.operators.Compaction.latestByKey]]: a
    * continuously arriving change stream keeps per-key CURRENT state via
    * `mapGroupsWithState` — state = the (version…, payload) of the
    * newest row seen so far (one tiny tuple per key, not history), each
    * trigger emitting the key's refreshed state (update output mode).
    * Version order = (ts_us, seq) lexicographic, the same total order
    * the batch operator uses, so replaying a closed stream yields
    * exactly the batch compaction. */
  def streamingLatestState(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoders, Row}
    val schema = new StructType()
      .add("key", StringType).add("ts_us", LongType)
      .add("seq", LongType).add("value", DoubleType)
    val stateEnc = Encoders.product[LatestState]
    val byKey = changes
      .select(col("key").cast("string"), col("ts_us").cast("long"),
        col("seq").cast("long"), col("value").cast("double"))
      // NULL version/value rows (e.g. malformed tombstones) are dropped
      // rather than NPE-ing the whole query — the quarantine stance the
      // decode path takes; route them to a dead-letter sink upstream
      .filter(col("key").isNotNull && col("ts_us").isNotNull &&
        col("seq").isNotNull && col("value").isNotNull)
      .as(Encoders.row(schema))
      .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
    byKey.mapGroupsWithState(GroupStateTimeout.NoTimeout)(
      (key: String, rows: Iterator[Row],
       state: org.apache.spark.sql.streaming.GroupState[LatestState]) => {
        // seed from the first row, not a sentinel: a sentinel's MinValue
        // fields would lose the strictly-greater test to a row that
        // legitimately carries MinValue and then emit a bogus "" key
        var st = state.getOption.orNull
        rows.foreach { r =>
          val (t, q, v) = (r.getLong(1), r.getLong(2), r.getDouble(3))
          if (st == null || t > st.ts_us || (t == st.ts_us && q > st.seq))
            st = LatestState(key, t, q, v)
        }
        state.update(st) // groups are only invoked with >= 1 row
        st
      })(stateEnc, stateEnc).toDF()
  }
}
