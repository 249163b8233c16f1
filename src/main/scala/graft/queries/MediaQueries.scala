package graft.queries

import graft.Tables
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Media round-trip gates: audio (WAV, AIFF, FLAC, MP3, AAC) and image
  * (PGM, PNG, JPEG, MP4) codecs, perceptual and audio fingerprint dedup. */
object MediaQueries {

  /** Multimodal round-trip gate: per user, quantize the event-value series
    * to 16-bit PCM, ENCODE it as a real WAV payload, DECODE it back with
    * the byte-level WavPcmDecoder, and emit exact integer sample stats
    * (n, Σq, Σq², max q — order-independent, no fp). The oracle recomputes
    * the same stats from the raw table, so any defect in the RIFF
    * encode/parse/sample arithmetic breaks the hash equality — the decode
    * plumbing becomes driver-checked, not just unit-tested. */
  def q52WavRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // clamp BOTH ends: an unclamped negative would wrap in toShort while the
    // oracle sums the unwrapped value — latent hash break on new fixtures
    val q = greatest(least(floor(col("value") * 60), lit(32767L)), lit(-32768L))
      .cast("int")
    Tables.events(s, d)
      .select(col("user_id"), q.as("q"))
      .groupBy("user_id").agg(collect_list("q").as("qs"))
      // the decode stage is CPU-bound PER ROW, not per byte: the grouped
      // frame is only a few MB, so AQE would coalesce the exchange to 1-2
      // partitions and run the codec nearly single-threaded (measured 28x
      // instead of 10x at a 10x scale-up). An EXPLICIT partition count is
      // exempt from AQE coalescing — spread the groups across the cores.
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[Int])]
      .map { case (u, qs) =>
        val wav = Multimodal.encodeWavPcm(16000, qs.map(_.toShort).toArray)
        val (n, sq, sq2, pk) = new Multimodal.WavPcmDecoder().rawStats(wav)
        (u, n, sq, sq2, pk)
      }
      .toDF("user_id", "n_samples", "sum_q", "sum_q2", "peak_q")
      .orderBy("user_id")
  }

  // WAV round-trip: the Spark side encodes each user's quantized values as
  // a real WAV payload and decodes it back byte-by-byte; the stats are
  // exact integers, so this replay from the raw table catches any
  // encode/parse defect.
  def q52Sql = """
    WITH s AS (SELECT user_id,
                      CAST(GREATEST(LEAST(floor(value * 60), 32767), -32768) AS BIGINT) AS q
               FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(q * q) AS BIGINT) AS sum_q2,
           CAST(max(q) AS BIGINT) AS peak_q
    FROM s GROUP BY user_id ORDER BY user_id"""

  /** PGM image round-trip gate — q52's image twin: per user, quantize the
    * event-value series (ordered by event_id) to 8-bit gray, ENCODE it as a
    * real binary-PGM payload, byte-DECODE it back, nearest-neighbor RESIZE
    * to width 7, and emit exact integer pixel stats of both images. The
    * oracle replays everything from the raw table — including the resize's
    * source-index arithmetic (`sx = x·w/ow`, integer division) via list
    * indexing — so any defect in the header encode/parse, pixel layout, or
    * resize mapping breaks the hash equality. */
  def q53PgmRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = greatest(least(floor(col("value")), lit(255L)), lit(0L)).cast("int")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), p.as("p"))
      .groupBy("user_id")
      // sort_array over (event_id, p) structs: deterministic pixel order
      // (event_id is unique) without a global sort
      .agg(sort_array(collect_list(struct(col("event_id"), col("p")))).as("px"))
      // per-row-CPU-bound decode stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[(Long, Int)])]
      .map { case (u, px) =>
        val pixels = px.map(_._2).toArray
        val w = pixels.length
        val img = Multimodal.encodePgm(w, 1, pixels)
        val dec = new Multimodal.PgmDecoder()
        val (n, sp, sp2, mx) = dec.rawStats(img)
        val ow = math.min(w, 7)
        val (rn, rsp, _, _) = dec.rawStats(dec.resize(img, ow, 1))
        (u, n, sp, sp2, mx, rn, rsp)
      }
      .toDF("user_id", "n_px", "sum_p", "sum_p2", "max_p",
        "n_resized", "sum_resized")
      .orderBy("user_id")
  }

  // PGM round-trip: replays the quantize → encode → decode → resize chain
  // from the raw table; the resize is replayed through the SAME integer
  // source-index arithmetic (sx = x*w/ow) via 1-based list indexing.
  def q53Sql = """
    WITH s AS (SELECT user_id, event_id,
                      CAST(GREATEST(LEAST(floor(value), 255), 0) AS BIGINT) AS p
               FROM events),
    g AS (SELECT user_id, list(p ORDER BY event_id) AS ps FROM s GROUP BY user_id)
    SELECT user_id,
           CAST(len(ps) AS BIGINT) AS n_px,
           CAST(list_sum(ps) AS BIGINT) AS sum_p,
           CAST(list_sum(list_transform(ps, p -> p * p)) AS BIGINT) AS sum_p2,
           CAST(list_max(ps) AS BIGINT) AS max_p,
           CAST(LEAST(len(ps), 7) AS BIGINT) AS n_resized,
           CAST(list_sum(list_transform(range(LEAST(len(ps), 7)),
                x -> ps[(x * len(ps) // LEAST(len(ps), 7)) + 1])) AS BIGINT) AS sum_resized
    FROM g ORDER BY user_id"""

  /** COMPRESSED-image round-trip gate — q53's twin through a REAL codec:
    * per user, quantize the event-value series (ordered by event_id) to
    * 8-bit gray, ENCODE it as an actual PNG (JDK ImageIO writer — deflate
    * compression), DECODE it back with [[Multimodal.ImageIoDecoder]], and
    * emit exact integer pixel stats. PNG is lossless, so the oracle replays
    * the stats from the raw table and any defect in the codec plumbing,
    * the gray-raster read path, or the luma arithmetic breaks the hash
    * equality. `jpeg_ok` additionally routes the SAME pixels through the
    * lossy JPEG writer at an EXPLICIT quality 0.9 (ImageWriteParam pin —
    * not the vendor-specific default) and gates dims-exact +
    * mean-within-4-gray-levels (DCT DC quantization at 0.9 moves a block
    * mean well under one gray level; 4 leaves margin), pinned to 1 in
    * the oracle — so the JPEG read path is data-verified too. */
  def q55PngRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = greatest(least(floor(col("value")), lit(255L)), lit(0L)).cast("int")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), p.as("p"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_id"), col("p")))).as("px"))
      // per-row-CPU-bound decode stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[(Long, Int)])]
      .map { case (u, px) =>
        val pixels = px.map(_._2).toArray
        val w = pixels.length
        val dec = new Multimodal.ImageIoDecoder()
        val (n, sp, sp2, mx) = dec.rawStats(Multimodal.encodeImage(w, 1, pixels, "png"))
        val jf = dec.decode("jpeg", Multimodal.encodeJpeg(w, 1, pixels))
        val jpegOk = jf(0) == w.toFloat && jf(1) == 1.0f &&
          math.abs(jf(2) * 255.0 - sp.toDouble / n) <= 4.0
        (u, n, sp, sp2, mx, if (jpegOk) 1L else 0L)
      }
      .toDF("user_id", "n_px", "sum_p", "sum_p2", "max_p", "jpeg_ok")
      .orderBy("user_id")
  }

  // PNG round-trip: PNG is lossless, so the exact integer stats survive a
  // REAL deflate encode/decode and replay straight from the raw table; the
  // jpeg_ok gate flag is Spark-side (lossy path, dims + bounded mean),
  // pinned to 1 here.
  def q55Sql = """
    WITH s AS (SELECT user_id,
                      CAST(GREATEST(LEAST(floor(value), 255), 0) AS BIGINT) AS p
               FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(p) AS BIGINT) AS sum_p,
           CAST(sum(p * p) AS BIGINT) AS sum_p2,
           CAST(max(p) AS BIGINT) AS max_p,
           CAST(1 AS BIGINT) AS jpeg_ok
    FROM s GROUP BY user_id ORDER BY user_id"""

  /** AIFF round-trip gate — q52's twin through the JDK's audio provider
    * chain: per user, quantize the event-value series to 16-bit PCM,
    * ENCODE it as a real big-endian AIFF via `javax.sound.sampled`, DECODE
    * it back with [[Multimodal.AudioSystemDecoder]] (container parse +
    * endianness conversion through the JRE's own codecs), and emit exact
    * integer sample stats. The oracle replays them from the raw table —
    * identical SQL to q52, so the two gates differ ONLY in which codec
    * stack produced the numbers. */
  def q56AiffRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = greatest(least(floor(col("value") * 60), lit(32767L)), lit(-32768L))
      .cast("int")
    Tables.events(s, d)
      .select(col("user_id"), q.as("q"))
      .groupBy("user_id").agg(collect_list("q").as("qs"))
      // per-row-CPU-bound decode stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[Int])]
      .map { case (u, qs) =>
        val aiff = Multimodal.encodeAudio(16000, qs.map(_.toShort).toArray, "AIFF")
        val (n, sq, sq2, pk) = new Multimodal.AudioSystemDecoder().rawStats(aiff)
        (u, n, sq, sq2, pk)
      }
      .toDF("user_id", "n_samples", "sum_q", "sum_q2", "peak_q")
      .orderBy("user_id")
  }

  // AIFF round-trip: same replay as q52 — the Spark side produced the stats
  // through the JDK audio provider chain instead of the byte-walk decoder.
  def q56Sql = """
    WITH s AS (SELECT user_id,
                      CAST(GREATEST(LEAST(floor(value * 60), 32767), -32768) AS BIGINT) AS q
               FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(q * q) AS BIGINT) AS sum_q2,
           CAST(max(q) AS BIGINT) AS peak_q
    FROM s GROUP BY user_id ORDER BY user_id"""

  /** MP3 metadata round-trip gate — media triage WITHOUT decode: per user,
    * derive a per-event (bitrate-index, padding) frame spec, ENCODE a
    * structurally-valid MPEG-1 Layer III stream (real header layout +
    * ID3v2 prefix), WALK it back with [[Multimodal.Mp3HeaderDecoder]], and
    * emit exact integer stream stats (frames, Σkbps, Σframe-bytes,
    * duration-ms). The oracle replays the public frame-length arithmetic
    * (`144000·kbps/44100 + pad`) from the raw table via the bitrate lookup
    * table, so any defect in the header encode, the sync walk, the table
    * indexing, or the ID3 skip breaks the hash equality. This is the
    * 100 TB first-stage shape: filter/route compressed media by metadata
    * before paying for sample decode. */
  def q58Mp3Metadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        (pmod(col("event_id"), lit(14)) + 1).cast("int").as("bi"),
        pmod(col("event_id"), lit(2)).cast("int").as("pad"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_id"), col("bi"),
        col("pad")))).as("fs"))
      .as[(Long, Seq[(Long, Int, Int)])]
      .mapPartitions { it =>
        val dec = new Multimodal.Mp3HeaderDecoder() // amortized per partition
        it.map { case (u, fs) =>
          val spec = fs.map(f => (f._2, f._3)).toArray
          val mp3 = Multimodal.encodeMp3Frames(spec)
          val (frames, sumKbps, sumBytes, samples, sr) = dec.walk(mp3)
          // O(1)-duration branch: the SAME stream re-encoded with a leading
          // Xing TOC frame, read back via vbrInfo ALONE (no walk) — the
          // recovered audio frame/byte counts must replay the identical
          // per-frame arithmetic the oracle computes from the raw table
          val (xf, xb) = dec.vbrInfo(
            Multimodal.encodeMp3Frames(spec, xingHeader = true))
            .getOrElse((-1L, -1L))
          // SAMPLE-decode second stage (round 9): a real Layer III stream
          // (1 + u%3 frames of silence at this user's bitrate index) runs
          // the FULL graft.operators.Mp3 decode chain — header, side info,
          // Huffman, requantize, IMDCT, polyphase synthesis. Silence is
          // exactly linear-zero through every stage, so the decoded sample
          // count AND the absolute sample sum are integer-replayable.
          val nsil = (1 + u % 3).toInt
          val silent = Mp3.decode(
            Mp3.encodeMono(
              new Array[Double](nsil * 1152), (1 + u % 14).toInt))
          var absSum = 0L
          val s16 = silent.mixedS16
          var si = 0
          while (si < s16.length) { absSum += math.abs(s16(si).toLong); si += 1 }
          (u, frames, sumKbps, sumBytes, samples * 1000L / sr,
            xf, xb, xf * 1152L * 1000L / 44100L, silent.frames.toLong, absSum)
        }
      }
      .toDF("user_id", "n_frames", "sum_kbps", "sum_bytes", "dur_ms",
        "xing_frames", "xing_bytes", "xing_dur_ms", "dec_n", "dec_abs_sum")
      .orderBy("user_id")
  }

  // MP3 metadata round-trip: replays the MPEG-1 Layer III frame-length
  // arithmetic (144000*kbps/44100 + padding, kbps via the public bitrate
  // table) from the raw table — the Spark side produced the same numbers by
  // encoding real frame headers and sync-walking them back.
  def q58Sql = """
    WITH s AS (SELECT user_id,
                      (event_id % 14) + 1 AS bi,
                      event_id % 2 AS pad
               FROM events),
    f AS (SELECT user_id,
                 [32,40,48,56,64,80,96,112,128,160,192,224,256,320][bi] AS kbps,
                 pad
          FROM s)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(kbps) AS BIGINT) AS sum_kbps,
           CAST(sum(144000 * kbps // 44100 + pad) AS BIGINT) AS sum_bytes,
           CAST(count(*) * 1152 * 1000 // 44100 AS BIGINT) AS dur_ms,
           CAST(count(*) AS BIGINT) AS xing_frames,
           CAST(sum(144000 * kbps // 44100 + pad) AS BIGINT) AS xing_bytes,
           CAST(count(*) * 1152 * 1000 // 44100 AS BIGINT) AS xing_dur_ms,
           CAST((1 + user_id % 3) * 1152 AS BIGINT) AS dec_n,
           CAST(0 AS BIGINT) AS dec_abs_sum
    FROM f GROUP BY user_id ORDER BY user_id"""

  /** MP4 metadata round-trip gate — q58's video twin: per user, derive
    * movie duration from the event values (timescale 600 — the ISO-BMFF
    * default) and track dims from the user id, ENCODE a valid ISO-BMFF box
    * tree, WALK it back with [[Multimodal.Mp4BoxDecoder]], and emit the
    * recovered metadata (duration units, integer milliseconds, video dims,
    * codec list). The oracle replays the derivations from the raw table,
    * so any defect in the box encode, the recursive walk, the 16.16
    * fixed-point dims, or the stsd entry scan breaks the hash equality.
    * h264/aac SAMPLE decode stays stubbed (needs a codec); container
    * triage — what a 100 TB pipeline filters on — does not. */
  def q59Mp4Metadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val du = greatest(least(floor(col("value") * 100), lit(100000L)), lit(0L))
    Tables.events(s, d)
      .groupBy("user_id").agg(sum(du.cast("long")).as("dur_units"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val dec = new Multimodal.Mp4BoxDecoder() // amortized per partition
        it.map { case (u, dur) =>
          val tracks = Seq(
            ((16 + u % 1904).toInt, (16 + u % 1064).toInt, "avc1"),
            (0, 0, "mp4a"))
          // per-track sample tables: 90 kHz video at delta 3000 (30 fps),
          // 48 kHz audio at delta 1024 (AAC frame), uniform sizes derived
          // from the user id — all integer math the oracle replays
          val vN = dur * 150L / 3000L
          val aN = dur * 80L / 1024L
          val tables = Seq((90000L, 3000L, vN, 1000L + u % 5000L),
            (48000L, 1024L, aN, 128L + u % 100L))
          val m = dec.walk(Multimodal.encodeMp4Meta(600L, dur, tracks, tables))
          // stts/stsz-derived per-track rates — frame counts, byte totals,
          // and the video bitrate straight from the recovered tables
          val vKbps =
            if (m.trackDurUnits.head > 0)
              m.trackBytes.head * 8L * m.trackTimescales.head /
                m.trackDurUnits.head / 1000L
            else 0L
          (u, m.duration, m.duration * 1000L / m.timescale, m.nTracks.toLong,
            m.videoW, m.videoH, m.codecs.mkString(","),
            m.trackSamples.head, m.trackBytes.head, vKbps,
            m.trackSamples(1), m.trackBytes(1))
        }
      }
      .toDF("user_id", "dur_units", "dur_ms", "n_tracks", "video_w",
        "video_h", "codecs", "v_samples", "v_bytes", "v_kbps",
        "a_samples", "a_bytes")
      .orderBy("user_id")
  }

  // MP4 metadata round-trip: replays the duration/dims derivations from the
  // raw table — the Spark side carried the same numbers through a real
  // ISO-BMFF box tree (mvhd/tkhd 16.16 fixed point/stsd fourccs) and back.
  def q59Sql = """
    WITH s AS (SELECT user_id,
                      CAST(sum(CAST(GREATEST(LEAST(floor(value * 100), 100000), 0) AS BIGINT)) AS BIGINT) AS du
               FROM events GROUP BY user_id)
    SELECT user_id, du AS dur_units,
           CAST(du * 1000 // 600 AS BIGINT) AS dur_ms,
           CAST(2 AS BIGINT) AS n_tracks,
           CAST(16 + user_id % 1904 AS BIGINT) AS video_w,
           CAST(16 + user_id % 1064 AS BIGINT) AS video_h,
           'avc1,mp4a' AS codecs,
           CAST(du * 150 // 3000 AS BIGINT) AS v_samples,
           CAST((du * 150 // 3000) * (1000 + user_id % 5000) AS BIGINT) AS v_bytes,
           CAST(CASE WHEN du * 150 // 3000 > 0
                THEN (du * 150 // 3000) * (1000 + user_id % 5000) * 8 * 90000
                     // ((du * 150 // 3000) * 3000) // 1000
                ELSE 0 END AS BIGINT) AS v_kbps,
           CAST(du * 80 // 1024 AS BIGINT) AS a_samples,
           CAST((du * 80 // 1024) * (128 + user_id % 100) AS BIGINT) AS a_bytes
    FROM s ORDER BY user_id"""

  /** Perceptual-hash image dedup ([[Multimodal.PgmDecoder.aHash64]] +
    * [[Dedup.hammingNearDupPairs]]): 8×8 grayscale images synthesized per
    * supplier from lineitem prices (real PGM binaries through the real
    * encode → decode → hash path), PLANTED near-dups as +4-brightness
    * copies (aHash is brightness-shift robust, so twins land at small
    * Hamming distance), MIH-blocked pairing at radius 4. The oracle
    * replays pixels, integer mean, per-bit threshold, and ALL-PAIRS
    * Hamming from the raw table — a defect in the encoder, decoder, hash
    * packing, or blocking recall breaks row/hash equality. */
  def q93ImagePhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val px = pmod(floor(col("l_extendedprice")).cast("long"), lit(256L)).cast("int")
    val imgs = Tables.lineitem(s, d)
      .select(col("l_suppkey"), struct(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), px.as("px")).as("r"))
      .groupBy("l_suppkey").agg(sort_array(collect_list(col("r"))).as("rs"))
      .filter(size(col("rs")) >= 64)
      .select(col("l_suppkey").as("img_id"),
        transform(slice(col("rs"), 1, 64), r => r.getField("px")).as("ps"))
    val withTwins = imgs.unionByName(
      imgs.filter(col("img_id") % 4 === 0)
        .select((col("img_id") + 100000L).as("img_id"),
          transform(col("ps"), p => least(p + 4, lit(255))).as("ps")))
    val hashed = withTwins
      .repartition(s.sparkContext.defaultParallelism, col("img_id"))
      .as[(Long, Seq[Int])]
      .flatMap { case (imgId, ps) =>
        val img = Multimodal.encodePgm(8, 8, ps.toArray)
        // triage gates the hash path (q175's router): only routed blobs
        // reach the decoder — all fixture blobs are valid P5, so the
        // gate is semantics-preserving here and load-bearing on a real
        // corpus (bad magic/truncation costs a header peek, not decode)
        if (Multimodal.imageTriage(img).route == "decode")
          Some((imgId, new Multimodal.PgmDecoder().aHash64(img)))
        else None
      }.toDF("doc_id", "sh")
    Dedup.hammingNearDupPairs(hashed, maxHamming = 4)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // Perceptual-hash image dedup, FULL replay from the raw table: pixel
  // synthesis, twin planting, integer-mean aHash bits, and ALL-PAIRS
  // Hamming at radius 4 (the Spark side uses MIH blocking — a recall miss
  // drops a row and breaks the hash).
  def q93Sql = """
    WITH px AS (SELECT l_suppkey AS sk, l_orderkey AS o, l_linenumber AS ln,
                       l_partkey AS pk,
                       CAST(floor(l_extendedprice) AS BIGINT) % 256 AS p
                FROM lineitem),
    r AS (SELECT sk, p,
                 row_number() OVER (PARTITION BY sk ORDER BY o, ln, pk, p) AS rn
          FROM px),
    im AS (SELECT sk AS img, list(p ORDER BY rn) AS ps
           FROM r WHERE rn <= 64 GROUP BY sk HAVING count(*) = 64),
    tw AS (SELECT img + 100000 AS img,
                  list_transform(ps, x -> least(x + 4, 255)) AS ps
           FROM im WHERE img % 4 = 0),
    ai AS (SELECT * FROM im UNION ALL SELECT * FROM tw),
    h AS (SELECT img, list_transform(ps,
                   x -> CASE WHEN x > list_sum(ps) // 64 THEN 1 ELSE 0 END) AS bits
          FROM ai)
    SELECT a.img AS id_a, b.img AS id_b,
           CAST(len(list_filter(generate_series(1, 64),
                i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.img < b.img
    WHERE len(list_filter(generate_series(1, 64),
          i -> a.bits[i] <> b.bits[i])) <= 4
    ORDER BY id_a, id_b"""

  /** Audio fingerprint dedup ([[Multimodal.WavPcmDecoder.envelopeHash64]]
    * + [[Dedup.hammingNearDupPairs]]): mono PCM clips synthesized per
    * supplier from lineitem prices through the real WAV encode → decode
    * path, 33-window energy-envelope transition hash (integer Σq² — no
    * FP), PLANTED twins as ×2-amplitude copies (the hash is exactly
    * scale-invariant, so twins collide at Hamming 0), MIH pairing at
    * radius 2. Oracle replays samples, window energies, bits, and
    * all-pairs Hamming from the raw table. */
  def q95AudioFingerprintDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // signed samples in [-8000, 8000): x2 twins stay inside 16-bit range
    val q = (pmod(floor(col("l_extendedprice")).cast("long"), lit(16000L))
      - 8000L).cast("int")
    val clips = Tables.lineitem(s, d)
      .select(col("l_suppkey"), struct(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), q.as("q")).as("r"))
      .groupBy("l_suppkey").agg(sort_array(collect_list(col("r"))).as("rs"))
      .filter(size(col("rs")) >= 33)
      .select(col("l_suppkey").as("clip_id"),
        transform(col("rs"), r => r.getField("q")).as("qs"))
    val withTwins = clips.unionByName(
      clips.filter(col("clip_id") % 4 === 1)
        .select((col("clip_id") + 200000L).as("clip_id"),
          transform(col("qs"), x => x * 2).as("qs")))
    val hashed = withTwins
      .repartition(s.sparkContext.defaultParallelism, col("clip_id"))
      .as[(Long, Seq[Int])]
      .map { case (clipId, qs) =>
        val wav = Multimodal.encodeWavPcm(16000, qs.map(_.toShort).toArray)
        (clipId, new Multimodal.WavPcmDecoder().envelopeHash64(wav))
      }.toDF("doc_id", "sh")
    Dedup.hammingNearDupPairs(hashed, maxHamming = 2)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // Audio envelope-fingerprint dedup, FULL replay: samples, integer window
  // energies, transition bits, and ALL-PAIRS Hamming at radius 2.
  def q95Sql = """
    WITH px AS (SELECT l_suppkey AS sk, l_orderkey AS o, l_linenumber AS ln,
                       l_partkey AS pk,
                       CAST(floor(l_extendedprice) AS BIGINT) % 16000 - 8000 AS q
                FROM lineitem),
    r AS (SELECT sk, q,
                 row_number() OVER (PARTITION BY sk ORDER BY o, ln, pk, q) AS rn
          FROM px),
    cl AS (SELECT sk AS clip, list(q ORDER BY rn) AS qs
           FROM r GROUP BY sk HAVING count(*) >= 33),
    tw AS (SELECT clip + 200000 AS clip, list_transform(qs, x -> x * 2) AS qs
           FROM cl WHERE clip % 4 = 1),
    ac AS (SELECT * FROM cl UNION ALL SELECT * FROM tw),
    en AS (SELECT clip, list_transform(generate_series(0, 32),
                    k -> list_sum(list_transform(
                      qs[(k * (len(qs) // 33) + 1):(k * (len(qs) // 33) + (len(qs) // 33))],
                      x -> x * x))) AS e
           FROM ac),
    h AS (SELECT clip, list_transform(generate_series(1, 32),
                   i -> CASE WHEN e[i + 1] > e[i] THEN 1 ELSE 0 END) AS bits
          FROM en)
    SELECT a.clip AS id_a, b.clip AS id_b,
           CAST(len(list_filter(generate_series(1, 32),
                i -> a.bits[i] <> b.bits[i])) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.clip < b.clip
    WHERE len(list_filter(generate_series(1, 32),
          i -> a.bits[i] <> b.bits[i])) <= 2
    ORDER BY id_a, id_b"""

  /** Compressed-audio round-trip gate — q52's FLAC sibling: per user,
    * quantize the event-value series to 16-bit PCM, ENCODE it as a real
    * FLAC stream ([[Flac.encode]]: fixed predictors, Rice partitions,
    * CONSTANT/VERBATIM fallbacks), DECODE it back through the
    * spec-complete [[Flac.decode]] (CRC-8 + CRC-16 enforced, in-band MD5
    * re-verified), and emit exact integer sample stats. FLAC is LOSSLESS,
    * so the oracle replays the stats from the raw table exactly like q52 —
    * any defect anywhere in the codec (bit I/O, predictor, Rice coding,
    * CRC, MD5) breaks the hash equality. `flac_ok` additionally pins
    * elementwise decoded==input and the MD5 verdict Spark-side (the oracle
    * pins 1): losslessness proven sample-for-sample, not just via
    * order-independent sums. */
  def q107FlacRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = greatest(least(floor(col("value") * 60), lit(32767L)), lit(-32768L))
      .cast("int")
    Tables.events(s, d)
      .select(col("user_id"), q.as("q"))
      .groupBy("user_id").agg(collect_list("q").as("qs"))
      // per-row-CPU-bound codec stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[Int])]
      .map { case (u, qs) =>
        val pcm = qs.toArray
        val flac = Flac.encode(16000, Array(pcm), 16, 4096)
        val a = Flac.decode(flac)
        val ok = a.md5Ok && a.channels.length == 1 &&
          java.util.Arrays.equals(a.channels(0), pcm)
        val (n, sq, sq2, pk) = Flac.rawStats(flac)
        (u, n, sq, sq2, pk, if (ok) 1L else 0L)
      }
      .toDF("user_id", "n_samples", "sum_q", "sum_q2", "peak_q", "flac_ok")
      .orderBy("user_id")
  }

  // FLAC round-trip: identical replay to q52 — FLAC is lossless, so the
  // Spark side's encode → spec-complete decode (CRCs + in-band MD5
  // verified) must reproduce the source samples exactly; flac_ok pins the
  // Spark-side elementwise decoded==input and MD5 verdicts.
  def q107Sql = """
    WITH s AS (SELECT user_id,
                      CAST(GREATEST(LEAST(floor(value * 60), 32767), -32768) AS BIGINT) AS q
               FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(q * q) AS BIGINT) AS sum_q2,
           CAST(max(q) AS BIGINT) AS peak_q,
           CAST(1 AS BIGINT) AS flac_ok
    FROM s GROUP BY user_id ORDER BY user_id"""

  /** q139: audio fingerprint dedup over COMPRESSED (Layer III) payloads —
    * q95's lossy twin, proving [[Mp3]] sample decode feeds
    * [[Dedup.hammingNearDupPairs]] end to end. Per supplier, a 33-window
    * burst clip whose window amplitudes alternate MID(16) / EXTREME(30|2)
    * on the bits of a Knuth multiplicative hash of the supplier key, so
    * every one of the 32 energy-envelope transition bits is determined by
    * supplier arithmetic with huge margins (≥3.5× energy ratios — codec
    * smearing cannot flip them). The clip is ENCODED to a real MP3 stream,
    * SAMPLE-DECODED back, delay-trimmed, and fingerprinted with the same
    * integer construction as the WAV path. Planted twins are exact
    * ×2-amplitude copies: the quantizer's global_gain shifts by exactly 4
    * (2^(gg/4) step), making the quantized spectrum IDENTICAL, the decode
    * exactly 2× — so twins collide at Hamming 0 THROUGH the lossy codec.
    * Distinct suppliers differ in ≥2 bits (each hash bit drives two
    * transitions), so radius-1 MIH pairing emits exactly the planted
    * pairs. The oracle replays the pair list AND the 32-bit arithmetic
    * fingerprint (`ah_a`) from the supplier table. */
  def q139Mp3FingerprintDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").cast("long")).as[Long]
    // Scale guard: the planted-twin arithmetic uses only bits 0-15 of the
    // Knuth hash (keys congruent mod 65536 would collide at Hamming 0) and
    // the +200000 twin-id offset must not alias real supplier keys. TPC-H
    // supplier has 10k rows/SF, so this holds through ~sf6.5; fail loudly
    // beyond that rather than emit unplanned oracle-breaking pairs.
    val maxKey = sup.agg(max(col("s_suppkey"))).as[Long].head()
    require(maxKey < 65536L && maxKey < 200000L,
      s"q139 planted-twin fixture supports s_suppkey < 65536 (got max " +
        s"$maxKey); regenerate with a wider fingerprint for larger SF")
    val clips = sup.flatMap { k =>
      if (k % 4 == 1) Seq((k, 1.0), (k + 200000L, 2.0)) else Seq((k, 1.0))
    }
    val hashed = clips
      .repartition(s.sparkContext.defaultParallelism, col("_1"))
      .map { case (id, scale) =>
        val sk = if (id >= 200000L) id - 200000L else id
        val h = (sk * 2654435761L) & 0xFFFFFFFFL
        def amp(w: Int): Double =
          if (w % 2 == 0) 16.0
          else if (((h >> ((w - 1) / 2)) & 1L) == 1L) 30.0 else 2.0
        val freq = 500.0 + (sk % 5) * 400.0
        val n = 33 * 1152
        val x = new Array[Double](n + 1152) // one tail frame of silence
        var i = 0
        while (i < n) {
          x(i) = scale * (amp(i / 1152) / 100.0) *
            math.sin(2 * math.Pi * freq * i / 44100.0)
          i += 1
        }
        val dec = Mp3.decode(Mp3.encodeMono(x))
        val s16 = dec.mixedS16
        val trimmed = new Array[Short](n)
        System.arraycopy(s16, Mp3.CodecDelay, trimmed, 0, n)
        val mp3Hash = Multimodal.envelopeHashSamples(trimmed)
        // the arithmetic fingerprint the oracle replays: odd windows carry
        // hash bit j=(w-1)/2, even windows return to MID (inverted bit)
        var arith = 0L
        var w = 1
        while (w <= 32) {
          val bit = if (w % 2 == 1) (h >> ((w - 1) / 2)) & 1L
            else 1L - ((h >> ((w - 2) / 2)) & 1L)
          arith |= bit << (w - 1)
          w += 1
        }
        val ok = if (java.lang.Long.bitCount(mp3Hash ^ arith) <= 4) 1L else 0L
        (id, mp3Hash, arith, ok)
      }.toDF("doc_id", "sh", "ah", "ok")
    val pinned = CheckpointPolicy.pin(hashed)
    val flags = pinned.select(col("doc_id"), col("ah"), col("ok"))
    Dedup.hammingNearDupPairs(pinned.select("doc_id", "sh"), maxHamming = 1)
      .join(flags.select(col("doc_id").as("id_a"), col("ah").as("ah_a"),
        col("ok").as("a_ok")), "id_a")
      .join(flags.select(col("doc_id").as("id_b"), col("ok").as("b_ok")), "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"),
        col("ah_a"), col("a_ok"), col("b_ok"))
      .orderBy("id_a", "id_b")
  }

  /** q139: mp3 fingerprint dedup — the pair list and the 32-bit arithmetic
    * envelope fingerprint replayed from the supplier table. Planted twins
    * are ×2-amplitude copies (suppkey % 4 = 1, id + 200000) that collide
    * at Hamming 0 THROUGH the lossy codec (exact global_gain+4 linearity);
    * the Spark side's decode-derived pairing must emit exactly these rows,
    * and `ah_a` pins the Knuth-hash-driven transition bits: odd windows
    * carry hash bit (w-1)/2, even windows return to MID (inverted bit). */
  def q139Sql: String = """
    WITH t AS (SELECT CAST(s_suppkey AS BIGINT) AS s,
                      (CAST(s_suppkey AS BIGINT) * 2654435761) % 4294967296 AS h
               FROM supplier WHERE s_suppkey % 4 = 1),
    bits AS (SELECT s, w,
                    CASE WHEN w % 2 = 1 THEN (h >> CAST((w - 1) // 2 AS INT)) & 1
                         ELSE 1 - ((h >> CAST((w - 2) // 2 AS INT)) & 1) END AS b
             FROM t, (SELECT unnest(generate_series(1, 32)) AS w)),
    ah AS (SELECT s, CAST(sum(b * (1::BIGINT << CAST(w - 1 AS INT))) AS BIGINT) AS ah_a
           FROM bits GROUP BY s)
    SELECT s AS id_a,
           s + 200000 AS id_b,
           CAST(0 AS BIGINT) AS hamming,
           ah_a,
           CAST(1 AS BIGINT) AS a_ok,
           CAST(1 AS BIGINT) AS b_ok
    FROM ah ORDER BY id_a"""

  /** q154: ADTS/AAC metadata round-trip gate — q58's AAC twin, closing
    * the triage gap for the third major compressed-audio framing: per
    * user, derive a per-event (payload-bytes, CRC) frame spec and
    * per-user stream parameters (sampling-frequency index, channel
    * config) from the raw table, ENCODE a structurally-valid ADTS
    * stream ([[Multimodal.encodeAdtsFrames]] — real 7/9-byte headers +
    * ID3v2 prefix), WALK it back with
    * [[Multimodal.AdtsHeaderDecoder]], and emit exact integer stream
    * stats. The oracle replays the header-length arithmetic
    * (payload + 7/9 by the CRC flag), the sampling-rate table lookup,
    * the 1024-samples-per-frame duration, and the CRC-frame count from
    * the raw table — any defect in the header encode, the sync walk,
    * the 13-bit length split, or the ID3 skip breaks the hash. AAC
    * SAMPLE decode stays behind the [[graft.operators.DecoderProvider]]
    * SPI; triage — what a 100 TB pipeline filters and routes on — no
    * longer does. */
  def q154AdtsMetadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        (pmod(col("event_id"), lit(200)) + 50).cast("int").as("plen"),
        pmod(col("event_id"), lit(3)).cast("int").as("crcm"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_id"), col("plen"),
        col("crcm")))).as("fs"))
      .as[(Long, Seq[(Long, Int, Int)])]
      .mapPartitions { it =>
        val dec = new Multimodal.AdtsHeaderDecoder() // amortized per partition
        it.map { case (u, fs) =>
          val srIdx = (3 + u % 5).toInt // 48000/44100/32000/24000/22050
          val ch = (1 + u % 2).toInt
          val spec = fs.map(f => (f._2, if (f._3 == 0) 1 else 0)).toArray
          val m = dec.walk(Multimodal.encodeAdtsFrames(spec, srIdx, ch))
          (u, m.frames, m.samples, m.sampleRate.toLong, m.channels.toLong,
            m.profile.toLong, m.sumBytes, m.crcFrames,
            m.samples * 1000L / m.sampleRate)
        }
      }
      .toDF("user_id", "n_frames", "samples", "sample_rate", "channels",
        "profile", "sum_bytes", "crc_frames", "dur_ms")
      .orderBy("user_id")
  }

  // ADTS/AAC metadata round-trip: replays the per-frame header-length
  // arithmetic (payload + 7, or + 9 when event_id % 3 = 0 adds a CRC), the
  // sampling-frequency table lookup keyed on user_id % 5, 1024 samples per
  // frame, and integer-floor duration — the Spark side carried the same
  // numbers through a real ADTS stream (7/9-byte headers + ID3 prefix) and
  // back through the syncword walk.
  def q154Sql = """
    WITH s AS (SELECT user_id,
                      (event_id % 200) + 50 AS plen,
                      CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS crc
               FROM events),
    f AS (SELECT user_id, plen + CASE WHEN crc = 1 THEN 9 ELSE 7 END AS flen,
                 crc
          FROM s),
    u AS (SELECT user_id,
                 [48000,44100,32000,24000,22050][CAST(user_id % 5 AS INT) + 1]
                   AS sr
          FROM (SELECT DISTINCT user_id FROM events))
    SELECT f.user_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(count(*) * 1024 AS BIGINT) AS samples,
           CAST(any_value(u.sr) AS BIGINT) AS sample_rate,
           CAST(1 + f.user_id % 2 AS BIGINT) AS channels,
           CAST(2 AS BIGINT) AS profile,
           CAST(sum(flen) AS BIGINT) AS sum_bytes,
           CAST(sum(crc) AS BIGINT) AS crc_frames,
           CAST(count(*) * 1024 * 1000 // any_value(u.sr) AS BIGINT) AS dur_ms
    FROM f JOIN u USING (user_id)
    GROUP BY f.user_id ORDER BY f.user_id"""

  /** q168: JPEG/EXIF header triage ([[Jpeg]]) — the image twin of the
    * q154 ADTS and q59 MP4 walks: per doc, ENCODE a structurally-valid
    * JPEG header stream ([[Jpeg.encode]] — SOI, EXIF APP1 in BOTH TIFF
    * byte orders by residue, a comment segment, SOF0/SOF2 by the
    * progressive residue, SOS) and WALK it back ([[Jpeg.meta]]) without
    * any pixel decode. Plants: dims from doc_id arithmetic, progressive
    * (id%4=1), EXIF orientation 1-8 (id%8) in little-endian (id%2=0) or
    * big-endian TIFF, a NO-EXIF class (id%5=3 → orientation 0), a
    * bad-magic quarantine (id%25=9), and a truncation quarantine
    * (id%25=18 — the stream cuts mid-SOS, after the dims were already
    * seen, so the walk must still report the row as broken, not
    * half-parsed). The oracle replays every field closed-form including
    * the per-class segment counts. */
  def q168JpegMetadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val bytes =
          if (id % 25 == 9) "NOTAJPEG".getBytes("US-ASCII")
          else {
            val full = Jpeg.encode(
              width = 16 + (id % 64).toInt,
              height = 16 + ((id * 7) % 64).toInt,
              progressive = id % 4 == 1,
              orientation = (1 + id % 8).toInt,
              exifLittleEndian = id % 2 == 0,
              withExif = id % 5 != 3)
            if (id % 25 == 18) full.take(full.length - 24) else full
          }
        val m = Jpeg.meta(bytes)
        (id, m.width.toLong, m.height.toLong,
          if (m.progressive) 1L else 0L, m.orientation.toLong,
          if (m.hasExif) 1L else 0L, m.nSegments.toLong,
          if (m.error == null) "" else m.error)
      }
      .toDF("doc_id", "width", "height", "progressive", "orientation",
        "has_exif", "n_segments", "err")
      .orderBy("doc_id")
  }

  /** q168: JPEG/EXIF triage — every field is pure residue arithmetic:
    * dims mirror the encode inputs, the quarantine classes mask to
    * -1/0 with their error strings, orientation follows the id%8 plant
    * except the no-EXIF class, and n_segments counts exactly the
    * segments the walk passes per class (bad magic 0; truncated 2 —
    * COM + SOF, the cut lands mid-SOS and the truncated class id%25=18
    * implies id%5=3 so no APP1; clean 3 without EXIF, 4 with). */
  def q168Sql = """
    SELECT doc_id,
      CAST(CASE WHEN doc_id % 25 IN (9, 18) THEN -1
                ELSE 16 + doc_id % 64 END AS BIGINT) AS width,
      CAST(CASE WHEN doc_id % 25 IN (9, 18) THEN -1
                ELSE 16 + (doc_id * 7) % 64 END AS BIGINT) AS height,
      CAST(CASE WHEN doc_id % 25 IN (9, 18) THEN 0
                WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT)
        AS progressive,
      CAST(CASE WHEN doc_id % 25 IN (9, 18) OR doc_id % 5 = 3 THEN 0
                ELSE 1 + doc_id % 8 END AS BIGINT) AS orientation,
      CAST(CASE WHEN doc_id % 25 IN (9, 18) OR doc_id % 5 = 3 THEN 0
                ELSE 1 END AS BIGINT) AS has_exif,
      CAST(CASE WHEN doc_id % 25 = 9 THEN 0
                WHEN doc_id % 25 = 18 THEN 2
                WHEN doc_id % 5 = 3 THEN 3 ELSE 4 END AS BIGINT)
        AS n_segments,
      CASE WHEN doc_id % 25 = 9 THEN 'bad magic'
           WHEN doc_id % 25 = 18 THEN 'truncated'
           ELSE '' END AS err
    FROM documents ORDER BY doc_id"""

  /** q175: triage-routed image decode ([[Multimodal.imageTriage]] —
    * the [[Jpeg]] header walk finally ROUTING the pixel path instead of
    * running standalone): per doc a mixed-corpus blob by residue — real
    * baseline JPEG (%6∈{0,3}, JDK writer at quality 0.9), real PNG
    * (%6=1), a bad-magic blob (%6=2 → quarantined as unknown format,
    * never decoded), a JPEG cut mid-header (%6=4 → the walk's
    * "truncated" quarantine), and a real PROGRESSIVE JPEG (%6=5 → the
    * separate decode pool) — routed by the header triage and, for
    * routed blobs only, decoded for exact (PNG, lossless) or
    * 4-gray-level-bounded (JPEG, the q55 DC-quantization argument)
    * mean agreement with the planted pixels. MultimodalSpec's counting
    * decoder proves the quarantined classes never invoke ImageIO; the
    * oracle pins every route/reason/dimension/flag closed-form. */
  def q175ImageTriageRoute(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val px = Array.tabulate(64)(i => ((id + 7L * i) % 256L).toInt)
        val blob: Array[Byte] = (id % 6) match {
          case 0 | 3 => Multimodal.encodeJpeg(8, 8, px)
          case 1     => Multimodal.encodeImage(8, 8, px, "png")
          case 2     => s"NOTANIMAGE$id".getBytes("US-ASCII")
          case 4     => Multimodal.encodeJpeg(8, 8, px).take(10)
          case _     => Multimodal.encodeJpeg(8, 8, px, progressive = true)
        }
        val (r, stats) = Multimodal.triagedImageStats(blob)
        val srcSum = px.map(_.toLong).sum
        val meanOk = stats match {
          case Some((n, s1, _, _)) if id % 6 == 1 => // PNG: exact
            if (n == 64 && s1 == srcSum) 1L else 0L
          case Some((n, s1, _, _)) => // JPEG: DC-quantization bound
            if (n == 64 &&
                math.abs(s1.toDouble / n - srcSum.toDouble / 64.0) <= 4.0)
              1L
            else 0L
          case None => 0L
        }
        (id, r.route, r.reason, r.width.toLong, r.height.toLong,
          stats.map(_._1).getOrElse(0L), meanOk)
      }
      .toDF("doc_id", "route", "reason", "w", "h", "n_px", "mean_ok")
      .orderBy("doc_id")
  }

  /** q175: triage-routed image decode — a pure residue decision table:
    * the GATE is that the Spark side must reproduce it through the real
    * header walks (route/reason/dims from triage, never from the class)
    * AND real pixel decodes (mean_ok demands PNG-exact / JPEG-bounded
    * agreement with the planted pixels; a quarantined class that
    * somehow decoded, or a routed class that failed decode, reds the
    * flag). */
  def q175Sql = """
    SELECT doc_id,
      CASE WHEN doc_id % 6 IN (0, 3) THEN 'decode'
           WHEN doc_id % 6 = 1 THEN 'decode'
           WHEN doc_id % 6 = 2 THEN 'quarantine'
           WHEN doc_id % 6 = 4 THEN 'quarantine'
           ELSE 'decode_progressive' END AS route,
      CASE WHEN doc_id % 6 = 2 THEN 'unknown format'
           WHEN doc_id % 6 = 4 THEN 'truncated'
           ELSE '' END AS reason,
      CAST(CASE WHEN doc_id % 6 IN (2, 4) THEN -1 ELSE 8 END AS BIGINT)
        AS w,
      CAST(CASE WHEN doc_id % 6 IN (2, 4) THEN -1 ELSE 8 END AS BIGINT)
        AS h,
      CAST(CASE WHEN doc_id % 6 IN (2, 4) THEN 0 ELSE 64 END AS BIGINT)
        AS n_px,
      CAST(CASE WHEN doc_id % 6 IN (2, 4) THEN 0 ELSE 1 END AS BIGINT)
        AS mean_ok
    FROM documents ORDER BY doc_id"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q52_wav_roundtrip", q52WavRoundtrip, () => q52Sql),
    QuerySpec("q53_pgm_roundtrip", q53PgmRoundtrip, () => q53Sql),
    QuerySpec("q55_png_roundtrip", q55PngRoundtrip, () => q55Sql),
    QuerySpec("q56_aiff_roundtrip", q56AiffRoundtrip, () => q56Sql),
    QuerySpec("q58_mp3_metadata", q58Mp3Metadata, () => q58Sql),
    QuerySpec("q59_mp4_metadata", q59Mp4Metadata, () => q59Sql),
    QuerySpec("q93_image_phash_dedup", q93ImagePhashDedup, () => q93Sql),
    QuerySpec("q95_audio_fingerprint_dedup", q95AudioFingerprintDedup, () => q95Sql),
    QuerySpec("q107_flac_roundtrip", q107FlacRoundtrip, () => q107Sql),
    QuerySpec("q139_mp3_fingerprint_dedup", q139Mp3FingerprintDedup, () => q139Sql),
    QuerySpec("q154_adts_metadata", q154AdtsMetadata, () => q154Sql),
    QuerySpec("q168_jpeg_metadata", q168JpegMetadata, () => q168Sql),
    QuerySpec("q175_image_triage_route", q175ImageTriageRoute, () => q175Sql)
  )
}
