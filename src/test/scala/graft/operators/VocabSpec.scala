package graft.operators

import graft.SparkSpec
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.functions._

class VocabSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat"),
    (2L, "zebra")
  ).toDF("doc_id", "text")

  test("build ranks tokens by count with deterministic alphabetic ties") {
    val v = Vocab.build(docs, col("text"), size = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // counts: the=3, sat=2, then {cat, dog, mat, on, zebra}=1 (alpha ties)
    assert(v == Map("the" -> 0L, "sat" -> 1L, "cat" -> 2L, "dog" -> 3L))
  }

  test("encode produces closed-form digests with UNK = vocab size") {
    val v = Vocab.build(docs, col("text"), size = 4)
    val out = Vocab.encode(docs, col("doc_id"), col("text"), v, vocabSize = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // doc 0: the(0) cat(2) sat(1) on(UNK=4) the(0) mat(UNK=4)
    assert(out(0L) == ((6L, 2L, 0L + 2 + 1 + 4 + 0 + 4,
      1 * 0L + 2 * 2 + 3 * 1 + 4 * 4 + 5 * 0 + 6 * 4)))
    // doc 1: the(0) dog(3) sat(1)
    assert(out(1L) == ((3L, 0L, 4L, 1 * 0L + 2 * 3 + 3 * 1)))
    // doc 2: zebra(UNK)
    assert(out(2L) == ((1L, 1L, 4L, 4L)))
  }

  test("bpeTrain learns the closed-form merge sequence") {
    // words: aa×3 (2 from doc A, 1 from doc B), ab×2, b×1
    val corpus = Seq(
      (0L, "aa ab aa"),
      (1L, "ab aa b")
    ).toDF("doc_id", "text")
    val merges = Vocab.bpeTrain(corpus, col("text"), nMerges = 5)
    // iter 1: pairs (a,a)=3 (from aa), (a,b)=2 → fuse (a,a)
    // iter 2: only (a,b)=2 remains → fuse (a,b)
    // iter 3: every word is a single symbol → training stops early
    assert(merges == Seq(Vocab.BpeMerge("a", "a", 3L),
      Vocab.BpeMerge("a", "b", 2L)))
  }

  test("bpeSymbols applies merges greedily left-to-right (overlap runs)") {
    val m = Seq(Vocab.BpeMerge("a", "a", 0L))
    def enc(word: String, merges: Seq[Vocab.BpeMerge]): Seq[String] =
      Seq(word).toDF("w").select(Vocab.bpeSymbols(col("w"), merges).as("s"))
        .collect().head.getSeq[String](0)
    // greedy non-overlapping: aaa → [aa, a]; aaaa → [aa, aa]
    assert(enc("aaa", m) == Seq("aa", "a"))
    assert(enc("aaaa", m) == Seq("aa", "aa"))
    // merge order matters: (a,a) then (aa,b) chains into one symbol
    val chain = Seq(Vocab.BpeMerge("a", "a", 0L), Vocab.BpeMerge("aa", "b", 0L))
    assert(enc("aab", chain) == Seq("aab"))
    // but (a,b) never fires on "aab" after (a,a) fused the prefix
    val blocked = Seq(Vocab.BpeMerge("a", "a", 0L), Vocab.BpeMerge("a", "b", 0L))
    assert(enc("aab", blocked) == Seq("aa", "b"))
    // single-char and untouched words pass through
    assert(enc("x", chain) == Seq("x"))
  }

  test("bpeTrain is invariant to input partitioning; counts match encode") {
    val many = (0L until 120L)
      .map(i => (i, s"banana bandana ana${i % 5}"))
      .toSeq.toDF("doc_id", "text")
    val a = Vocab.bpeTrain(many.repartition(17), col("text"), nMerges = 10)
    val b = Vocab.bpeTrain(many.coalesce(1), col("text"), nMerges = 10)
    assert(a == b)
    // bpeTokenCount == size of the flattened per-word symbol arrays
    val direct = many.select(Vocab.bpeTokenCount(col("text"), a).as("n"))
      .agg(sum("n")).head().getLong(0)
    val exploded = many
      .select(explode(graft.functions.TextOps.tokens(
        graft.functions.TextOps.normalized(col("text")))).as("w"))
      .select(size(Vocab.bpeSymbols(col("w"), a)).as("k"))
      .agg(sum("k")).head().getLong(0)
    assert(direct == exploded)
  }

  test("bpeTrainBatched equals sequential training byte-for-byte") {
    // corpora chosen to exercise every prefix guard: Zipf-ish words
    // (interactions + chained merges), overlap runs (self-pairs), exact
    // count ties (tie-parent guard), and early exhaustion
    val corpora = Seq(
      (0L until 120L).map(i => (i, s"banana bandana ana${i % 5}")),
      (0L until 40L).map(i => (i, s"aaaa aab baa${i % 3} cc${i % 2}")),
      (0L until 30L).map(i => (i, "xy xz zy yx zz")), // dense tie counts
      Seq((0L, "aa ab aa"), (1L, "ab aa b"))          // exhausts early
    ).map(_.toSeq.toDF("doc_id", "text"))
    for (c <- corpora; n <- Seq(3, 10, 25)) {
      val seqM = Vocab.bpeTrain(c, col("text"), nMerges = n)
      atBothBpeLoops { loop =>
        for (b <- Seq(1, 4, 32)) {
          val batM = Vocab.bpeTrainBatched(c, col("text"), nMerges = n, batch = b)
          assert(batM == seqM,
            s"$loop batch=$b nMerges=$n diverged:\n$batM\nvs\n$seqM")
        }
      }
    }
  }

  test("bpeTrainBatched equals sequential on the real fixture corpus") {
    // natural text (not the toy corpora above): 60 merges crosses well
    // past the interaction-dense early regime
    val docs = graft.Tables.documents(spark, sf001)
    val a = Vocab.bpeTrain(docs, col("text"), nMerges = 60)
    assert(a.size == 60)
    atBothBpeLoops { loop =>
      val b = Vocab.bpeTrainBatched(docs, col("text"), nMerges = 60, batch = 24)
      assert(a == b, s"$loop diverged")
    }
  }

  test("bpeTrainBatched uses far fewer jobs than merges learned") {
    // 13 disjoint-letter bigram words with distinct frequencies: no pair
    // interacts with any other, so ONE sample job certifies all 13 merges
    // (the corpus shape real text approaches as the alphabet grows —
    // interaction-dense toy corpora like "banana" degrade toward
    // prefix-of-1, i.e. sequential, which is the conservative floor)
    val bigrams = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn",
      "op", "qr", "st", "uv", "wx", "yz")
    val many = bigrams.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(i + 2)(w)
    }.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val seqM = Vocab.bpeTrain(many, col("text"), nMerges = 13)
    assert(seqM.size == 13)
    val sc = spark.sparkContext
    val listener = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try atBothBpeLoops { loop =>
      ListenerDrain(sc) // earlier runs' job starts land before the reset
      listener.jobs.set(0)
      val m = Vocab.bpeTrainBatched(many, col("text"), nMerges = 13, batch = 32)
      ListenerDrain(sc)
      val batchedJobs = listener.jobs.get()
      assert(m == seqM, s"$loop diverged")
      // sequential training launches ≥ 13 argmax jobs; the distributed
      // batched loop needs the prep pin + one sample, the driver-side
      // loop one collect
      assert(batchedJobs < 8,
        s"$loop: expected batched training to use < 8 jobs, saw $batchedJobs")
    } finally sc.removeSparkListener(listener)
  }

  test("bpe merge table round-trips through the persisted artifact in order") {
    val corpus = Seq((0L, "aa ab aa"), (1L, "ab aa b")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrain(corpus, col("text"), nMerges = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_").toString
    Vocab.writeBpe(spark, dir, merges)
    assert(Vocab.readBpe(spark, dir) == merges)
    // encoding through the loaded table is identical to the in-memory one
    val enc = Seq("aab").toDF("w")
    val a = enc.select(Vocab.bpeSymbols(col("w"), merges)).collect().toSeq
    val b = enc.select(Vocab.bpeSymbols(col("w"), Vocab.readBpe(spark, dir)))
      .collect().toSeq
    assert(a == b)
  }

  test("encodeStatsBpe: closed-form digests with a covering vocab, " +
      "byte fallback for pruned symbols") {
    val d = Seq((0L, "ab ab"), (1L, "ab cd")).toDF("doc_id", "text")
    // 1 merge on counts: pairs (a,b)=3, (c,d)=1 → merge (a,b)
    val merges = Vocab.bpeTrain(d, col("text"), nMerges = 1)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "b")))
    // final symbols: ab, c, d → sorted ids ab=0, c=1, d=2
    val full = Seq("ab", "c", "d")
    val out = Vocab.encodeStatsBpe(d, col("doc_id"), col("text"), merges, full)
      .filter(col("kind") === "doc")
      .collect().map(r => r.getLong(1) -> ((r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // doc0 = [ab, ab]: n=2, sum=0, possum=0; doc1 = [ab, c, d]:
    // n=3, sum=0+1+2=3, possum=1·0+2·1+3·2=8
    assert(out(0L) == ((2L, 0L, 0L)))
    assert(out(1L) == ((3L, 3L, 8L)))
    // prune 'ab' out of the vocab: ids c=0, d=1, base=2; the 'ab' symbol
    // now emits its UTF-8 bytes a=0x61→2+97=99, b=0x62→2+98=100
    val pruned = Seq("c", "d")
    val out2 = Vocab.encodeStatsBpe(d, col("doc_id"), col("text"), merges, pruned)
      .filter(col("kind") === "doc")
      .collect().map(r => r.getLong(1) -> ((r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // doc0 = [99,100, 99,100]: n=4, sum=398, possum=1·99+2·100+3·99+4·100=996
    assert(out2(0L) == ((4L, 398L, 996L)))
    // doc1 = [99,100, 0, 1]: n=4, sum=200, possum=99+200+0+4=303
    assert(out2(1L) == ((4L, 200L, 303L)))
  }

  test("encode digests are invariant to input partitioning") {
    val many = (0L until 200L)
      .map(i => (i, s"tok${i % 7} tok${i % 3} tok${i % 7} filler$i"))
      .toSeq.toDF("doc_id", "text")
    val v = Vocab.build(many, col("text"), size = 8)
    def run(df: org.apache.spark.sql.DataFrame) =
      Vocab.encode(df, col("doc_id"), col("text"), v, vocabSize = 8)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(many.repartition(13)) == run(many.coalesce(1)))
  }

  // ---------------- byte-level BPE (GPT-2 family) ----------------

  test("byteToUnicode is the GPT-2 bijection (known renderings)") {
    // bijective over 256 bytes
    assert(Vocab.byteToUnicode.distinct.length == 256)
    // printable identity band; the displaced band starts at 256
    assert(Vocab.byteToUnicode('A'.toInt) == 'A')
    assert(Vocab.byteToUnicode(126) == 126.toChar)
    assert(Vocab.byteToUnicode(0) == 256.toChar)
    // the canonical GPT-2 renderings: space -> Ġ (U+0120), newline -> Ċ
    assert(Vocab.byteMap(" ") == "Ġ")
    assert(Vocab.byteMap("\n") == "Ċ")
    // multi-byte UTF-8 maps per BYTE: " Café" -> ĠCafÃ©, "€" -> âĤ¬
    assert(Vocab.byteMap(" Café") == "ĠCafÃ©")
    assert(Vocab.byteMap("€") == "âĤ¬")
  }

  test("gpt2Pretokens matches the GPT-2 regex semantics (lookahead cases)") {
    def toks(s: String): Seq[String] = {
      val df = Seq(Tuple1(s)).toDF("t")
      df.select(Vocab.gpt2Pretokens(col("t")).as("p"))
        .collect()(0).getSeq[String](0)
    }
    assert(toks("hello world") == Seq("hello", " world"))
    // double space before a word: the run donates its last space
    assert(toks("a  b") == Seq("a", " ", " b"))
    assert(toks("The Café isn't  über 42!! €9,99 grp3 ") == Seq(
      "The", " Café", " isn", "'t", " ", " über", " 42", "!!", " €",
      "9", ",", "99", " grp", "3", " "))
    // raw text: case preserved, no normalization
    assert(toks("Mixed CASE") == Seq("Mixed", " CASE"))
  }

  test("byte-level training learns space-prefix merges q103's trainer cannot") {
    // a corpus dominated by " the": byte-level must merge across the
    // mapped space (Ġ), which word-granular normalized BPE cannot see
    val docs = (0 until 50).map(i => (i.toLong, "the cat the dog the fox"))
      .toDF("doc_id", "text")
    val merges = Vocab.bpeTrainByteLevel(docs, col("text"), nMerges = 6)
    assert(merges.nonEmpty)
    val syms = merges.map(m => m.left + m.right)
    assert(syms.exists(_.startsWith("Ġ")),
      s"no space-prefixed merge learned: $syms")
    // "the" (150x incl. first-word) dominates: Ġ+t or t+h first
    val first = merges.head
    assert(first.count >= 100, s"unexpected first merge ${first}")
  }

  test("bpeTrainByteLevel batch sizes agree (the batched-prefix proof " +
       "holds over the byte alphabet)") {
    val docs = (0 until 30).map(i =>
        (i.toLong, s"Hello world! It's ${i % 4} o'clock  NOW"))
      .toDF("doc_id", "text")
    val runs = atBothBpeLoops { loop =>
      val b1 = Vocab.bpeTrainByteLevel(docs, col("text"), nMerges = 12, batch = 1)
      val b32 = Vocab.bpeTrainByteLevel(docs, col("text"), nMerges = 12, batch = 32)
      assert(b1 == b32, s"$loop diverged")
      b1
    }
    assert(runs.distinct.size == 1,
      s"driver-side and distributed loops diverged:\n${runs.mkString("\nvs\n")}")
  }

  test("byteLevelSymbols applies merges over the chr(1) wrap (alphabet " +
       "contains '|')") {
    // ' ||' pretokens make '|' itself a merge participant: pairs (|,|)
    // and (Ġ,|) tie on count, '|' < 'Ġ' alphabetically -> (|,|) merges
    // first, then (Ġ,||) — the wrap must survive pipes as SYMBOLS
    val docs = Seq((1L, "x || y || z ||")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrainByteLevel(docs, col("text"), nMerges = 2)
    assert(merges.map(m => (m.left, m.right)) == Seq(("|", "|"), ("Ġ", "||")),
      s"unexpected merges: $merges")
    val mapped = Seq(Tuple1(Vocab.byteMap(" ||"))).toDF("m")
    val syms = mapped.select(Vocab.byteLevelSymbols(col("m"), merges).as("s"))
      .collect()(0).getSeq[String](0)
    assert(syms == Seq("Ġ||"), s"wrap broke on pipes: $syms")
  }
}
