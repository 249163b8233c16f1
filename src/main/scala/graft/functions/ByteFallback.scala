package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Byte-level fallback for the subword tokenizers (the SentencePiece
  * `--byte_fallback` contract, word-granular): a word the trained
  * inventory cannot cover encodes as its UTF-8 BYTES, each mapped to a
  * reserved id `base + byte` (base = the regular vocabulary size, so the
  * 256 byte ids sit in `[base, base+256)` after the real pieces) —
  * arbitrary UTF-8 input therefore encodes with ZERO out-of-vocabulary
  * loss, the production-pretraining requirement [UNK]/drop semantics
  * violate. Fallback granularity is the WORD (the replayable-walk unit
  * the oracles unroll), not the character: a word that segments fully
  * takes the trained path unchanged — existing closed-corpus digests are
  * untouched — and only an uncoverable word drops to bytes.
  *
  * Both forms are deterministic and oracle-replayable: the column form is
  * a codegen HOF sweep over `encode(s, 'UTF-8')`, and DuckDB mirrors it
  * with the same hex-digit arithmetic over `hex(encode(word))` the md5
  * devices already use.
  */
object ByteFallback {

  /** Driver/executor-side form: the UTF-8 bytes of `s` as 0..255 ints. */
  def utf8(s: String): Seq[Int] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq.map(b => b & 0xff)

  /** Column form: array of byte-fallback ids (`base + byte`) for the
    * UTF-8 bytes of `s` — sequence→substr over the encoded binary with a
    * hex/conv bridge per byte; fully codegen, no UDF. */
  def byteIds(s: Column, base: Int): Column = {
    val bin = encode(s, "UTF-8")
    transform(sequence(lit(1), length(bin)),
      i => conv(hex(bin.substr(i, lit(1))), 16, 10).cast("long") + lit(base.toLong))
  }
}
