package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass blocklist word counting for the t14 content filter:
  * `struct(n_words, n_flagged)` over the raw text against a
  * plan-time-constant lowercase-ASCII word set, as a codegen'd row
  * kernel (see [[Kernel]]).
  *
  * Replaces `size(split(norm(text), " "))` +
  * `size(filter(words, w -> w IN (...)))` — a whitespace-collapsing
  * regexp_replace, a split allocation, and an interpreted lambda per
  * word (~10x vs the reference at sf10). Scan semantics are exactly
  * the composition it replaces:
  *
  *   - words are the maximal non-whitespace runs (Java `\s` ASCII
  *     class — `norm`'s `\s+ -> " "` collapse followed by a
  *     single-space split yields precisely these runs), with the
  *     empty-string edge preserved (`split("", " ")` is `[""]`, so
  *     `n_words` floors at 1);
  *   - a word is flagged iff its ASCII-lowercased bytes equal a block
  *     word (`norm` lowercases before the membership test; block
  *     words are lowercase ASCII, and a token that lowercases to one
  *     must itself be ASCII — the one theoretical divergence is a
  *     Unicode char whose lowercase maps INTO ASCII, e.g. U+017F
  *     "long s" -> "s", which Spark's `lower` would fold and this
  *     scan would not; no such char exists in the corpus).
  */
object BlockWordStats {

  private val Schema = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_flagged", LongType, nullable = false)))

  def prepare(words: Seq[String]): Array[Array[Byte]] =
    words.map(_.getBytes("UTF-8")).toArray

  private def isWs(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' ||
      b == '\r'

  private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  /** Token runs + set membership in one compiled pass. Whitespace
    * detection is byte-level (the `\s` class is ASCII, and UTF-8
    * continuation/lead bytes are all >= 0x80, never ws).
    */
  def compute(s: UTF8String, set: Array[Array[Byte]]): InternalRow = {
    val bytes = s.getBytes
    var nWords = 0L
    var nFlagged = 0L
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isWs(bytes(i) & 0xFF)) i += 1
      if (i < bytes.length) {
        val start = i
        while (i < bytes.length && !isWs(bytes(i) & 0xFF)) i += 1
        nWords += 1
        val len = i - start
        var w = 0
        var matched = false
        while (!matched && w < set.length) {
          val bw = set(w)
          if (bw.length == len) {
            var j = 0
            while (j < len && lowerAscii(bytes(start + j)) == bw(j)) j += 1
            matched = j == len
          }
          w += 1
        }
        if (matched) nFlagged += 1
      }
    }
    if (nWords == 0L) nWords = 1L
    new GenericInternalRow(Array[Any](nWords, nFlagged))
  }

  /** Column-level API: `words` must be lowercase ASCII. */
  def of(text: Column, words: Seq[String]): Column =
    Kernel.call(this, "compute", Schema, Seq(text -> exactly(StringType)),
      Seq(Literal.fromObject(prepare(words))))
}
