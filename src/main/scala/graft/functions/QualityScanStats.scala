package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass quality-scan counters for the t2 quality scorer:
  * `struct(n_chars, n_words, n_punct, n_stop, n_alpha, n_word_chars)`
  * over the raw text against a plan-time-constant lowercase-ASCII
  * stopword set, as a codegen'd row kernel (see [[Kernel]]).
  *
  * Replaces the t16-class interpreted pipeline the r11 ports left
  * behind in t2 (three corpus-wide regexp_replace passes, a split
  * allocation, and an interpreted `filter` lambda with a per-word
  * isInCollection — 28 s at sf100): one compiled byte walk producing
  * every counter the scorer derives its ratios from.
  *
  * Field semantics, each matching the exact composition it replaces
  * (norm = [[graft.queries.Q.norm]] of the text):
  *   - n_chars      = length(text): UTF-8 char count of the raw text.
  *   - n_words      = size(split(norm, " ")): maximal non-whitespace
  *     runs (ASCII \s class; UTF-8 lead/continuation bytes are all
  *     >= 0x80, never ws), with the empty-input edge preserved
  *     (`split("", " ")` is `[""]` → floor 1) — the BlockWordStats
  *     word-walk contract (BlockWordStats.scala:87).
  *   - n_punct      = length(text) - length(regexp_replace(text,
  *     "[.,;:!?]", "")): those six chars are ASCII, and no UTF-8
  *     multibyte char contains an ASCII byte, so the byte count IS
  *     the char count.
  *   - n_stop       = size(filter(split(norm, " "), w => w IN set)):
  *     a word counts iff its ASCII-lowercased bytes equal a stopword
  *     (norm lowercases before membership; same corpus-ASCII caveat
  *     as BlockWordStats — no char lowercasing INTO [a-z] exists in
  *     the corpus).
  *   - n_alpha      = length(regexp_replace(lower(text), "[^a-z]",
  *     "")): chars of lower(text) in [a-z] = raw ASCII letters under
  *     the same caveat.
  *   - n_word_chars = length(regexp_replace(norm, " ", "")): the
  *     summed char length of all words (lowercasing is 1:1 on the
  *     corpus, so chars survive norm unchanged; counted as UTF-8
  *     non-continuation bytes). Also = length(norm) - n_words + 1 —
  *     the t11 mean-word-length numerator.
  *   - max_word_chars = array_max(transform(split(norm, " "),
  *     w => length(w))): the longest word's char count, 0 on
  *     empty/whitespace-only input (split yields [""], length 0).
  *
  * The corpus-ASCII caveat above is CHECKED, not just stated (ADVICE
  * r13): CorpusInvariantSpec's data-quality gate asserts the documents
  * corpus is pure single-byte ASCII at both gate scales, which
  * subsumes "no char case-folds into [a-z]" (U+212A KELVIN SIGN,
  * U+017F LATIN SMALL LETTER LONG S, U+0130 İ are all multibyte in
  * UTF-8, so the octet_length == length assertion rejects them); a
  * corpus regeneration that broke the assumption fails that spec
  * loudly instead of skewing n_stop/n_alpha silently.
  */
object QualityScanStats {

  private val Schema = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_word_chars", LongType, nullable = false),
    StructField("max_word_chars", LongType, nullable = false)))

  private def isWs(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' ||
      b == '\r'

  private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  def compute(s: UTF8String, set: Array[Array[Byte]]): InternalRow = {
    val bytes = s.getBytes
    var nChars = 0L
    var nWords = 0L
    var nPunct = 0L
    var nStop = 0L
    var nAlpha = 0L
    var nWordChars = 0L
    var maxWordChars = 0L
    var runChars = 0L
    var runStart = -1
    var i = 0
    // one pass, one trailing virtual-whitespace step to close a run.
    // Per-byte classes are all ASCII (continuation bytes >= 0x80), so
    // byte tests are char tests; n_word_chars counts non-ws chars —
    // norm's collapse keeps every non-ws char 1:1, so that IS
    // length(replace(norm, " ", "")).
    while (i <= bytes.length) {
      val atEnd = i == bytes.length
      val b = if (atEnd) ' ' else bytes(i) & 0xFF
      if (!atEnd) {
        val isChar = (b & 0xC0) != 0x80
        if (isChar) nChars += 1
        if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' ||
          b == '?') nPunct += 1
        val lb = lowerAscii(bytes(i)) & 0xFF
        if (lb >= 'a' && lb <= 'z') nAlpha += 1
        if (isChar && !isWs(b)) {
          nWordChars += 1
          runChars += 1
        }
      }
      if (atEnd || isWs(b)) {
        if (runStart >= 0) {
          nWords += 1
          val len = i - runStart
          var w = 0
          var matched = false
          while (!matched && w < set.length) {
            val sw = set(w)
            if (sw.length == len) {
              var j = 0
              while (j < len && lowerAscii(bytes(runStart + j)) == sw(j)) {
                j += 1
              }
              matched = j == len
            }
            w += 1
          }
          if (matched) nStop += 1
          if (runChars > maxWordChars) maxWordChars = runChars
          runChars = 0L
          runStart = -1
        }
      } else if (runStart < 0) {
        runStart = i
      }
      i += 1
    }
    if (nWords == 0L) nWords = 1L
    new GenericInternalRow(Array[Any](
      nChars, nWords, nPunct, nStop, nAlpha, nWordChars, maxWordChars))
  }

  /** Column-level API: `stopWords` must be lowercase ASCII. */
  def of(text: Column, stopWords: Seq[String]): Column =
    Kernel.call(this, "compute", Schema, Seq(text -> exactly(StringType)),
      Seq(Literal.fromObject(BlockWordStats.prepare(stopWords))))
}
