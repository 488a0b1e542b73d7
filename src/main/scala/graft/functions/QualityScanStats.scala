package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import WordBytes.{inSet, isWs, prepare}

/** One-pass quality-scan counters for the t2 quality scorer:
  * `struct(n_chars, n_words, n_punct, n_stop, n_alpha, n_word_chars)`
  * over the raw text against a plan-time-constant lowercase-ASCII
  * stopword set, as a codegen'd row kernel (see [[Kernel]]). t1's
  * per-language scores and t14's blocklist hits are the same `n_stop`
  * walk over their own word sets.
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
  *   - n_words      = size(Q.words(text)): maximal non-whitespace
  *     runs ([[WordBytes.isWs]]), with the empty-input edge preserved
  *     (`split("", " ")` is `[""]` → floor 1).
  *   - n_punct      = length(text) - length(regexp_replace(text,
  *     "[.,;:!?]", "")): those six chars are ASCII, and no UTF-8
  *     multibyte char contains an ASCII byte, so the byte count IS
  *     the char count.
  *   - n_stop       = size(filter(Q.words(text), w => w IN set)):
  *     a word counts iff its ASCII-lowercased bytes equal a stopword
  *     (norm lowercases before membership; a Unicode char whose
  *     lowercase maps INTO [a-z], e.g. U+017F "long s", would be
  *     folded by Spark's `lower` and not here — no such char exists
  *     in the corpus).
  *   - n_alpha      = length(regexp_replace(lower(text), "[^a-z]",
  *     "")): chars of lower(text) in [a-z] = raw ASCII letters under
  *     the same caveat.
  *   - n_word_chars = length(regexp_replace(norm, " ", "")): the
  *     summed char length of all words (lowercasing is 1:1 on the
  *     corpus, so chars survive norm unchanged; counted as UTF-8
  *     non-continuation bytes). Also = length(norm) - n_words + 1 —
  *     the t11 mean-word-length numerator.
  *   - max_word_chars = array_max(transform(Q.words(text),
  *     w => length(w))): the longest word's char count, 0 on
  *     empty/whitespace-only input (split yields [""], length 0).
  *
  * The corpus-ASCII caveat above is CHECKED, not just stated:
  * CorpusInvariantSpec's data-quality gate asserts the documents
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

  /** Per-byte class bits: the first byte of a UTF-8 char, a `\s`
    * byte ([[WordBytes.isWs]]), one of `.,;:!?`, an ASCII letter. All
    * but the first are ASCII, and continuation bytes are >= 0x80, so
    * byte classes are char classes. */
  private final val CharStart = 1
  private final val Ws = 2
  private final val Punct = 4
  private final val Alpha = 8
  private val Classes: Array[Int] = Array.tabulate(256) { b =>
    (if ((b & 0xC0) != 0x80) CharStart else 0) |
      (if (isWs(b)) Ws else 0) |
      (if (".,;:!?".contains(b.toChar)) Punct else 0) |
      (if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) Alpha else 0)
  }

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
    // n_word_chars counts non-ws chars — norm's collapse keeps every
    // non-ws char 1:1, so that IS length(replace(norm, " ", "")).
    while (i <= bytes.length) {
      val c = if (i == bytes.length) Ws else Classes(bytes(i) & 0xFF)
      nChars += c & CharStart
      nPunct += (c >> 2) & 1
      nAlpha += (c >> 3) & 1
      if ((c & Ws) != 0) {
        if (runStart >= 0) {
          nWords += 1
          if (inSet(bytes, runStart, i - runStart, set)) nStop += 1
          nWordChars += runChars
          if (runChars > maxWordChars) maxWordChars = runChars
          runChars = 0L
          runStart = -1
        }
      } else {
        if (runStart < 0) runStart = i
        runChars += c & CharStart
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
      Seq(Literal.fromObject(prepare(stopWords))))
}
