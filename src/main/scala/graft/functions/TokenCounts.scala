package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import WordBytes.isWs

/** One-pass token statistics for the t3 token-counting signal:
  * `struct(n_chars, ws_tokens, re_tokens)` over the raw text, as a
  * codegen'd row kernel (see [[Kernel]]).
  *
  * Replaces two `split` array materializations plus a
  * `regexp_extract_all` that allocated every match just to take
  * `size` of the result (13x vs the reference at sf10). The counted
  * quantities are defined by the regexes they replace, and the scan
  * reproduces those semantics exactly:
  *
  *   - `ws_tokens` = `Q.wsTokens(text)`: the number of
  *     maximal non-whitespace runs, where whitespace is Java's `\s`
  *     ASCII class `[ \t\n\x0B\f\r]` — with two split edges
  *     preserved: an empty trimmed string yields `[""]` (floor 1),
  *     and since `trim` strips only ASCII SPACES, a string whose
  *     first (resp. last) non-space char is other whitespace
  *     (tab/newline) keeps a leading (resp. trailing) empty token —
  *     Spark's `split` uses limit -1, which KEEPS trailing empties:
  *     `"\ta b"` → `["", "a", "b"]`, `"a b\t"` → `["a", "b", ""]`,
  *     `"\t"` → `["", ""]`.
  *   - `re_tokens` = number of matches of
  *     `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]`: each maximal letter run is
  *     one token, each maximal digit run is one token, and every
  *     other non-whitespace CODE POINT is its own token (the regex
  *     alternative is a single-char class; a multi-byte code point is
  *     one char in both Java regex and RE2).
  *   - `n_chars` = `length(text)` in code points, for the
  *     chars-per-token ratio without a second pass.
  */
object TokenCounts {

  private val Schema = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("ws_tokens", LongType, nullable = false),
    StructField("re_tokens", LongType, nullable = false)))

  private def isLetter(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')

  private def isDigit(cp: Int): Boolean = cp >= '0' && cp <= '9'

  /** All three counts in one compiled pass over the UTF-8 bytes. */
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    var nChars = 0L
    var wsTokens = 0L
    var reTokens = 0L
    // 0 = in whitespace/none, 1 = in letter run, 2 = in digit run,
    // 3 = after an "other" char (each other char is its own re-token)
    var state = 0
    var inWsRun = true // leading ws doesn't open a ws_token
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      var cp = 0
      if (b < 0x80) { cp = b; i += 1 }
      else if ((b & 0xE0) == 0xC0) {
        cp = ((b & 0x1F) << 6) | (bytes(i + 1) & 0x3F); i += 2
      } else if ((b & 0xF0) == 0xE0) {
        cp = ((b & 0x0F) << 12) | ((bytes(i + 1) & 0x3F) << 6) |
          (bytes(i + 2) & 0x3F); i += 3
      } else {
        cp = ((b & 0x07) << 18) | ((bytes(i + 1) & 0x3F) << 12) |
          ((bytes(i + 2) & 0x3F) << 6) | (bytes(i + 3) & 0x3F); i += 4
      }
      nChars += 1
      if (isWs(cp)) { state = 0; inWsRun = true }
      else {
        if (inWsRun) { wsTokens += 1; inWsRun = false }
        if (isLetter(cp)) {
          if (state != 1) { reTokens += 1; state = 1 }
        } else if (isDigit(cp)) {
          if (state != 2) { reTokens += 1; state = 2 }
        } else {
          reTokens += 1; state = 3
        }
      }
    }
    // Mirror Q.wsTokens(text) exactly. trim strips only
    // ASCII 0x20 at the edges; split (limit -1) keeps BOTH a leading
    // and a trailing empty token when the trimmed string starts/ends
    // with non-space whitespace, and split("", ...) is [""].
    var f = 0
    while (f < bytes.length && bytes(f) == ' '.toByte) f += 1
    var l = bytes.length - 1
    while (l >= f && bytes(l) == ' '.toByte) l -= 1
    if (l < f) wsTokens = 1L // trim -> "" -> [""]
    else {
      // isWs only matches ASCII bytes, so a UTF-8 continuation byte at
      // position l can never be mistaken for whitespace.
      if (isWs(bytes(f) & 0xFF)) wsTokens += 1 // leading empty token
      if (isWs(bytes(l) & 0xFF)) wsTokens += 1 // trailing empty token
    }
    new GenericInternalRow(Array[Any](nChars, wsTokens, reTokens))
  }

  /** Column-level API. */
  def of(text: Column): Column =
    Kernel.call(this, "compute", Schema, Seq(text -> exactly(StringType)))
}
