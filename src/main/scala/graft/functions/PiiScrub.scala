package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass PII detection + scrubbing for the t5 gate:
  * `struct(n_emails, n_phones, clean)` over a string, as a codegen'd
  * row kernel (see [[Kernel]]) — a hand-compiled scanner for the
  * two fixed patterns the gate uses, replacing two `regexp_count`
  * plus two chained `regexp_replace` Java-regex passes (8.8x vs the
  * reference at sf10; java.util.regex re-executes the NFA with
  * backtracking at every start offset).
  *
  * Exact Java-regex semantics for the two patterns, by construction:
  *
  *   - email `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`:
  *     anchored at each '@' — the local part is the maximal run of
  *     local-set chars ending at the '@' (leftmost-match + greedy `+`
  *     make the match start exactly there), clamped at the previous
  *     match's end (Java resumes scanning AT the end of a match, so a
  *     local run can never reach into a consumed region). After the
  *     '@' the domain run R is the maximal [A-Za-z0-9.-] run; greedy
  *     backtracking selects the LAST '.' in R followed by >= 2
  *     letters, and the match ends after the maximal letter run
  *     following that dot (`{2,}` is greedy but need not consume the
  *     rest of R).
  *   - phone `\+[0-9]{1,2} [0-9]{3}-[0-9]{4}`: at each '+', try 2
  *     digits then 1 (greedy `{1,2}` with backtrack), then the exact
  *     space / 3 digits / '-' / 4 digits tail; `{3}`/`{4}` are exact
  *     counts with no backtracking and no trailing lookahead.
  *
  * The three outputs replicate the gate's exact dataflow: emails are
  * counted and replaced on the input; phones are COUNTED on the raw
  * input (`regexp_count(dirty, phone)`) but REPLACED on the
  * email-scrubbed intermediate (`regexp_replace(regexp_replace(...))`)
  * — the two can differ when an email match consumes part of a phone
  * (the local-part set includes digits, '+', '-').
  *
  * Byte-level scanning is safe: every pattern char is ASCII, and
  * UTF-8 lead/continuation bytes are all >= 0x80, so they can never
  * false-match a class test.
  */
object PiiScrub {

  private val Schema = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false),
    StructField("clean", StringType, nullable = false)))

  private val Email = "<EMAIL>".getBytes
  private val Phone = "<PHONE>".getBytes

  private def isLocal(b: Int): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
      (b >= '0' && b <= '9') || b == '.' || b == '_' || b == '%' ||
      b == '+' || b == '-'

  private def isDomain(b: Int): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
      (b >= '0' && b <= '9') || b == '.' || b == '-'

  private def isAlpha(b: Int): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')

  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'

  /** Email matches over `bytes` as (start, end) pairs. */
  private def emailMatches(bytes: Array[Byte]): Array[Int] = {
    var out: Array[Int] = new Array[Int](8)
    var m = 0
    var resume = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == '@') {
        // maximal local run ending at the '@', clamped at resume
        var s = i
        while (s > resume && isLocal(bytes(s - 1) & 0xFF)) s -= 1
        if (s < i) {
          // maximal domain run after the '@'
          var e = i + 1
          while (e < bytes.length && isDomain(bytes(e) & 0xFF)) e += 1
          // last '.' in the run followed by >= 2 letters
          var dot = -1
          var k = e - 1
          while (dot < 0 && k > i + 1) {
            if (bytes(k) == '.' && k + 2 <= e - 1 &&
              isAlpha(bytes(k + 1) & 0xFF) && isAlpha(bytes(k + 2) & 0xFF))
              dot = k
            k -= 1
          }
          if (dot > 0) {
            var end = dot + 1
            while (end < e && isAlpha(bytes(end) & 0xFF)) end += 1
            if (m * 2 + 2 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
            out(m * 2) = s; out(m * 2 + 1) = end; m += 1
            resume = end
            i = end - 1 // loop increment brings it to `end`
          }
        }
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, m * 2)
  }

  /** Phone matches over `bytes` as (start, end) pairs. */
  private def phoneMatches(bytes: Array[Byte]): Array[Int] = {
    var out: Array[Int] = new Array[Int](8)
    var m = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == '+') {
        var end = -1
        // greedy {1,2}: try 2 digits, then 1
        var d = 2
        while (end < 0 && d >= 1) {
          val p = i + 1 + d
          if (i + 1 + d <= bytes.length &&
            (0 until d).forall(j => isDigit(bytes(i + 1 + j) & 0xFF)) &&
            p + 9 <= bytes.length && bytes(p) == ' ' &&
            isDigit(bytes(p + 1) & 0xFF) && isDigit(bytes(p + 2) & 0xFF) &&
            isDigit(bytes(p + 3) & 0xFF) && bytes(p + 4) == '-' &&
            isDigit(bytes(p + 5) & 0xFF) && isDigit(bytes(p + 6) & 0xFF) &&
            isDigit(bytes(p + 7) & 0xFF) && isDigit(bytes(p + 8) & 0xFF))
            end = p + 9
          d -= 1
        }
        if (end > 0) {
          if (m * 2 + 2 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
          out(m * 2) = i; out(m * 2 + 1) = end; m += 1
          i = end - 1
        }
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, m * 2)
  }

  private def replace(bytes: Array[Byte], matches: Array[Int],
      repl: Array[Byte]): Array[Byte] = {
    val nm = matches.length / 2
    if (nm == 0) return bytes
    var removed = 0
    var k = 0
    while (k < nm) { removed += matches(k * 2 + 1) - matches(k * 2); k += 1 }
    val res = new Array[Byte](bytes.length - removed + nm * repl.length)
    var src = 0
    var dst = 0
    k = 0
    while (k < nm) {
      val s = matches(k * 2); val e = matches(k * 2 + 1)
      System.arraycopy(bytes, src, res, dst, s - src); dst += s - src
      System.arraycopy(repl, 0, res, dst, repl.length); dst += repl.length
      src = e; k += 1
    }
    System.arraycopy(bytes, src, res, dst, bytes.length - src)
    res
  }

  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val emails = emailMatches(bytes)
    val phonesRaw = phoneMatches(bytes) // counted on the RAW input
    val cleaned1 = replace(bytes, emails, Email)
    val clean = replace(cleaned1, phoneMatches(cleaned1), Phone)
    new GenericInternalRow(Array[Any](
      (emails.length / 2).toLong, (phonesRaw.length / 2).toLong,
      UTF8String.fromBytes(clean)))
  }

  /** Column-level API. */
  def of(text: Column): Column =
    Kernel.call(this, "compute", Schema, Seq(text -> exactly(StringType)))
}
