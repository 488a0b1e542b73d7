package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All n-word shingle signatures of a word array, as 16-byte binary
  * keys — the join/exchange currency of the contamination check (d9).
  *
  * Replaces `explode(transform(sequence(1, size-4), i ->
  * concat_ws(" ", slice(words, i, 5))))`, which (a) materializes every
  * shingle as a STRING (≈40 B each) that then rides the shuffle as the
  * join key — the exact anti-pattern t10/t18 retired for terms — and
  * (b) evaluates as interpreted higher-order functions, re-walking the
  * array per element (the t16 pathology; the full-plan bench action
  * put d9 at 309 s at sf100). Here each word is hashed once
  * (two independent 64-bit FNV-1a lanes), each window combines the n
  * word-hashes with a distinct-multiplier polynomial + avalanche
  * finalizer per lane, and only 16-byte signatures are ever
  * materialized: O(total bytes + windows), no shingle string exists at
  * any point.
  *
  * Collision contract: a false shingle equality needs a simultaneous
  * collision in BOTH independently-seeded lanes (~2⁻¹²⁸ per pair); the
  * d9 gate's oracle compares COUNTS against DuckDB's string-keyed
  * join, so a collision would go red, same contract as t18. Word
  * order, word boundaries and n are encoded exactly (per-word hash +
  * position-weighted combine): two shingles collide only by hash, not
  * by construction ambiguity.
  *
  * Returns an EMPTY array when the input has fewer than n words — the
  * `size(words) >= 5` pre-filter of the form it replaces becomes a
  * no-op under explode.
  *
  * TEXT MODE (r12): a `string` input is tokenized directly from its
  * UTF-8 bytes — maximal runs of non-`\s` bytes are the words, exactly
  * the word list `split(lower-ed text collapsed by regexp_replace +
  * trim), " ")` produces (Java's `\s` class is 6 ASCII chars; a UTF-8
  * continuation byte can never read as whitespace, so the byte scan is
  * code-point-safe; non-ASCII whitespace is NOT `\s`, matching). This
  * skips the regex pass, the trimmed copy, and the per-word
  * UTF8String array that the split() form materializes per document —
  * the TokenCounts/PiiScrub move, applied to d9's normalize+shingle
  * stage. Case folding stays OUTSIDE (feed `lower(text)`): Spark's
  * `lower` is one ASCII-fast-path pass per document, and replicating
  * full-Unicode lowercasing in a byte scanner is not worth the parity
  * risk. ShingleSigSpec pins text-mode ≡ array-mode on the corpus and
  * on adversarial whitespace/unicode edges.
  */
object WordShingleSigs {

  // FNV-1a 64 parameters; lane B gets a different offset basis and a
  // different polynomial multiplier so the lanes are independent.
  private val FnvPrime = 0x100000001b3L
  private val OffsetA = 0xcbf29ce484222325L
  private val OffsetB = 0x6c62272e07bb0142L
  private val MulA = 0x9E3779B97F4A7C15L // odd
  private val MulB = 0xC2B2AE3D27D4EB4FL // odd

  /** xxhash/murmur-style 64-bit avalanche. */
  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL
    x ^= (x >>> 33); x *= 0xc4ceb9fe1a85ec53L
    x ^= (x >>> 33); x
  }

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** The n-window polynomial combine over the per-word lane hashes —
    * shared by both input modes, so the sig domain is mode-invariant
    * by construction.
    */
  private def combine(ha: Array[Long], hb: Array[Long], m: Int,
      n: Int): ArrayData = {
    if (m < n) return Empty
    val out = new Array[Any](m - n + 1)
    var s = 0
    while (s <= m - n) {
      var a = 0L
      var b = 0L
      var k = 0
      while (k < n) {
        a = a * MulA + ha(s + k)
        b = b * MulB + hb(s + k)
        k += 1
      }
      a = fmix(a); b = fmix(b)
      val sig = new Array[Byte](16)
      var t = 0
      while (t < 8) {
        sig(t) = (a >>> (56 - 8 * t)).toByte
        sig(8 + t) = (b >>> (56 - 8 * t)).toByte
        t += 1
      }
      out(s) = sig
      s += 1
    }
    new GenericArrayData(out)
  }

  def compute(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return Empty
    // per-word hashes, each lane seeded differently
    val ha = new Array[Long](m)
    val hb = new Array[Long](m)
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      val bytes = w.getBytes
      var a = OffsetA
      var b = OffsetB
      var j = 0
      while (j < bytes.length) {
        val v = bytes(j) & 0xFFL
        a = (a ^ v) * FnvPrime
        b = (b ^ (v + 0x9EL)) * FnvPrime
        j += 1
      }
      ha(i) = a; hb(i) = b
      i += 1
    }
    combine(ha, hb, m, n)
  }

  private def isWsByte(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' ||
      b == '\r'

  /** Text mode: tokenize maximal non-`\s` byte runs and hash each run
    * in place — no word strings, no regex pass, no transient array.
    * Word-for-word identical lane hashes to the array [[compute]] over
    * `split(trim(regexp_replace(text, "\s+", " ")), " ")` whenever the
    * text contains at least one non-whitespace byte. When it does not,
    * the split form yields the `[""]` singleton (one empty word) while
    * text mode yields zero words — indistinguishable for n ≥ 2 (both
    * sides emit the empty sig array); only a degenerate n=1 caller on
    * empty/whitespace-only text would see the difference.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var cap = 32
    var ha = new Array[Long](cap)
    var hb = new Array[Long](cap)
    var m = 0
    var i = 0
    while (i < len) {
      if (isWsByte(bytes(i) & 0xFF)) i += 1
      else {
        var a = OffsetA
        var b = OffsetB
        while (i < len && !isWsByte(bytes(i) & 0xFF)) {
          val v = bytes(i) & 0xFFL
          a = (a ^ v) * FnvPrime
          b = (b ^ (v + 0x9EL)) * FnvPrime
          i += 1
        }
        if (m == cap) {
          cap *= 2
          ha = java.util.Arrays.copyOf(ha, cap)
          hb = java.util.Arrays.copyOf(hb, cap)
        }
        ha(m) = a; hb(m) = b; m += 1
      }
    }
    combine(ha, hb, m, n)
  }

  /** Column-level API over `string` text (text mode) or an
    * `array<string>` of words whose elements cannot be null: the array
    * [[compute]] hashes elements without a null check, and split()
    * output (the intended feeder) is `containsNull = false`, so a
    * nullable-element array fails analysis instead of NPEing at run
    * time (wrap it with `filter(x -> x is not null)`).
    */
  def of(words: Column, n: Int): Column = {
    require(n >= 1 && n <= 64, s"shingle width $n out of range")
    Kernel.call(this, "compute", ArrayType(BinaryType, containsNull = false),
      Seq(words ->
        exactly(StringType, ArrayType(StringType, containsNull = false))),
      Seq(Literal(n)))
  }
}
