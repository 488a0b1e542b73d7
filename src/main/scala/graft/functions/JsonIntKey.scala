package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Read one top-level integer key out of a JSON object string, as a
  * codegen'd row kernel (see [[Kernel]]).
  *
  * Single-scalar-path extraction doesn't need a structural parse, a
  * variant encode, or a regex: the common shape of an event-props
  * column — a flat, escape-free JSON object — is scanned byte-wise in
  * place over the UTF8String (no copy, no allocation, ~ns/byte, inside
  * whole-stage codegen), which measures ~4x faster than Spark 4's
  * `try_variant_get(try_parse_json(...))` and ~3x faster than a Java
  * regex fast-path at sf10 (10M rows: 0.45 s vs 1.3/1.9 s), and unlike
  * the round-5 distinct-payload collapse it does no string hash
  * aggregate, so it cannot degrade to a corpus-size shuffle on
  * low-repetition payloads. Payloads the scanner can't prove simple —
  * a nested container or an escape sequence — fall back to a Jackson
  * streaming parse (the library `get_json_object` itself uses) that
  * skips nested children and validates to end-of-input.
  *
  * Result contract (both paths, verified against each other in
  * JsonIntKeySpec): the key's value when it is an integral JSON number
  * in long range, OR a JSON string whose (whitespace-trimmed,
  * optionally signed) content is an integral in long range — matching
  * the oracle's `json_extract_string` + cast-to-bigint and Spark's
  * variant coercion, both of which read `{"k":"8"}` as 8; NULL for a
  * missing key, a non-object or malformed document (validation always
  * runs to the end — a payload that decays into garbage AFTER the key
  * still yields NULL, like the reference's `json_extract_string` which
  * parses the whole document), a non-integral / out-of-range number,
  * or any other value (note a string like "8.5" yields NULL where a
  * strict SQL cast would raise — NULL is the conservative side of that
  * divergence). On duplicate keys the first occurrence wins. The key
  * is compared by UTF-8 bytes, so non-ASCII keys match their unescaped
  * occurrences correctly. JSON strictness follows the spec: whitespace
  * is space/tab/LF/CR only, numbers take no leading zeros, strings
  * take no unescaped control characters.
  */
object JsonIntKey {

  private val factory = new JsonFactory() // thread-safe after config

  // sentinel distinct from any result: "bail to the Jackson path"
  private val Bail = java.lang.Long.valueOf(Long.MinValue)
  // "key seen, value not an in-range integer" — result is locked NULL
  // but validation must still run to the end of the document
  private val NotInt: java.lang.Long = null

  /** String-key convenience overload (specs, interactive use). */
  def extract(s: UTF8String, key: String): java.lang.Long =
    extract(s, UTF8String.fromString(key))

  /** Whole-document flat scan; falls back to Jackson on the first
    * nested container or escape sequence. Boxed so NULL carries.
    */
  def extract(s: UTF8String, key: UTF8String): java.lang.Long = {
    val n = s.numBytes()
    var i = skipWs(s, 0, n)
    if (i >= n || s.getByte(i) != '{') return null // not an object
    i += 1
    i = skipWs(s, i, n)
    if (i < n && s.getByte(i) == '}') return null // empty: no key
    var found = false
    var result: java.lang.Long = null
    while (true) {
      // ── key string ──
      if (i >= n || s.getByte(i) != '"') return null
      val ks = i + 1
      i = scanString(s, ks, n)
      if (i == -1) return null
      if (i == -2) return jackson(s.toString, key.toString)
      val ke = i // exclusive; closing quote at i
      i = skipWs(s, i + 1, n)
      if (i >= n || s.getByte(i) != ':') return null
      i = skipWs(s, i + 1, n)
      val isKey = !found && matchesKey(s, ks, ke, key)
      // ── value ──
      if (i >= n) return null
      val c = s.getByte(i)
      var v: java.lang.Long = NotInt
      if (c == '"') {
        val vs = i + 1
        i = scanString(s, vs, n)
        if (i == -1) return null
        if (i == -2) return jackson(s.toString, key.toString)
        // string value: the oracle's json_extract_string + cast (and
        // variant coercion) read a quoted integral as its number
        if (isKey) v = parseQuotedLong(s, vs, i)
        i += 1
      } else if (c == '{' || c == '[') {
        return jackson(s.toString, key.toString) // nested: not flat
      } else if (c == 't') {
        if (!matchesLit(s, i, n, "true")) return null; i += 4
      } else if (c == 'f') {
        if (!matchesLit(s, i, n, "false")) return null; i += 5
      } else if (c == 'n') {
        if (!matchesLit(s, i, n, "null")) return null; i += 4
      } else if (c == '-' || (c >= '0' && c <= '9')) {
        val numFrom = i
        val r = scanNumber(s, i, n)
        if (r == -1L) return null
        i = (r >>> 2).toInt
        if ((r & 1L) == 1L) {
          // integral and in range: the packed end == integer-part end
          v = java.lang.Long.valueOf(parseLong(s, numFrom, i))
        }
      } else return null
      if (isKey) { found = true; result = v }
      // ── separator ──
      i = skipWs(s, i, n)
      if (i >= n) return null
      val d = s.getByte(i)
      if (d == '}') {
        i = skipWs(s, i + 1, n)
        return if (i == n) result else null // trailing garbage
      }
      if (d != ',') return null
      i = skipWs(s, i + 1, n)
    }
    null // unreachable
  }

  private def skipWs(s: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n) {
      val b = s.getByte(i)
      if (b == ' ' || b == '\t' || b == '\n' || b == '\r') i += 1
      else return i
    }
    i
  }

  /** Scan a string body from `from` (after the opening quote) to the
    * closing quote's index; -1 = malformed (control char / unclosed),
    * -2 = escape sequence (bail to the full parser).
    */
  private def scanString(s: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n) {
      val b = s.getByte(i)
      if (b == '"') return i
      if (b == '\\') return -2
      if ((b & 0xFF) < 0x20) return -1 // unescaped control char
      i += 1
    }
    -1
  }

  private def matchesKey(s: UTF8String, ks: Int, ke: Int,
      key: UTF8String): Boolean = {
    val kn = key.numBytes()
    if (ke - ks != kn) return false
    var i = 0
    while (i < kn) {
      if (s.getByte(ks + i) != key.getByte(i)) return false
      i += 1
    }
    true
  }

  /** Parse a quoted value's body `[from, end)` as an optionally
    * signed, whitespace-trimmed integral in long range (SQL
    * string→bigint cast shape: leading zeros fine, no fraction or
    * exponent); null when it is anything else. Only runs on the
    * requested key's value, so non-integer string fields cost nothing.
    */
  private def parseQuotedLong(s: UTF8String, from0: Int,
      end0: Int): java.lang.Long = {
    var from = from0
    var end = end0
    while (from < end && isTrimWs(s.getByte(from))) from += 1
    while (end > from && isTrimWs(s.getByte(end - 1))) end -= 1
    if (from >= end) return null
    var neg = false
    val b0 = s.getByte(from)
    if (b0 == '-' || b0 == '+') { neg = b0 == '-'; from += 1 }
    if (from >= end) return null
    var i = from
    while (i < end) {
      val b = s.getByte(i)
      if (b < '0' || b > '9') return null
      i += 1
    }
    var ds = from
    while (ds < end - 1 && s.getByte(ds) == '0') ds += 1 // keep last digit
    val nd = end - ds
    if (nd > 19) return null
    if (nd == 19) {
      // textual magnitude check against Long.MAX/MIN
      val limit = if (neg) "9223372036854775808" else "9223372036854775807"
      var k = 0
      while (k < 19) {
        val d = s.getByte(ds + k)
        val l = limit.charAt(k).toByte
        if (d > l) return null
        if (d < l) k = 19 else k += 1
      }
    }
    var acc = 0L
    i = ds
    while (i < end) { acc = acc * 10 + (s.getByte(i) - '0'); i += 1 }
    // -Long.MinValue's magnitude wraps to MinValue exactly, like
    // parseLong below
    java.lang.Long.valueOf(if (neg) -acc else acc)
  }

  private def isTrimWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r'

  private def matchesLit(s: UTF8String, from: Int, n: Int, lit: String): Boolean = {
    if (from + lit.length > n) return false
    var i = 0
    while (i < lit.length) {
      if (s.getByte(from + i) != lit.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** Validate a JSON number from `from`; returns -1 on malformed,
    * else `(end << 2) | flags` — bit0 set iff the number is a bare
    * integral that fits in a long (in which case `end` is the integer
    * part's end), bit1 set iff negative.
    */
  private def scanNumber(s: UTF8String, from: Int, n: Int): Long = {
    var i = from
    var neg = false
    if (s.getByte(i) == '-') { neg = true; i += 1; if (i >= n) return -1L }
    val dStart = i
    var b = s.getByte(i)
    if (b < '0' || b > '9') return -1L
    if (b == '0') i += 1 // a leading zero must stand alone
    else while (i < n && { b = s.getByte(i); b >= '0' && b <= '9' }) i += 1
    if (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') return -1L // 0d
    val intEnd = i
    var integral = true
    if (i < n && s.getByte(i) == '.') {
      integral = false
      i += 1
      val fs = i
      while (i < n && { b = s.getByte(i); b >= '0' && b <= '9' }) i += 1
      if (i == fs) return -1L
    }
    if (i < n && (s.getByte(i) == 'e' || s.getByte(i) == 'E')) {
      integral = false
      i += 1
      if (i < n && (s.getByte(i) == '+' || s.getByte(i) == '-')) i += 1
      val es = i
      while (i < n && { b = s.getByte(i); b >= '0' && b <= '9' }) i += 1
      if (i == es) return -1L
    }
    // long range: 18 digits always fit; 19 need a value check; more never
    val nd = intEnd - dStart
    val fits = integral && (nd <= 18 || (nd == 19 && fitsLong(s, from, intEnd)))
    (i.toLong << 2) | (if (neg) 2L else 0L) | (if (fits) 1L else 0L)
  }

  private def fitsLong(s: UTF8String, from: Int, intEnd: Int): Boolean = {
    // 19-digit magnitude: compare against Long.MAX/MIN textually
    val neg = s.getByte(from) == '-'
    val limit = if (neg) "9223372036854775808" else "9223372036854775807"
    val dStart = if (neg) from + 1 else from
    var i = 0
    while (i < 19) {
      val d = s.getByte(dStart + i)
      val l = limit.charAt(i).toByte
      if (d < l) return true
      if (d > l) return false
      i += 1
    }
    true
  }

  private def parseLong(s: UTF8String, from: Int, end: Int): Long = {
    var i = from
    var neg = false
    if (s.getByte(i) == '-') { neg = true; i += 1 }
    var acc = 0L
    while (i < end) {
      acc = acc * 10 + (s.getByte(i) - '0')
      i += 1
    }
    if (neg) -acc else acc
  }

  /** Full parse for payloads the flat scan bailed on (nested
    * containers, escape sequences): Jackson streaming with
    * skipChildren over nested values, validated to end-of-input.
    */
  private def jackson(doc: String, key: String): java.lang.Long = {
    try {
      val p = factory.createParser(doc)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return null
        var found = false
        var result: java.lang.Long = null
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          val t = p.nextToken()
          if (!found && name == key) {
            found = true
            if (t == JsonToken.VALUE_NUMBER_INT) {
              result =
                try java.lang.Long.valueOf(p.getLongValue)
                catch { case _: Exception => null } // overflow
            } else if (t == JsonToken.VALUE_STRING) {
              // same quoted-integral coercion as the flat path
              val u = UTF8String.fromString(p.getText)
              result = parseQuotedLong(u, 0, u.numBytes())
            }
          }
          if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY) {
            p.skipChildren()
          }
        }
        if (p.currentToken() != JsonToken.END_OBJECT) return null
        if (p.nextToken() != null) return null // trailing garbage
        result
      } finally p.close()
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Column-level API. The key goes in as a `string` literal, i.e. as
    * UTF-8 bytes once per plan: the scan compares raw bytes, so a
    * multibyte key matches its unescaped occurrences.
    */
  def of(json: Column, key: String): Column =
    Kernel.call(this, "extract", LongType, Seq(json -> exactly(StringType)),
      Seq(Literal(key)), returnNullable = true)
}
