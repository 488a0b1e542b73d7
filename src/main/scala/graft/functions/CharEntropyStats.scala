package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document character statistics for the t16 quality
  * signal: `struct(n_chars_norm, n_distinct_chars, entropy)` over a
  * (pre-normalized) string, as a codegen'd row kernel (see [[Kernel]]).
  *
  * Replaces the `transform(array_sort(array_distinct(chars)), c ->
  * size(filter(chars, x -> x = c)))` histogram, which is
  * O(|alphabet| * len) per document in interpreted higher-order-
  * function evaluation (each lambda element allocates a frame and
  * walks the full char array again) — the full-plan bench action
  * surfaced it at 51 s / 21x at sf10. Here the histogram is one
  * compiled pass over the string's UTF-8 bytes.
  *
  * Result-identical to the fold it replaces by construction:
  *   - characters are the string's Unicode code points, exactly what
  *     `split(s, "")` produces (Java regex treats a surrogate pair as
  *     one code point) and what DuckDB's `string_split(s, '')` yields;
  *   - the entropy terms `-(c/n) * log2(c/n)` are accumulated in
  *     ascending code-point order — identical to a left fold from 0.0
  *     over `array_sort(array_distinct(chars))`, since lexicographic
  *     order on single-code-point strings IS code-point order — so the
  *     double sum is order-identical to both the previous Spark arm
  *     and the DuckDB oracle (the only cross-engine wobble remains
  *     log2's last ulp, absorbed by the gate's round(6));
  *   - ASCII counts live in a flat 128-slot array; the rare non-ASCII
  *     code points go to a sorted map that is drained after slot 127,
  *     preserving the global order.
  *
  * Divergence note (documented, unreachable on the corpus): for an
  * EMPTY string this returns (0, 0, 0.0), where the old Spark arm
  * returned (1, 1, 0.0) — `split("", "")` yields `[""]` — and the
  * DuckDB oracle returns (0, 0, NULL). The corpus has no empty
  * normalized documents (the old arm could not have matched the
  * oracle on one either).
  */
object CharEntropyStats {

  private val Schema = StructType(Seq(
    StructField("n_chars_norm", LongType, nullable = false),
    StructField("n_distinct_chars", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))

  // StrictMath, not Math: Spark's codegen'd log2 emits
  // `StrictMath.log(x) / StrictMath.log(2)`, and Math.log's platform
  // intrinsic differs from it by 1 ulp on some inputs — enough to
  // break bit-parity with the HOF arm this expression replaced
  // (measured: 21 of 500 corpus docs off by the last bit).
  private val Log2 = StrictMath.log(2.0)

  /** The whole histogram + entropy fold in one compiled pass. */
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val ascii = new Array[Long](128)
    // non-ASCII overflow: sorted by code point so the global
    // accumulation order stays ascending (all entries are > 127)
    var other: java.util.TreeMap[Integer, Long] = null
    var n = 0L
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
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.TreeMap[Integer, Long]()
        other.put(cp, other.getOrDefault(cp, 0L) + 1L)
      }
      n += 1
    }
    var distinct = 0L
    var entropy = 0.0
    val nd = n.toDouble
    var c = 0
    while (c < 128) {
      val cnt = ascii(c)
      if (cnt > 0) {
        distinct += 1
        val p = cnt / nd
        entropy -= p * (StrictMath.log(p) / Log2)
      }
      c += 1
    }
    if (other != null) {
      val it = other.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        distinct += 1
        val p = e.getValue / nd
        entropy -= p * (StrictMath.log(p) / Log2)
      }
    }
    new GenericInternalRow(Array[Any](n, distinct,
      if (n == 0) 0.0 else entropy))
  }

  /** Column-level API. */
  def of(text: Column): Column =
    Kernel.call(this, "compute", Schema, Seq(text -> exactly(StringType)))
}
