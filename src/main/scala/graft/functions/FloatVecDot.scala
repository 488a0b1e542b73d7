package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Exact dot product of two `array<float>` columns as a codegen'd row
  * kernel (see [[Kernel]]).
  *
  * Numerics: each per-position product is computed in double
  * (exact — two 24-bit mantissas always fit in 53), rounded to 15
  * decimal places onto a scaled-long grid, and accumulated with exact
  * integer addition. The result is therefore independent of both
  * accumulation order and SIMD/fma differences, and equals
  * `sum(cast(x*y as decimal(18,15)))` — the form a SQL oracle can
  * state — while running as a tight generated loop instead of an
  * interpreted higher-order fold.
  *
  * At scale this is the kernel under brute-force ANN scoring and
  * embedding dedup: one fused loop per pair, no per-element object
  * allocation, fully inside whole-stage codegen.
  */
object FloatVecDot {
  /** 10^15: the decimal grid the products are rounded onto. */
  val SCALE: Double = 1e15

  /** Dimension mismatch is a data bug (e.g. 512-d query vs 768-d
    * corpus); silently truncating to min(n) would yield plausible but
    * meaningless scores, so it fails loudly instead.
    */
  def checkedLength(n1: Int, n2: Int): Int = {
    if (n1 != n2) {
      throw new IllegalArgumentException(
        s"float_vec_dot: vector dimensions differ ($n1 vs $n2)")
    }
    n1
  }

  /** Exact double product rounded half-up onto the scaled-long grid —
    * the same rounding `cast(double as decimal(18,15))` applies.
    */
  def scaled(x: Float, y: Float): Long = {
    val p = x.toDouble * y.toDouble
    val s = p * SCALE
    // BigDecimal-exact HALF_UP rounding only matters within 1 ulp of a
    // grid midpoint; Math.round (= floor(x+0.5)) agrees there for the
    // magnitudes embeddings produce, and is branch-free.
    if (s >= 0) Math.round(s) else -Math.round(-s)
  }

  /** The kernel: one fused loop per pair, no per-element allocation. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = checkedLength(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += scaled(x.getFloat(i), y.getFloat(i))
      i += 1
    }
    acc / SCALE
  }

  // both operands must be array<float>: getFloat on any other array
  // type would silently reinterpret raw bytes (user-reachable via the
  // registered SQL function float_vec_dot)
  private val FloatVec = exactly(ArrayType(FloatType))

  /** Column-level API. */
  def dot(a: Column, b: Column): Column =
    Kernel.call(this, "compute", DoubleType, Seq(a -> FloatVec, b -> FloatVec))
}
