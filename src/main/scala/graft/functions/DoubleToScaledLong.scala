package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.functions.{lit, sum}

/** `double → unscaled long at decimal scale s`, value-identical to the
  * unscaled value of Spark's `cast(x as decimal(18, s))` — the exact
  * decimal-sum ingredient of the suite's `dsum`/`davg` numeric policy
  * (see [[Q]]) — without the per-row BigDecimal the Cast pays.
  *
  * Why: `sum(cast(x as decimal(18,s)))` plans a per-row
  * `Double.toString → BigDecimal → setScale(HALF_UP)` conversion plus
  * a Decimal-object aggregation buffer. On a 600M-row fact table with
  * 7 decimal measures that is ~4×10⁹ BigDecimal allocations per pass —
  * the full-plan bench action (r10) surfaced it as the dominant cost of
  * q1/q44/q47/q65 (q1: 37 s at sf100 where DuckDB's int128 sum takes
  * ~2 s). Here the cast collapses to ~10 flops/row and the sum runs on
  * primitive longs (see [[Dnum]] for the overflow-safe split sum).
  *
  * Parity contract (pinned by DsumParitySpec): for every finite x with
  * |result| < 10^18, `compute(x, s)` equals
  * `java.math.BigDecimal.valueOf(x).setScale(s, HALF_UP).unscaledValue`
  * — which is bit-for-bit what Spark's Cast produces, because
  * `Decimal.set(double)` goes through `Double.toString` (shortest
  * round-trip decimal), NOT the exact binary expansion of x. The two
  * disagree on the HALF_UP decision only when the exact value of
  * x·10^s and its shortest-decimal reading straddle a .5 boundary —
  * within ~1 ulp of it — so the compiled fast path (exact two-product
  * via FMA) decides only when the fraction is ≥ 4 ulps away from .5
  * and defers anything closer to the same BigDecimal.valueOf route the
  * Cast takes. Fallback frequency is ~ulp(x·10^s)-proportional
  * (measured ~10⁻⁵ of rows at charge magnitudes, ~10⁻¹² at unit
  * magnitudes); NaN/±Inf and |result| ≥ 10^18 throw ArithmeticException
  * (the ANSI Cast raises its own error class there; this suite never
  * feeds either — documented divergence, not silent).
  */
object DoubleToScaledLong {

  private val Pow10 = Array.tabulate(9)(i => math.pow(10.0, i))
  // values at or above 2^52 have ulp ≥ 1: fraction logic is meaningless
  private val FracLimit = 4503599627370496.0 // 2^52
  private val UnscaledLimit = 1000000000000000000L // 10^18 (precision 18)

  /** Unscaled long of HALF_UP(x, scale), matching BigDecimal.valueOf(x)
    * (= Spark Cast) exactly. ~10 flops on the fast path.
    */
  def compute(x: Double, scale: Int): Long = {
    val ax = Math.abs(x)
    val f = Pow10(scale)
    val pa = ax * f
    // NaN, ±Inf, |scaled| too large for exact fraction → slow path
    if (!(pa < FracLimit)) return slow(x, scale)
    // exact two-product: ax*f == pa + ea, exactly (FMA residual)
    val ea = Math.fma(ax, f, -pa)
    var f0 = Math.floor(pa)
    var r = (pa - f0) + ea // pa - f0 is exact below 2^52
    if (r >= 1.0) { f0 += 1.0; r = (pa - f0) + ea }
    else if (r < 0.0) { f0 -= 1.0; r = (pa - f0) + ea }
    // The HALF_UP decision is safe only when the fraction is clearly
    // away from .5: within a few ulps of it, the exact binary value
    // and the shortest-decimal reading the Cast uses may disagree.
    val band = 4.0 * Math.ulp(pa) + 1e-12
    if (Math.abs(r - 0.5) < band) return slow(x, scale)
    var n = f0.toLong
    if (r >= 0.5) n += 1L
    if (n >= UnscaledLimit)
      throw new ArithmeticException(
        s"$x does not fit decimal(18, $scale)")
    if (x < 0) -n else n
  }

  /** The Cast's own route: shortest-decimal reading, HALF_UP. */
  private def slow(x: Double, scale: Int): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      throw new ArithmeticException(s"$x cannot cast to decimal(18, $scale)")
    val n = java.math.BigDecimal.valueOf(x)
      .setScale(scale, RoundingMode.HALF_UP).unscaledValue()
    if (n.abs.compareTo(java.math.BigInteger.valueOf(UnscaledLimit)) >= 0)
      throw new ArithmeticException(
        s"$x does not fit decimal(18, $scale)")
    n.longValueExact()
  }

  /** Column-level API. */
  def of(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 8, s"scale $scale out of range")
    Kernel.call(this, "compute", LongType, Seq(c -> exactly(DoubleType)),
      Seq(Literal(scale)))
  }
}

/** The suite-wide exact-decimal-sum helpers, rebuilt on
  * [[DoubleToScaledLong]]: identical values to the
  * `sum(cast(x as decimal(18,s))).cast("double")` forms they replace
  * (same unscaled integers, same correctly-rounded final double), with
  * the per-row BigDecimal cast and the Decimal aggregation buffer both
  * replaced by primitive long arithmetic.
  *
  * Overflow safety WITHOUT decimal buffers: each scaled long is split
  * hi = v / 10⁶, lo = v % 10⁶ (exact for every long, signs agree), and
  * the two halves are summed as plain longs. Each half has ~9.2×10¹⁸
  * of headroom, so the per-group row capacity is
  * 9.2×10¹⁸ / max(|hi|, 10⁶) ≈ 9.2×10¹⁸·min(10⁻⁶, 10⁶/maxUnscaled):
  * at this suite's magnitudes (|values| ≤ ~10⁵, scale ≤ 6 ⇒ unscaled
  * ≤ ~10¹¹, hi ≤ ~10⁵) that is ≥ ~9.2×10¹² rows per group — a million
  * times the sf100 gate — but a caller summing values near the 10¹⁸
  * unscaled cap (hi ~ 10¹²) would overflow sum(hi) at ~9.2×10⁶ rows.
  * NOTE: under default (non-ANSI) Spark a plain long sum WRAPS silently
  * on overflow rather than throwing — the capacity bound above is the
  * actual invariant, not a runtime guard. The halves are recombined as
  * decimal(38,0) arithmetic on the handful of OUTPUT groups, where the
  * division by 10^s is exact (the quotient's fixed scale-6 result
  * covers every s ≤ 6 — enforced by lsumDec's require) and the final
  * cast(double) is the same correctly-rounded conversion the old form
  * ended with.
  */
object Dnum {

  /** Split-sum of an unscaled-long column, reconstructed as the exact
    * decimal value × 10^-scale (same rational as
    * `sum(cast(x as decimal))`, so the same correctly-rounded double
    * after a final cast).
    */
  def lsumDec(v: Column, scale: Int): Column = {
    // decimal(38,0) / bigint yields decimal(38,6): the reconstruction
    // divide is value-exact only for scale <= 6. DoubleToScaledLong
    // permits scale <= 8, so fail loudly here instead of silently
    // rounding a scale-7/8 caller's sums (ADVICE r11).
    require(scale >= 0 && scale <= 6,
      s"lsumDec scale $scale exceeds the exact-division range (<= 6)")
    // hi/lo split via integral division; lo is defined FROM hi so the
    // recombination hi*10^6 + lo == v holds under either division
    // convention (truncate or floor) on negatives.
    val hi = Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        Bridge.expression(v), Bridge.expression(lit(1000000L))))
    val lo = v - hi * 1000000L
    val unscaled = (sum(hi).cast("decimal(38,0)") * 1000000L +
      sum(lo).cast("decimal(38,0)"))
    unscaled / lit(Pow10L(scale))
  }

  /** [[lsumDec]] of the scaled cast of a double column — the exact
    * decimal SUM VALUE (for sites that re-aggregate partial sums, e.g.
    * a pre-agg under a rollup or a union of branch aggregates).
    */
  def dsumDec(c: Column, scale: Int = 2): Column =
    lsumDec(DoubleToScaledLong.of(c, scale), scale)

  /** Exact, order-independent sum of a double column at decimal scale
    * s, as a double — value-identical to
    * `sum(x.cast(DecimalType(18, s))).cast("double")`.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    dsumDec(c, scale).cast("double")

  /** Exact average at decimal scale s: [[dsum]] / count — the same
    * IEEE division on the same operands as the form it replaces.
    */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / org.apache.spark.sql.functions.count(c)

  private val Pow10L = Array.tabulate(9)(i => math.pow(10, i).toLong)
}
