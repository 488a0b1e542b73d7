package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** All sign-LSH band buckets of a float vector in ONE codegen'd kernel
  * call (see [[Kernel]]):
  * returns `array<long>` of `bands` bucket ids, bit `p` of band `b`
  * set iff `vec · plane(b*planesPerBand+p) > 0`.
  *
  * Exists because composing the same thing from 8×16 scalar
  * expressions (`when(float_vec_dot(...) > 0, ...)`) builds a
  * projection too wide for whole-stage codegen — Spark silently falls
  * back to interpreted evaluation and the signature step becomes the
  * dominant cost of the whole near-dup pipeline (measured ~10 µs per
  * dot interpreted vs ~0.1 µs generated). Here the plane matrix is a
  * single flat float[] literal and the kernel is one tight triple
  * loop; only the SIGN of each projection is used, so
  * plain double accumulation (sequential, fixed order — deterministic)
  * suffices with no decimal grid.
  */
object FloatVecSignBuckets {
  /** The plane matrix must cover bands×planesPerBand projections of
    * exactly the vector's dimension — anything else means the caller
    * paired a vector with the wrong hyperplane family, which would
    * produce plausible but meaningless buckets.
    */
  def checkedDim(dim: Int, planesLen: Int, bands: Int, ppb: Int): Int = {
    if (planesLen != bands * ppb * dim) {
      throw new IllegalArgumentException(
        s"float_vec_sign_buckets: $planesLen plane floats for " +
          s"$bands bands x $ppb planes x $dim dims")
    }
    dim
  }

  /** The kernel: `bands` bucket ids of `vec` against the flat plane
    * matrix.
    */
  def compute(vec: ArrayData, planes: Array[Float], bands: Int,
      planesPerBand: Int): ArrayData = {
    val dim = checkedDim(vec.numElements(), planes.length, bands, planesPerBand)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var p = 0
      while (p < planesPerBand) {
        var acc = 0.0
        val off = (b * planesPerBand + p) * dim
        var i = 0
        while (i < dim) {
          acc += planes(off + i) * vec.getFloat(i)
          i += 1
        }
        if (acc > 0) bucket |= 1L << p
        p += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level API; `planes` as (bands*planesPerBand) rows of the
    * vector dimension.
    */
  def buckets(v: Column, planes: Seq[Seq[Float]], bands: Int,
      planesPerBand: Int): Column =
    Kernel.call(this, "compute", ArrayType(LongType, containsNull = false),
      Seq(v -> exactly(ArrayType(FloatType))),
      Seq(Literal.fromObject(planes.flatten.toArray), Literal(bands),
        Literal(planesPerBand)))
}
