package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge.exactly
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** Polynomial rolling-hash document fingerprint over an
  * `array<string>` of words, as a codegen'd row kernel (see
  * [[Kernel]]): `acc = (acc * 31 + md5_32(word)) mod 1e9+7`, starting
  * from 0, where `md5_32` is the first 4 bytes of the word's MD5
  * digest read big-endian (== the first 8 hex chars parsed base-16 —
  * the engine-agnostic form a SQL oracle can state).
  *
  * Replaces the interpreted `aggregate(transform(words, md5...))`
  * higher-order fold, which Spark cannot compile into whole-stage
  * codegen (each element allocates a lambda frame and evaluates an
  * expression tree): here the whole fold is one generated call into a
  * tight loop with a thread-reused digest instance. Identical results
  * by construction: for >= 2 words the running `mod` agrees with a
  * single trailing `mod` (the gate filters 1-word docs for exactly
  * that reason — DuckDB's list_reduce seeds with the first element
  * unreduced).
  *
  * Null handling matches the fold it replaces: a null words array or
  * a null element yields NULL (aggregate's merge on null is null), so
  * the result is nullable even over a non-null array.
  */
object RollingFingerprint {
  val Mod: Long = 1000000007L

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** The whole fold in one compiled loop; boxed so a null element can
    * surface as a NULL result (matching the interpreted fold).
    */
  def hashWords(arr: ArrayData): java.lang.Long = {
    val d = md.get()
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      // digest() resets the instance, so one thread-local is reused
      // across every word of every row on the thread
      val dig = d.digest(arr.getUTF8String(i).getBytes)
      val h = ((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
        ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)
      acc = (acc * 31 + h) % Mod
      i += 1
    }
    acc
  }

  /** Column-level API. */
  def of(words: Column): Column =
    Kernel.call(this, "hashWords", LongType,
      Seq(words -> exactly(ArrayType(StringType))), returnNullable = true)
}
