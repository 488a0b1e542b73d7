package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FloatVecDot, RollingFingerprint}

/** Randomized parity for the native Catalyst kernels. The example
  * specs pin known adversarial cases; these drive each kernel with a
  * few hundred SEEDED random inputs (deterministic across runs — no
  * flaky CI) against an independently-written Scala reference, so a
  * codegen edit that survives the curated cases still has to survive
  * the fuzz. Each property batches all its cases into ONE DataFrame
  * action, so the suite stays fast.
  */
class PropertyParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private val wordGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.listOfN(3, Gen.oneOf("é", "ü", "日", "a", "𝄞", " ")).map(_.mkString),
    Gen.const(""))
  private val wordsGen: Gen[List[String]] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, wordGen))

  test("rolling_fingerprint matches the reference fold on 300 random arrays") {
    import spark.implicits._
    val cases = samples(wordsGen, 300, 42L)
    val df = cases.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "words")
    val got = df.select(col("id"),
        RollingFingerprint.of(col("words")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ref(ws: Seq[String]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      ws.foldLeft(0L) { (acc, w) =>
        val d = md.digest(w.getBytes("UTF-8"))
        val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        (acc * 31 + h) % 1000000007L
      }
    }
    cases.zipWithIndex.foreach { case (w, i) =>
      assert(got(i.toLong) == ref(w), s"case $i: $w")
    }
  }

  test("float_vec_dot matches the scaled-grid reference on 300 random pairs") {
    import spark.implicits._
    val fGen = Gen.chooseNum(-1.0f, 1.0f)
    val cases = samples(Gen.choose(1, 16), 300, 7L).zipWithIndex.map {
      case (d, i) =>
        (i.toLong,
          samples(fGen, d, 1000L + i).toArray,
          samples(fGen, d, 5000L + i).toArray)
    }
    val got = cases.toDF("id", "a", "b")
      .select(col("id"), FloatVecDot.dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def scaled(x: Float, y: Float): Long = {
      val s = x.toDouble * y.toDouble * 1e15
      if (s >= 0) Math.round(s) else -Math.round(-s)
    }
    cases.foreach { case (i, a, b) =>
      val ref = a.zip(b).map { case (x, y) => scaled(x, y) }.sum / 1e15
      assert(got(i) == ref, s"case $i")
    }
  }

  test("window top-k is partition-count invariant and matches the sort reference") {
    import spark.implicits._
    // discrete score grid forces heavy TIES, exercising the
    // (score desc, id asc) tiebreak across the partial and final limits
    val rowGen = for {
      src <- Gen.oneOf("a", "b", "c")
      score <- Gen.choose(0, 5).map(_ / 2.0)
    } yield (src, score)
    val rows = samples(rowGen, 400, 11L).zipWithIndex.map {
      case ((s, sc), i) => (s, i.toLong, sc)
    }
    val ref = rows.groupBy(_._1).map { case (s, g) =>
      s -> g.sortBy(t => (-t._3, t._2)).take(5).map(_._2).toList
    }
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score").desc_nulls_last, col("id").asc_nulls_last)
    for (parts <- Seq(1, 3, 13)) {
      val got = rows.toDF("src", "id", "score").repartition(parts)
        .select(col("src"), col("id"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
        .collect().toList.groupBy(_.getString(0))
        .map { case (s, rs) => s -> rs.sortBy(_.getInt(2)).map(_.getLong(1)) }
      assert(got == ref,
        s"parts=$parts: partial-limit merge diverged from the sort reference")
    }
  }
}
