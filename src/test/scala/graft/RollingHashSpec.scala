package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingFingerprint

/** The codegen'd RollingFingerprint must be result-identical to the
  * interpreted `aggregate(transform(words, md5 → 32-bit))` fold it
  * replaced in t4 — same md5-derived per-word values, same running
  * mod-1e9+7 polynomial.
  */
class RollingHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def interpreted(c: org.apache.spark.sql.Column) =
    aggregate(
      transform(c, w => conv(substring(md5(w), 1, 8), 16, 10).cast("long")),
      lit(0L),
      (acc, x) => pmod(acc * 31 + x, lit(1000000007L)))

  test("parity with the interpreted fold on the real corpus") {
    val words = spark.read.parquet(s"${TestSpark.SF}/documents.parquet")
      .select(col("doc_id"),
        split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
          .as("words"))
    val diff = words.select(
        RollingFingerprint.of(col("words")).as("native"),
        interpreted(col("words")).as("interp"))
      .filter(col("native") =!= col("interp") ||
        col("native").isNull =!= col("interp").isNull)
      .count()
    assert(diff == 0, "native and interpreted fingerprints must agree")
  }

  test("edge cases: empty array, unicode, null element, null array") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.empty[String])),
      (2L, Some(Seq("héllo", "wörld", "漢字"))),
      (3L, Some(Seq("a"))),
      (4L, None: Option[Seq[String]]))
      .toDF("id", "words")
    val rows = df.select(col("id"),
        RollingFingerprint.of(col("words")).as("native"),
        interpreted(col("words")).as("interp"))
      .orderBy(col("id")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) &&
        (r.isNullAt(1) || r.getLong(1) == r.getLong(2)),
        s"mismatch on id=${r.getLong(0)}: $r")
    }
    assert(rows(0).getLong(1) == 0L, "empty array folds to the init 0")
    assert(rows(3).isNullAt(1), "null array yields NULL")
    // null ELEMENT yields NULL (matching the interpreted fold)
    assert(spark.sql(
      "SELECT rolling_fingerprint(array('a', cast(NULL as string))) IS NULL")
      .collect()(0).getBoolean(0))
  }

  test("SQL registration works") {
    val viaSql = spark.sql(
      "SELECT rolling_fingerprint(array('alpha','beta','gamma'))")
      .collect()(0).getLong(0)
    import spark.implicits._
    val viaCol = Seq(Seq("alpha", "beta", "gamma")).toDF("w")
      .select(RollingFingerprint.of(col("w"))).collect()(0).getLong(0)
    assert(viaSql == viaCol)
  }
}
