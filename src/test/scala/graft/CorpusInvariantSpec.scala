package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Several oracles compare byte-offset arithmetic (m2's frame slicing,
  * d8's NOT-IN signature anti-join, t5's redaction offsets) against
  * DuckDB's character-based functions; they agree only because the
  * generated documents corpus is pure single-byte ASCII with no NULL
  * texts. This spec pins that invariant: a regenerated corpus with a
  * multibyte character or a null text fails HERE, loudly, instead of
  * surfacing as an inscrutable oracle hash mismatch. (q60_adversarial
  * covers the multibyte/null semantics themselves on a synthetic
  * table — the point of this spec is the corpus contract, not the
  * functions.)
  */
class CorpusInvariantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("documents corpus is non-null single-byte ASCII") {
    // derive both scale dirs from the root TestSpark.SF pins, so the
    // spec follows the data root instead of hardcoding this machine's
    val root = new java.io.File(TestSpark.SF).getParent
    for (sf <- Seq(TestSpark.SF, s"$root/sf0.01")) {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val bad = docs.filter(
        col("text").isNull ||
          octet_length(col("text")) =!= length(col("text")))
        .count()
      assert(bad == 0,
        s"$sf/documents.parquet: $bad rows are null or multibyte — " +
          "the byte-offset oracles (m2/d8/t5) assume ASCII non-null " +
          "text, and the native scanners' ASCII-lowercase semantics " +
          "(QualityScanStats n_stop/n_alpha) assume no " +
          "char case-folds into [a-z]; every such char (U+212A, " +
          "U+017F, U+0130) is multibyte, so this assertion covers both")
    }
  }

  test("events.ts reads as session-tz TIMESTAMP under engine defaults") {
    // The generated events timestamps are parquet-naive (no
    // isAdjustedToUTC); EngineDefaults disables NTZ inference so they
    // read as TIMESTAMP in the UTC session — the type streaming
    // watermarks and the DuckDB oracle agree on. A regenerated corpus
    // or a lost conf surfaces here, not as a cryptic oracle mismatch.
    val ts = spark.read.parquet(s"${TestSpark.SF}/events.parquet")
      .schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType,
      s"events.ts read as $ts — NTZ inference is on, or testdata changed")
  }
}
