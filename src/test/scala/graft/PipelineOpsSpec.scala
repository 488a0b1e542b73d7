package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic + scale-shape specs for the round-7 curation operators
  * t9_domain_cap and t10_rarity (beyond their DuckDB oracle gates).
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("t9: no source exceeds the cap, ranks are contiguous from 1") {
    val rows = SparkEntry.queries("t9_domain_cap")(spark, TestSpark.SF)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), min(col("rank")).as("lo"),
        max(col("rank")).as("hi"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n <= 10, s"source ${r.getString(0)} kept $n > cap")
      assert(lo == 1 && hi == n, s"ranks not contiguous for ${r.getString(0)}")
    }
  }

  test("t9: selected docs are the per-source argmax set (n_chars desc, id)") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"${TestSpark.SF}/documents.parquet")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val expected = docs
      .select(col("source"), col("doc_id"), row_number().over(w).as("rank"))
      .filter(col("rank") <= 10)
    val got = SparkEntry.queries("t9_domain_cap")(spark, TestSpark.SF)
    assert(got.count() == expected.count())
    assert(got.select(col("source"), col("doc_id"))
      .exceptAll(expected.select(col("source"), col("doc_id"))).isEmpty)
  }

  test("t9: plan has a Partial WindowGroupLimit below the shuffle") {
    val plan = SparkEntry.queries("t9_domain_cap")(spark, TestSpark.SF)
      .queryExecution.executedPlan.toString
    assert(TopKNativeSpec.partialLimitBelowShuffle(plan),
      s"t9 must cut each map task's slice before the shuffle:\n$plan")
  }

  test("t10: score is replication-invariant (2x corpus, same per-doc score)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_t10").toString
    val docs = spark.read.parquet(s"${TestSpark.SF}/documents.parquet")
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = SparkEntry.queries("t10_rarity")(spark, TestSpark.SF)
      .select(col("doc_id"), col("score"))
    val repl = SparkEntry.queries("t10_rarity")(spark, dir)
      .filter(col("doc_id") < 1000000L)
      .select(col("doc_id"), col("score"))
    // exact equality: every wf and the total scale by exactly 2, and
    // 2a/2b == a/b in IEEE double (the power-of-two scaling is exact)
    val joined = base.as("a").join(repl.as("b"), Seq("doc_id"))
      .filter(col("a.score") =!= col("b.score"))
    assert(joined.isEmpty, "replication changed a doc's rarity score")
  }

  test("t10: an empty corpus gives no rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_t10e").toString
    spark.read.parquet(s"${TestSpark.SF}/documents.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("t10_rarity")(spark, dir).collect().isEmpty)
  }

  test("t10: keep flag discriminates on the corpus (both outcomes occur)") {
    val keeps = SparkEntry.queries("t10_rarity")(spark, TestSpark.SF)
      .groupBy(col("keep")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(keeps.getOrElse(true, 0L) > 0, "t10 kept nothing")
    assert(keeps.getOrElse(false, 0L) > 0, "t10 dropped nothing")
  }
}
