package graft

import org.scalatest.funsuite.AnyFunSuite

/** d6 must close duplicate SIGNALS into transitive CLUSTERS: pairwise
  * similarity is not transitive, the keep-one decision must be.
  */
class ClusterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("d6 merges a multi-hop prefix/bag chain into one cluster") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d6").toString
    val pfx = "p " * 20 // 40-char shared opening
    // 0~1 share the 40-char prefix; 1~2 share the word bag; 0 and 2
    // share NO signal — only transitive closure puts them together.
    // 3 has neither signal and must stay unclustered.
    val docs = Seq(
      (0L, pfx + "alpha beta"),
      (1L, pfx + "gamma delta"),
      (2L, "delta gamma " + pfx.trim),
      (3L, "totally different text"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("d6_dup_clusters")(spark, dir).collect()
    assert(rows.length == 1, s"expected one cluster, got ${rows.toSeq}")
    assert(rows(0).getLong(0) == 0L && rows(0).getLong(1) == 3L &&
      rows(0).getLong(2) == 2L,
      s"expected cluster 0 with docs {0,1,2}, got ${rows(0)}")
  }

  test("components: union-find and distributed propagation agree on a chain") {
    import spark.implicits._
    // path 1-2-3-4-5 plus isolated pair 10-11: components {1..5}, {10,11}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    for (threshold <- Seq(0 /* force distributed */, 1000 /* driver */)) {
      val got = graft.queries.LlmCluster.components(sym, threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"threshold=$threshold")
    }
  }

  test("repeated d6 invocations do not accumulate cached RDDs") {
    // d6 persists no working set (its rooted table is recomputed per
    // read; GateCache holds only size materializations), so re-running
    // the gate must not pile up cached RDDs, and release must leave
    // none behind. RDDs persisted before this test (e.g. the components
    // test's localCheckpoints, reaped only on GC) are not d6's.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("d6_dup_clusters")(spark, TestSpark.SF).collect()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    SparkEntry.queries("d6_dup_clusters")(spark, TestSpark.SF).collect()
    SparkEntry.queries("d6_dup_clusters")(spark, TestSpark.SF).collect()
    val after3 = spark.sparkContext.getPersistentRDDs.size
    assert(after3 <= after1,
      s"cached RDDs grew across invocations: $after1 -> $after3")
    graft.queries.GateCache.release(spark)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"d6 left persisted RDDs after release: $left")
  }

  test("components converge on a long chain (pointer jumping)") {
    import spark.implicits._
    // a 200-node path has diameter 199 — a one-hop-per-round loop
    // with any fixed sub-200 cap would abort; pointer jumping closes
    // it in O(log n) rounds
    val edges = (1L until 200L).map(i => (i, i + 1))
    val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val got = graft.queries.LlmCluster.components(sym, 0 /* distributed */)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200 && got.values.forall(_ == 1L),
      "all 200 chain nodes must label to the min id 1")
  }

  test("t5 redacts every injected email and phone") {
    val df = SparkEntry.queries("t5_pii_scrub")(spark, TestSpark.SF)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1, s"email not counted: $r")
      assert(r.getLong(2) >= 1, s"phone not counted: $r")
      val clean = r.getString(3)
      assert(clean.contains("<EMAIL>") && clean.contains("<PHONE>"))
      assert(!clean.contains("@mail.example.com") && !clean.contains("+1 555-"),
        s"PII survived scrubbing: $clean")
    }
  }
}
