package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.LlmSim

/** Pins the scale bound on d2's LSH candidate generation: a
  * near-dup-heavy corpus (100 mutually-similar docs whose signatures
  * land in the same band buckets) must produce O(n) candidates — the
  * r=2 banding plus the sorted-neighborhood cap guarantee ≤ 8·8·n by
  * construction — while consecutive cluster members stay paired (the
  * chain through which a dup cluster is discovered).
  */
class BandBoundSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("candidate count stays O(n) on a near-dup-heavy corpus") {
    import spark.implicits._
    // 100-strong mutual near-dup cluster: signatures share 15 of 16
    // minhashes (one position perturbed per doc), so most r=2 bands
    // still collide for most pairs — the shape that made r=1 banding
    // quadratic. 1000 background docs with disjoint signatures.
    val cluster = (0L until 100L).map { d =>
      val sig = Array.tabulate(16)(i => 1000L + i)
      sig((d % 16).toInt) = 50000L + d
      (d, sig.toSeq)
    }
    val background = (0L until 1000L).map { d =>
      (10000L + d, Seq.tabulate(16)(i => 1000000L + d * 16 + i))
    }
    val mhArr = (cluster ++ background).toDF("doc_id", "sig")
    val n = cluster.size + background.size
    val cands = LlmSim.minhashCandidates(mhArr).cache()
    try {
      val total = cands.count()
      assert(total <= 64L * n,
        s"candidate count $total exceeds the 8 bands x 8 neighbors bound")
      // not quadratic in the cluster: 100 mutually-similar docs would
      // be 4950 all-pairs; the neighborhood cap keeps it linear
      val inCluster = cands
        .filter(col("a") < 100 && col("b") < 100).count()
      assert(inCluster <= 8L * 8L * cluster.size && inCluster < 4950,
        s"cluster produced $inCluster pairs — quadratic blowup")
      // discoverability: every consecutive cluster pair survives (the
      // union-find chain that collapses the cluster downstream)
      val consecutive = cands
        .filter(col("b") === col("a") + 1 && col("a") < 99).count()
      assert(consecutive == 99L,
        s"only $consecutive/99 consecutive cluster pairs found")
      // background docs share no band hashes: no spurious candidates
      val spurious = cands.filter(col("a") >= 10000).count()
      assert(spurious == 0L, s"$spurious spurious background pairs")
    } finally cands.unpersist()
  }

  test("every candidate shares both minhashes of some band, so 2 of 16") {
    import spark.implicits._
    // minhashes drawn from 4 values: random pairs often share single
    // minhashes without sharing a band, the matches r=1 banding would
    // admit and r=2 banding must not
    val rnd = new scala.util.Random(7)
    val mhArr = (0L until 300L)
      .map(d => (d, Seq.fill(16)(rnd.nextInt(4).toLong))).toDF("doc_id", "sig")
    val sig = mhArr.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val pairs = LlmSim.minhashCandidates(mhArr).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    for ((a, b) <- pairs) {
      val (x, y) = (sig(a), sig(b))
      assert((0 until 8).exists(j =>
        x(2 * j) == y(2 * j) && x(2 * j + 1) == y(2 * j + 1)),
        s"candidate ($a, $b) shares no band")
      assert((0 until 16).count(i => x(i) == y(i)) >= 2)
    }
  }
}
