package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The window top-k under q46 and t9 (`row_number() ≤ k` over
  * `(score desc, id asc)`, NULLs last): value parity against the
  * oracle formulation, deterministic tie and NULL order, and the plan
  * property the design relies on — a Partial WindowGroupLimit that
  * cuts each map task's slice to k rows per group below the shuffle.
  */
class TopKNativeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q46 matches the window formulation on the customer table") {
    val got = graft.SparkEntry.queries("q46_topk_agg")(spark, TestSpark.SF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w = Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val want = spark.read.parquet(s"${TestSpark.SF}/customer.parquet")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("c_nationkey").cast("long"), col("c_custkey"),
        col("rank").cast("long"))
      .orderBy(col("c_nationkey"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("ties break on id asc; NULL scores and ids rank last") {
    val df = spark.createDataFrame(Seq(
      (1L, java.lang.Double.valueOf(5.0), java.lang.Long.valueOf(30L)),
      (1L, java.lang.Double.valueOf(5.0), java.lang.Long.valueOf(10L)),
      (1L, java.lang.Double.valueOf(5.0), java.lang.Long.valueOf(20L)),
      (1L, java.lang.Double.valueOf(9.0), java.lang.Long.valueOf(99L)),
      (1L, null.asInstanceOf[java.lang.Double], java.lang.Long.valueOf(1L)),
      (2L, java.lang.Double.valueOf(1.0), null.asInstanceOf[java.lang.Long]),
      (2L, java.lang.Double.valueOf(1.0), java.lang.Long.valueOf(7L))))
      .toDF("g", "s", "i")
      // >1 partition so the partial limits really run per map task
      .repartition(3)
    val w = Window.partitionBy(col("g"))
      .orderBy(col("s").desc_nulls_last, col("i").asc_nulls_last)
    def topK(k: Int): List[(Long, Option[Any])] =
      df.select(col("g"), col("i"), row_number().over(w).as("rn"))
        .filter(col("rn") <= k)
        .orderBy(col("g"), col("rn"))
        .collect().toList.map(r => (r.getLong(0), Option(r.get(1))))
    // score desc first, then id asc among the 5.0 ties; the NULL score
    // ranks after every scored row, the NULL id after id 7 on a tie
    assert(topK(5) == List(1L -> Some(99L), 1L -> Some(10L), 1L -> Some(20L),
      1L -> Some(30L), 1L -> Some(1L), 2L -> Some(7L), 2L -> None))
    assert(topK(3).map(_._2) ==
      List(Some(99L), Some(10L), Some(20L), Some(7L), None))
  }

  test("plan: a Partial WindowGroupLimit below the shuffle") {
    val plan = graft.SparkEntry.queries("q46_topk_agg")(spark, TestSpark.SF)
      .queryExecution.executedPlan.toString
    assert(TopKNativeSpec.partialLimitBelowShuffle(plan),
      s"expected a map-side Partial WindowGroupLimit below the shuffle:\n$plan")
  }
}

object TopKNativeSpec {
  /** The plan text holds a Partial WindowGroupLimit printed below (i.e.
    * as a descendant line after) an Exchange. */
  def partialLimitBelowShuffle(plan: String): Boolean = {
    val lines = plan.linesIterator.toIndexedSeq
    val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    ex >= 0 && lines.drop(ex + 1)
      .exists(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
  }
}
