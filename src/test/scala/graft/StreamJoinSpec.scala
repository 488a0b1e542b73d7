package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** q61's stream-stream interval join under genuinely MULTI-batch
  * replay. The driver gate drains one static file — one micro-batch —
  * so it alone never exercises the cross-batch state path: a click
  * buffered in an early micro-batch joining a purchase that arrives
  * batches later. Here the events corpus is split into several files
  * replayed one per trigger; the watermark is stretched past the
  * corpus's full time span so no row can be declared late by the
  * (arrival-order-dependent) random file split, and the streamed
  * result must then equal the batch join EXACTLY, pair for pair.
  */
class StreamJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("click-purchase pairs survive one-file-per-trigger replay") {
    val ev = graft.queries.Q.events(spark, TestSpark.SF)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q61_mb")
      .toString
    ev.repartition(4).write.mode("overwrite").parquet(tmp)
    val nFiles = new java.io.File(tmp).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 2, s"need a multi-file corpus, got $nFiles")

    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val expected = c.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val got = StreamOps.clickPurchaseJoin(spark, tmp,
        glob = "*.parquet", maxFilesPerTrigger = Some(1),
        watermark = "40 days", queryName = "graft_q61_mb_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"multi-batch stream join: ${got.size} pairs vs batch " +
        s"${expected.size}; missing=${(expected -- got).take(3)} " +
        s"extra=${(got -- expected).take(3)}")
    assert(expected.nonEmpty, "degenerate spec: batch join is empty")

    // Durable-sink variant (r9): same multi-batch replay, but each
    // micro-batch commits to a parquet file sink with a checkpoint —
    // the memory sink above is gate-only plumbing, this is the shape a
    // real pipeline ships with. The read-back must match batch too.
    val sink = java.nio.file.Files.createTempDirectory("graft_q61_fs")
      .toString
    val gotFile = StreamOps.clickPurchaseJoin(spark, tmp,
        glob = "*.parquet", maxFilesPerTrigger = Some(1),
        watermark = "40 days", queryName = "graft_q61_fs_sink",
        sinkDir = Some(sink))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotFile == expected,
      s"parquet-sink stream join diverged: ${gotFile.size} pairs vs " +
        s"batch ${expected.size}; missing=${(expected -- gotFile).take(3)} " +
        s"extra=${(gotFile -- expected).take(3)}")
  }
}
