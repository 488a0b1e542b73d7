package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** The shared stream drain releases its streaming query on every path:
  * a micro-batch that throws surfaces the error to the caller and
  * leaves no active query behind, and every streaming gate returns with
  * no query still active.
  */
class StreamDrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a failing batch rethrows and leaves no active query under its name") {
    val name = "graft_drain_fail"
    val schema = spark.read.parquet(s"${TestSpark.SF}/region.parquet").schema
    val writer = spark.readStream.schema(schema)
      .option("pathGlobFilter", "region.parquet")
      .parquet(TestSpark.SF)
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        throw new IllegalStateException("batch failed on purpose")
      }
    val e = intercept[StreamingQueryException] {
      StreamOps.drain(spark, name, writer)
    }
    assert(e.getCause.isInstanceOf[IllegalStateException], e)
    assert(e.getCause.getMessage == "batch failed on purpose")
    assert(!spark.streams.active.exists(_.name == name),
      "the failed query must be stopped")
  }

  test("a leftover active query of the same name is stopped, not collided with") {
    val name = "graft_drain_leftover"
    val leftover = spark.readStream.format("rate").load()
      .writeStream.format("noop").queryName(name).start()
    try {
      val schema =
        spark.read.parquet(s"${TestSpark.SF}/region.parquet").schema
      StreamOps.drain(spark, name, spark.readStream.schema(schema)
        .option("pathGlobFilter", "region.parquet")
        .parquet(TestSpark.SF)
        .writeStream.format("noop"))
      assert(!leftover.isActive, "the leftover query must be stopped")
      assert(!spark.streams.active.exists(_.name == name))
    } finally leftover.stop()
  }

  for (key <- Seq("q39_stream_window", "q45_stream_sessionize",
      "q59_stream_dedup", "q61_stream_join", "q67_stream_merge")) {
    test(s"$key leaves no active streaming query at sf0.001") {
      SparkEntry.queries(key)(spark, TestSpark.SF).collect()
      assert(spark.streams.active.isEmpty,
        spark.streams.active.map(_.name).mkString(", "))
    }
  }
}
