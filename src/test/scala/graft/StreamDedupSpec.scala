package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** q59's batch-oracle invariant (distinct signature count) under
  * genuinely MULTI-batch replay. The driver gate drains one static
  * file — one micro-batch — so it alone cannot show what happens when
  * dropDuplicatesWithinWatermark evicts a key's state between batches
  * and a far-apart duplicate re-emits: the sink-side count_distinct
  * must absorb that re-emission. Here the same corpus is split into
  * several files and replayed one file per trigger, so the stream
  * really crosses batch boundaries with live state.
  */
class StreamDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("distinct-signature invariant survives one-file-per-trigger replay") {
    val docs = spark.read.parquet(s"${TestSpark.SF}/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q59_mb")
      .toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val nFiles = new java.io.File(tmp).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 2, s"need a multi-file corpus, got $nFiles")

    val expected = docs.select(md5(array_join(array_sort(array_distinct(
        split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))),
        " ")).as("sig"))
      .distinct().count()

    val got = StreamOps.dedupDistinctSignatures(spark, tmp,
        glob = "*.parquet", maxFilesPerTrigger = Some(1),
        queryName = "graft_q59_mb_sink")
      .collect()(0).getLong(0)
    assert(got == expected,
      s"multi-batch replay: $got unique signatures, batch says $expected")
  }
}
