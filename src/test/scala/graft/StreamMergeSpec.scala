package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Catalog
import graft.streaming.StreamOps

/** q67's streaming upsert ingest: per-key latest state via conditional
  * merge. The driver gate drains one static file (one micro-batch);
  * these specs prove the two claims that actually matter at scale —
  * (1) the WHEN MATCHED AND condition gates the update row-by-row,
  * (2) the final table is INVARIANT under how the stream is
  * micro-batched, because the condition (not batch order) decides the
  * winner.
  */
class StreamMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("conditional merge updates only rows passing the condition") {
    val root = java.nio.file.Files.createTempDirectory("graft_cmerge")
      .toString
    val cat = new Catalog(spark, root)
    cat.createTableMerge("", "state",
      Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("k", "ts", "v"),
      Seq("k"))
    // k=1 arrives OLDER (must keep "a"), k=2 arrives newer (must
    // take "B2"), k=3 is new (must insert regardless of condition)
    cat.createTableMerge("", "state",
      Seq((1L, 50L, "A1"), (2L, 300L, "B2"), (3L, 10L, "c")).toDF(
        "k", "ts", "v"),
      Seq("k"), updateColumns = Seq("ts", "v"),
      updateCondition = Some("i.ts > t.ts"))
    val got = cat.table("", "state").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 100L, "a"), (2L, 300L, "B2"),
      (3L, 10L, "c")))
  }

  test("conditional merge gates drift columns row-by-row too") {
    // an increment that ADDS a column while carrying a condition: a
    // matched row passing the condition takes the new column's value,
    // a matched row failing it keeps NULL (it kept its old row
    // entirely), and inserts always carry it
    val root = java.nio.file.Files.createTempDirectory("graft_cmerge2")
      .toString
    val cat = new Catalog(spark, root)
    cat.createTableMerge("", "state",
      Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("k", "ts", "v"),
      Seq("k"))
    cat.createTableMerge("", "state",
      Seq((1L, 50L, "A1", "w1"), (2L, 300L, "B2", "w2"),
        (3L, 10L, "c", "w3")).toDF("k", "ts", "v", "w"),
      Seq("k"), updateColumns = Seq("ts", "v", "w"),
      updateCondition = Some("i.ts > t.ts"))
    val got = cat.table("", "state").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3))))
    assert(got.toSeq == Seq(
      (1L, 100L, "a", None),         // condition failed: untouched, w NULL
      (2L, 300L, "B2", Some("w2")),  // condition passed: updated incl. w
      (3L, 10L, "c", Some("w3"))))   // insert: always carries w
  }

  test("latest-state table is invariant under one-file-per-trigger replay") {
    val ev = graft.queries.Q.events(spark, TestSpark.SF)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q67_mb")
      .toString
    // repartition by a hash unrelated to ts so each micro-batch holds
    // an arbitrary time slice — the adversarial batching for a
    // last-writer-wins bug (an unconditional merge would make the
    // outcome depend on which file happens to replay last)
    ev.repartition(4, col("event_id")).write.mode("overwrite").parquet(tmp)
    val nFiles = new java.io.File(tmp).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 2, s"need a multi-file corpus, got $nFiles")

    val expected = ev
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("event_type"),
          col("value")).as("st"))
      .groupBy(col("user_id")).agg(max(col("st")).as("st"))
      .select(col("user_id"), col("st.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val got = StreamOps.latestStateMerge(spark, tmp,
        glob = "*.parquet", maxFilesPerTrigger = Some(1),
        queryName = "graft_q67_mb_sink", scratchName = "smerge_spec")
      .select(col("user_id"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"multi-batch latest-state: ${got.size} users vs batch " +
        s"${expected.size}; diff=${(expected -- got).take(3)} " +
        s"extra=${(got -- expected).take(3)}")
    assert(expected.nonEmpty, "degenerate spec: no users")
  }
}
