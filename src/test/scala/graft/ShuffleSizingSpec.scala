package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineDefaults

/** Pins the scale-aware shuffle fan-out rule (r15; the q62@sf300
  * defect). The r14 spike measured a pinned shuffle_hash build of
  * ~|orders| rows dying at static 32 partitions at sf300 and running
  * at 96 — this spec makes the derivation that prevents a recurrence
  * un-editable without noticing:
  *   initial partitions = clamp(cpus, ceil(inputBytes / 64 MB), 4096)
  */
class ShuffleSizingSpec extends AnyFunSuite {

  private val MB = 1L << 20
  private val GB = 1L << 30

  test("core-count floor: small inputs keep the static fan-out") {
    // sf0.1 is ~70 MB; sf0.01 ~7 MB — both must land exactly on the
    // old static core count so small-SF bench rows stay comparable
    // round-over-round
    assert(EngineDefaults.initialShufflePartitions(70 * MB, 32) === 32)
    assert(EngineDefaults.initialShufflePartitions(7 * MB, 32) === 32)
    assert(EngineDefaults.initialShufflePartitions(0L, 4) === 4)
  }

  test("64 MB of input per initial partition beyond the floor") {
    // 17 GB (the sf100 dataset) → ceil(17 GiB / 64 MiB) = 272
    assert(
      EngineDefaults.initialShufflePartitions(17 * GB, 32) === 272)
    // exact-multiple and off-by-one ceiling behavior
    assert(EngineDefaults.initialShufflePartitions(64 * MB * 100, 32)
      === 100)
    assert(
      EngineDefaults.initialShufflePartitions(64 * MB * 100 + 1, 32)
        === 101)
  }

  test("the q62@sf300 anchor: the derived fan-out clears the " +
      "measured survival point with headroom") {
    // the 41 GB sf300 subset: measured dead at 32 partitions, alive
    // at 96. The rule must land well past 96 (it gives 656 — ~64 MB
    // of build input per task, 6.8x the survival point).
    val p = EngineDefaults.initialShufflePartitions(41 * GB, 32)
    assert(p >= 2 * 96, s"fan-out $p lacks headroom over the " +
      "measured 96-partition survival point")
    assert(p === 656)
  }

  test("monotone in input size, capped at 4096") {
    val sizes = Seq(0L, 50 * MB, 1 * GB, 10 * GB, 100 * GB,
      1000 * GB, 100000 * GB)
    val parts = sizes.map(EngineDefaults.initialShufflePartitions(_, 32))
    assert(parts === parts.sorted, "fan-out must not shrink as data grows")
    assert(parts.last === 4096, "local-mode task-overhead cap")
  }

  test("dataDirBytes sums regular files recursively; non-dirs are 0") {
    val dir = Files.createTempDirectory("graft-sizing")
    try {
      Files.write(dir.resolve("a.parquet"), new Array[Byte](1000))
      val sub = Files.createDirectory(dir.resolve("t"))
      Files.write(sub.resolve("b.parquet"), new Array[Byte](234))
      assert(EngineDefaults.dataDirBytes(dir.toString) === 1234L)
      assert(EngineDefaults.dataDirBytes(
        dir.resolve("a.parquet").toString) === 0L)
      assert(EngineDefaults.dataDirBytes(
        dir.resolve("missing").toString) === 0L)
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("scaled() wires the derivation into the session builder conf") {
    val dir = Files.createTempDirectory("graft-sizing-conf")
    try {
      // 2 MB of files → floor of 8 wins; probe the pure functions
      // composed the same way scaled() composes them (TestSpark's
      // shared session must not be re-built here)
      Files.write(dir.resolve("x.bin"), new Array[Byte](2 * MB.toInt))
      val n = EngineDefaults.initialShufflePartitions(
        EngineDefaults.dataDirBytes(dir.toString), 8)
      assert(n === 8)
      // and the live shared test session (built through EngineDefaults)
      // still honors an explicit initialPartitionNum when one is set —
      // the conf key scaled() writes is the one AQE actually reads
      val spark = TestSpark.spark
      val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
      val prev = spark.conf.getOption(key)
      try {
        spark.conf.set(key, "7")
        assert(spark.conf.get(key) === "7")
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("session() applies the factory settings") {
    // TestSpark's session comes from the factory with 4 cpus over
    // sf0.001, whose few MB leave the fan-out at the core-count floor
    val spark = TestSpark.spark
    val sc = spark.sparkContext.getConf
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") === "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(sc.get("spark.sql.codegen.cache.maxEntries") === "10000")
    assert(sc.get("spark.ui.enabled") === "false")
  }
}
