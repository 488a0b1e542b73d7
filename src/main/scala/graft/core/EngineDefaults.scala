package graft.core

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: [[session]] is what
  * Bench, Verify, Explain and the test suites call, and [[scaled]]
  * holds the engine conf it applies.
  *
  * The join policy encodes the library's scale stance: no query may
  * FORCE a broadcast of a corpus-proportional side (`broadcast()`
  * overrides the size check up to a hard 8 GB failure at the 100 TB
  * design point — see q3/q5/q41/q42/q43 and PlanSpec's hint audit),
  * but a size-CHECKED broadcast is the right plan whenever a build
  * side is genuinely small at the current scale. Spark's 10 MB default
  * threshold is calibrated for undersized executors; at the multi-GB
  * executor heaps this engine targets, a 64 MB build side broadcasts
  * comfortably (the reference engine hash-builds such sides
  * unconditionally). AQE re-checks at runtime with ACTUAL shuffle
  * sizes: joins the planner couldn't prove small still convert to
  * broadcast once the true size is known — and a side that outgrows
  * the threshold degrades to a sort-merge join, never a hard failure.
  *
  * Deliberately NOT set: `adaptive.maxShuffledHashJoinLocalMapThreshold`
  * (SMJ→shuffled-hash conversion). Measured at sf100, the conversion
  * composes badly with AQE partition coalescing: a coalesced partition
  * of a corpus-proportional build side needed a ~1 GB hash relation
  * and died on the per-task memory cap ("Can't acquire ... bytes to
  * build hash relation"). Queries that want a shuffled-hash join over
  * a heavy build declare it with an explicit hint, which pins the full
  * shuffle-partition fan-out instead of the coalesced one (see q43).
  */
object EngineDefaults {

  /** Scale-aware initial shuffle fan-out (r15; the q62@sf300 defect).
    *
    * The r14 sf300 spike proved SURVEY §3's sizing rule the hard way:
    * a pinned shuffle_hash build of ~|orders| rows dies at the suite's
    * static 32 shuffle partitions once the data grows 3x past sf100
    * ("Can't acquire ... bytes to build hash relation" — a per-task
    * execution-memory cap, which AQE's skew split does not rescue
    * because the build is uniformly oversized, not skewed). At 96
    * partitions the same plan runs. Nothing in the engine computed
    * partitions from data size, so every pinned-build query silently
    * carried an SF ceiling.
    *
    * Fix: [[session]] derives the ADAPTIVE INITIAL fan-out
    * (`spark.sql.adaptive.coalescePartitions.initialPartitionNum`)
    * from the input dataset's on-disk bytes — one initial partition
    * per 64 MB of input, floored at the core count and capped at 4096.
    * AQE coalescing then shrinks every coalesce-eligible exchange back
    * to the advisory target, so small-SF plans are unchanged (at
    * sf0.1's ~70 MB the floor wins and the fan-out IS the old static
    * core count), while the non-coalesced exchanges — explicit
    * shuffle_hash hints pin their full fan-out (see the q43/q62
    * scaladocs) — now scale with the data, keeping per-partition hash
    * builds bounded by a constant instead of by |corpus|/32.
    *
    * Why input bytes, not shuffle bytes: the planner needs the number
    * BEFORE any stage runs. BASELINE's r14 provisioning measurement
    * ("one exchange leg ≈ 0.6-0.8x its input read") makes compressed
    * input bytes a conservative upper proxy for any one exchange leg,
    * so 64 MB of input per initial partition bounds a same-shaped
    * build at well under the ~1 GB/partition that died. Anchor: the
    * 41 GB sf300 subset maps to 656 partitions — 6.8x the measured
    * 96-partition survival point, ~64 MB of build input per task.
    *
    * On a real cluster the same rule holds with cpus = total executor
    * cores; the 4096 cap is the local[32] task-overhead guard and
    * would rise with executor count.
    */
  def initialShufflePartitions(inputBytes: Long, cpus: Int): Int = {
    val target = 64L << 20
    val byBytes = (inputBytes + target - 1) / target
    byBytes.max(cpus.toLong).min(4096L).toInt
  }

  /** Total bytes of regular files under `dir` (0 for non-dirs): the
    * input-size probe feeding [[initialShufflePartitions]]. One
    * recursive metadata walk at session build — never reads data.
    */
  def dataDirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }

  /** Default local parallelism: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** A `local[cpus]` session over the inputs under `sfDir`: static
    * shuffle partitions = cpus (streaming state stores and any
    * non-adaptive path keep that layout), the scale-aware AQE initial
    * fan-out, UTC, a codegen class cache big enough that a warm-up
    * pass over every key is not evicted before the measured passes
    * (the 100-entry default re-paid multi-second janino compiles for
    * the widest plans), and no UI.
    */
  def session(sfDir: String, cpus: Int): SparkSession =
    scaled(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString), sfDir, cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The engine conf plus the scale-aware fan-out for a known input dir,
    * and the [[graft.GraftExtensions]] SQL functions (`float_vec_dot`,
    * `rolling_fingerprint`), installed here once so every graft session
    * resolves them — ModelRunner SQL models included.
    */
  def scaled(b: SparkSession.Builder, sfDir: String,
      cpus: Int): SparkSession.Builder = b
    .withExtensions(new graft.GraftExtensions)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // testdata timestamps are naive (no isAdjustedToUTC); read them as
    // session-tz TIMESTAMP (UTC everywhere in graft), not TIMESTAMP_NTZ,
    // so streaming watermarks and the DuckDB oracle see identical values
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // tolerate TIMESTAMP(NANOS) parquet columns, which Spark's reader
    // rejects outright otherwise: they read as epoch-nanos longs, and
    // Q.eventTs turns the events `ts` back into a timestamp
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // hermetic-FS test target (reference connections.py `mem://`):
    // catalogs over mem://ns/db run fully in-JVM — see MemFileSystem
    .config("spark.hadoop.fs.mem.impl", classOf[MemFileSystem].getName)
    // shuffle/broadcast files are reference-tracked and reaped only on
    // driver GC; with a large heap a write-heavy suite can stack tens
    // of GB of dead shuffle files between natural GCs (observed at
    // sf100: ~31 GB). The periodic-GC floor bounds that lag.
    .config("spark.cleaner.periodicGC.interval", "2min")
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      initialShufflePartitions(dataDirBytes(sfDir), cpus).toString)
}
