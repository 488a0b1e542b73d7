package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.core.{Catalog, EngineDefaults}
import graft.queries.Q

/** One benchmark run in one JVM: build the session, register the
  * generated inputs, run a cold pass and then warm passes of the
  * workload's ops, and write `result.json` to the output directory.
  * The output checks (outside every timed window) run last.
  *
  * Args: --data dir --out dir --seconds s --trace 0|1 --ops a,b,c
  *       --input-bytes n, or --data dir --out dir --setup-only
  */
object Harness {

  /** One op execution: timings in ns, wall-clock marks in epoch ms. */
  final class OpRun(val op: String, val pass: Int) {
    var ok = true
    var err = ""
    var spanNs, buildNs, planNs, execNs, catalogNs = 0L
    var rows = -1L
    var digest = ""
    var startMs, endMs, execStartMs, execEndMs = 0L
    var fsWritten, scratchBytes, persistBytes = 0L
    var liveRdds, exchanges, reused, fnExprs = 0
    val catalogCalls = ArrayBuffer[Long]()
    def group: String = s"op|$pass|$op"
    /** Op time not covered by its build/plan/exec/catalog spans. */
    def selfNs: Long = spanNs - buildNs - planNs - execNs - catalogNs
  }

  final case class Pass(idx: Int, compileNs: Long, classes: Long,
      peakRssKb: Double)

  private val IncCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate")
  private val MergeUpdateCols = Seq("o_orderstatus", "o_totalprice")
  /** Warm passes run at least this often. Measured on this benchmark's
    * workloads, five passes gave no steadier medians across runs than
    * three: run-to-run noise, not JIT warm-up, sets their spread. */
  private val WarmPasses = 3
  /** No warm pass starts this long after JVM start, so a run ends in time. */
  private val BudgetMs = 120000L

  def main(argv: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val setupOnly = argv.contains("--setup-only")
    val out = a("out")
    val tables = s"${a("data")}/tables"
    new File(out).mkdirs()
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    // session: graft.Bench's settings through EngineDefaults.scaled
    val b0 = System.nanoTime()
    val spark = EngineDefaults.scaled(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString), tables, cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val buildS = (System.nanoTime() - b0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    new File(tables).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).foreach { f =>
        spark.read.parquet(f.getPath)
          .createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
      }
    val readyMs = System.currentTimeMillis()
    val setup = Json.obj("entry_ms" -> entryMs, "ready_ms" -> readyMs,
      "build_s" -> buildS)
    if (setupOnly) {
      Json.write(s"$out/result.json", Json.obj("setup" -> setup))
      Runtime.getRuntime.halt(0)
    }

    val traced = a("trace") == "1"
    val probe = new Probe
    if (traced) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe.writes)
      spark.streams.addListener(probe.streams)
    }
    val stampStart = Json.obj("loadavg" -> loadAvg(),
      "peers" -> graft.Bench.liveGraftPeers())
    val ops = a("ops").split(",").toSeq.filter(_.nonEmpty)
    val queries = graft.SparkEntry.queries
    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    val batches = Option(new File(s"${a("data")}/increments").listFiles())
      .getOrElse(Array.empty).map(_.getPath).sorted.toSeq

    /** Run `body` with its Spark jobs in job group `g`, then restore the
      * enclosing group. */
    def inJobGroup[A](g: String)(body: => A): A = {
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try body
      finally outer.fold(sc.clearJobGroup())(
        o => sc.setJobGroup(o, o, interruptOnCancel = false))
    }

    def queryOp(r: OpRun): Unit = {
      r.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = queries(r.op)(spark, tables)
      val t1 = System.nanoTime()
      val plan = df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      r.execStartMs = System.currentTimeMillis()
      r.rows = df.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      r.execEndMs = System.currentTimeMillis()
      r.endMs = r.execEndMs
      r.buildNs = t1 - t0; r.planNs = t2 - t1; r.execNs = t3 - t2
      r.spanNs = t3 - t0
      if (traced) {
        val (ex, reused, fns) = Plans.shape(plan)
        r.exchanges = ex; r.reused = reused; r.fnExprs = fns
      }
    }

    // The base orders projection is written once; each pass of an inc op
    // starts from a file copy of it, outside the timed window.
    lazy val incBase: Path = inJobGroup("reset") {
      val cat = new Catalog(spark, s"$out/base")
      cat.createTableAs("bench", "orders_inc",
        spark.read.parquet(s"$tables/orders.parquet")
          .select(IncCols.map(col): _*))
      cat.relationPath("bench", "orders_inc")
    }

    /** The generated increments, in order, into the orders projection. */
    def incOp(r: OpRun): Unit = {
      val cat = new Catalog(spark, Q.scratch(spark, r.op))
      cat.createSchema("bench")
      FileUtil.copy(cat.fs, incBase, cat.fs,
        cat.relationPath("bench", "orders_inc"), false,
        spark.sparkContext.hadoopConfiguration)
      val fs0 = fsWritten()
      r.startMs = System.currentTimeMillis()
      r.execStartMs = r.startMs
      val t0 = System.nanoTime()
      batches.foreach { b =>
        val c0 = System.nanoTime()
        val inc = spark.read.parquet(b)
        if (r.op == "inc_merge")
          cat.createTableMerge("bench", "orders_inc", inc, Seq("o_orderkey"),
            updateColumns = MergeUpdateCols)
        else
          cat.createTableIncremental("bench", "orders_inc", inc,
            Seq("o_orderkey"))
        r.catalogCalls += System.nanoTime() - c0
      }
      r.spanNs = System.nanoTime() - t0
      r.endMs = System.currentTimeMillis()
      r.execEndMs = r.endMs
      r.catalogNs = r.catalogCalls.sum
      r.fsWritten = fsWritten() - fs0
      // every pass must leave the same table; the cold pass's copy is
      // checked against DuckDB
      inJobGroup("reset") {
        val t = cat.table("bench", "orders_inc")
        val (n, h) = digest(t)
        r.rows = n
        r.digest = h
        if (r.pass == 0)
          t.coalesce(1).write.mode("overwrite").parquet(s"$out/check/${r.op}")
      }
    }

    def runOp(op: String, pass: Int): OpRun = {
      val r = new OpRun(op, pass)
      try inJobGroup(r.group) {
        if (op.startsWith("inc_")) incOp(r)
        else {
          val fs0 = fsWritten()
          queryOp(r)
          r.fsWritten = fsWritten() - fs0
        }
      } catch {
        case e: Throwable =>
          r.ok = false
          r.err = e.toString.take(400)
          System.err.println(s"[bench] $op (pass $pass) failed: ${r.err}")
      }
      // bookkeeping and hygiene, outside the timed window
      r.scratchBytes = scratchBytes(tmpRoot)
      if (traced) {
        r.persistBytes = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        r.liveRdds = spark.sparkContext.getPersistentRDDs.size
      }
      Q.cleanScratch(spark)
      System.gc()
      r
    }

    val runs = ArrayBuffer[OpRun]()
    val passes = ArrayBuffer[Pass]()
    val passWallMs = ArrayBuffer[Long]()
    def pass(i: Int): Unit = {
      val p0 = System.currentTimeMillis()
      resetPeakRss()
      val c0 = CodeGenerator.compileTime
      val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ops.foreach(op => runs += runOp(op, i))
      passes += Pass(i, CodeGenerator.compileTime - c0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0, vmHwmKb())
      passWallMs += System.currentTimeMillis() - p0
    }
    pass(0)
    val warm0 = System.nanoTime()
    var i = 1
    while (i <= WarmPasses ||
      ((System.nanoTime() - warm0) / 1e9 < a("seconds").toDouble &&
        System.currentTimeMillis() - entryMs < BudgetMs)) {
      pass(i)
      i += 1
    }
    val stampEnd = Json.obj("loadavg" -> loadAvg(),
      "peers" -> graft.Bench.liveGraftPeers())
    if (traced) probe.drain()

    // ---- output checks: outside every timed window ----
    val quad = graft.SparkEntry.quadraticOracles
    val oracles = graft.SparkEntry.oracleSql.keySet
    val check0 = System.currentTimeMillis()
    val hashes = inJobGroup("check") {
      ops.filter(quad.contains).map { k =>
        k -> (try {
          val (n, h) = digest(queries(k)(spark, tables))
          s"$n:$h"
        } catch { case e: Throwable => s"error: ${e.toString.take(200)}" })
      }
    }
    val verifyKeys = ops.filter(k => oracles.contains(k) && !quad.contains(k))

    val nWarm = passes.size - 1
    val metrics = Metrics(runs.toSeq, passes.toSeq, probe, traced,
      a("input-bytes").toDouble, cpus)
    Json.write(s"$out/result.json", Json.obj(
      "setup" -> setup,
      "stamp" -> Json.obj("nproc" -> cpus, "start" -> stampStart,
        "end" -> stampEnd),
      "warm_passes" -> nWarm,
      "pass_wall_ms" -> passWallMs.toSeq,
      "hash_check_ms" -> (System.currentTimeMillis() - check0),
      "peak_rss_mb" -> metrics.peakRssMb,
      "metrics" -> metrics.all,
      "op_table" -> metrics.opTable,
      "ops" -> ops.map { op =>
        val rs = runs.filter(_.op == op)
        Json.obj("op" -> op,
          "oracle" -> oracles.contains(op), "quadratic" -> quad.contains(op),
          "failed_passes" -> rs.count(!_.ok),
          "errors" -> rs.filter(!_.ok).map(_.err).distinct,
          "rows" -> rs.filter(_.ok).map(_.rows).distinct,
          "digests" -> rs.filter(_.ok).map(_.digest).distinct,
          "cold_ms" -> rs.filter(r => r.ok && r.pass == 0).map(_.spanNs / 1e6),
          "samples_ms" -> rs.filter(r => r.ok && r.pass > 0)
            .map(_.spanNs / 1e6))
      },
      "hashes" -> hashes.map { case (k, v) => Json.obj("op" -> k, "h" -> v) },
      "exports" -> ops.filter(_.startsWith("inc_"))
        .map(op => Json.obj("op" -> op, "path" -> s"$out/check/$op")),
      "verify_keys" -> verifyKeys,
      "spans" -> (if (traced) metrics.spans else Seq.empty)))

    // graft.Verify writes each key's output for the DuckDB replay and
    // stops the session; it runs last.
    if (verifyKeys.nonEmpty)
      graft.Verify.main((Seq(tables, s"$out/verify") ++ verifyKeys).toArray)
    else spark.stop()
  }

  /** Row count and an order-independent hash of all columns. */
  def digest(df: DataFrame): (Long, String) = {
    val h = df.select(count(lit(1)), sum(xxhash64(
      df.columns.map(c => col(s"`$c`")).toSeq: _*).cast("decimal(38,0)")))
      .head()
    (h.getLong(0), String.valueOf(h.get(1)))
  }

  /** Bytes written through Hadoop file systems in this JVM: task output
    * plus streaming checkpoint, WAL and state files. */
  def fsWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesWritten).sum
  }

  /** Bytes under the directories of the JVM's temp dir: graft's scratch
    * root and Spark's temporary streaming checkpoints. Top-level files
    * (native libraries unpacked by the JVM) are not the app's. */
  def scratchBytes(tmp: File): Long =
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(dirBytes).sum

  def dirBytes(root: File): Long =
    if (!root.exists()) 0L
    else {
      val s = Files.walk(root.toPath)
      try s.filter(p => Files.isRegularFile(p)).mapToLong { p =>
        try Files.size(p) catch { case _: java.io.IOException => 0L }
      }.sum()
      catch { case _: java.io.UncheckedIOException => 0L }
      finally s.close()
    }

  def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  /** Restart the kernel's peak-RSS (VmHWM) count from the current RSS. */
  def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Throwable => () }

  def vmHwmKb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
        .getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
}
