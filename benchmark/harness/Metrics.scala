package graftbench

import java.nio.file.{Files, Paths}

import graftbench.Harness.{OpRun, Pass}

/** End-to-end and per-layer figures of one run. Pass figures are sums
  * over the pass's successful ops; per-layer figures are means over the
  * warm passes unless named otherwise.
  */
final case class Metrics(runs: Seq[OpRun], passes: Seq[Pass], probe: Probe,
    traced: Boolean, inputBytes: Double, cpus: Int) {

  /** Peak RSS of a warm pass (median over warm passes), in MB. */
  val peakRssMb: Double =
    median(passes.filter(_.idx > 0).map(_.peakRssKb / 1024.0))

  private def warmIdx = passes.map(_.idx).filter(_ > 0)
  private val warm = runs.filter(r => r.pass > 0 && r.ok)
  private val MB = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def passSum(p: Int)(f: OpRun => Double): Double =
    runs.filter(r => r.pass == p && r.ok).map(f).sum
  private def warmMedian(f: OpRun => Double): Double =
    median(warmIdx.map(passSum(_)(f)))
  private def perPass(f: OpRun => Double): Double =
    if (warmIdx.isEmpty) 0.0 else warm.map(f).sum / warmIdx.size

  private def stats(r: OpRun): GroupStats = probe.stats(r.group)

  /** Part of the op's exec span during which none of its tasks ran. */
  private def idleMs(r: OpRun): Double = {
    val (s, e) = (r.execStartMs, r.execEndMs)
    val spans = stats(r).taskSpans.toSeq
      .map { case (a, b) => (a.max(s), b.min(e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = s
    spans.foreach { case (a, b) =>
      if (b > cur) { covered += b - a.max(cur); cur = b }
    }
    (e - s - covered).toDouble.max(0.0)
  }

  private def batchesOf(r: OpRun) = probe.synchronized {
    probe.batches.toSeq.filter(b => b._1 >= r.startMs && b._1 <= r.endMs)
  }

  private def writesOf(r: OpRun) = probe.synchronized {
    probe.writeCmds.toSeq.filter(w => w._1 >= r.startMs && w._1 <= r.endMs)
  }

  val endToEnd: Seq[(String, Double)] = Seq(
    "cold_pass_s" -> passSum(0)(_.spanNs / 1e9),
    "warm_pass_s" -> warmMedian(_.spanNs / 1e9),
    "op_p50_ms" -> median(warm.map(_.spanNs / 1e6)),
    "write_amp" -> warmMedian(_.fsWritten.toDouble) / inputBytes,
    "space_amp" -> (if (warm.isEmpty) 0.0
      else warm.map(_.scratchBytes).max / inputBytes))

  lazy val perLayer: Seq[(String, Double)] = {
    val execS = perPass(_.execNs / 1e9)
    val rowsOut = perPass(_.rows.toDouble.max(0))
    val inRows = perPass(stats(_).inRows.toDouble)
    val exch = warm.map(_.exchanges).sum
    val spanS = perPass(_.spanNs / 1e9)
    val cpuS = perPass(stats(_).cpuNs / 1e9)
    val calls = (op: String) =>
      median(warm.filter(_.op == op).flatMap(_.catalogCalls).map(_ / 1e9))
    val warmPasses = passes.filter(_.idx > 0)
    val cold = passes.find(_.idx == 0)
    Seq(
      "queries.build_s" -> perPass(_.buildNs / 1e9),
      "queries.plan_s" -> perPass(_.planNs / 1e9),
      "queries.exec_s" -> execS,
      "queries.rows_out" -> rowsOut,
      "driver.idle_s" -> perPass(idleMs(_) / 1e3),
      "driver.jobs" -> perPass(stats(_).jobs.toDouble),
      "driver.stages" -> perPass(stats(_).stages.toDouble),
      "driver.tasks" -> perPass(stats(_).tasks.toDouble),
      "codegen.compile_s" -> (if (warmPasses.isEmpty) 0.0
        else warmPasses.map(_.compileNs / 1e9).sum / warmPasses.size),
      "codegen.classes" -> (if (warmPasses.isEmpty) 0.0
        else warmPasses.map(_.classes.toDouble).sum / warmPasses.size),
      "codegen.cold_compile_s" -> cold.map(_.compileNs / 1e9).getOrElse(0.0),
      "codegen.cold_classes" -> cold.map(_.classes.toDouble).getOrElse(0.0),
      "scan.input_mb" -> perPass(stats(_).inBytes / MB),
      "scan.input_rows" -> inRows,
      "scan.rows_per_out_row" -> (if (rowsOut > 0) inRows / rowsOut else 0.0),
      "exchange.write_mb" -> perPass(stats(_).shWriteBytes / MB),
      "exchange.read_mb" -> perPass(stats(_).shReadBytes / MB),
      "exchange.fetch_wait_s" -> perPass(stats(_).fetchWaitMs / 1e3),
      "exchange.nodes" -> perPass(_.exchanges.toDouble),
      "exchange.reuse_ratio" -> (if (exch > 0)
        warm.map(_.reused).sum.toDouble / exch else 0.0),
      "compute.task_cpu_s" -> cpuS,
      "compute.task_run_s" -> perPass(stats(_).runMs / 1e3),
      "compute.cpu_util" -> (if (spanS > 0) cpuS / (spanS * cpus) else 0.0),
      "compute.gc_s" -> perPass(stats(_).gcMs / 1e3),
      "compute.spill_mb" -> perPass(stats(_).spillBytes / MB),
      "compute.task_failures" -> perPass(stats(_).taskFailures.toDouble),
      "functions.ops_exec_s" -> perPass(r =>
        if (r.fnExprs > 0) r.execNs / 1e9 else 0.0),
      "functions.expr_nodes" -> perPass(_.fnExprs.toDouble),
      // cached data left registered after an op, cold pass included
      "persist.peak_mb" -> runs.map(_.persistBytes / MB).foldLeft(0.0)(_ max _),
      "persist.live_rdds" ->
        runs.map(_.liveRdds.toDouble).foldLeft(0.0)(_ max _),
      "catalog.incremental_s" -> calls("inc_delete_insert"),
      "catalog.merge_s" -> calls("inc_merge"),
      "catalog.write_mb" -> perPass(writesOf(_).map(_._3).sum / MB),
      "catalog.write_s" -> perPass(writesOf(_).map(_._2).sum / 1e9),
      "streaming.batches" -> perPass(batchesOf(_).size.toDouble),
      "streaming.input_rows" -> perPass(batchesOf(_).map(_._2).sum.toDouble),
      "streaming.trigger_s" -> perPass(batchesOf(_).map(_._3).sum / 1e3),
      "streaming.plan_s" -> perPass(batchesOf(_).map(_._4).sum / 1e3),
      "streaming.wal_s" -> perPass(batchesOf(_).map(_._5).sum / 1e3),
      "streaming.state_rows" -> perPass(r =>
        batchesOf(r).map(_._6).foldLeft(0L)(_ max _).toDouble),
      "streaming.state_mb" -> perPass(r =>
        batchesOf(r).map(_._7).foldLeft(0L)(_ max _) / MB))
  }

  def all: Map[String, Double] =
    (endToEnd ++ (if (traced) perLayer else Nil)).toMap

  /** Per-op self-time split (ms, means over warm passes), slowest first. */
  def opTable: Seq[Map[String, Any]] = {
    val byOp = warm.groupBy(_.op).toSeq
    byOp.map { case (op, rs) =>
      def m(f: OpRun => Double) = rs.map(f).sum / rs.size
      Json.obj("op" -> op,
        "wall_ms" -> median(rs.map(_.spanNs / 1e6)),
        "build_ms" -> m(_.buildNs / 1e6),
        "plan_ms" -> m(_.planNs / 1e6),
        "exec_ms" -> m(_.execNs / 1e6),
        "catalog_ms" -> m(_.catalogNs / 1e6),
        "self_ms" -> m(_.selfNs / 1e6),
        "driver_idle_ms" -> (if (traced) m(idleMs) else 0.0),
        "task_cpu_ms" -> (if (traced) m(stats(_).cpuNs / 1e6) else 0.0),
        "input_mb" -> (if (traced) m(stats(_).inBytes / MB) else 0.0),
        "shuffle_mb" -> (if (traced) m(stats(_).shWriteBytes / MB) else 0.0),
        "samples" -> rs.size)
    }.sortBy(r => -r("wall_ms").asInstanceOf[Double])
  }

  /** Every recorded span: the op and its build/plan/exec/catalog children. */
  def spans: Seq[Map[String, Any]] = runs.map { r =>
    Json.obj("op" -> r.op, "pass" -> r.pass, "ok" -> r.ok,
      "start_ms" -> r.startMs, "span_ms" -> r.spanNs / 1e6,
      "build_ms" -> r.buildNs / 1e6, "plan_ms" -> r.planNs / 1e6,
      "exec_ms" -> r.execNs / 1e6,
      "catalog_ms" -> r.catalogCalls.map(_ / 1e6).toSeq,
      "self_ms" -> r.selfNs / 1e6)
  }
}

/** The run's result file, written with the json4s that ships with Spark. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)

  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path),
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(
      org.json4s.DefaultFormats))
}
