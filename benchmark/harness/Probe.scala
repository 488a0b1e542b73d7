package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one job group (one op of one pass). */
final class GroupStats {
  var jobs, stages, tasks, taskFailures = 0L
  var cpuNs, runMs, gcMs, spillBytes = 0L
  var inBytes, inRows = 0L
  var shWriteBytes, shReadBytes, fetchWaitMs = 0L
  val taskSpans = ArrayBuffer[(Long, Long)]()
}

/** Collects per-job-group metrics from Spark's public listener APIs:
  * scheduler events (jobs, stages, task metrics), write commands seen
  * by a `QueryExecutionListener`, and streaming progress. Jobs are
  * attributed through the job group the harness sets around each op;
  * streaming progress through its trigger timestamp.
  */
final class Probe extends SparkListener {
  private val groups = scala.collection.mutable.Map[String, GroupStats]()
  private val stageGroup = scala.collection.mutable.Map[Int, String]()
  private var openJobs = 0
  @volatile private var lastEventMs = System.currentTimeMillis()

  /** (trigger start ms, input rows, trigger ms, planning ms, wal ms,
    * state rows, state bytes) per micro-batch. */
  val batches = ArrayBuffer[(Long, Long, Long, Long, Long, Long, Long)]()

  def stats(g: String): GroupStats =
    synchronized(groups.getOrElseUpdate(g, new GroupStats))

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  /** Block until every started job has ended and the bus has been quiet
    * for a moment, so per-group reads see all events (bounded wait). */
  def drain(maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (synchronized(openJobs) > 0 ||
        System.currentTimeMillis() - lastEventMs < 200)) Thread.sleep(20)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
    openJobs += 1
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= 1
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stats(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
      touch()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "none"))
    val info = e.taskInfo
    s.tasks += 1
    if (info.failed || info.killed) s.taskFailures += 1
    s.taskSpans += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
    touch()
  }

  /** (planning start ms, duration ns, output bytes) per file-write
    * command (CTAS, incremental, merge, ...). The planning start lies in
    * the op that issued the command, which attributes it. */
  val writeCmds = ArrayBuffer[(Long, Long, Long)]()

  val writes: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val cmds = Plans.nodes(qe.executedPlan).collect {
        case w: DataWritingCommandExec => w
      }
      if (cmds.nonEmpty) {
        val start = qe.tracker.phases.values.map(_.startTimeMs)
          .minOption.getOrElse(System.currentTimeMillis())
        val bytes = cmds.map(_.cmd.metrics.get("numOutputBytes")
          .map(_.value).getOrElse(0L)).sum
        Probe.this.synchronized {
          writeCmds += ((start, durationNs, bytes))
          touch()
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      Probe.this.synchronized {
        batches += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, d("triggerExecution"), d("queryPlanning"),
          d("walCommit"), ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum))
        touch()
      }
    }
  }
}

/** Final-plan walks through AQE stages and subqueries. */
object Plans extends AdaptiveSparkPlanHelper {
  def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
    case n => n
  }

  /** (Exchange nodes, ReusedExchange nodes, graft.functions expressions). */
  def shape(p: SparkPlan): (Int, Int, Int) = {
    val ns = nodes(p)
    val fns = ns.map(_.expressions.map(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.") => e
    }.size).sum).sum
    (ns.count(_.isInstanceOf[Exchange]),
      ns.count(_.isInstanceOf[ReusedExchangeExec]), fns)
  }
}
