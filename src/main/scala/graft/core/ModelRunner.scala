package graft.core

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame

/** Per-model materialization mode — dbt's `materialized:` config,
  * routed to the corresponding [[Catalog]] engine by [[ModelRunner]].
  * The reference adapter itself only exercises table/view (its
  * test_basic.py SKIPS the incremental/snapshot tests); dbt-core users
  * configure all of these per model, so the DAG runner dispatches to
  * the engines the catalog already has rather than rebuilding every
  * model as a full CTAS — on a 100 TB fact model the difference
  * between a daily run touching one day's rows and rewriting the
  * table.
  */
sealed trait Materialization
object Materialization {
  /** Full rebuild via the atomic-swap CTAS (dbt `table`; `view` is the
    * same thing for a parquet store — reference macros/adapters.sql
    * parquet__create_view_as).
    */
  case object Table extends Materialization
  /** Participates in the DAG, never written — registered as the temp
    * view downstream refs resolve through (dbt `ephemeral`).
    */
  case object Ephemeral extends Materialization
  /** dbt `incremental` with the delete+insert strategy
    * ([[Catalog.createTableIncremental]]): first run materializes,
    * later runs replace matched keys and append the rest.
    */
  final case class Incremental(uniqueKey: Seq[String])
    extends Materialization
  /** dbt `incremental` with the merge strategy
    * ([[Catalog.createTableMerge]]), incl. `merge_update_columns` and
    * a `WHEN MATCHED AND` condition.
    */
  final case class Merge(uniqueKey: Seq[String],
      updateColumns: Seq[String] = Seq.empty,
      updateCondition: Option[String] = None) extends Materialization
  /** dbt `incremental` with the insert_overwrite strategy at partition
    * granularity ([[Catalog.insertOverwritePartitions]]).
    */
  final case class InsertOverwrite(partitionBy: Seq[String])
    extends Materialization
  /** dbt snapshot, `check` strategy ([[Catalog.snapshot]]); `asOf` is
    * the run's explicit timestamp literal.
    */
  final case class SnapshotCheck(uniqueKey: Seq[String], asOf: String)
    extends Materialization
  /** dbt snapshot, `timestamp` strategy
    * ([[Catalog.snapshotTimestamp]]).
    */
  final case class SnapshotTimestamp(uniqueKey: Seq[String],
      updatedAt: String) extends Materialization
}

/** One SQL model: a SELECT with `{{ ref('name') }}` /
  * `{{ source('schema', 'table') }}` templating, materialized into the
  * catalog under (schema, name) — the dbt-core capability the
  * reference adapter plugs into (reference: README.md "Why",
  * macros/adapters.sql materializations).
  */
final case class Model(
    name: String,
    sql: String,
    schema: String = "",
    singleFile: Boolean = false,
    materialized: Materialization = Materialization.Table) {

  /** Names this model `ref()`s. */
  def refs: Seq[String] =
    ModelRunner.RefPattern.findAllMatchIn(sql).map(_.group(1)).toSeq.distinct

  /** (schema, table) sources this model reads. */
  def sources: Seq[(String, String)] =
    ModelRunner.SourcePattern.findAllMatchIn(sql)
      .map(m => (m.group(1), m.group(2))).toSeq.distinct
}

/** DAG-ordered, multi-threaded model executor over a [[Catalog]] —
  * ref()/source() resolution, topological waves, parallel
  * materialization (the behavior dbt-core provides around the
  * reference adapter; concurrency exercised by its
  * tests/functional/basic/test_concurrency.py).
  *
  * `sources` maps a source schema name to a catalog holding it (so
  * models can read an external read-only dataset while materializing
  * into a separate writable catalog).
  */
final class ModelRunner(
    target: Catalog,
    sourceResolver: (String, String) => DataFrame) {

  /** Run every model in dependency order; independent models in the
    * same wave run concurrently on `threads` threads (dbt's `threads`
    * profile setting). Returns materialized names in completion order.
    */
  def run(models: Seq[Model], threads: Int = 4): Seq[String] = {
    val dups = models.groupBy(_.name).filter(_._2.sizeIs > 1).keys.toSeq.sorted
    require(dups.isEmpty,
      s"duplicate model name(s) across schemas (ref() is by bare name, " +
        s"so names must be unique): ${dups.mkString(", ")}")
    val byName = models.map(m => m.name -> m).toMap
    models.foreach { m =>
      val missing = m.refs.filterNot(byName.contains)
      require(missing.isEmpty,
        s"model ${m.name} refs unknown model(s): ${missing.mkString(", ")}")
    }
    // topological waves
    var remaining = models
    var done = Set.empty[String]
    val order = Seq.newBuilder[String]
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      while (remaining.nonEmpty) {
        val (ready, blocked) =
          remaining.partition(_.refs.forall(done.contains))
        require(ready.nonEmpty,
          s"model cycle among: ${blocked.map(_.name).mkString(", ")}")
        val wave = Future.traverse(ready) { m =>
          Future { materialize(m, byName); m.name }
        }
        val finished = Await.result(wave, Duration.Inf)
        order ++= finished
        done ++= finished
        remaining = blocked
      }
    } finally pool.shutdown()
    order.result()
  }

  private def materialize(m: Model, byName: Map[String, Model]): Unit = {
    val df = target.spark.sql(render(m, byName))
    import Materialization._
    m.materialized match {
      case Ephemeral =>
        // dbt ephemeral: participates in the DAG but is never written —
        // it registers under the same view name refs resolve to, so
        // downstream models are oblivious to the materialization mode
        df.createOrReplaceTempView(target.viewName(m.schema, m.name))
      case Table =>
        target.createTableAs(m.schema, m.name, df, singleFile = m.singleFile)
      case Incremental(key) =>
        target.createTableIncremental(m.schema, m.name, df, key)
      case Merge(key, updCols, updCond) =>
        target.createTableMerge(m.schema, m.name, df, key, updCols, updCond)
      case InsertOverwrite(parts) =>
        target.insertOverwritePartitions(m.schema, m.name, df, parts)
      case SnapshotCheck(key, asOf) =>
        target.snapshot(m.schema, m.name, df, key, asOf)
      case SnapshotTimestamp(key, updatedAt) =>
        target.snapshotTimestamp(m.schema, m.name, df, key, updatedAt)
    }
  }

  /** Resolve `{{ ref/source }}` to registered view names; sources are
    * registered on demand from the source resolver. A ref resolves to
    * the *referenced* model's schema (looked up in `byName`), not the
    * referring model's — models in different schemas ref each other.
    */
  private[core] def render(m: Model, byName: Map[String, Model]): String = {
    var out = m.sql
    out = ModelRunner.RefPattern.replaceAllIn(out, mm => {
      val refName = mm.group(1)
      val referenced = byName.getOrElse(refName,
        throw new IllegalArgumentException(
          s"model ${m.name} refs unknown model: $refName"))
      target.viewName(referenced.schema, refName)
    })
    out = ModelRunner.SourcePattern.replaceAllIn(out, mm => {
      val (schema, table) = (mm.group(1), mm.group(2))
      val view = "src__" + target.viewName(schema, table)
      sourceResolver(schema, table).createOrReplaceTempView(view)
      view
    })
    out
  }
}

object ModelRunner {
  // any non-quote chars: odd model/table names (spaces, dots, dashes)
  // resolve through Catalog.viewName's sanitized alias rather than
  // failing to match and surfacing as an opaque SQL parse error
  val RefPattern = """\{\{\s*ref\('([^']+)'\)\s*\}\}""".r
  val SourcePattern = """\{\{\s*source\('([^']*)',\s*'([^']+)'\)\s*\}\}""".r
}
