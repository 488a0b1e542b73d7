package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated capability: a Spark query builder plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB as the oracle.
  *
  * Numeric policy (keeps the driver's hash-compare order-independent):
  *   - money sums: sum over decimal(18,2) cast, then cast to double —
  *     exact in both engines regardless of aggregation order.
  *   - averages: exact decimal sum / exact count, divided in double.
  *   - integer sums in DuckDB return HUGEINT; oracles cast to bigint.
  *   - date-ish group keys are formatted to strings on both sides.
  */
final case class Q(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** The oracle recomputes an approximate operator's EXACT answer
      * quadratically (all-pairs jaccard/cosine) — correct and cheap at
      * the sf0.01 correctness gate, structurally infeasible as a
      * timing replay at protocol SFs. Declared here (the one place
      * that knows the oracle's complexity) and surfaced through
      * [[graft.SparkEntry.quadraticOracles]] → `oracle_meta.json`, so
      * replay tooling never has to maintain a parallel hardcoded list.
      */
    quadraticOracle: Boolean = false)

object Q {
  /** Read one test table: `{sfDir}/{name}.parquet`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scratch database root for engine gates, resolved through Hadoop's
    * [[org.apache.hadoop.fs.FileSystem]] — the same abstraction
    * [[graft.core.Catalog]] runs on — so the gates themselves stay
    * object-store-honest: point GRAFT_SCRATCH_ROOT at any supported
    * scheme (`file://`, `hdfs://`, `s3a://`) and every c_* gate
    * materializes there instead of assuming a POSIX tmpdir.
    */
  def scratch(spark: SparkSession, name: String): String = {
    import org.apache.hadoop.fs.Path
    val root = sys.env.getOrElse("GRAFT_SCRATCH_ROOT",
      "file:" + System.getProperty("java.io.tmpdir"))
    // Suffix with the Spark application id: two concurrent graft JVMs
    // (e.g. a bench run overlapping a correctness run) must never
    // share a scratch database — a CTAS rename-aside in one process
    // would corrupt the other's mid-swap read. Within one JVM the id
    // is stable, so each gate keeps its own drop-first determinism.
    val p = new Path(root,
      s"graft_${spark.sparkContext.applicationId}/graft_db_$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    fs.makeQualified(p).toString
  }

  /** Delete this application's entire scratch root. Every gate
    * recreates its own scratch database on invocation (drop-first /
    * overwrite semantics), so a harness may call this between gates to
    * bound transient disk to ONE gate's footprint instead of the whole
    * suite's accumulation — at sf100 the 19 engine write gates
    * otherwise stack ~43 GB of dead tables under the live one.
    */
  def cleanScratch(spark: SparkSession): Unit = {
    import org.apache.hadoop.fs.Path
    val root = sys.env.getOrElse("GRAFT_SCRATCH_ROOT",
      "file:" + System.getProperty("java.io.tmpdir"))
    val p = new Path(root, s"graft_${spark.sparkContext.applicationId}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Read the events table, normalizing its TIMESTAMP(NANOS) `ts`
    * column (which Spark's vectorized parquet reader rejects) to a
    * microsecond TimestampType column — the same truncation DuckDB
    * applies when casting timestamp_ns to timestamp.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: double division loses precision on
        // epoch-nanos magnitudes (~1.7e18 > 2^53)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
}

/** A module contributing queries to [[graft.SparkEntry]]. */
trait QueryModule {
  def queries: Map[String, Q]
}

/** Owner of every working set a gate persists. A gate cannot unpersist
  * its own working set (the lazily-returned DataFrame still needs it
  * when the caller's action runs), so it hands the set to [[persist]]
  * under a stable key and the harness calls [[release]] once the key's
  * actions are done.
  *
  * Release-before-persist: [[persist]] unpersists the handle this
  * session registered under `key` BEFORE persisting the new one. The
  * shared CacheManager matches cache entries by plan equality, so a
  * re-run gate's `persist()` of an equal plan is a no-op that aliases
  * the previous entry — unpersisting the previous handle afterwards
  * would drop the entry both share, and the new handle would run
  * uncached. Each call therefore pays its own cache fill and a session
  * holds at most one cached copy per key.
  */
object GateCache {
  private val Level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  // keyed by session identity (SparkSession has reference equality):
  // the same gate key from two live sessions must never collide
  private val handles =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()

  /** Register `df` as this session's working set for `key` and persist
    * it, after releasing the previous handle for `key`. */
  def persist(key: String, df: DataFrame): DataFrame = synchronized {
    handles.remove((df.sparkSession, key)).foreach(_.unpersist(false))
    // stopped sessions' handles are dropped so the map cannot strongly
    // reference dead plans for the JVM lifetime
    handles.filterInPlace { case ((owner, _), _) =>
      !owner.sparkContext.isStopped }
    handles((df.sparkSession, key)) = df.persist(Level)
    df
  }

  /** Unpersist every handle `session` registered. */
  def release(session: SparkSession): Unit = synchronized {
    handles.keys.filter(_._1 eq session).toList
      .foreach(k => handles.remove(k).foreach(_.unpersist(false)))
  }
}
