package graft.streaming

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

import graft.queries.{Q, QueryModule}

/** Structured Streaming surface (SURVEY.md §2.4 stream_events):
  * parquet file source → event-time tumbling window + watermark →
  * memory sink. The driver's gate replays the batch-equivalent SQL in
  * DuckDB, so the streaming result must agree with the batch answer —
  * exactly the contract a Lambda-free pipeline needs (same code path
  * would run `writeStream` against a live directory at scale; here
  * `processAllAvailable` drains the one static file synchronously).
  */

object StreamOps extends QueryModule {

  /** One event inside the stateful sessionizer. */
  final case class SessEvent(user_id: Long, event_id: Long, ts_us: Long)

  /** One emitted session. */
  final case class Session(user_id: Long, sess_id: Long, n_events: Long,
      sess_start: String, sess_end: String)

  private val SessionGapUs = 1800000000L // 30 min
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def fmt(us: Long): String =
    LocalDateTime.ofInstant(
      Instant.EPOCH.plus(us, ChronoUnit.MICROS), ZoneOffset.UTC).format(TsFmt)

  /** Gap-based sessionizer over one user's events. With a live stream
    * this state function carries open sessions across micro-batches;
    * the single-batch drain here sees each user's full history at
    * once, so the state closes immediately.
    */
  private def sessionize(user: Long, events: Iterator[SessEvent],
      state: GroupState[Long]): Iterator[Session] = {
    val sorted = events.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Seq.newBuilder[Session]
      var sessId = 0L
      var start = sorted.head.ts_us
      var last = start
      var n = 0L
      for (e <- sorted) {
        if (n > 0L && e.ts_us - last > SessionGapUs) {
          out += Session(user, sessId + 1, n, fmt(start), fmt(last))
          sessId += 1
          start = e.ts_us
          n = 0L
        }
        last = e.ts_us
        n += 1
      }
      out += Session(user, sessId + 1, n, fmt(start), fmt(last))
      out.result().iterator
    }
  }

  /** The one streaming file source: the parquet files under `dir`
    * matching `glob`, with the schema those files carry, at most
    * `maxFilesPerTrigger` files per micro-batch (None: everything
    * available in one). Event streams go through [[Q.eventTs]], like
    * the batch events read. */
  private def source(s: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = s.readStream
      .schema(s.read.option("pathGlobFilter", glob).parquet(dir).schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(m =>
      reader.option("maxFilesPerTrigger", m.toString))
    reader.parquet(dir)
  }

  /** Drain every available input through `writer` as the streaming
    * query `name`: stop a leftover query of that name, start, process
    * all available data, stop. The stop runs on every exit, so neither
    * a failing batch (rethrown as a StreamingQueryException) nor an
    * interrupted drain leaves an active query behind. */
  private[graft] def drain(s: SparkSession, name: String,
      writer: DataStreamWriter[_]): Unit = {
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val query = writer.queryName(name).start()
    try query.processAllAvailable() finally query.stop()
  }

  /** [[drain]] `df` into the in-memory table `name` (`mode` is the
    * output mode) and return that table. A memory sink suits the gates'
    * bounded outputs; it is not a pattern for a real pipeline. */
  private def drainToMemory(s: SparkSession, name: String, mode: String,
      df: Dataset[_]): DataFrame = {
    drain(s, name, df.writeStream.outputMode(mode).format("memory"))
    s.table(name)
  }

  def queries: Map[String, Q] = Map(
    "q39_stream_window" -> Q(
      (s, dir) => {
        val agg = Q.eventTs(source(s, dir, "events.parquet",
            maxFilesPerTrigger = None))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            // suite dsum policy (r14 — found by the stream-vs-batch
            // decomposition): the per-row cast(decimal(18,6)) route
            // was the r11 bias class, never ported here because the
            // key lives outside the relational modules. The scaled-
            // long split sum is bit-identical to the cast route
            // (DsumParitySpec) and works through the streaming state
            // store like any sum.
            graft.functions.Dnum.dsum(col("value"), 6).as("total_value"))
        drainToMemory(s, "graft_q39_sink", "complete", agg)
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
            col("event_type"), col("n"), col("total_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
          event_type, count(*) AS n,
          cast(sum(cast(value as decimal(18,6))) as double) AS total_value
        FROM events
        GROUP BY hour, event_type
        ORDER BY hour, event_type""")),

    // ─── stateful streaming: gap sessionization via
    // flatMapGroupsWithState (same semantics as batch q37, so the
    // driver replays q37's windowed-SQL oracle against it) ───
    "q45_stream_sessionize" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Q.eventTs(source(s, dir, "events.parquet",
            maxFilesPerTrigger = None))
          .filter(col("user_id") <= 50)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"))
          .as[SessEvent]
        val sessions = ev.groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append,
            GroupStateTimeout.NoTimeout)(sessionize)
        drainToMemory(s, "graft_q45_sink", "append", sessions)
          .select(col("user_id"), col("sess_id"), col("n_events"),
            col("sess_start"), col("sess_end"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some("""WITH flagged AS (
          SELECT user_id, event_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
          FROM events WHERE user_id <= 50
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
          SELECT user_id, event_id, ts,
            cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
              AS sess_id
          FROM flagged)
        SELECT user_id, sess_id, count(*) AS n_events,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS sess_start,
          strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS sess_end
        FROM sessions
        GROUP BY user_id, sess_id
        ORDER BY user_id, sess_id""")),

    // ─── streaming dedup: dropDuplicatesWithinWatermark (stream_dedup) ───
    // The streaming counterpart of d1's exact dedup: documents arrive
    // as a stream, the first occurrence of each content signature
    // (sorted word bag of the normalized text) passes, later
    // duplicates are dropped by keyed state. Plain dropDuplicates only
    // evicts state when the event-time column is PART of the key, so
    // keying on bag_sig alone would grow state forever; the
    // WithinWatermark variant evicts per-key state once the watermark
    // (on a synthetic event time, documents carry none) passes it —
    // that eviction is what bounds state at 100 TB. Which duplicate
    // survives is arrival-order-dependent, so the gate compares the
    // survivor-invariant: the distinct-signature count, replayed as
    // batch SQL by the oracle.
    "q59_stream_dedup" -> Q(
      (s, dir) => dedupDistinctSignatures(s, dir, "documents.parquet",
        maxFilesPerTrigger = None, queryName = "graft_q59_sink"),
      Some(s"""SELECT count(distinct ${Q.bagSigSql(Q.normSql)}) AS n_unique
        FROM documents""")),

    // ─── stream-stream interval join (stream_join) ───
    // Click→purchase attribution: join two event streams per user
    // where the purchase lands within 2 hours of the click — the
    // canonical stream-stream inner join. Both sides carry watermarks
    // and the join condition bounds p_ts to [c_ts, c_ts + 2h], which
    // is what lets Spark EVICT buffered click state once the purchase
    // watermark passes c_ts + 2h (an unbounded-condition join would
    // buffer both streams forever — the state bound IS the scale
    // design). Inner append-mode join; the batch-equivalent SQL is
    // the oracle, so the streamed answer must match batch exactly.
    "q61_stream_join" -> Q(
      (s, dir) => clickPurchaseJoin(s, dir, glob = "events.parquet",
        maxFilesPerTrigger = None,
        watermark = "1 hour", queryName = "graft_q61_sink"),
      Some("""SELECT c.user_id, c.event_id AS click_id,
          p.event_id AS purchase_id,
          (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS lag_secs
        FROM events c JOIN events p
          ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        ORDER BY c.user_id, click_id, purchase_id""")),

    // ─── streaming upsert ingest (stream_merge) ───
    // The canonical production landing pattern: a stream drains
    // through foreachBatch, each micro-batch upserting per-key LATEST
    // state into a catalog table via conditional merge (WHEN MATCHED
    // AND incoming-is-newer THEN UPDATE). The condition — not the
    // batch order — decides who wins, so the final table equals the
    // global per-user argmax however the source was micro-batched;
    // StreamMergeSpec replays one-file-per-trigger over a shuffled
    // multi-file corpus to prove exactly that. Scale shape: each
    // batch contributes one |users-in-batch|-row aggregate, and the
    // merge joins that against the state table on its key — state
    // stays key-cardinality-sized, never corpus-sized.
    "q67_stream_merge" -> Q(
      (s, dir) => latestStateMerge(s, dir, glob = "events.parquet",
        maxFilesPerTrigger = None,
        queryName = "graft_q67_sink", scratchName = "smerge"),
      Some("""SELECT user_id, epoch_us(ts) AS ts_us, event_id,
          event_type, value
        FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1
        ORDER BY user_id"""))
  )

  /** q67's pipeline, runnable against any events directory and batch
    * granularity. Each micro-batch reduces to one row per user (the
    * batch-local argmax by (ts, event_id) via a lexicographic struct
    * max — no window sort) and merges it into the `user_last` state
    * table; the merge's update condition implements last-writer-wins
    * by event time with a total-order tiebreak, which is what makes
    * the result independent of file→batch assignment (proven under
    * one-file-per-trigger replay in StreamMergeSpec).
    */
  def latestStateMerge(s: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int], queryName: String,
      scratchName: String): DataFrame = {
    val ev = Q.eventTs(source(s, dir, glob, maxFilesPerTrigger))
    val cat = new graft.core.Catalog(s, Q.scratch(s, scratchName))
    cat.dropRelation("", "user_last") // deterministic across reruns
    drain(s, queryName, ev.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val perUser = batch
          .select(col("user_id"),
            struct(col("ts"), col("event_id"), col("event_type"),
              col("value")).as("st"))
          .groupBy(col("user_id"))
          .agg(max(col("st")).as("st"))
          .select(col("user_id"), col("st.ts").as("ts"),
            col("st.event_id").as("event_id"),
            col("st.event_type").as("event_type"),
            col("st.value").as("value"))
        cat.createTableMerge("", "user_last", perUser, Seq("user_id"),
          updateColumns = Seq("ts", "event_id", "event_type", "value"),
          updateCondition =
            Some("i.ts > t.ts OR (i.ts = t.ts AND i.event_id > t.event_id)"))
        ()
      })
    cat.table("", "user_last")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** q61's pipeline, runnable against any events directory, batch
    * granularity, and watermark delay. The gate drains one static
    * file (one micro-batch, 1-hour watermark); StreamJoinSpec splits
    * the corpus into several files and replays one per trigger with a
    * corpus-spanning watermark, proving a click buffered in one
    * micro-batch really joins a purchase arriving batches later —
    * the cross-batch state path the single-file drain can't reach.
    */
  def clickPurchaseJoin(s: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int], watermark: String,
      queryName: String, sinkDir: Option[String] = None): DataFrame = {
    def src: DataFrame = Q.eventTs(source(s, dir, glob, maxFilesPerTrigger))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val joined = clicks.join(buys,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
    // The gate drains through a memory sink; sinkDir instead lands
    // every micro-batch in a durable parquet sink with a checkpoint —
    // exactly-once via the sink's commit log, the shape a 100 TB
    // attribution stream actually ships with. StreamJoinSpec replays
    // multi-batch through both.
    val raw = sinkDir match {
      case Some(out) =>
        drain(s, queryName, joined.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt"))
        s.read.schema(joined.schema).parquet(s"$out/data")
      case None => drainToMemory(s, queryName, "append", joined)
    }
    raw
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"),
        expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000")
          .as("lag_secs"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** q59's pipeline, runnable against any documents directory and any
    * micro-batch granularity (`maxFilesPerTrigger = Some(1)` forces
    * one file per batch). Exposed so StreamDedupSpec can prove the
    * gate's invariant under genuine MULTI-batch replay — the single
    * static file the gate drains is otherwise one micro-batch, which
    * would leave the state-eviction path untested.
    */
  def dedupDistinctSignatures(s: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int], queryName: String): DataFrame = {
    val docs = source(s, dir, glob, maxFilesPerTrigger)
    val keyed = docs
      .withColumn("nrm", Q.norm(col("text")))
      .withColumn("bag_sig", Q.bagSig(col("nrm")))
      // +1: a doc at exactly epoch 0 would equal the initial
      // watermark and be dropped as late before dedup ever sees it
      .withColumn("ts", timestamp_micros((col("doc_id") + 1L) * 1000000L))
      // narrow BEFORE the stateful shuffle: dedup needs the
      // signature and the event time, not the document body
      .select(col("bag_sig"), col("ts"))
      .withWatermark("ts", "1 hour")
    val deduped = keyed.dropDuplicatesWithinWatermark("bag_sig")
    // distinct in the sink, not count(*): WithinWatermark only
    // suppresses duplicates whose event times fall inside the gap,
    // so a multi-file corpus (or a trigger limit) replayed over
    // several micro-batches may legitimately re-emit a far-apart
    // duplicate after its key's state was evicted — the sink-side
    // distinct keeps the invariant independent of how the source
    // happens to batch (proven multi-batch in StreamDedupSpec)
    drainToMemory(s, queryName, "append", deduped)
      .agg(count_distinct(col("bag_sig")).as("n_unique"))
  }
}
