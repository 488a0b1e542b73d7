package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType, NullType, NumericType, StringType, StructField, StructType}

/** A directory of parquet files treated as a database — the Spark-first
  * re-expression of the reference's filesystem catalog
  * (reference: dbt/adapters/parquet/relation.py:1-124, util.py:9-46,
  * connections.py, impl.py:60-165).
  *
  * Layout contract (same as the reference):
  *   - `{database}/{table}.parquet`            — default ("") schema
  *   - `{database}/{schema}/{table}.parquet`   — named schema
  *
  * All filesystem access goes through Hadoop's [[FileSystem]] resolved
  * from the `database` URI, so the same catalog works over `file://`,
  * `hdfs://`, or `s3a://` roots — object-store support is the
  * reference README's own #1 stated deficiency (README.md:53), and on
  * a 100 TB deployment the database root is an object store, not a
  * POSIX mount.
  *
  * Unlike the reference (always one physical file), a relation here may
  * be either a single parquet file or a *directory* named
  * `{table}.parquet` containing part files — `spark.read.parquet`
  * treats both identically, so the path contract survives the move to
  * multi-part, multi-executor writes. That directory form is the
  * 100 TB scale path (the reference's README calls out partitioned
  * files as its own missing scale feature).
  *
  * Relations register as Spark temp views named `table` (default
  * schema) or `schema__table`, mirroring the reference's
  * view-per-parquet-file registration (relation.py:118-124).
  */
final class Catalog(val spark: SparkSession, val database: String) {

  // tolerate TIMESTAMP(NANOS) parquet columns (read as epoch-nanos
  // longs) — Spark's reader rejects them outright otherwise
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  private val root = new Path(database)

  /** The Hadoop filesystem owning `database` (local, HDFS, s3a, ...). */
  val fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** View name a relation registers under (single-part identifier).
    *
    * Spark temp views only accept word-ish single-part names, so
    * relations whose names carry spaces / dots / quotes (the case the
    * reference handles with its `quote()` double-quoting,
    * impl.py:182) register under a deterministic sanitized alias:
    * odd characters become `_` and a 64-bit hash of the original name
    * is appended, making distinct odd names collision-resistant (a
    * 32-bit suffix would reach ~50% birthday-collision odds at ~77k
    * odd names; 64 bits pushes that past 5 billion). A literal name
    * that happens to end in the same 16-hex suffix as an alias can
    * still collide — callers with fully adversarial names should quote
    * them to word-ish forms upstream. The physical path keeps the real
    * name; ref()/source() templating resolves through this method, so
    * models reference odd names transparently.
    */
  def viewName(schema: String, table: String): String = {
    val raw = if (schema.isEmpty) table else s"${schema}__$table"
    if (raw.matches("[A-Za-z0-9_]+")) raw
    else {
      val lo = scala.util.hashing.MurmurHash3.stringHash(raw)
      val hi = scala.util.hashing.MurmurHash3.stringHash(raw, 0x9747b28c)
      val h = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
      raw.replaceAll("[^A-Za-z0-9_]", "_") + f"_$h%016x"
    }
  }

  /** Physical path of a relation (reference: relation.py render_path). */
  def relationPath(schema: String, table: String): Path =
    if (schema.isEmpty) new Path(root, s"$table.parquet")
    else new Path(new Path(root, schema), s"$table.parquet")

  private def isRelation(p: Path): Boolean = p.getName.endsWith(".parquet")

  // in-flight CTAS temp/backup dirs and other dotfiles are invisible
  private def isHidden(p: Path): Boolean = p.getName.startsWith(".")

  private def isDir(p: Path): Boolean =
    fs.exists(p) && fs.getFileStatus(p).isDirectory

  /** All schemas: "" (default) plus every subdirectory
    * (reference: util.py list_schemas_from_fs).
    */
  def listSchemas(): Seq[String] = {
    val subs =
      if (!isDir(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && !isRelation(st.getPath) &&
          !isHidden(st.getPath))
        .map(_.getPath.getName).sorted
    "" +: subs
  }

  def schemaExists(schema: String): Boolean = listSchemas().contains(schema)

  /** All relations in a schema (reference: util.py list_relations_from_fs). */
  def listRelations(schema: String): Seq[String] = {
    val dir = if (schema.isEmpty) root else new Path(root, schema)
    if (!isDir(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => isRelation(st.getPath) && !isHidden(st.getPath))
      .map(_.getPath.getName.stripSuffix(".parquet")).sorted
  }

  /** reference: impl.py create_schema */
  def createSchema(schema: String): Unit =
    if (schema.nonEmpty) fs.mkdirs(new Path(root, schema))

  /** reference: impl.py drop_schema (recursive) */
  def dropSchema(schema: String): Unit =
    if (schema.nonEmpty) fs.delete(new Path(root, schema), true)

  /** reference: impl.py drop_relation */
  def dropRelation(schema: String, table: String): Unit = {
    fs.delete(relationPath(schema, table), true)
    spark.catalog.dropTempView(viewName(schema, table))
  }

  /** Move + re-register (reference: impl.py rename_relation). */
  def renameRelation(fromSchema: String, fromTable: String,
      toSchema: String, toTable: String): Unit = {
    val from = relationPath(fromSchema, fromTable)
    val to = relationPath(toSchema, toTable)
    if (from != to) {
      createSchema(toSchema)
      fs.delete(to, true)
      require(fs.rename(from, to), s"rename $from -> $to failed")
      spark.catalog.dropTempView(viewName(fromSchema, fromTable))
      register(toSchema, toTable)
    }
  }

  /** Register one relation as a temp view
    * (reference: relation.py register_as_view_cmd).
    */
  def register(schema: String, table: String): DataFrame = {
    val df = spark.read.parquet(relationPath(schema, table).toString)
    df.createOrReplaceTempView(viewName(schema, table))
    df
  }

  /** Register every relation in every schema
    * (reference: connections.py open / impl.py _register_view_cmds).
    */
  def registerAll(): Unit =
    for (schema <- listSchemas(); table <- listRelations(schema))
      register(schema, table)

  /** Read one relation without registering. */
  def table(schema: String, table: String): DataFrame =
    spark.read.parquet(relationPath(schema, table).toString)

  /** Arbitrary SQL over the registered views
    * (reference: impl.py execute / the `duckdb` run-operation).
    */
  def sql(query: String): DataFrame = spark.sql(query)

  /** CTAS materialization (reference: macros/adapters.sql
    * parquet__create_table_as — `copy (sql) to '<path>'`).
    *
    * Writes to a hidden sibling temp dir, then swaps in three steps:
    * rename the current table aside, rename the fresh write in, delete
    * the old bytes. Readers holding an open handle keep reading the
    * old (complete) data; a reader listing at exactly the instant
    * between the two renames can observe the relation briefly absent —
    * but never a half-written one. That is the strongest guarantee a
    * plain filesystem (or object store) rename gives without a
    * metastore. A call that crashes between the two renames leaves the
    * only complete copy under the hidden `.old` name; the next call
    * restores it before doing anything else, so the data survives the
    * crash. With `singleFile=true` the result is one physical
    * `.parquet` file (byte-compatible with the reference's layout);
    * otherwise it is a `{table}.parquet/` directory of part files
    * (the scale path — writers stay fully parallel).
    */
  def createTableAs(schema: String, tableName: String, df: DataFrame,
      singleFile: Boolean = false): Unit = {
    createSchema(schema)
    val target = relationPath(schema, tableName)
    val parent = target.getParent
    val tmp = new Path(parent, s".$tableName.parquet.tmp")
    val old = new Path(parent, s".$tableName.parquet.old")
    fs.delete(tmp, true)
    // Crash recovery: a prior call that died between rename-aside and
    // swap-in left the only complete copy in `.old` with the target
    // absent — restore it before the write below gets a chance to
    // fail and make the loss permanent. A leftover `.old` NEXT TO an
    // existing target is debris from a crash after swap-in: safe to drop.
    if (fs.exists(old)) {
      if (!fs.exists(target))
        require(fs.rename(old, target),
          s"crash-recovery restore of $target from $old failed")
      else fs.delete(old, true)
    }
    val writer = if (singleFile) df.coalesce(1) else df
    writer.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val fresh =
      if (singleFile)
        fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"no part file written for $tableName"))
      else tmp
    if (fs.exists(target))
      require(fs.rename(target, old), s"rename-aside of $target failed")
    require(fs.rename(fresh, target), s"swap-in of $target failed")
    fs.delete(old, true)
    if (singleFile) fs.delete(tmp, true)
    register(schema, tableName)
  }

  /** Views == tables for parquet (reference: macros/adapters.sql
    * parquet__create_view_as).
    */
  def createViewAs(schema: String, tableName: String, df: DataFrame): Unit =
    createTableAs(schema, tableName, df)

  /** dbt-style incremental materialization, delete+insert by unique
    * key (the `unique_key` merge strategy the reference adapter leaves
    * unimplemented — its tests/functional/basic/test_basic.py skips
    * incremental). First call materializes `df` outright; later calls
    * keep every existing row whose key is absent from the increment
    * (one anti-join — the "delete"), union the increment (the
    * "insert"), and swap atomically like any CTAS. Idempotent for a
    * given batch. For date/id-partitioned facts where increments align
    * with partitions, prefer [[insertOverwritePartitions]], which
    * rewrites only the touched partitions.
    */
  def createTableIncremental(schema: String, tableName: String,
      df: DataFrame, uniqueKey: Seq[String]): Unit = {
    if (!listRelations(schema).contains(tableName))
      createTableAs(schema, tableName, df)
    else {
      // Schema evolution (reference: impl.py expand_column_types /
      // expand_target_column_types, the adapter API every dbt
      // incremental run calls): widen columns the two sides share to
      // their tightest common type (int→long, float→double, …) and let
      // either side carry columns the other lacks — the missing side
      // backfills NULL via unionByName(allowMissingColumns). Increment
      // columns the target never saw are appended after the existing
      // ones, so long-lived consumers keep their ordinals.
      val existing = table(schema, tableName)
      val (tgt, inc) = widenTo(existing, df)
      val keys = inc.select(uniqueKey.map(col): _*).distinct()
      val kept = tgt.join(keys, uniqueKey, "left_anti")
      createTableAs(schema, tableName,
        kept.unionByName(inc, allowMissingColumns = true))
    }
  }

  /** Merge (upsert) materialization — the `merge` incremental
    * strategy with `merge_update_columns` support (the third standard
    * dbt strategy next to delete+insert and insert_overwrite; the
    * reference's DuckDB backend runs delete+insert, but adapter users
    * routinely configure merge where the warehouse supports it). On a
    * key match only `updateColumns` (all non-key increment columns
    * when empty) take the increment's values — INCLUDING explicit
    * NULLs, per MERGE UPDATE SET semantics, so a match flag (not
    * coalesce) drives the choice — while target-only columns keep the
    * existing row's values. Increment-only (schema-drift) columns
    * follow the same gate: on a key match they take the increment's
    * value only when listed in `updateColumns` (or when it is empty),
    * staying NULL otherwise — exactly what warehouse MERGE does for a
    * new column the UPDATE SET clause doesn't mention. Unmatched
    * increment keys insert, with target-only columns NULL-backfilled.
    * The increment MUST be unique on `uniqueKey`: SQL MERGE (and every
    * dbt warehouse adapter) errors when one target row matches several
    * source rows, and silently fanning the target out would corrupt
    * the table — so a duplicate-keyed increment fails loudly here.
    * Schema drift evolves through the same [[widenTo]] lattice as
    * delete+insert. Scale shape: one key-partitioned shuffle join plus
    * the CTAS swap — identical to the delete+insert exchange (the
    * uniqueness guard is one map-side-combined aggregate over the
    * increment, LIMIT 1 — aggregates reach the driver, never rows);
    * nothing quadratic, nothing driver-side.
    *
    * `updateCondition` (optional) is a SQL boolean over aliases `t`
    * (target row) and `i` (incoming row) gating the UPDATE branch —
    * warehouse `WHEN MATCHED AND <cond> THEN UPDATE` semantics. A
    * matched row failing the condition keeps ALL target values. This
    * is what makes latest-state-by-key ingestion batch-order
    * INVARIANT: with `i.ts > t.ts` (plus a total-order tiebreak) the
    * final table is the global per-key argmax however the stream was
    * micro-batched — unconditional update would instead keep
    * whichever batch happened to arrive last.
    */
  def createTableMerge(schema: String, tableName: String, df: DataFrame,
      uniqueKey: Seq[String], updateColumns: Seq[String] = Seq.empty,
      updateCondition: Option[String] = None): Unit = {
    if (!listRelations(schema).contains(tableName))
      createTableAs(schema, tableName, df)
    else {
      val existing = table(schema, tableName)
      val (tgt, inc) = widenTo(existing, df)
      val dup = inc.groupBy(uniqueKey.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"merge increment for $schema.$tableName has multiple rows per " +
          s"unique_key (${uniqueKey.mkString(", ")}), e.g. " +
          dup.headOption.map(_.toString).getOrElse("") +
          " — SQL MERGE forbids multiple source matches per target row")
      val upd =
        if (updateColumns.nonEmpty) updateColumns
        else inc.columns.toSeq.filterNot(uniqueKey.contains)
      val incOnly = inc.columns.toSeq.filterNot(tgt.columns.contains)
      val matchFlag = "__graft_merge_matched"
      val tA = tgt.alias("t")
      val iA = inc.withColumn(matchFlag, lit(true)).alias("i")
      val cond = uniqueKey.map(k => col(s"t.$k") === col(s"i.$k"))
        .reduce(_ && _)
      val updSet = upd.toSet
      // match alone fires the update unless a WHEN MATCHED AND
      // condition narrows it (expr over the t/i aliases)
      val doUpdate = updateCondition
        .map(c => col(matchFlag) && expr(c)).getOrElse(col(matchFlag))
      val merged = tA.join(iA, cond, "left_outer").select(
        tgt.columns.toSeq.map { c =>
          if (updSet.contains(c) && inc.columns.contains(c))
            when(doUpdate, col(s"i.$c")).otherwise(col(s"t.$c")).as(c)
          else col(s"t.$c").as(c)
        } ++ incOnly.map { c =>
          // drift column the UPDATE SET clause doesn't list: matched
          // target rows keep NULL, same as warehouse MERGE
          (if (updSet.contains(c))
             when(doUpdate, col(s"i.$c"))
               .otherwise(lit(null).cast(inc.schema(c).dataType))
           else lit(null).cast(inc.schema(c).dataType)).as(c)
        }: _*)
      val inserts = inc.join(
        tgt.select(uniqueKey.map(col): _*).distinct(), uniqueKey, "left_anti")
      createTableAs(schema, tableName,
        merged.unionByName(inserts, allowMissingColumns = true))
    }
  }

  /** Cast the columns `a` and `b` share to their widest common type,
    * leaving each side's private columns untouched. Fails loudly on
    * genuinely incompatible drift (e.g. string vs array).
    * findWiderTypeForTwo, not findTightestCommonType: decimal
    * precision/scale drift (decimal(12,2) → decimal(18,2)) is the
    * primary case the reference's expand_target_column_types handles,
    * and the tightest-type lattice does not widen decimals at all.
    * Widening is restricted to SAME-CLASS promotions, mirroring the
    * reference's can_expand_to (string size, decimal precision —
    * never across classes): Catalyst's full lattice would also accept
    * int-vs-string (silently rewriting the stored column to string)
    * and decimal-vs-double (silently rewriting exact money to lossy
    * double); both must keep failing loudly instead.
    */
  private def widenTo(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.catalyst.analysis.TypeCoercion
    def sameClass(x: DataType, y: DataType): Boolean = (x, y) match {
      // an all-NULL untyped column takes the other side's type
      case (NullType, _) | (_, NullType) => true
      // exact decimal never silently degrades to binary floating point
      case (_: DecimalType, FloatType | DoubleType) => false
      case (FloatType | DoubleType, _: DecimalType) => false
      // the numeric lattice (int→long, int→decimal, float→double, …)
      case (_: NumericType, _: NumericType) => true
      case _ => false
    }
    val bTypes = b.schema.fields.map(f => f.name -> f.dataType).toMap
    val widened = a.schema.fields.flatMap { f =>
      bTypes.get(f.name).filter(_ != f.dataType).map { bt =>
        val t = (if (sameClass(f.dataType, bt))
            TypeCoercion.findWiderTypeForTwo(f.dataType, bt)
          else None)
          .getOrElse(throw new IllegalArgumentException(
            s"incremental schema drift on '${f.name}' is not widenable: " +
              s"${f.dataType.sql} vs ${bt.sql}"))
        f.name -> t
      }
    }.toMap
    def cast(d: DataFrame) = widened.foldLeft(d) { case (acc, (name, t)) =>
      acc.withColumn(name, col(name).cast(t))
    }
    (cast(a), cast(b))
  }

  /** Drop every row, keep the schema and the registration — the
    * reference's truncate_relation (impl.py:70-73 rewrites the file
    * with zero rows). repartition(1) pins one (empty) write task so
    * the relation always has a readable part file with the schema.
    */
  def truncateRelation(schema: String, tableName: String): Unit =
    createTableAs(schema, tableName,
      table(schema, tableName).limit(0).repartition(1), singleFile = true)

  /** dbt-style snapshot (SCD-2, `check` strategy) — the reference
    * adapter skips snapshots for parquet entirely; here they are one
    * more atomic-swap materialization. Each call compares the incoming
    * rows against the CURRENT version of each key (valid_to IS NULL):
    * changed rows get their current version closed (valid_to = asOf)
    * and a new version opened; unseen keys just open a version;
    * unchanged rows and already-closed history pass through untouched.
    * `asOf` is an explicit timestamp literal so runs are deterministic
    * and replayable (pass current_timestamp at the call site for wall
    * clock). Change detection hashes the payload columns as canonical
    * JSON. All joins are key-equi-joins — the history table never
    * self-joins on anything wider, so the shape scales like any
    * incremental merge.
    */
  def snapshot(schema: String, tableName: String, df: DataFrame,
      uniqueKey: Seq[String], asOf: String): Unit = {
    val at = to_timestamp(lit(asOf))
    val payload = df.columns.filterNot(uniqueKey.contains).toSeq
    def fingerprint(d: DataFrame): Column =
      md5(to_json(struct(payload.sorted.map(d.col): _*)))
    val incoming = df.withColumn("_fp", fingerprint(df))
    if (!listRelations(schema).contains(tableName)) {
      createTableAs(schema, tableName,
        incoming.drop("_fp")
          .withColumn("dbt_valid_from", at)
          .withColumn("dbt_valid_to", lit(null).cast("timestamp")))
    } else {
      val cur = table(schema, tableName)
      val closed = cur.filter(col("dbt_valid_to").isNotNull)
      val open = cur.filter(col("dbt_valid_to").isNull)
      val openFp = open.withColumn("_fp",
        md5(to_json(struct(payload.sorted.map(open.col): _*))))
      val inKeyed = incoming.select(
        (uniqueKey.map(col) :+ col("_fp").as("_fp_new")): _*)
      val joined = openFp.join(inKeyed, uniqueKey, "left_outer")
      // current versions: close if the payload changed, keep otherwise
      val stillOpen = joined
        .filter(col("_fp_new").isNull || col("_fp_new") === col("_fp"))
        .drop("_fp", "_fp_new")
      val nowClosed = joined
        .filter(col("_fp_new").isNotNull && col("_fp_new") =!= col("_fp"))
        .drop("_fp", "_fp_new")
        .withColumn("dbt_valid_to", at)
      // incoming rows that open a new version: new keys or changed rows
      val opens = incoming
        .join(openFp.select((uniqueKey.map(col) :+
          col("_fp").as("_fp_cur")): _*), uniqueKey, "left_outer")
        .filter(col("_fp_cur").isNull || col("_fp_cur") =!= col("_fp"))
        .drop("_fp", "_fp_cur")
        .withColumn("dbt_valid_from", at)
        .withColumn("dbt_valid_to", lit(null).cast("timestamp"))
      createTableAs(schema, tableName,
        closed.unionByName(stillOpen).unionByName(nowClosed)
          .unionByName(opens))
    }
  }

  /** dbt-style snapshot, `timestamp` strategy (the other standard dbt
    * strategy next to `check`; reference ships its time helpers as
    * macros/adapters.sql:60-72 parquet__snapshot_string_as_time /
    * parquet__snapshot_get_time). A key's current version closes when
    * the incoming row's `updatedAt` column ADVANCES past the stored
    * version's `updatedAt` — no payload hashing at all, which is the
    * point: change detection is one column compare instead of a
    * canonical-JSON fingerprint over every payload column, so the scan
    * side is narrower and faster at 100 TB. Validity bounds come from
    * the data clock, not the wall clock: `dbt_valid_from` is the row's
    * own `updatedAt`, and the closed version's `dbt_valid_to` is the
    * superseding row's `updatedAt` — exactly how dbt's timestamp
    * strategy stitches history. Rows whose `updatedAt` did not advance
    * (equal or older — late arrivals) leave history untouched. Same
    * scale shape as [[snapshot]]: key-equi-joins only, then the atomic
    * CTAS swap.
    */
  def snapshotTimestamp(schema: String, tableName: String, df: DataFrame,
      uniqueKey: Seq[String], updatedAt: String): Unit = {
    val tsOf = (d: DataFrame) => d.col(updatedAt).cast("timestamp")
    if (!listRelations(schema).contains(tableName)) {
      createTableAs(schema, tableName,
        df.withColumn("dbt_valid_from", tsOf(df))
          .withColumn("dbt_valid_to", lit(null).cast("timestamp")))
    } else {
      val cur = table(schema, tableName)
      val closed = cur.filter(col("dbt_valid_to").isNotNull)
      val open = cur.filter(col("dbt_valid_to").isNull)
      val inKeyed = df.select(
        (uniqueKey.map(col) :+ tsOf(df).as("_ts_new")): _*)
      val joined = open.join(inKeyed, uniqueKey, "left_outer")
      val stillOpen = joined
        .filter(col("_ts_new").isNull ||
          col("_ts_new") <= col(updatedAt).cast("timestamp"))
        .drop("_ts_new")
      val nowClosed = joined
        .filter(col("_ts_new").isNotNull &&
          col("_ts_new") > col(updatedAt).cast("timestamp"))
        .withColumn("dbt_valid_to", col("_ts_new"))
        .drop("_ts_new")
      val opens = df
        .join(open.select((uniqueKey.map(col) :+
          tsOf(open).as("_ts_cur")): _*), uniqueKey, "left_outer")
        .filter(col("_ts_cur").isNull ||
          tsOf(df) > col("_ts_cur"))
        .drop("_ts_cur")
        .withColumn("dbt_valid_from", tsOf(df))
        .withColumn("dbt_valid_to", lit(null).cast("timestamp"))
      createTableAs(schema, tableName,
        closed.unionByName(stillOpen).unionByName(nowClosed)
          .unionByName(opens))
    }
  }

  /** Incremental materialization at partition granularity: only the
    * partitions present in `df` are rewritten (Spark's dynamic
    * partition overwrite), everything else is untouched — the 100 TB
    * incremental path, where a daily load replaces a handful of date
    * partitions of an arbitrarily large fact table instead of
    * rewriting it. The relation becomes a `{table}.parquet/<col>=...`
    * partitioned directory; atomicity is per partition (Spark's file
    * committer), not whole-table.
    */
  def insertOverwritePartitions(schema: String, tableName: String,
      df: DataFrame, partitionCols: Seq[String]): Unit = {
    createSchema(schema)
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(relationPath(schema, tableName).toString)
    register(schema, tableName)
  }

  /** Run `body` with `spark.sql.files.maxRecordsPerFile` pinned, then
    * restore the previous value. The shuffle-free way to control
    * output file sizing: repartition(n) before a write costs a full
    * exchange of the table; chopping each write task's output does
    * not. (The conf is session-scoped, hence the save/restore.)
    */
  def withMaxRecordsPerFile[A](records: Long)(body: => A): A = {
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, records.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Compact a relation to `numFiles` part files — the maintenance op
    * a 100 TB deployment runs after many small incremental writes (the
    * small-files problem). Same atomic tmp+rename swap as CTAS.
    *
    * `clusterCols` (r16, guide §6 "partitioning on write determines
    * how well readers can skip data"): compaction already pays one
    * full shuffle of the table; range-partitioning that same shuffle
    * on the given columns (instead of round-robin) costs one extra
    * sampling pass over the keys and buys each output FILE a narrow
    * value range — every row group inherits it, so a downstream scan
    * filtering on the cluster columns prunes to the few files whose
    * range matches instead of reading the whole table. Deliberately
    * NOT sorted within partitions: file-level ranges already give the
    * pruning, and a measured sf10 A/B of the sorted variant cost a
    * full-table wide-row sort (c_compact_cluster 47-53 s → 66-110 s)
    * for row-group stats the partition-grained consumers never needed.
    * Same row set, same file count either way.
    */
  def compact(schema: String, tableName: String, numFiles: Int,
      clusterCols: Seq[String] = Nil): Unit =
    createTableAs(schema, tableName,
      if (clusterCols.isEmpty) table(schema, tableName).repartition(numFiles)
      else table(schema, tableName)
        .repartitionByRange(numFiles, clusterCols.map(col): _*))

  /** Materialize range-clustered on `clusterCols`: rows are range-
    * partitioned and sorted within partitions, so parquet row-group
    * min/max statistics become selective and scans with predicates on
    * the cluster columns skip most of the file — the poor-man's
    * Z-order, and the right default for append-only fact tables.
    */
  def createTableClusteredBy(schema: String, tableName: String,
      df: DataFrame, numFiles: Int, clusterCols: Seq[String]): Unit = {
    val cols = clusterCols.map(df.col)
    createTableAs(schema, tableName,
      df.repartitionByRange(numFiles, cols: _*)
        .sortWithinPartitions(cols: _*))
  }

  /** Partition-at-a-time clustered rewrite: materialize `df`
    * hive-partitioned on `partCol`, each partition range-clustered on
    * `clusterCols`, one partition per write job. This is how a 100 TB
    * table actually gets compacted/clustered: the whole-table
    * [[createTableClusteredBy]] shuffles the full table in one job
    * (transient shuffle + tmp footprint ≈ 2-3× the table — it was the
    * one engine gate the sf100 protocol could not fit on local disk),
    * while here the transient scratch is bounded by ONE partition's
    * footprint regardless of table size, partitions already in place
    * are untouched on a re-run crash (dynamic overwrite), and the
    * partition column prunes downstream scans on top of the row-group
    * stats. The partition values are collected driver-side — guarded,
    * since a high-cardinality partCol would mean one job per value.
    */
  def clusterPartitions(schema: String, tableName: String, df: DataFrame,
      partCol: String, numFilesPerPart: Int,
      clusterCols: Seq[String]): Unit = {
    createSchema(schema)
    val parts = df.select(col(partCol)).distinct().limit(513).collect()
      .map(_.get(0))
    require(parts.length <= 512,
      s"clusterPartitions('$partCol') has >512 distinct values — " +
        "pick a coarser partition key or cluster whole-table")
    val cols = clusterCols.map(c => col(c))
    val path = relationPath(schema, tableName).toString
    // A NULL partition value is one more partition, routed to Spark's
    // hive-default partition directory exactly as a plain partitioned
    // write would place it. It needs its own predicate: the equality
    // filter below is null-safe-FALSE for null rows, which would
    // silently drop them from the rewritten table (and sortBy(toString)
    // on a null part value would NPE before that).
    val (nullPart, realParts) = parts.partition(_ == null)
    val jobs: Seq[Column] =
      realParts.sortBy(_.toString).toSeq.map(v => col(partCol) === lit(v)) ++
        (if (nullPart.nonEmpty) Seq(col(partCol).isNull) else Nil)
    // r15 (guide §2.6 "overlap independent jobs"): the per-partition
    // rewrites are independent — distinct partition values, and each
    // dynamic-overwrite job stages under its own .spark-staging-<UUID>
    // dir — but running them strictly sequentially left most cores
    // idle through every job's range-exchange tail (each job only has
    // numFilesPerPart output tasks). The pool width is 3 because r15
    // measured it (c_compact_cluster gate at sf0.1, same-window 3-run
    // median: 10.04 s sequential → 6.43 s with 3 jobs in flight), and
    // 3 keeps transient scratch bounded by three partitions' footprint
    // — still O(1) in table size. The crash property is unchanged:
    // completed partitions stay in place and a re-run overwrites only
    // what it recomputes.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      3.min(jobs.size.max(1)))
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val writes = jobs.map { pred =>
        scala.concurrent.Future {
          df.filter(pred)
            .repartitionByRange(numFilesPerPart, cols: _*)
            .sortWithinPartitions(cols: _*)
            .write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partCol)
            .parquet(path)
        }(ec)
      }
      try
        writes.foreach(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf))
      catch { case e: Throwable =>
        // failure barrier (ADVICE r15): without it the exception
        // propagates (skipping register) while queued/running writes
        // keep mutating the table path in background threads, racing
        // any caller cleanup or retry. shutdownNow cancels the
        // un-started jobs; the await drains the in-flight ones.
        pool.shutdownNow()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        throw e
      }
    } finally pool.shutdown()
    register(schema, tableName)
  }

  /** CSV seed ingestion (reference: impl.py load_dataframe +
    * macros/seed.sql): header + schema inference, materialized as
    * parquet, registered as a view.
    *
    * `columnTypes` mirrors the reference's explicit agate→engine type
    * conversions (impl.py:185-208 convert_text_type …
    * convert_time_type, surfaced to users as the seed `column_types`
    * config): inference alone destroys values that only LOOK numeric —
    * a leading-zero code column inferred as int turns "007" into 7 —
    * so declared columns are parsed from the source text with the
    * declared type (not cast after the fact, which would bake the
    * inference damage in).
    */
  def seedCsv(schema: String, tableName: String, csvPath: String,
      columnTypes: Map[String, DataType] = Map.empty): Unit = {
    val reader = spark.read.option("header", "true")
    // TIME dialect decision (reference impl.py:207 convert_time_type →
    // DuckDB TIME): Spark 4.1's native TimeType is real but the CSV
    // datasource rejects it even under spark.sql.timeType.enabled, so
    // declared TIME seed columns are parsed from the source text as
    // string and cast to TIME after read — the stored parquet column
    // IS TimeType, preserving the reference's declared-type contract.
    // (The inference-damage rationale below doesn't apply to TIME:
    // "09:15:00" never infers as a number, so a post-read cast of the
    // untouched source text is lossless.)
    val timeCols = columnTypes.collect {
      case (n, t: org.apache.spark.sql.types.TimeType) => (n, t)
    }
    // The TimeType feature flag is set for the SESSION, deliberately
    // not save-and-restored (ADVICE r13 suggested restoring; measured
    // and rejected): DataSourceUtils.verifySchema rejects TimeType in
    // any datasource schema while the flag is off, so restoring a
    // false/default value would make the very table this call just
    // seeded unreadable (AnalysisException UNSUPPORTED_TIME_TYPE on
    // the next read — CatalogSpec reproduced it live). A session that
    // declares a TIME seed column has opted into TIME relations; the
    // flag is that opt-in. CatalogSpec pins read-back-after-seed.
    val timeConfKey = "spark.sql.timeType.enabled"
    if (timeCols.nonEmpty) spark.conf.set(timeConfKey, "true")
    val readTypes = columnTypes.map {
      case (n, _: org.apache.spark.sql.types.TimeType) =>
        (n, StringType: DataType)
      case kv => kv
    }
    val merged =
      if (columnTypes.isEmpty) None
      else {
        val inferred = reader.option("inferSchema", "true").csv(csvPath).schema
        val known = inferred.fieldNames.toSet
        val unknown = columnTypes.keySet.diff(known)
        require(unknown.isEmpty,
          s"seed column_types name no such column(s): ${unknown.mkString(", ")}")
        Some(StructType(inferred.map(f =>
          readTypes.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f))))
      }
    val raw = merged match {
      case Some(s) => reader.schema(s).csv(csvPath)
      case None => reader.option("inferSchema", "true").csv(csvPath)
    }
    val df = timeCols.foldLeft(raw) { case (d, (n, t)) =>
      d.withColumn(n, col(n).cast(t))
    }
    // Malformed time text must fail LOUDLY (reference parity: DuckDB's
    // TIME conversion raises). Under Spark 4's default ANSI mode the
    // cast below raises on its own, but under ansi=false it silently
    // yields NULL — so a mode-independent try_cast validation pass
    // runs FIRST (a seed is small by contract, one extra pass is
    // free): any row where the source text is non-null but the cast
    // nulls out is a conversion error, not a missing value.
    // One validation pass for ALL declared TIME columns (ADVICE r14:
    // the per-column count() paid one full CSV scan per column): a
    // single aggregate of per-column bad counts.
    if (timeCols.nonEmpty) {
      val cols = timeCols.toSeq
      val aggs = cols.map { case (n, t) =>
        sum(when(col(n).isNotNull && col(n).try_cast(t).isNull, 1L)
          .otherwise(0L)).as(n)
      }
      val counts = raw.agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.zipWithIndex.foreach { case ((n, _), i) =>
        val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
        require(bad == 0,
          s"seed '$tableName' column '$n': $bad value(s) are not valid " +
            s"TIME text (reference TIME conversion would raise)")
      }
    }
    createTableAs(schema, tableName, df)
  }

  /** Column introspection from the parquet footer
    * (reference: impl.py get_columns_in_relation).
    */
  def columnsOf(schema: String, table: String): Seq[StructField] =
    spark.read.parquet(relationPath(schema, table).toString).schema.fields.toSeq

  /** Catalog metadata table over every relation
    * (reference: macros/catalog.sql get_catalog): one row per column
    * with (database, schema, table, name, ordinal, type).
    */
  def catalogTable(): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import spark.implicits._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // footer opens are independent metadata reads — on an object store
    // each is a round-trip, so they run concurrently, not in a
    // sequential driver loop over every relation
    val rels = for {
      schema <- listSchemas(); tbl <- listRelations(schema)
    } yield (schema, tbl)
    val rows = Await.result(
      Future.traverse(rels) { case (schema, tbl) =>
        Future(columnsOf(schema, tbl).zipWithIndex.map { case (f, i) =>
          (database, schema, tbl, f.name, (i + 1).toLong, f.dataType.sql)
        })
      }, Duration.Inf).flatten
    rows.toDF("table_database", "table_schema", "table_name",
      "column_name", "ordinal_position", "column_type")
  }

  /** Row-level diff between two relations: (row_count_difference,
    * num_mismatched), the same contract as the reference's
    * columns-equal check (impl.py get_rows_different_sql).
    *
    * One lazy plan, one shuffle: rows of `a` weigh +1 and rows of `b`
    * weigh -1; grouping by every compared column gives the signed
    * multiplicity `d` per distinct row, from which
    * `row_count_difference = Σd` and `num_mismatched = Σ|d|` (the
    * multiset symmetric-difference size, identical to the old
    * two-sided exceptAll) fall out of a single scalar aggregate —
    * instead of the previous four separate count actions.
    */
  def rowsDifferent(a: DataFrame, b: DataFrame,
      columns: Seq[String] = Seq.empty): DataFrame = {
    val names = if (columns.nonEmpty) columns else a.columns.toSeq.sorted
    val cols = names.map(col)
    // internal aliases must not collide with the user's column names
    var w = "_w"; while (names.contains(w)) w += "_"
    var d = "_d"; while (names.contains(d) || d == w) d += "_"
    a.select(cols :+ lit(1L).as(w): _*)
      .unionAll(b.select(cols :+ lit(-1L).as(w): _*))
      .groupBy(names.map(col): _*)
      .agg(sum(col(w)).as(d))
      .agg(coalesce(sum(col(d)), lit(0L)).as("row_count_difference"),
        coalesce(sum(abs(col(d))), lit(0L)).as("num_mismatched"))
  }
}
