package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Catalog, DataTests, Materialization, Model, ModelRunner}

/** Gates for the engine surface (SURVEY.md §2.1): catalog discovery,
  * relation lifecycle (CTAS / rename / drop), CSV seeds, DAG model
  * execution, generic data tests, relation diffing, partitioned
  * writes. Each exercises the `graft.core` engine end-to-end —
  * materialize to a scratch database dir, read back through the
  * catalog — and is checked against a DuckDB oracle computing the
  * same result directly.
  */
object Engine extends QueryModule {
  import Q.{t, dsumSql}

  def queries: Map[String, Q] = Map(
    // ─── C2/C3/C4/C10/C11: catalog discovery + column introspection ───
    "c_catalog" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, dir)
        cat.catalogTable()
          .select(col("table_name"), col("column_name"),
            col("ordinal_position"))
          .orderBy(col("table_name"), col("ordinal_position"))
      },
      Some("""SELECT table_name, column_name,
          cast(ordinal_position as bigint) AS ordinal_position
        FROM information_schema.columns
        WHERE table_name IN ('region','nation','customer','supplier','part',
          'orders','lineitem','events','documents','embeddings')
        ORDER BY table_name, ordinal_position""")),

    // ─── C5-C8: schema + relation lifecycle (CTAS → rename → drop) ───
    "c_lifecycle" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "lifecycle"))
        val src = t(s, dir, "orders")
          .filter(col("o_totalprice") > 200000)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        cat.createSchema("staging")
        cat.createTableAs("staging", "big_orders", src)
        // a relation that only exists to be dropped
        cat.createTableAs("staging", "scratch_copy", src.limit(10))
        cat.dropRelation("staging", "scratch_copy")
        cat.renameRelation("staging", "big_orders", "", "final_orders")
        assert(cat.listRelations("staging").isEmpty)
        assert(cat.listRelations("") == Seq("final_orders"))
        cat.table("", "final_orders").orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_totalprice > 200000
        ORDER BY o_orderkey""")),

    // ─── C8 (single-file mode): byte-compatible one-file-per-table CTAS ───
    "c_single_file" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "single"))
        cat.createTableAs("", "nation_sf",
          t(s, dir, "nation").repartition(4), singleFile = true)
        val p = cat.relationPath("", "nation_sf")
        assert(cat.fs.getFileStatus(p).isFile,
          s"$p must be one plain parquet file")
        cat.table("", "nation_sf")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // ─── src/snk: CSV write + schema'd read roundtrip ───
    "c_csv_roundtrip" -> Q(
      (s, dir) => {
        val out = Q.scratch(s, "csv") + "/part_csv"
        t(s, dir, "part").write.mode("overwrite")
          .option("header", "true").csv(out)
        s.read.option("header", "true").option("inferSchema", "true").csv(out)
          .groupBy(col("p_type"))
          .agg(count(lit(1)).as("n"),
            graft.functions.Dnum.dsum(col("p_retailprice"), 2)
              .as("total_price"))
          .orderBy(col("p_type"))
      },
      Some(s"""SELECT p_type, count(*) AS n,
          ${dsumSql("p_retailprice")} AS total_price
        FROM part
        GROUP BY p_type
        ORDER BY p_type""")),

    // ─── maintenance: small-file compaction + range-clustered write ───
    "c_compact_cluster" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "compact"))
        cat.dropRelation("", "li_clustered") // no stale copy across reruns
        // simulate a fragmented table (many small files), compact it,
        // then re-materialize clustered by ship date. The compaction
        // target matches the write parallelism (32 = one file per
        // core here; on a cluster, pick total-bytes/target-file-size):
        // compacting 60M rows into 4 files would leave 7/8 of the
        // cores idle through two full rewrites. Fragmentation is
        // produced by chopping the write with the writer's own
        // maxRecordsPerFile option, NOT by a repartition (the setup is
        // not what the gate measures, and a third full-table shuffle's
        // transient files were ~13 GB of the disk budget per pass at
        // sf100) and NOT by the session conf, which every concurrent
        // write on the session would pick up.
        // l_shipyear is materialized INTO li_frag (one int column), so
        // the rewrite partitions on a stored column; the compaction
        // pass, which already pays a full shuffle, range-clusters on
        // ship date (guide §6).
        val li = t(s, dir, "lineitem")
          .withColumn("l_shipyear", year(col("l_shipdate")))
        val nRows = li.count()
        li.write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", (nRows / 96 + 1).max(1L))
          .parquet(cat.relationPath("", "li_frag").toString)
        cat.compact("", "li_frag", 32, clusterCols = Seq("l_shipdate"))
        assert(cat.fs.listStatus(cat.relationPath("", "li_frag"))
          .count(_.getPath.getName.endsWith(".parquet")) == 32,
          "compaction must leave 32 part files")
        // ship YEAR partitions, range-clustered on ship date inside
        // each, written in one job: a filter on the year prunes
        // directories, one on the date prunes files.
        cat.clusterPartitions("", "li_clustered",
          cat.table("", "li_frag"),
          partCol = "l_shipyear", numFilesPerPart = 8,
          clusterCols = Seq("l_shipdate"))
        // The fragmented copy is dead once the clustered table exists;
        // dropping it here (not at harness cleanup) halves this gate's
        // steady scratch — at sf100 that is ~13 GB back per pass.
        cat.dropRelation("", "li_frag")
        cat.table("", "li_clustered")
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
            col("l_shipdate") < lit("1997-07-01"))
          .agg(count(lit(1)).as("n"),
            graft.functions.Dnum.dsum(col("l_quantity"), 2).as("qty"))
      },
      Some(s"""SELECT count(*) AS n, ${dsumSql("l_quantity")} AS qty
        FROM lineitem
        WHERE l_shipdate >= timestamp '1997-01-01'
          AND l_shipdate < timestamp '1997-07-01'""")),

    // ─── C17: DAG model runner (ref/source templating, parallel waves) ───
    "c_dag_model" -> Q(
      (s, dir) => {
        val srcCat = new Catalog(s, dir)
        val target = new Catalog(s, Q.scratch(s, "dag"))
        val runner = new ModelRunner(target,
          (schema, table) => srcCat.table(schema, table))
        val models = Seq(
          Model("stg_orders",
            """SELECT o_orderkey, o_custkey, o_totalprice
               FROM {{ source('', 'orders') }}
               WHERE o_orderdate >= timestamp '1996-01-01'"""),
          Model("stg_customers",
            """SELECT c_custkey, c_mktsegment
               FROM {{ source('', 'customer') }}"""),
          Model("segment_revenue",
            """SELECT c_mktsegment,
                 count(*) AS n_orders,
                 cast(sum(cast(o_totalprice as decimal(18,2))) as double)
                   AS revenue
               FROM {{ ref('stg_orders') }}
               JOIN {{ ref('stg_customers') }} ON o_custkey = c_custkey
               GROUP BY c_mktsegment"""))
        val order = runner.run(models, threads = 3)
        assert(order.last == "segment_revenue")
        target.table("", "segment_revenue").orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
          ${dsumSql("o_totalprice")} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= timestamp '1996-01-01'
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ─── C17b: DAG runner routing `materialized: incremental` ───
    // The dbt workflow the r9 verdict flagged as the one real seam vs
    // dbt-core: a user configures a model incremental and the DAG
    // re-run must INCREMENT the existing table (delete+insert by key
    // through Catalog.createTableIncremental) instead of rebuilding it.
    // Batch 1 loads orders before 1999 through an ephemeral staging
    // model; batch 2 re-runs the SAME DAG over an overlapping window
    // (1998 onward, prices doubled). Overlap keys must be replaced,
    // later keys appended, and pre-1998 rows — present only in batch 1
    // — must survive, which is exactly what a rebuild would destroy
    // (the assert makes that failure loud locally; the oracle proves
    // the full merged content).
    "c_dag_incremental" -> Q(
      (s, dir) => {
        val srcCat = new Catalog(s, dir)
        val target = new Catalog(s, Q.scratch(s, "dagincr"))
        target.dropRelation("", "fct_orders") // deterministic across reruns
        val runner = new ModelRunner(target,
          (schema, table) => srcCat.table(schema, table))
        def dag(where: String, price: String) = Seq(
          Model("stg_orders_win",
            s"""SELECT o_orderkey, o_custkey, $price AS o_totalprice,
                  o_orderdate
               FROM {{ source('', 'orders') }}
               WHERE $where""",
            materialized = Materialization.Ephemeral),
          Model("fct_orders",
            "SELECT * FROM {{ ref('stg_orders_win') }}",
            materialized = Materialization.Incremental(Seq("o_orderkey"))))
        runner.run(dag("o_orderdate < timestamp '1999-01-01'",
          "o_totalprice"))
        runner.run(dag("o_orderdate >= timestamp '1998-01-01'",
          "o_totalprice * 2"))
        assert(target.table("", "fct_orders")
            .filter(col("o_orderdate") < lit("1998-01-01")).limit(1)
            .count() == 1,
          "DAG re-run rebuilt instead of incrementing: batch-1-only rows lost")
        target.table("", "fct_orders").orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderdate >= timestamp '1998-01-01'
               THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
          o_orderdate
        FROM orders
        ORDER BY o_orderkey""")),

    // ─── C20: incremental materialization (delete+insert by unique key) ───
    // Base load (orders before 1998) then an overlapping increment
    // (orders from 1997 on, prices doubled): rows in the overlap must
    // be REPLACED by the increment, later rows appended — the oracle
    // expresses exactly that merge outcome over the raw table.
    "c_incremental" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "incr"))
        cat.dropRelation("", "orders_inc") // deterministic across reruns
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"))
        val base = ord.filter(col("o_orderdate") < lit("1998-01-01"))
        val incr = ord.filter(col("o_orderdate") >= lit("1997-01-01"))
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        cat.createTableIncremental("", "orders_inc", base, Seq("o_orderkey"))
        cat.createTableIncremental("", "orders_inc", incr, Seq("o_orderkey"))
        cat.table("", "orders_inc").orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderdate >= timestamp '1997-01-01'
               THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
          o_orderdate
        FROM orders
        ORDER BY o_orderkey""")),

    // ─── C20c: merge (upsert) with merge_update_columns ───
    // The third standard incremental strategy: on key match only the
    // configured columns update (o_totalprice here) — the increment's
    // o_custkey values must NOT overwrite matched rows — and new keys
    // insert with target-only columns (o_orderdate, absent from the
    // increment entirely) NULL-backfilled. Distinguishes merge from
    // delete+insert, which would have replaced whole rows.
    "c_merge" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "merge"))
        cat.dropRelation("", "orders_mrg") // deterministic across reruns
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"))
        val base = ord.filter(col("o_orderdate") < lit("1998-01-01"))
        val incr = ord.filter(col("o_orderdate") >= lit("1997-01-01"))
          .select(col("o_orderkey"),
            (col("o_custkey") + 1000000L).as("o_custkey"),
            (col("o_totalprice") * 3).as("o_totalprice"))
        cat.createTableMerge("", "orders_mrg", base, Seq("o_orderkey"))
        cat.createTableMerge("", "orders_mrg", incr, Seq("o_orderkey"),
          updateColumns = Seq("o_totalprice"))
        cat.table("", "orders_mrg").orderBy(col("o_orderkey"))
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
          FROM orders WHERE o_orderdate < timestamp '1998-01-01'),
        inc AS (
          SELECT o_orderkey, o_custkey + 1000000 AS o_custkey,
            o_totalprice * 3 AS o_totalprice
          FROM orders WHERE o_orderdate >= timestamp '1997-01-01')
        SELECT * FROM (
          SELECT b.o_orderkey, b.o_custkey,
            CASE WHEN i.o_orderkey IS NOT NULL THEN i.o_totalprice
                 ELSE b.o_totalprice END AS o_totalprice,
            b.o_orderdate
          FROM base b LEFT JOIN inc i ON b.o_orderkey = i.o_orderkey
          UNION ALL
          SELECT i.o_orderkey, i.o_custkey, i.o_totalprice,
            cast(NULL as timestamp) AS o_orderdate
          FROM inc i
          WHERE i.o_orderkey NOT IN (SELECT o_orderkey FROM base))
        ORDER BY o_orderkey""")),

    // ─── C20b: incremental with SCHEMA DRIFT (evolve on merge) ───
    // The single most common incremental event at scale: an increment
    // that ADDS a column (o_orderpriority), WIDENS one (o_custkey was
    // written int, arrives bigint), and carries PRECISION DRIFT on a
    // money column (o_price_d was written decimal(12,2), arrives
    // decimal(18,2)) — the primary case the reference's
    // expand_column_types exists for (impl.py:105-113,
    // Column.can_expand_to). Old rows must backfill NULL for the new
    // column, both drifting columns must promote to the common type.
    "c_incr_evolve" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "evolve"))
        cat.dropRelation("", "orders_ev") // deterministic across reruns
        val ord = t(s, dir, "orders")
        val base = ord.filter(col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"),
            col("o_custkey").cast("int").as("o_custkey"),
            col("o_totalprice"),
            col("o_totalprice").cast(DecimalType(12, 2)).as("o_price_d"))
        val incr = ord.filter(col("o_orderdate") >= lit("1996-07-01"))
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            (col("o_totalprice") * 2).cast(DecimalType(18, 2))
              .as("o_price_d"),
            col("o_orderpriority"))
        cat.createTableIncremental("", "orders_ev", base, Seq("o_orderkey"))
        cat.createTableIncremental("", "orders_ev", incr, Seq("o_orderkey"))
        // The STORED table keeps the widened decimal(18,2) (pinned by
        // CoreSpec's drift specs); the GATE output casts it to double
        // because the driver's comparator goes through pandas, where a
        // Spark decimal parquet column arrives as Decimal objects but
        // DuckDB's .df() yields float64 — numerically equal,
        // hash-distinct (the r7/r8 red row). dsum's own convention:
        // decimal inside, double at the gate boundary.
        cat.table("", "orders_ev")
          .withColumn("o_price_d", col("o_price_d").cast("double"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, cast(o_custkey as bigint) AS o_custkey,
          CASE WHEN o_orderdate >= timestamp '1996-07-01'
               THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
          cast(CASE WHEN o_orderdate >= timestamp '1996-07-01'
               THEN cast(o_totalprice * 2 as decimal(18,2))
               ELSE cast(cast(o_totalprice as decimal(12,2))
                         as decimal(18,2)) END as double) AS o_price_d,
          CASE WHEN o_orderdate >= timestamp '1996-07-01'
               THEN o_orderpriority END AS o_orderpriority
        FROM orders
        ORDER BY o_orderkey""")),

    // ─── C21: partition-granular incremental (dynamic overwrite) ───
    // Full load partitioned by order year, then a re-load of JUST the
    // 1997 partition with doubled prices; other partitions must be
    // byte-untouched. This is the incremental path that scales: a
    // daily batch replaces its own partitions of a 100 TB fact.
    "c_incr_partition" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "incrp"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            year(col("o_orderdate")).as("yr"))
        cat.insertOverwritePartitions("", "ord_by_yr", ord, Seq("yr"))
        val reload = ord.filter(col("yr") === 1997)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        cat.insertOverwritePartitions("", "ord_by_yr", reload, Seq("yr"))
        cat.table("", "ord_by_yr")
          .groupBy(col("yr").cast("long").as("yr"))
          .agg(count(lit(1)).as("n"),
            graft.functions.Dnum.dsum(col("o_totalprice"), 2).as("total"))
          .orderBy(col("yr"))
      },
      Some(s"""SELECT cast(year(o_orderdate) as bigint) AS yr, count(*) AS n,
          ${dsumSql("CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice * 2 ELSE o_totalprice END")} AS total
        FROM orders
        GROUP BY yr
        ORDER BY yr""")),

    // ─── C22: SCD-2 snapshot (check strategy, deterministic asOf) ───
    // Snapshot the same keys twice: first the base state, then a state
    // where post-1997 orders changed price. Expected history: every
    // base row opened at t1 (closed at t2 iff it changed), plus a new
    // open version at t2 for each changed key — exactly what the
    // oracle SQL constructs from the raw table.
    "c_snapshot" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "snap"))
        cat.dropRelation("", "ord_snap") // deterministic across reruns
        val base = t(s, dir, "orders").filter(col("o_custkey") <= 200)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"))
        val updated = base.withColumn("o_totalprice",
          when(col("o_orderdate") >= lit("1997-01-01"),
            col("o_totalprice") + 1000).otherwise(col("o_totalprice")))
        cat.snapshot("", "ord_snap", base, Seq("o_orderkey"),
          "2026-01-01 00:00:00")
        cat.snapshot("", "ord_snap", updated, Seq("o_orderkey"),
          "2026-02-01 00:00:00")
        cat.table("", "ord_snap")
          .orderBy(col("o_orderkey"), col("dbt_valid_from"))
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
          FROM orders WHERE o_custkey <= 200)
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
          timestamp '2026-01-01 00:00:00' AS dbt_valid_from,
          CASE WHEN o_orderdate >= timestamp '1997-01-01'
               THEN timestamp '2026-02-01 00:00:00' END AS dbt_valid_to
        FROM base
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 1000, o_orderdate,
          timestamp '2026-02-01 00:00:00', NULL
        FROM base WHERE o_orderdate >= timestamp '1997-01-01'
        ORDER BY o_orderkey, dbt_valid_from""")),

    // ─── C22b: SCD-2 snapshot, TIMESTAMP strategy ───
    // Second run changes EVERY row's payload but advances updated_at
    // only for post-1997 rows: timestamp strategy must version only
    // those (the check strategy would have versioned everything) —
    // pre-1997 keys keep their single open version with the ORIGINAL
    // payload, and the closed versions' dbt_valid_to is the
    // superseding row's updated_at, not a wall-clock asOf.
    "c_snapshot_ts" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "snapts"))
        cat.dropRelation("", "ord_snap_ts") // deterministic across reruns
        val base = t(s, dir, "orders").filter(col("o_custkey") <= 200)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate").cast("timestamp").as("updated_at"))
        val updated = base
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .withColumn("updated_at",
            when(col("updated_at") >= lit("1997-01-01").cast("timestamp"),
              col("updated_at") + expr("INTERVAL 100 DAYS"))
              .otherwise(col("updated_at")))
        cat.snapshotTimestamp("", "ord_snap_ts", base,
          Seq("o_orderkey"), "updated_at")
        cat.snapshotTimestamp("", "ord_snap_ts", updated,
          Seq("o_orderkey"), "updated_at")
        cat.table("", "ord_snap_ts")
          .orderBy(col("o_orderkey"), col("dbt_valid_from"))
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_custkey, o_totalprice,
            cast(o_orderdate as timestamp) AS updated_at
          FROM orders WHERE o_custkey <= 200)
        SELECT o_orderkey, o_custkey, o_totalprice, updated_at,
          updated_at AS dbt_valid_from,
          CASE WHEN updated_at >= timestamp '1997-01-01'
               THEN updated_at + INTERVAL 100 DAY END AS dbt_valid_to
        FROM base
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 1000,
          updated_at + INTERVAL 100 DAY,
          updated_at + INTERVAL 100 DAY,
          cast(NULL as timestamp)
        FROM base WHERE updated_at >= timestamp '1997-01-01'
        ORDER BY o_orderkey, dbt_valid_from""")),

    // ─── C9: CSV seed → parquet ───
    "c_seed" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "seed"))
        // deterministic seed CSV generated from the nation dim, written
        // through the catalog's Hadoop FS (works on any scheme)
        val rows = t(s, dir, "nation")
          .orderBy(col("n_nationkey"))
          .collect()
          .map(r => s"${r.getInt(0)},${r.getString(1)},${r.getInt(2)}")
        val csv = new org.apache.hadoop.fs.Path(cat.database, "nation_seed.csv")
        val out = cat.fs.create(csv, true)
        try out.write(("n_nationkey,n_name,n_regionkey" +: rows.toSeq)
          .mkString("\n").getBytes("UTF-8"))
        finally out.close()
        cat.seedCsv("", "nation_seed", csv.toString)
        cat.table("", "nation_seed").orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // ─── C9b: seed column_types parity — declared types beat inference
    // (reference: impl.py:185-208 convert_*_type; a leading-zero code
    // column inferred as int would turn "007" into 7, and a money
    // column inferred as double would leave the decimal grid) ───
    "c_seed_typed" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, Q.scratch(s, "seed_typed"))
        val rows = t(s, dir, "nation")
          .orderBy(col("n_nationkey"))
          .select(col("n_nationkey"),
            lpad(col("n_nationkey").cast("string"), 3, "0").as("code"),
            format_number(col("n_regionkey") * 1.5 + 0.25, 2).as("bal"))
          .collect()
          .map(r => s"${r.getInt(0)},${r.getString(1)},${r.getString(2)}")
        val csv = new org.apache.hadoop.fs.Path(cat.database, "typed_seed.csv")
        val out = cat.fs.create(csv, true)
        try out.write(("n_nationkey,code,bal" +: rows.toSeq)
          .mkString("\n").getBytes("UTF-8"))
        finally out.close()
        cat.seedCsv("", "typed_seed", csv.toString, Map(
          "code" -> org.apache.spark.sql.types.StringType,
          "bal" -> DecimalType(10, 2)))
        // stored table keeps the declared decimal(10,2) (that IS the
        // gate's point); the OUTPUT casts to double — the driver's
        // pandas comparator sees Spark decimals as Decimal objects but
        // DuckDB decimals as float64, and a Decimal with trailing-zero
        // cents ('1.50' vs '1.5') hash-splits (the c_incr_evolve red
        // row); this gate only survived because no bal value ends in 0
        cat.table("", "typed_seed")
          .withColumn("bal", col("bal").cast("double"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey,
          lpad(cast(n_nationkey as varchar), 3, '0') AS code,
          cast(cast(n_regionkey * 1.5 + 0.25 as decimal(10,2)) as double)
            AS bal
        FROM nation ORDER BY n_nationkey""")),

    // ─── C12: rows-different relation diff ───
    "c_rows_different" -> Q(
      (s, dir) => {
        val cat = new Catalog(s, dir)
        val cust = t(s, dir, "customer")
        val same = cat.rowsDifferent(cust, cust)
          .withColumn("cmp", lit("same"))
        val subset = cat.rowsDifferent(cust, cust.filter(col("c_custkey") > 100))
          .withColumn("cmp", lit("subset"))
        same.union(subset)
          .select(col("cmp"), col("row_count_difference"),
            col("num_mismatched"))
          .orderBy(col("cmp"))
      },
      Some("""SELECT 'same' AS cmp, cast(0 as bigint) AS row_count_difference,
          cast(0 as bigint) AS num_mismatched
        UNION ALL
        SELECT 'subset',
          (SELECT count(*) FROM customer)
            - (SELECT count(*) FROM customer WHERE c_custkey > 100),
          (SELECT count(*) FROM customer WHERE NOT c_custkey > 100)
        ORDER BY cmp""")),

    // ─── C13: generic test `unique` (violations) ───
    "t_unique" -> Q(
      (s, dir) => {
        DataTests.unique(t(s, dir, "orders"), "o_custkey")
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, count(*) AS n_rows
        FROM orders GROUP BY o_custkey HAVING count(*) > 1
        ORDER BY o_custkey""")),

    // ─── C14: generic test `not_null` (per-column null counts) ───
    "t_not_null" -> Q(
      (s, dir) => {
        import s.implicits._
        val ord = t(s, dir, "orders")
        Seq("o_custkey", "o_totalprice", "o_orderdate")
          .map(c => (c, DataTests.notNull(ord, c).count()))
          .toDF("column_name", "n_null")
          .orderBy(col("column_name"))
      },
      Some("""SELECT 'o_custkey' AS column_name,
          (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_null
        UNION ALL SELECT 'o_totalprice',
          (SELECT count(*) FROM orders WHERE o_totalprice IS NULL)
        UNION ALL SELECT 'o_orderdate',
          (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
        ORDER BY column_name""")),

    // ─── C15: generic test `accepted_values` ───
    "t_accepted_values" -> Q(
      (s, dir) => {
        DataTests.acceptedValues(t(s, dir, "orders"), "o_orderstatus",
          Seq("F", "O")).orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows
        FROM orders WHERE o_orderstatus NOT IN ('F', 'O')
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // ─── C16: generic test `relationships` (orphaned foreign keys) ───
    "t_relationships" -> Q(
      (s, dir) => {
        DataTests.relationships(
          t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part").filter(col("p_partkey") <= 100), "p_partkey")
          .orderBy(col("l_partkey"))
      },
      Some("""SELECT DISTINCT l_partkey
        FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM part
                          WHERE p_partkey = l_partkey AND p_partkey <= 100)
        ORDER BY l_partkey""")),

    // ─── snk_partitioned: partitioned parquet write + pruned read-back ───
    "c_partitioned_write" -> Q(
      (s, dir) => {
        val out = Q.scratch(s, "part") + "/orders_by_year"
        t(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("yr").parquet(out)
        s.read.parquet(out)
          .filter(col("yr").between(1996, 1997)) // partition pruning
          .groupBy(col("yr").cast("long").as("yr"))
          .agg(count(lit(1)).as("n"),
            graft.functions.Dnum.dsum(col("o_totalprice"), 2).as("total"))
          .orderBy(col("yr"))
      },
      Some(s"""SELECT cast(year(o_orderdate) as bigint) AS yr,
          count(*) AS n, ${dsumSql("o_totalprice")} AS total
        FROM orders
        WHERE year(o_orderdate) BETWEEN 1996 AND 1997
        GROUP BY yr
        ORDER BY yr"""))
  )
}
