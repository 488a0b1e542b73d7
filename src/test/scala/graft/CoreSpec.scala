package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.core.{Catalog, DataTests, Materialization, Model, ModelRunner}

class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(name: String): Catalog = {
    val dir = Files.createTempDirectory(s"graft_test_$name")
    new Catalog(spark, dir.toString)
  }

  test("schema lifecycle: create, list, exists, drop") {
    val cat = freshCatalog("schemas")
    assert(cat.listSchemas() == Seq(""))
    cat.createSchema("staging")
    cat.createSchema("marts")
    assert(cat.listSchemas() == Seq("", "marts", "staging"))
    assert(cat.schemaExists("staging"))
    cat.dropSchema("staging")
    assert(cat.listSchemas() == Seq("", "marts"))
  }

  test("ctas materializes, registers a view, and is atomic-overwritable") {
    val cat = freshCatalog("ctas")
    import spark.implicits._
    cat.createTableAs("", "nums", Seq(1, 2, 3).toDF("n"))
    assert(cat.listRelations("") == Seq("nums"))
    assert(cat.sql("select sum(n) as s from nums").head().getLong(0) == 6)
    // overwrite in place
    cat.createTableAs("", "nums", Seq(10, 20).toDF("n"))
    assert(cat.table("", "nums").count() == 2)
  }

  test("merge updates only configured columns, NULLs overwrite, new keys insert") {
    val cat = freshCatalog("merge_sem")
    import spark.implicits._
    cat.createTableMerge("", "m",
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "tag", "v"), Seq("k"))
    // increment: k=2 matched (v updates to NULL — MERGE UPDATE SET
    // semantics, not coalesce; tag must NOT update), k=3 new
    cat.createTableMerge("", "m",
      Seq((2L, "ZZ", Option.empty[Int]), (3L, "c", Some(30)))
        .toDF("k", "tag", "v"), Seq("k"), updateColumns = Seq("v"))
    val rows = cat.table("", "m").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toList
    assert(rows == List((1L, "a", Some(10)), (2L, "b", None),
      (3L, "c", Some(30))))
  }

  test("merge rejects an increment with duplicate unique-key rows") {
    val cat = freshCatalog("merge_dup")
    import spark.implicits._
    cat.createTableMerge("", "md",
      Seq((1L, 10), (2L, 20)).toDF("k", "v"), Seq("k"))
    // SQL MERGE errors on multiple source matches; a silent left_outer
    // fan-out would have duplicated the matched target row instead
    val ex = intercept[IllegalArgumentException] {
      cat.createTableMerge("", "md",
        Seq((2L, 21), (2L, 22)).toDF("k", "v"), Seq("k"))
    }
    assert(ex.getMessage.contains("unique_key"))
    assert(cat.table("", "md").count() == 2, "target must be untouched")
  }

  test("merge drift column outside merge_update_columns stays NULL on match") {
    val cat = freshCatalog("merge_drift")
    import spark.implicits._
    cat.createTableMerge("", "mx",
      Seq((1L, 10), (2L, 20)).toDF("k", "v"), Seq("k"))
    // increment adds a NEW column `extra` but UPDATE SET only lists v:
    // matched row k=2 must update v yet keep extra NULL (warehouse
    // MERGE leaves an unlisted column alone); the inserted row k=3
    // carries its extra value
    cat.createTableMerge("", "mx",
      Seq((2L, 21, "drift"), (3L, 30, "new")).toDF("k", "v", "extra"),
      Seq("k"), updateColumns = Seq("v"))
    val rows = cat.table("", "mx").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getString(2))).toList
    assert(rows == List((1L, 10, null), (2L, 21, null), (3L, 30, "new")))
  }

  test("snapshotTimestamp versions only keys whose updated_at advances") {
    val cat = freshCatalog("snap_ts")
    import spark.implicits._
    def df(rows: Seq[(Long, String, String)]) =
      rows.toDF("k", "payload", "upd")
        .withColumn("upd", col("upd").cast("timestamp"))
    cat.snapshotTimestamp("", "st",
      df(Seq((1L, "a", "2026-01-01 00:00:00"),
             (2L, "b", "2026-01-01 00:00:00"))), Seq("k"), "upd")
    // k=1: payload changes but upd does NOT advance → untouched
    // (check strategy would have versioned it); k=2: upd advances →
    // old version closes at the NEW upd, new version opens there
    cat.snapshotTimestamp("", "st",
      df(Seq((1L, "a2", "2026-01-01 00:00:00"),
             (2L, "b2", "2026-02-01 00:00:00"))), Seq("k"), "upd")
    val rows = cat.table("", "st")
      .orderBy(col("k"), col("dbt_valid_from"))
      .select(col("k"), col("payload"),
        col("dbt_valid_from").cast("string"),
        col("dbt_valid_to").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3))).toList
    assert(rows == List(
      (1L, "a", "2026-01-01 00:00:00", null),
      (2L, "b", "2026-01-01 00:00:00", "2026-02-01 00:00:00"),
      (2L, "b2", "2026-02-01 00:00:00", null)))
  }

  test("single-file mode writes exactly one .parquet file") {
    val cat = freshCatalog("single")
    import spark.implicits._
    cat.createTableAs("", "one", (1 to 100).toDF("n").repartition(4),
      singleFile = true)
    val p = cat.relationPath("", "one")
    assert(cat.fs.getFileStatus(p).isFile, s"$p should be a plain file")
    assert(cat.table("", "one").count() == 100)
  }

  test("ctas recovers the pre-crash copy left aside by an interrupted swap") {
    val cat = freshCatalog("crash")
    import spark.implicits._
    cat.createTableAs("", "t", Seq(1, 2, 3).toDF("n"))
    val target = cat.relationPath("", "t")
    val old = new org.apache.hadoop.fs.Path(target.getParent, ".t.parquet.old")
    // Simulate a crash between rename-aside and swap-in: the only
    // complete copy sits under the hidden .old name, target is absent.
    assert(cat.fs.rename(target, old))
    // The next CTAS attempt fails mid-write (assert_true throws per
    // row) — but it must FIRST restore the .old copy, not destroy it.
    val bad = spark.range(3).select(assert_true(lit(false)).as("ok"))
    intercept[Exception] { cat.createTableAs("", "t", bad) }
    assert(cat.table("", "t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3),
      "pre-crash data must survive a failed rewrite after an interrupted swap")
    // A successful CTAS after a crash-after-swap-in (both target and
    // .old present) drops the debris and overwrites normally.
    assert(cat.fs.mkdirs(old))
    cat.createTableAs("", "t", Seq(9).toDF("n"))
    assert(!cat.fs.exists(old))
    assert(cat.table("", "t").as[Int].collect().toSeq == Seq(9))
  }

  test("rename moves the file and re-registers the view") {
    val cat = freshCatalog("rename")
    import spark.implicits._
    cat.createSchema("staging")
    cat.createTableAs("staging", "a", Seq(1).toDF("n"))
    cat.renameRelation("staging", "a", "", "b")
    assert(cat.listRelations("staging").isEmpty)
    assert(cat.listRelations("") == Seq("b"))
    assert(cat.sql("select * from b").count() == 1)
  }

  test("drop relation removes file and view") {
    val cat = freshCatalog("drop")
    import spark.implicits._
    cat.createTableAs("", "gone", Seq(1).toDF("n"))
    cat.dropRelation("", "gone")
    assert(cat.listRelations("").isEmpty)
    assert(!cat.fs.exists(cat.relationPath("", "gone")))
  }

  test("columnsOf reads the parquet footer schema") {
    val cat = new Catalog(spark, TestSpark.SF)
    val cols = cat.columnsOf("", "region").map(_.name)
    assert(cols == Seq("r_regionkey", "r_name"))
  }

  test("seedCsv infers schema and materializes parquet") {
    val cat = freshCatalog("seed")
    val csv = Paths.get(cat.database, "pets.csv")
    Files.writeString(csv, "id,name,weight\n1,rex,12.5\n2,tom,4.2\n")
    cat.seedCsv("", "pets", csv.toString)
    val df = cat.table("", "pets")
    assert(df.count() == 2)
    assert(df.schema("id").dataType.typeName == "integer")
    assert(df.schema("weight").dataType.typeName == "double")
  }

  test("seedCsv TIME column_types maps to Spark 4 TimeType (impl.py:207)") {
    // The reference's convert_time_type declares agate TimeDelta seed
    // columns as DuckDB TIME (impl.py:207). The graft dialect decision
    // (r13): declared TIME maps to Spark 4.1's native TimeType — the
    // CSV datasource rejects TIME schemas, so seedCsv parses the
    // source text as string and casts post-read; the STORED parquet
    // column is a real TIME(6) and reads back as one.
    val cat = freshCatalog("seedtime")
    val csv = Paths.get(cat.database, "shifts.csv")
    Files.writeString(csv, "id,start\n1,09:15:00\n2,23:59:59\n")
    spark.conf.set("spark.sql.timeType.enabled", "true")
    cat.seedCsv("", "shifts", csv.toString,
      Map("start" -> org.apache.spark.sql.types.TimeType()))
    val df = cat.table("", "shifts")
    assert(df.schema("start").dataType.typeName.startsWith("time"),
      s"declared TIME seed column stored as ${df.schema("start").dataType}")
    val got = df.orderBy(col("id")).select(col("start").cast("string"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("09:15:00", "23:59:59"))
  }

  test("seedCsv TIME: malformed text fails loudly, seeded table stays readable") {
    // ADVICE r13: the reference's TIME conversion (DuckDB) RAISES on
    // malformed time text; seedCsv must surface the conversion error
    // (mode-independently — under ansi=false Spark's cast would null
    // it silently), and the target must stay untouched. The suggested
    // conf save-and-restore was measured and REJECTED: reading ANY
    // TIME datasource schema requires spark.sql.timeType.enabled, so
    // a restore makes the just-seeded table unreadable
    // (UNSUPPORTED_TIME_TYPE) — the flag is the session's opt-in to
    // TIME relations and stays set; this spec pins read-back.
    val cat = freshCatalog("seedtimebad")
    val key = "spark.sql.timeType.enabled"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val csv = Paths.get(cat.database, "badshifts.csv")
      Files.writeString(csv, "id,start\n1,09:15:00\n2,not-a-time\n")
      val e = intercept[IllegalArgumentException] {
        cat.seedCsv("", "badshifts", csv.toString,
          Map("start" -> org.apache.spark.sql.types.TimeType()))
      }
      assert(e.getMessage.contains("not valid TIME"))
      // success path: seeded TIME table reads back in the same session
      val ok = Paths.get(cat.database, "okshifts.csv")
      Files.writeString(ok, "id,start\n1,09:15:00\n")
      cat.seedCsv("", "okshifts", ok.toString,
        Map("start" -> org.apache.spark.sql.types.TimeType()))
      val df = cat.table("", "okshifts")
      assert(df.schema("start").dataType.typeName.startsWith("time"))
      assert(df.count() == 1)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("rowsDifferent: identical and differing relations") {
    val cat = freshCatalog("diff")
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("n")
    val same = cat.rowsDifferent(a, a).head()
    assert(same.getLong(0) == 0 && same.getLong(1) == 0)
    val diff = cat.rowsDifferent(a, a.filter($"n" > 1)).head()
    assert(diff.getLong(0) == 1 && diff.getLong(1) == 1)
    // duplicates count with multiplicity, both directions
    val m = cat.rowsDifferent(Seq(1, 1, 2).toDF("n"), Seq(2, 3).toDF("n")).head()
    assert(m.getLong(0) == 1 && m.getLong(1) == 3) // {1,1} vs {3}
  }

  test("rowsDifferent tolerates user columns named _w / _d") {
    val cat = freshCatalog("diffcollide")
    import spark.implicits._
    val a = Seq((1, 10L), (2, 20L)).toDF("_w", "_d")
    val b = Seq((1, 10L)).toDF("_w", "_d")
    val r = cat.rowsDifferent(a, b).head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 1,
      "internal weight/delta aliases must not shadow user columns")
  }

  test("rowsDifferent builds one lazy plan (no eager driver actions)") {
    val cat = freshCatalog("difflazy")
    import spark.implicits._
    val sc = spark.sparkContext
    val group = "rowsdiff-construct"
    sc.setJobGroup(group, "rowsDifferent must not run jobs on construction")
    try cat.rowsDifferent(Seq(1, 2).toDF("n"), Seq(2).toDF("n"))
    finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "constructing the diff ran Spark jobs — the old 4-action shape")
  }

  test("catalog works against an explicit file:// Hadoop URI root") {
    val dir = Files.createTempDirectory("graft_test_hfs")
    val cat = new Catalog(spark, "file://" + dir.toString)
    import spark.implicits._
    cat.createSchema("staging")
    cat.createTableAs("staging", "t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(cat.listSchemas() == Seq("", "staging"))
    assert(cat.listRelations("staging") == Seq("t"))
    cat.renameRelation("staging", "t", "", "t2")
    assert(cat.table("", "t2").count() == 2)
    assert(cat.columnsOf("", "t2").map(_.name) == Seq("k", "v"))
    cat.dropRelation("", "t2")
    assert(cat.listRelations("").isEmpty)
  }

  test("ctas overwrite leaves no tmp/backup residue and survives swap") {
    val cat = freshCatalog("swap")
    import spark.implicits._
    cat.createTableAs("", "x", Seq(1, 2, 3).toDF("n"))
    cat.createTableAs("", "x", Seq(4, 5).toDF("n")) // rename-aside path
    assert(cat.table("", "x").count() == 2)
    val names = cat.fs.listStatus(new org.apache.hadoop.fs.Path(cat.database))
      .map(_.getPath.getName).toSeq
    assert(names == Seq("x.parquet"), s"residue left behind: $names")
  }

  test("incremental materialization merges by unique key") {
    val cat = freshCatalog("incr")
    import spark.implicits._
    cat.createTableIncremental("", "t",
      Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    cat.createTableIncremental("", "t",
      Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    val got = cat.table("", "t").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("incremental schema drift: added column backfills NULL, types widen") {
    val cat = freshCatalog("evolve")
    import spark.implicits._
    cat.createTableIncremental("", "t",
      Seq((1, 10), (2, 20)).toDF("k", "v"), Seq("k"))
    // increment WIDENS v (int → long) and ADDS w
    cat.createTableIncremental("", "t",
      Seq((2L, 200L, "x"), (3L, 300L, "y")).toDF("k", "v", "w")
        .select(col("k").cast("int"), col("v"), col("w")), Seq("k"))
    val sch = cat.table("", "t").schema
    assert(sch("v").dataType.sql == "BIGINT", s"v must widen: $sch")
    assert(sch.fieldNames.toSeq == Seq("k", "v", "w"),
      "new column appended after existing ones")
    val got = cat.table("", "t").collect()
      .map(r => (r.getInt(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(got == Set((1, 10L, None), (2, 200L, Some("x")),
      (3, 300L, Some("y"))))
  }

  test("incremental keeps the target's column order when the key is not first") {
    val cat = freshCatalog("incr_key_order")
    import spark.implicits._
    cat.createTableIncremental("", "t",
      Seq(("a", 1), ("b", 2)).toDF("v", "k"), Seq("k"))
    cat.createTableIncremental("", "t",
      Seq(("B", 2), ("c", 3)).toDF("v", "k"), Seq("k"))
    assert(cat.table("", "t").columns.toSeq == Seq("v", "k"))
    // a drift column is appended after the target's columns
    cat.createTableIncremental("", "t",
      Seq((3, "C", "x")).toDF("k", "v", "w"), Seq("k"))
    assert(cat.table("", "t").columns.toSeq == Seq("v", "k", "w"))
    assert(rowsOf(cat, "t") == List("B,2,null", "C,3,x", "a,1,null"))
  }

  test("incremental schema drift: decimal precision widens") {
    // the reference's expand_target_column_types case: decimal(12,2)
    // history + decimal(18,2) increment must evolve, not fail
    val cat = freshCatalog("evolve_dec")
    import spark.implicits._
    cat.createTableIncremental("", "t",
      Seq((1, "10.25"), (2, "20.50")).toDF("k", "v")
        .select(col("k"), col("v").cast("decimal(12,2)")), Seq("k"))
    cat.createTableIncremental("", "t",
      Seq((2, "9999999999999999.75"), (3, "30.00")).toDF("k", "v")
        .select(col("k"), col("v").cast("decimal(18,2)")), Seq("k"))
    val sch = cat.table("", "t").schema
    assert(sch("v").dataType.sql == "DECIMAL(18,2)", s"v must widen: $sch")
    val got = cat.table("", "t").collect()
      .map(r => (r.getInt(0), r.getDecimal(1).toPlainString)).toSet
    assert(got == Set((1, "10.25"), (2, "9999999999999999.75"),
      (3, "30.00")))
  }

  test("incremental schema drift: incompatible types fail loudly") {
    val cat = freshCatalog("evolve_bad")
    import spark.implicits._
    cat.createTableIncremental("", "t",
      Seq((1, "text")).toDF("k", "v"), Seq("k"))
    val bad = Seq((1, Seq(1, 2))).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      cat.createTableIncremental("", "t", bad, Seq("k"))
    }
    assert(e.getMessage.contains("not widenable"))
  }

  test("incremental schema drift: cross-class drift fails loudly") {
    // Catalyst's full lattice would silently rewrite these (int+string
    // → string, decimal+double → lossy double); the reference's
    // expand_column_types only widens within a class, so graft must
    // keep the loud failure
    import spark.implicits._
    val catA = freshCatalog("evolve_xclass_a")
    catA.createTableIncremental("", "t", Seq((1, 10)).toDF("k", "v"), Seq("k"))
    val eA = intercept[IllegalArgumentException] {
      catA.createTableIncremental("", "t",
        Seq((2, "oops")).toDF("k", "v"), Seq("k"))
    }
    assert(eA.getMessage.contains("not widenable"), eA.getMessage)

    val catB = freshCatalog("evolve_xclass_b")
    catB.createTableIncremental("", "t",
      Seq((1, "10.25")).toDF("k", "v")
        .select(col("k"), col("v").cast("decimal(12,2)")), Seq("k"))
    val eB = intercept[IllegalArgumentException] {
      catB.createTableIncremental("", "t",
        Seq((2, 20.5)).toDF("k", "v"), Seq("k"))
    }
    assert(eB.getMessage.contains("not widenable"), eB.getMessage)
  }

  test("truncateRelation keeps schema and registration, drops rows") {
    val cat = freshCatalog("trunc")
    import spark.implicits._
    cat.createTableAs("", "t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val before = cat.table("", "t").schema
    cat.truncateRelation("", "t")
    assert(cat.table("", "t").count() == 0)
    assert(cat.table("", "t").schema == before, "schema must survive")
    assert(cat.listRelations("") == Seq("t"))
    assert(spark.table("t").count() == 0, "view re-registered on empty")
  }

  test("partition overwrite rewrites only the touched partitions") {
    val cat = freshCatalog("incrp")
    import spark.implicits._
    cat.insertOverwritePartitions("", "p",
      Seq((1, "x", 10), (2, "y", 20)).toDF("id", "v", "pt"), Seq("pt"))
    def files(pt: Int) = cat.fs.listStatus(
        new org.apache.hadoop.fs.Path(cat.relationPath("", "p"), s"pt=$pt"))
      .map(st => (st.getPath.getName, st.getModificationTime)).toSet
    val untouchedBefore = files(20)
    cat.insertOverwritePartitions("", "p",
      Seq((9, "z", 10)).toDF("id", "v", "pt"), Seq("pt"))
    assert(files(20) == untouchedBefore,
      "partition pt=20 must be byte-untouched by a pt=10 reload")
    val got = cat.table("", "p").select(col("id")).collect()
      .map(_.getInt(0)).toSet
    assert(got == Set(9, 2), "pt=10 replaced, pt=20 kept")
  }

  test("snapshot: unchanged rows stay open, re-snapshot is a no-op") {
    val cat = freshCatalog("snap")
    import spark.implicits._
    val v1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    cat.snapshot("", "s", v1, Seq("k"), "2026-01-01 00:00:00")
    val v2 = Seq((1, "a"), (2, "B"), (3, "c")).toDF("k", "v")
    cat.snapshot("", "s", v2, Seq("k"), "2026-02-01 00:00:00")
    // snapshotting the same state again must change nothing
    cat.snapshot("", "s", v2, Seq("k"), "2026-03-01 00:00:00")
    val rows = cat.table("", "s").collect().map { r =>
      (r.getInt(0), r.getString(1),
        Option(r.getTimestamp(3)).map(_.toString).orNull)
    }.toSet
    assert(rows == Set(
      (1, "a", null),                      // never changed, still open
      (2, "b", "2026-02-01 00:00:00.0"),   // closed at t2
      (2, "B", null),                      // new version open
      (3, "c", null)))                     // appeared at t2
  }

  /** `(k, payload, valid_from, valid_to)` history rows of `table`, ordered. */
  private def history(cat: Catalog, table: String) =
    cat.table("", table)
      .orderBy(col("k"), col("dbt_valid_from"), col("p"))
      .select(col("k"), col("p"), col("dbt_valid_from").cast("string"),
        col("dbt_valid_to").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3))).toList

  private def tsSource(rows: Seq[(Long, String, Option[String])]) = {
    import spark.implicits._
    rows.toDF("k", "p", "updated_at")
      .withColumn("updated_at", col("updated_at").cast("timestamp"))
  }

  test("snapshotTimestamp re-run on a NULL updated_at adds no version") {
    val cat = freshCatalog("snap_null_rerun")
    val src = tsSource(Seq((1L, "a", None), (2L, "b", Some("2026-01-01"))))
    cat.snapshotTimestamp("", "sn", src, Seq("k"), "updated_at")
    cat.snapshotTimestamp("", "sn", src, Seq("k"), "updated_at")
    assert(history(cat, "sn") == List(
      (1L, "a", null, null),
      (2L, "b", "2026-01-01 00:00:00", null)))
  }

  test("snapshotTimestamp: a NULL updated_at is never superseded") {
    val cat = freshCatalog("snap_null_later")
    cat.snapshotTimestamp("", "sl",
      tsSource(Seq((1L, "a", None), (2L, "b", Some("2026-01-01")))),
      Seq("k"), "updated_at")
    // key 1 arrives with a real updated_at: `valid_from < updated_at`
    // is NULL, so (as in dbt) its open version stays and none opens
    cat.snapshotTimestamp("", "sl",
      tsSource(Seq((1L, "a2", Some("2026-02-01")),
        (2L, "b", Some("2026-01-01")))), Seq("k"), "updated_at")
    assert(history(cat, "sl") == List(
      (1L, "a", null, null),
      (2L, "b", "2026-01-01 00:00:00", null)))
  }

  test("snapshot strategies reject a source with duplicate keys") {
    val cat = freshCatalog("snap_dup")
    import spark.implicits._
    cat.snapshot("", "sd", Seq((1L, "a"), (2L, "b")).toDF("k", "p"),
      Seq("k"), "2026-01-01 00:00:00")
    val before = history(cat, "sd")
    val ex = intercept[IllegalArgumentException] {
      cat.snapshot("", "sd", Seq((1L, "x"), (1L, "y")).toDF("k", "p"),
        Seq("k"), "2026-02-01 00:00:00")
    }
    assert(ex.getMessage.contains("unique_key"))
    assert(history(cat, "sd") == before, "history must be untouched")
    cat.snapshotTimestamp("", "sdt",
      tsSource(Seq((1L, "a", Some("2026-01-01")))), Seq("k"), "updated_at")
    intercept[IllegalArgumentException] {
      cat.snapshotTimestamp("", "sdt",
        tsSource(Seq((1L, "x", Some("2026-02-01")),
          (1L, "y", Some("2026-03-01")))), Seq("k"), "updated_at")
    }
    assert(history(cat, "sdt") ==
      List((1L, "a", "2026-01-01 00:00:00", null)))
  }

  /** A source holding a NULL-keyed row (payload `p`, `updated_at`
    * `upd`) next to a non-NULL-keyed one. */
  private def nullKeyed(p: String, upd: String) = {
    import spark.implicits._
    Seq((Option(1L), "a", "2026-01-01"), (Option.empty[Long], p, upd))
      .toDF("k", "p", "updated_at")
      .withColumn("updated_at", col("updated_at").cast("timestamp"))
  }

  /** Every row of `table`, its values comma-joined, sorted. */
  private def rowsOf(cat: Catalog, table: String): List[String] =
    cat.table("", table).collect().map(_.toSeq.mkString(",")).toList.sorted

  test("incremental: a NULL key matches itself, a re-run is idempotent") {
    val cat = freshCatalog("incr_null_key")
    val src = nullKeyed("n", "2026-01-01")
    cat.createTableIncremental("", "inn", src, Seq("k"))
    cat.createTableIncremental("", "inn", src, Seq("k"))
    assert(rowsOf(cat, "inn") == List("1,a,2026-01-01 00:00:00.0",
      "null,n,2026-01-01 00:00:00.0"))
    cat.createTableIncremental("", "inn", nullKeyed("n2", "2026-02-01"), Seq("k"))
    assert(rowsOf(cat, "inn") == List("1,a,2026-01-01 00:00:00.0",
      "null,n2,2026-02-01 00:00:00.0"))
  }

  test("merge: a NULL key matches itself, a re-run is idempotent") {
    val cat = freshCatalog("merge_null_key")
    val src = nullKeyed("n", "2026-01-01")
    cat.createTableMerge("", "mn", src, Seq("k"))
    cat.createTableMerge("", "mn", src, Seq("k"))
    assert(rowsOf(cat, "mn") == List("1,a,2026-01-01 00:00:00.0",
      "null,n,2026-01-01 00:00:00.0"))
    cat.createTableMerge("", "mn", nullKeyed("n2", "2026-02-01"), Seq("k"))
    assert(rowsOf(cat, "mn") == List("1,a,2026-01-01 00:00:00.0",
      "null,n2,2026-02-01 00:00:00.0"))
  }

  test("snapshot: a NULL key keeps one open version and is versioned on change") {
    val cat = freshCatalog("snap_null_key")
    val src = nullKeyed("n", "2026-01-01")
    cat.snapshot("", "sk", src, Seq("k"), "2026-01-01 00:00:00")
    cat.snapshot("", "sk", src, Seq("k"), "2026-02-01 00:00:00")
    assert(rowsOf(cat, "sk") == List(
      "1,a,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,null",
      "null,n,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,null"))
    cat.snapshot("", "sk", nullKeyed("n2", "2026-01-01"), Seq("k"),
      "2026-03-01 00:00:00")
    assert(rowsOf(cat, "sk") == List(
      "1,a,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,null",
      "null,n,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,2026-03-01 00:00:00.0",
      "null,n2,2026-01-01 00:00:00.0,2026-03-01 00:00:00.0,null"))
  }

  test("snapshotTimestamp: a NULL key keeps one open version and is versioned on change") {
    val cat = freshCatalog("snap_ts_null_key")
    val src = nullKeyed("n", "2026-01-01")
    cat.snapshotTimestamp("", "stk", src, Seq("k"), "updated_at")
    cat.snapshotTimestamp("", "stk", src, Seq("k"), "updated_at")
    assert(rowsOf(cat, "stk") == List(
      "1,a,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,null",
      "null,n,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,null"))
    cat.snapshotTimestamp("", "stk", nullKeyed("n2", "2026-02-01"), Seq("k"),
      "updated_at")
    assert(rowsOf(cat, "stk") == List(
      "1,a,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,null",
      "null,n,2026-01-01 00:00:00.0,2026-01-01 00:00:00.0,2026-02-01 00:00:00.0",
      "null,n2,2026-02-01 00:00:00.0,2026-02-01 00:00:00.0,null"))
  }

  test("delete+insert and merge write plans hold no aggregate over the key") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // every node of `p`, through the AQE wrapper and its query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val cat = freshCatalog("write_plans")
    import spark.implicits._
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    cat.createTableIncremental("", "wi", src, Seq("k"))
    cat.createTableMerge("", "wm", src, Seq("k"))
    val inc = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Seq[SparkPlan]]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val ns = nodes(qe.executedPlan)
        // a keyed write joins; requireUniqueKey's collect is its own
        // query, and the first calls' writes (which may still be on the
        // listener bus) join nothing
        if (ns.exists(_.isInstanceOf[DataWritingCommandExec]) &&
            ns.exists(_.isInstanceOf[BaseJoinExec])) writes.add(ns)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      cat.createTableIncremental("", "wi", inc, Seq("k"))
      cat.createTableMerge("", "wm", inc, Seq("k"))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 2, "one write plan per keyed-write call")
    writes.forEach { ns =>
      val aggs = ns.collect { case a: BaseAggregateExec => a.nodeName }
      assert(aggs.isEmpty, s"write plan holds ${aggs.mkString(", ")}:\n${ns.head}")
    }
  }

  test("registerAll registers every schema's relations on a fresh Catalog") {
    val cat = freshCatalog("register_all")
    import spark.implicits._
    cat.createTableAs("", "ra_top", Seq(1, 2).toDF("n"))
    cat.createTableAs("marts", "ra_mart", Seq(10, 20, 30).toDF("n"))
    Seq(cat.viewName("", "ra_top"), cat.viewName("marts", "ra_mart"))
      .foreach(spark.catalog.dropTempView)
    assert(!spark.catalog.tableExists("ra_top"))
    val fresh = new Catalog(spark, cat.database)
    fresh.registerAll()
    assert(fresh.sql("select sum(n) from ra_top").head().getLong(0) == 3)
    assert(fresh.sql("select sum(n) from marts__ra_mart").head().getLong(0) == 60)
  }

  test("current_timestamp is available for snapshot time (C18)") {
    val now = spark.sql("select current_timestamp()").head().getTimestamp(0)
    assert(now.getTime > 0L)
  }
}

class ModelRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def runner(): (Catalog, ModelRunner) = {
    val dir = Files.createTempDirectory("graft_test_dag")
    val target = new Catalog(spark, dir.toString)
    val src = new Catalog(spark, TestSpark.SF)
    (target, new ModelRunner(target, (sc, tb) => src.table(sc, tb)))
  }

  test("dependency parsing") {
    val m = Model("x",
      "select * from {{ ref('a') }} join {{ ref('b') }} " +
        "join {{ source('raw', 'orders') }}")
    assert(m.refs == Seq("a", "b"))
    assert(m.sources == Seq(("raw", "orders")))
  }

  test("topological execution with parallel waves") {
    val (target, r) = runner()
    val order = r.run(Seq(
      Model("final", "select count(*) as n from {{ ref('mid') }}"),
      Model("mid", "select * from {{ ref('base') }} where r_regionkey > 0"),
      Model("base", "select * from {{ source('', 'region') }}")),
      threads = 2)
    assert(order == Seq("base", "mid", "final"))
    assert(target.table("", "final").head().getLong(0) == 4)
  }

  test("ephemeral models resolve in the DAG but are never written") {
    val (target, r) = runner()
    r.run(Seq(
      Model("base", "select * from {{ source('', 'region') }}",
        materialized = Materialization.Ephemeral),
      Model("final", "select count(*) as n from {{ ref('base') }}")))
    assert(target.listRelations("") == Seq("final"),
      "ephemeral model must not materialize")
    assert(target.table("", "final").head().getLong(0) == 5)
  }

  test("cross-schema ref resolves to the referenced model's schema") {
    val (target, r) = runner()
    target.createSchema("marts")
    val order = r.run(Seq(
      Model("mart_regions",
        "select count(*) as n from {{ ref('base_regions') }}",
        schema = "marts"),
      Model("base_regions", "select * from {{ source('', 'region') }}")))
    assert(order == Seq("base_regions", "mart_regions"))
    assert(target.table("marts", "mart_regions").head().getLong(0) == 5)
  }

  test("duplicate model names across schemas rejected") {
    val (_, r) = runner()
    val e = intercept[IllegalArgumentException] {
      r.run(Seq(
        Model("m", "select 1 as x", schema = "a"),
        Model("m", "select 2 as x", schema = "b")))
    }
    assert(e.getMessage.contains("duplicate model name"))
  }

  test("cycle detection") {
    val (_, r) = runner()
    val e = intercept[IllegalArgumentException] {
      r.run(Seq(
        Model("a", "select * from {{ ref('b') }}"),
        Model("b", "select * from {{ ref('a') }}")))
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("unknown ref rejected") {
    val (_, r) = runner()
    val e = intercept[IllegalArgumentException] {
      r.run(Seq(Model("a", "select * from {{ ref('nope') }}")))
    }
    assert(e.getMessage.contains("unknown model"))
  }

  test("odd model names (spaces, dots, dashes) resolve through refs") {
    // the reference quotes odd identifiers (impl.py quote()); graft
    // registers them under a sanitized alias that ref() resolves to
    val (target, r) = runner()
    val order = r.run(Seq(
      Model("my model", "select * from {{ source('', 'region') }}"),
      Model("down-stream.v2",
        "select count(*) as n from {{ ref('my model') }}")))
    assert(order == Seq("my model", "down-stream.v2"))
    assert(target.table("", "down-stream.v2").head().getLong(0) == 5)
    assert(target.listRelations("").toSet == Set("my model", "down-stream.v2"),
      "physical relations keep their real names")
    // distinct odd names must not collide after sanitization
    assert(target.viewName("", "my model") != target.viewName("", "my.model"))
  }

  test("materialized: incremental — DAG re-run increments, not rebuilds") {
    val (target, r) = runner()
    def dag(maxKey: Int) = Seq(
      Model("stg_n",
        s"select n_nationkey, n_name from {{ source('', 'nation') }} " +
          s"where n_nationkey < $maxKey",
        materialized = Materialization.Ephemeral),
      Model("dim_n", "select * from {{ ref('stg_n') }}",
        materialized = Materialization.Incremental(Seq("n_nationkey"))))
    r.run(dag(10))
    assert(target.table("", "dim_n").count() == 10)
    r.run(dag(15)) // overlapping increment: 0-14 replace/append onto 0-9
    assert(target.table("", "dim_n").count() == 15,
      "re-run must merge the increment into the existing table")
  }

  test("materialized: merge — only configured columns update on match") {
    val (target, r) = runner()
    import spark.implicits._
    Seq((1, "a", 10), (2, "b", 20)).toDF("k", "name", "v")
      .createOrReplaceTempView("mrg_src1")
    Seq((2, "B", 200), (3, "C", 300)).toDF("k", "name", "v")
      .createOrReplaceTempView("mrg_src2")
    r.run(Seq(Model("m", "select * from mrg_src1",
      materialized = Materialization.Merge(Seq("k")))))
    r.run(Seq(Model("m", "select * from mrg_src2",
      materialized = Materialization.Merge(Seq("k"),
        updateColumns = Seq("v")))))
    val rows = target.table("", "m").orderBy(col("k")).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getInt(2))).toSeq
    // k=2 matched: v updates to 200, name keeps "b"; k=3 inserts whole
    assert(rows == Seq((1, "a", 10), (2, "b", 200), (3, "C", 300)), rows)
  }

  test("materialized: snapshot (check) — DAG run builds SCD-2 history") {
    val (target, r) = runner()
    import spark.implicits._
    Seq((1, "x"), (2, "y")).toDF("k", "v")
      .createOrReplaceTempView("snap_src1")
    Seq((1, "x2"), (2, "y")).toDF("k", "v")
      .createOrReplaceTempView("snap_src2")
    r.run(Seq(Model("h", "select * from snap_src1",
      materialized = Materialization.SnapshotCheck(Seq("k"),
        "2024-01-01 00:00:00"))))
    r.run(Seq(Model("h", "select * from snap_src2",
      materialized = Materialization.SnapshotCheck(Seq("k"),
        "2024-01-02 00:00:00"))))
    val h = target.table("", "h")
    assert(h.count() == 3, "k=1 changed (2 versions) + k=2 unchanged (1)")
    assert(h.filter(col("k") === 1 && col("dbt_valid_to").isNull)
      .head().getAs[String]("v") == "x2")
    assert(h.filter(col("k") === 1 && col("dbt_valid_to").isNotNull)
      .head().getAs[String]("v") == "x")
  }
}

class DataTestsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unique flags duplicated values only") {
    val df = Seq(1, 2, 2, 3, 3, 3).toDF("k")
    val v = DataTests.unique(df, "k").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(v == Map(2 -> 2L, 3 -> 3L))
  }

  test("notNull returns null rows") {
    val df = Seq(Some(1), None, Some(3), None).toDF("k")
    assert(DataTests.notNull(df, "k").count() == 2)
  }

  test("acceptedValues reports offenders with counts") {
    val df = Seq("a", "b", "x", "x").toDF("v")
    val v = DataTests.acceptedValues(df, "v", Seq("a", "b")).collect()
    assert(v.length == 1 && v.head.getString(0) == "x" && v.head.getLong(1) == 2)
  }

  test("relationships finds orphans") {
    val child = Seq(1, 2, 3, 9).toDF("fk")
    val parent = Seq(1, 2, 3).toDF("pk")
    val orphans = DataTests.relationships(child, "fk", parent, "pk")
      .collect().map(_.getInt(0))
    assert(orphans.toSeq == Seq(9))
  }
}

/** Clustered materializations: the one-write partitioned form the
  * compaction gate runs.
  */
class ClusteredWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(name: String): Catalog = {
    val dir = Files.createTempDirectory(s"graft_test_$name")
    new Catalog(spark, dir.toString)
  }

  test("clusterPartitions: hive layout, per-partition clustering, " +
      "content parity") {
    val cat = freshCatalog("clusterpart")
    import spark.implicits._
    val df = (0 until 900).map(i => (i % 3, (i * 7919) % 1000, s"v$i"))
      .toDF("p", "k", "v")
    cat.clusterPartitions("", "t", df, partCol = "p",
      numFilesPerPart = 2, clusterCols = Seq("k"))
    // hive layout: one directory per partition value
    val dirs = cat.fs.listStatus(cat.relationPath("", "t"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs.toSeq == Seq("p=0", "p=1", "p=2"), dirs.toSeq)
    // full content parity with the input
    val got = cat.table("", "t").select(col("p"), col("k"), col("v"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    val exp = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(got == exp)
    // partition pruning: a p-filter scans only that directory's files
    val scanned = cat.table("", "t").filter(col("p") === 1)
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("p=1")),
      s"partition filter must prune to p=1 files: ${scanned.toSeq}")
  }

  test("clusterPartitions runs as many jobs for 6 partition values as " +
      "for 3") {
    val cat = freshCatalog("clusterjobs")
    import spark.implicits._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    def jobs(nValues: Int): Int = {
      val group = s"cluster-$nValues"
      val df = (0 until 600).map(i => (i % nValues, (i * 7919) % 1000))
        .toDF("p", "k")
      sc.setJobGroup(group, "clusterPartitions job count")
      try cat.clusterPartitions("", s"t$nValues", df, partCol = "p",
        numFilesPerPart = 2, clusterCols = Seq("k"))
      finally sc.clearJobGroup()
      // the listener bus delivers in order: once a later job's start
      // has arrived, so has every start of the group's jobs
      sc.setJobGroup(s"$group-done", "listener flush")
      try spark.range(1).count()
      finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(started.contains(s"$group-done"))
      }
      started.toArray.count(_ == group)
    }
    sc.addSparkListener(listener)
    val (three, six) =
      try (jobs(3), jobs(6))
      finally sc.removeSparkListener(listener)
    assert(three > 0 && three == six,
      s"jobs with 3 partition values: $three, with 6: $six — a per-value " +
        "write job is back")
  }

  test("clusterPartitions: NULL partition values route to the hive " +
      "default partition, none dropped") {
    val cat = freshCatalog("clusterpartnull")
    import spark.implicits._
    // p has 2 real values + nulls (every 5th row)
    val df = (0 until 300)
      .map(i => (if (i % 5 == 0) None else Some(i % 2), i, s"v$i"))
      .toDF("p", "k", "v")
    cat.clusterPartitions("", "t", df, partCol = "p",
      numFilesPerPart = 1, clusterCols = Seq("k"))
    val dirs = cat.fs.listStatus(cat.relationPath("", "t"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs.toSeq == Seq("p=0", "p=1", "p=__HIVE_DEFAULT_PARTITION__"),
      dirs.toSeq)
    // content parity INCLUDING the null-partition rows
    val got = cat.table("", "t")
      .select(col("p"), col("k"), col("v")).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0),
        r.getInt(1), r.getString(2))).toSet
    val exp = df.collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0),
        r.getInt(1), r.getString(2))).toSet
    assert(got == exp)
    assert(cat.table("", "t").filter(col("p").isNull).count() == 60)
  }
}
