package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Relational operator inventory, part 3 (SURVEY.md §2.2 additions):
  * JSON extraction, extra TPC-H predicate shapes (disjunctive
  * predicate groups, NOT IN, correlated per-group scalar subqueries,
  * IN-over-HAVING), and ORC / JSON source-sink roundtrips.
  */
object Relational3 extends QueryModule {
  import Q.t

  private def dsum(c: Column, scale: Int = 2): Column =
    graft.functions.Dnum.dsum(c, scale)
  private def dsumSql(expr: String, scale: Int = 2): String =
    s"cast(sum(cast($expr as decimal(18,$scale))) as double)"


  def queries: Map[String, Q] = Map(
    // ─── q40: JSON extraction (semi-structured column) ───
    // Single-scalar-path reads don't need a structural parse, a
    // variant encode, or a distinct-payload collapse (round 5's
    // approach — a full-corpus string hash aggregate that degrades to
    // a corpus-size shuffle on low-repetition payloads): the native
    // codegen'd JsonIntKey expression byte-scans the flat common shape
    // in place at ~scan speed and falls back to a validating Jackson
    // streaming parse on nested/escaped payloads — malformed JSON
    // yields NULL (the oracle's json_extract_string semantics), never
    // an error. See graft.functions.JsonIntKey for the contract.
    "q40_json" -> Q(
      (s, dir) => {
        Q.events(s, dir)
          .select(graft.functions.JsonIntKey.of(col("props"), "k").as("k"))
          .groupBy((col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
          .orderBy(col("k_mod"))
      },
      Some("""SELECT cast(json_extract_string(props, '$.k') as bigint) % 10
            AS k_mod,
          count(*) AS n,
          cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint)
            AS k_sum
        FROM events
        GROUP BY k_mod
        ORDER BY k_mod""")),

    // ─── q41: disjunctive predicate groups (TPC-H Q19 shape) ───
    // No forced broadcast of part: it is corpus-proportional (20M rows
    // at sf100, unboundedly larger at 100 TB) and broadcast() overrides
    // the size check up to a hard 8 GB failure. Instead, each side
    // carries its IMPLIED single-side disjunction (the combined
    // predicate restricted to that side's columns — a sound weakening
    // Catalyst cannot derive across the join). The part-side
    // disjunction keeps ~5% of part, which is what makes the
    // size-checked path actually fire at scale. Catalyst estimates a
    // Filter at its child's size (no CBO stats on raw parquet), so the
    // planner would still see "600 MB at sf100" and plan a sort-merge
    // — paying the full 600M-row fact shuffle before AQE's runtime
    // stats could convert the join. Materializing the pruned dim
    // (cache + count, one bounded part scan) replaces the guess with
    // the TRUE cached size; the unhinted size check then plans the
    // broadcast statically and the fact side never shuffles at all.
    // A corpus where the pruned dim outgrows the threshold degrades
    // back to the shuffle join — the decision stays size-checked, not
    // forced. The full mixed predicate still runs post-join; the
    // pre-filters only shrink what reaches it.
    "q41_disjunctive" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_quantity").between(1, 50))
        val part = GateCache.materialize("q41.part", t(s, dir, "part")
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 15)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(20, 50)))
          .select(col("p_partkey"), col("p_brand"), col("p_size")))
        li.join(part, col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
              col("l_quantity").between(20, 50)))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"), count(lit(1)).as("n"))
      },
      Some(s"""SELECT
          ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
          count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)""")),

    // ─── q42: NOT IN subquery (TPC-H Q16 flavor) ───
    // The anti-build (negative-balance suppliers) is a constant
    // fraction of supplier, i.e. corpus-proportional — it must NOT be
    // force-broadcast (broadcast() overrides the size check up to a
    // hard 8 GB failure at the 100 TB design point); unhinted, the
    // EngineDefaults size-checked policy broadcasts it while it
    // genuinely fits and degrades to a shuffle join at corpus scale.
    "q42_not_in" -> Q(
      (s, dir) => {
        val sup = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
          .select(col("s_suppkey"))
        val li = t(s, dir, "lineitem")
        li.join(sup, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_items"))
          .orderBy(col("l_suppkey"))
      },
      Some("""SELECT l_suppkey, count(*) AS n_items
        FROM lineitem
        WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY l_suppkey
        ORDER BY l_suppkey""")),

    // ─── q43: correlated per-group scalar subquery (TPC-H Q17 shape) ───
    // Decorrelated the scale-safe way: compute the per-part threshold
    // once with one aggregation, join it back — no per-row subquery
    // execution. The threshold side has one row per partkey, i.e. it
    // is corpus-proportional, so it must NOT be force-broadcast (a
    // driver-side collect that grows with the data and hard-fails at
    // 8 GB). The explicit shuffle_hash hint stays, unlike q3/q5/q42's
    // narrow key-set builds: this build is one WIDE row per partkey
    // (~300 MB at sf100, over the 64 MB broadcast threshold), where
    // sort-merge would sort all 600M probe rows and the unhinted
    // AQE SMJ→SHJ conversion measured an OOM on coalesced partitions
    // (see EngineDefaults) — the hint pins the hash build at the full
    // shuffle fan-out, where each partition's slice genuinely fits.
    "q43_avg_subquery" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val thresholds = li.groupBy(col("l_partkey").as("t_partkey"))
          .agg((graft.functions.Dnum.davg(col("l_quantity"), 2) * 0.5)
            .as("half_avg_qty"))
        li.join(thresholds.hint("shuffle_hash"),
            col("l_partkey") === col("t_partkey"))
          .filter(col("l_quantity") < col("half_avg_qty"))
          .agg(dsum(col("l_extendedprice")).as("total_price"),
            count(lit(1)).as("n"))
      },
      Some(s"""SELECT ${dsumSql("l_extendedprice")} AS total_price,
          count(*) AS n
        FROM lineitem l1
        WHERE l_quantity < (
          SELECT cast(sum(cast(l_quantity as decimal(18,2))) as double)
                   / count(l_quantity) * 0.5
          FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""")),

    // ─── q44: IN subquery over a HAVING aggregate (TPC-H Q18 shape) ───
    "q44_in_having" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val bigOrders = li.groupBy(col("l_orderkey").as("bo_orderkey"))
          .agg(dsum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 150)
        val ord = t(s, dir, "orders")
        ord.join(bigOrders, col("o_orderkey") === col("bo_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("sum_qty"))
          .orderBy(col("o_orderkey"))
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_totalprice, sum_qty
        FROM orders JOIN (
          SELECT l_orderkey AS bo_orderkey,
            ${dsumSql("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum_qty > 150
        ) ON o_orderkey = bo_orderkey
        ORDER BY o_orderkey""")),

    // ─── q46: per-group top-k via a native TypedImperativeAggregate ───
    // ObjectHashAggregate with a real PARTIAL mode: every map task
    // reduces its slice of the corpus to ≤ k pairs per group before
    // the shuffle, so only |groups|·k tiny buffers per partition cross
    // the wire — no window (whole-partition sort), no salt level, no
    // per-row encoder decode (rounds 5-6 paid one or the other; the
    // native update reads the two fields off the unsafe row).
    "q46_topk_agg" -> Q(
      (s, dir) => {
        import graft.functions.TopKIdsByScore.topkIds
        t(s, dir, "customer")
          .groupBy(col("c_nationkey").cast("long").as("nationkey"))
          .agg(topkIds(col("c_acctbal"), col("c_custkey"), 3).as("ids"))
          .select(col("nationkey"),
            posexplode(col("ids")).as(Seq("pos", "custkey")))
          .select(col("nationkey"), col("custkey"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy(col("nationkey"), col("rank"))
      },
      Some("""SELECT cast(c_nationkey as bigint) AS nationkey,
          c_custkey AS custkey, rank
        FROM (
          SELECT c_nationkey, c_custkey,
            row_number() OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey) AS rank
          FROM customer)
        WHERE rank <= 3
        ORDER BY nationkey, rank""")),

    // ─── q47: skewed join via hot/cold split ───
    // Skew mitigation against a PER-ORDERKEY dim (orders: 15M rows at
    // sf10 — genuinely non-broadcastable, unlike a 3-value flag dim).
    // The fact's join key is made skewed (30% of rows collapse onto
    // orderkey 0). Instead of salting (round 5/6: explode the hot dim
    // row ×8, hash a salt per fact row, aggregate per (k, salt)), the
    // known-hot key is SPLIT OUT of the join entirely: its rows
    // aggregate globally — a map-side-combined scan with no join key
    // at all, immune to skew by construction — and meet their single
    // dim row by cross join (≤1×1 rows). Cold keys join plain with no
    // salt column against a dim pre-pruned by the same key predicate
    // (k % 100 >= 30 — a hot dim row can never match a cold fact
    // row), which also cuts the dim shuffle 30%. Measured interleaved
    // at sf100 the two forms tie (13.9 vs 13.2 s medians), but this
    // one has no explode, no per-row hash, a 2-column instead of
    // 3-column fact scan, and nothing to tune when a second hot key
    // appears in the fact — the n_part > 0 guard keeps an empty hot
    // slice from fabricating a zero-count group. Decimal addition is
    // exact and associative, so summing the hot and cold partials is
    // bit-identical to the oracle's flat sum over the plain join.
    "q47_salted_join" -> Q(
      (s, dir) => {
        val hotKey = 0L
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
        val isHot = (col("l_orderkey") % 100) < 30
        val hotAgg = li.filter(isHot)
          .agg(count(lit(1)).as("n_part"),
            graft.functions.Dnum.dsumDec(col("l_extendedprice"), 2)
              .as("total_part"))
          .filter(col("n_part") > 0)
        val hotDim = t(s, dir, "orders")
          .filter(col("o_orderkey") === hotKey)
          .select(col("o_orderpriority"))
        val hot = hotAgg.crossJoin(hotDim)
          .select(col("o_orderpriority"), col("n_part"), col("total_part"))
        val coldDim = t(s, dir, "orders")
          .filter(col("o_orderkey") % 100 >= 30)
          .select(col("o_orderkey"), col("o_orderpriority"))
        // r8 restructure (the q3/q5 lesson applied): join RAW cold
        // fact rows and aggregate to the 5 priority groups AFTER the
        // join — the per-orderkey pre-aggregate built a ~|orders|-
        // group hash table whose probe+GC cost exceeded the narrow
        // rows' shuffle, and the 5-group aggregate collapses map-side
        // (sf100 fresh-JVM A/B below). shuffle_hash on the dim: its
        // custkey... orderkey ordering is reused by nothing, so
        // sorting both ~|orders|-row sides pays for no one.
        val cold = li.filter(!isHot)
          .join(coldDim.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_part"),
            graft.functions.Dnum.dsumDec(col("l_extendedprice"), 2)
              .as("total_part"))
        hot.unionByName(cold)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("n_part")).as("n"),
            sum(col("total_part")).cast("double").as("total"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority,
          count(*) AS n, ${dsumSql("l_extendedprice")} AS total
        FROM (SELECT CASE WHEN l_orderkey % 100 < 30 THEN 0
                          ELSE l_orderkey END AS k, l_extendedprice
              FROM lineitem) f
        JOIN orders ON o_orderkey = f.k
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ─── bucketed tables: co-located join with no shuffle ───
    // Both sides are written bucketed+sorted on the join key, so the
    // join plans as a SortMergeJoin over the bucket layout with NO
    // Exchange on either side (asserted in BucketedJoinSpec) — the
    // canonical way to amortize the shuffle of a repeated 100 TB join
    // into a one-time write.
    "c_bucketed_join" -> Q(
      (s, dir) => {
        val base = Q.scratch(s, "bucketed")
        t(s, dir, "orders")
          .write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$base/orders_b").format("parquet")
          .saveAsTable("graft_orders_b")
        t(s, dir, "customer")
          .write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$base/customer_b").format("parquet")
          .saveAsTable("graft_customer_b")
        s.table("graft_orders_b")
          .join(s.table("graft_customer_b"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("revenue"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
          ${dsumSql("o_totalprice")} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ─── src/snk: ORC roundtrip ───
    "c_orc_roundtrip" -> Q(
      (s, dir) => {
        val out = Q.scratch(s, "orc") + "/customer_orc"
        t(s, dir, "customer").write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("total_bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n,
          ${dsumSql("c_acctbal")} AS total_bal
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ─── src/snk: JSON-lines roundtrip ───
    "c_json_roundtrip" -> Q(
      (s, dir) => {
        val out = Q.scratch(s, "json") + "/supplier_json"
        t(s, dir, "supplier").write.mode("overwrite").json(out)
        val schema = StructType(Seq(
          StructField("s_suppkey", LongType),
          StructField("s_name", org.apache.spark.sql.types.StringType),
          StructField("s_nationkey",
            org.apache.spark.sql.types.IntegerType),
          StructField("s_acctbal",
            org.apache.spark.sql.types.DoubleType)))
        s.read.schema(schema).json(out)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
            col("s_acctbal"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        FROM supplier ORDER BY s_suppkey"""))
  )
}
