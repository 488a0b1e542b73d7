package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational operator inventory (SURVEY.md §2.2, q1–q20).
  *
  * Mirrors the SQL surface the reference exercises through dbt models
  * (reference: dbt/include/parquet/macros/adapters.sql — models are
  * arbitrary DuckDB SELECTs). Re-expressed with the DataFrame API so
  * Catalyst handles pushdown / join strategy; every money aggregate
  * goes through an exact decimal sum (see [[Q]] numeric policy).
  */
object Relational extends QueryModule {
  import Q.{t, dsumSql, davgSql}
  import graft.functions.Dnum.{dsum, davg}

  def queries: Map[String, Q] = Map(
    // ─── q1: filter → groupBy → multi-agg (TPC-H Q1 shape) ───
    "q1_agg" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
              .as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_extendedprice")).as("avg_price"),
            davg(col("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
          ${dsumSql("l_quantity")} AS sum_qty,
          ${dsumSql("l_extendedprice")} AS sum_base_price,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
          ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
          ${davgSql("l_quantity")} AS avg_qty,
          ${davgSql("l_extendedprice")} AS avg_price,
          ${davgSql("l_discount", 4)} AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= timestamp '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ─── q2: predicate + projection pushdown ───
    "q2_filter_project" -> Q(
      (s, dir) => {
        t(s, dir, "part")
          .filter(col("p_size") >= 25 && col("p_type").isin("ECONOMY", "PROMO"))
          .select(col("p_partkey"), col("p_name"), col("p_brand"),
            (col("p_retailprice") * lit(1.1)).as("marked_up"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_name, p_brand,
          p_retailprice * 1.1 AS marked_up
        FROM part
        WHERE p_size >= 25 AND p_type IN ('ECONOMY', 'PROMO')
        ORDER BY p_partkey""")),

    // ─── q3: 3-way join + agg + top-k (TPC-H Q3 shape) ───
    "q3_join_agg" -> Q(
      (s, dir) => {
        val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
        val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        // Raw narrow shuffle, ONE aggregate after the join — measured
        // against the per-orderkey pre-aggregation form (round 7,
        // interleaved A/B at sf100): raw 16.7 s vs pre-agg 26.5 s
        // medians. At ~4 line items per order the pre-agg's ~|orders|-
        // group hash table buys only a 4x shuffle-volume cut but costs
        // a hash probe per row plus GC pressure that poisoned whole
        // suite passes; shuffling the 3-column rows is cheaper on
        // every measured run. (On a network-bound cluster the trade
        // tilts back as shuffle bytes get expensive — that form is
        // recorded in BASELINE.md round-7 notes.) The join output
        // keeps hash(l_orderkey) partitioning, which satisfies the
        // groupBy's clustering, so the aggregate adds no shuffle.
        // The unhinted customer semi-filter cuts orders 5x before its shuffle.
        val ordF = ord
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_semi")
          .select(col("o_orderkey"), col("o_orderdate"))
        li.join(ordF.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
          // format ABOVE the limit (the q9 lesson, r13): below it the
          // formatter runs on every one of the ~150M per-order
          // aggregate rows; above it, on the 10 survivors
          .select(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("revenue"))
      },
      Some(s"""SELECT l_orderkey,
          strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < timestamp '1998-01-01'
          AND l_shipdate > timestamp '1998-01-01'
        GROUP BY l_orderkey, orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""")),

    // ─── q4: EXISTS → left_semi ───
    "q4_semijoin" -> Q(
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        val li = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
        ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= timestamp '1996-01-01'
          AND o_orderdate < timestamp '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ─── q5: star multi-join + agg (TPC-H Q5 shape) ───
    "q5_multijoin" -> Q(
      (s, dir) => {
        val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val nation = t(s, dir, "nation")
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-06-01") &&
            col("o_orderdate") < lit("1999-01-01"))
        val li = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier")
        // Star join over RAW narrow fact rows, aggregated once per
        // custkey after the orderkey join — measured against the
        // two-level pre-aggregation form (per-orderkey before the
        // join, per-custkey after; round-7 interleaved A/B at sf100):
        // raw 26.8 s vs pre-agg 113 s medians. At ~4 line items per
        // order the ~|orders|-group pre-agg hash table bought a 4x
        // shuffle-volume cut but cost a probe per row and enough heap
        // churn to poison later queries in the same JVM; the raw
        // 2-column shuffle won every interleaved pass. (Network-bound
        // clusters shift the trade toward pre-aggregation — the losing
        // form and numbers are in BASELINE.md round-7 notes.)
        // The supplier join carries no payload columns and s_suppkey
        // is unique, so inner ≡ left_semi against a key set. supplier
        // is corpus-proportional (10k rows/SF → ~8 GB of keys at
        // 100 TB TPC-H), so the semi-build must NOT be
        // force-broadcast; unhinted, the EngineDefaults size-checked
        // policy broadcasts it while it fits and shuffles at the scale
        // where it doesn't — never a hard failure.
        // Round-8 restructure (interleaved fresh-JVM A/B at sf100:
        // 12.4/11.8 s vs 13.9/15.0 s medians for the old form): the
        // orders side carries n_nationkey THROUGH the orderkey join,
        // so the result aggregates straight to ≤25 nation groups —
        // collapsing map-side — instead of per-custkey (a 15M-group
        // corpus-scale exchange) followed by a dim join and a second
        // aggregate. One fewer corpus-scale exchange; the 25-row name
        // attach happens after aggregation on 25 rows. Decimal
        // addition is exact and associative, so the nested sums stay
        // bit-identical to the oracle's flat sum.
        val asiaN = nation
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        // semi, not inner: Catalyst sizes a semi at customer, not a product
        val custA = cust
          .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"),
            "left_semi")
          .select(col("c_custkey"), col("c_nationkey").as("n_nationkey"))
        // r13 bloom-prefilter A/B, REJECTED with numbers: ordA is ~10%
        // selective over the 600M-row lineitem exchange, and Catalyst's
        // runtime bloom did not fire on the then-cached dims. A
        // hand-planned probe-side bloom (org.apache.spark.util.sketch,
        // fpp 0.01, driver-built) measured interleaved-in-one-JVM at sf100:
        // bloomed 21.9/23.1 s vs plain 18.5/19.5 s — the probe's
        // random access into an 18 MB sketch duplicates the cost the
        // join's own hash probe pays anyway, so it only saves shuffle
        // I/O that was not the bottleneck (decomposition: liF subtree
        // 2.8 s + ordA subtree 3.4 s of 17.3 s; the residual is
        // probe-bound, not exchange-bound).
        val ordA = ord.select(col("o_orderkey"), col("o_custkey"))
          .join(custA, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("n_nationkey"))
        val liF = li
          .join(sup.select(col("s_suppkey")),
            col("l_suppkey") === col("s_suppkey"), "left_semi")
          .select(col("l_orderkey"),
            graft.functions.DoubleToScaledLong.of(
              col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
              .as("rev1"))
        liF
          // shuffle_hash, not sort-merge: neither side's ordering is
          // reusable downstream, so hashing the (smaller) orders side
          // beats sorting both (partition-local build, AQE-skew-safe)
          .join(ordA.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_nationkey"))
          .agg(graft.functions.Dnum.lsumDec(col("rev1"), 4).as("rev"))
          .join(broadcast(asiaN), Seq("n_nationkey"))
          .select(col("n_name"), col("rev").cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= timestamp '1995-06-01'
          AND o_orderdate < timestamp '1999-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""")),

    // ─── q6: selective range filter + arithmetic agg (TPC-H Q6) ───
    "q6_cond_agg" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
          .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT ${dsumSql("l_extendedprice * l_discount", 4)} AS revenue,
          count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= timestamp '1996-01-01'
          AND l_shipdate < timestamp '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")),

    // ─── q7: NOT EXISTS → left_anti ───
    "q7_antijoin" -> Q(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders").filter(col("o_orderdate") >= lit("2000-01-01"))
        // hash-anti, not sort-merge: the probe (customer) side streams
        // unsorted and the hash build is the FILTERED orders key set —
        // the default SMJ sorted all of customer on c_custkey for a
        // join whose right side the date filter makes tiny (measured
        // sf100: 2.34-2.42 s SMJ → see BASELINE r9 notes), and no
        // downstream operator reuses that ordering (the aggregate is
        // hash-based). Build-side scale note: the build is the
        // filtered orders keys; a corpus where that set outgrows
        // executor memory would want the SMJ back — the hint trades
        // exactly the way q3/q43's shuffle_hash adoptions do.
        cust.join(ord.hint("shuffle_hash"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            dsum(col("c_acctbal")).as("total_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_customers,
          ${dsumSql("c_acctbal")} AS total_acctbal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= timestamp '2000-01-01')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ─── q8: distinct projection ───
    "q8_distinct" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_orderpriority"))
          .distinct()
          .orderBy(col("o_orderstatus"), col("o_orderpriority"))
      },
      Some("""SELECT DISTINCT o_orderstatus, o_orderpriority
        FROM orders
        ORDER BY o_orderstatus, o_orderpriority""")),

    // ─── q9: global top-k with deterministic tiebreak ───
    // date_format is applied ABOVE the limit: formatted below it, the
    // Project sits under TakeOrderedAndProject and the per-row
    // formatter runs on the whole corpus (150M evals at sf100 for 10
    // output rows — r13 plan audit); above it, the top-k carries the
    // raw timestamp and the formatter touches 10 rows.
    "q9_topk" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
          strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10""")),

    // ─── q10: group + HAVING ───
    "q10_having" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_spent"))
          .filter(col("n_orders") >= 3)
          .orderBy(col("o_custkey"))
      },
      Some(s"""SELECT o_custkey, count(*) AS n_orders,
          ${dsumSql("o_totalprice")} AS total_spent
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 3
        ORDER BY o_custkey""")),

    // ─── q11: scalar subquery (vs. exact global average) ───
    "q11_scalar_subquery" -> Q(
      (s, dir) => {
        val part = t(s, dir, "part")
        val avgPrice = part.agg(davg(col("p_retailprice")).as("gavg"))
        part.crossJoin(broadcast(avgPrice))
          .filter(col("p_retailprice") > col("gavg"))
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
          .orderBy(col("p_partkey"))
      },
      Some(s"""SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_retailprice > (SELECT ${davgSql("p_retailprice")} FROM part)
        ORDER BY p_partkey""")),

    // ─── q12: CASE WHEN buckets + conditional agg (TPC-H Q12 shape) ───
    "q12_case_when" -> Q(
      (s, dir) => {
        // The priority string never needs to shuffle: fold it to a
        // 0/1 flag before the join, and hash instead of sorting both
        // sides (nothing downstream reuses a sort order). The hint
        // sits on the FILTERED lineitem side so the hash relation is
        // built from the smaller input (~1 year of shipments vs all
        // orders).
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("is_high"))
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
          .select(col("l_orderkey"), col("l_linestatus"))
        li.hint("shuffle_hash").join(ord,
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(sum(col("is_high")).as("high_line_count"),
            sum(lit(1L) - col("is_high")).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
          cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) as bigint) AS high_line_count,
          cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) as bigint) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= timestamp '1996-01-01'
          AND l_shipdate < timestamp '1997-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")),

    // ─── q13: left outer join + distribution (TPC-H Q13 shape) ───
    "q13_left_join" -> Q(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
        // Count orders per custkey BEFORE the outer join: the count
        // per customer is computable from orders alone (o_orderkey is
        // never null), so the shuffle carries one partially-combined
        // row per customer instead of every order, and the outer join
        // shrinks from customer x orders to customer x distinct-custkeys.
        // Customers with no orders surface via the left join + coalesce(0).
        val perCust = ord.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        cust.join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
          .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    // ─── q14: UNION ALL + UNION (dedup) ───
    "q14_union" -> Q(
      (s, dir) => {
        val a = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("key"))
        val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("key"))
        // r16 (EPF, guide §2.4/§2.3): the old form executed a.union(b)
        // twice — a count pass plus a distinct() exchange — four orders
        // scans and two aggregations for two numbers that one per-key
        // aggregate already knows: n_all = Σ per-key multiplicities,
        // n_distinct = the group count. One union (two scans), ONE
        // hash exchange (with map-side partial counts shuffling at
        // most one row per key per map task — the same volume the
        // distinct shipped), both outputs off the same pass. Values
        // are identical by definition: count(*) over a bag = sum of
        // its per-key counts; count(*) over distinct keys = number of
        // groups.
        val counts = a.union(b).groupBy(col("key"))
          .agg(count(lit(1)).as("c"))
        // coalesce: sum over zero groups is NULL, count(*) is 0
        counts.agg(coalesce(sum(col("c")), lit(0L)).as("n_all"),
          count(lit(1)).as("n_distinct"))
      },
      Some("""SELECT
          (SELECT count(*) FROM (
            SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_all,
          (SELECT count(*) FROM (
            SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F'
            UNION
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_distinct""")),

    // ─── q15: INTERSECT / EXCEPT ───
    "q15_setops" -> Q(
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val y95 = ord.filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1996-01-01")).select(col("o_custkey"))
        val y96 = ord.filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01")).select(col("o_custkey"))
        // r16 (EPF, guide §2.4): INTERSECT and EXCEPT each shuffled
        // BOTH year slices (4 corpus-proportional exchange legs, 4
        // orders scans). Both are per-key set predicates over the same
        // two inputs, so ONE tagged union + per-key presence-flag
        // aggregate answers both: a key is in the intersection iff it
        // appeared under both tags, in the difference iff only under
        // the 95 tag — exactly SQL set semantics (set ops are
        // distinct-based, which the groupBy supplies). One exchange
        // (map-side partial max flags — at most one row per key per
        // map task, the same volume one set-op leg shipped), two scans,
        // both counts off the same pass; the two output rows unfold
        // from the single aggregate row with explode (no re-execution).
        // Operator-coverage note (the r15 checklist's q14 concern):
        // set-op DataFrame operators stay exercised by q51_setops_all
        // (intersectAll/exceptAll over the bounded slice, where their
        // cost is the capability's own); at THIS key's corpus scale
        // the oracle semantics — not the operator — are the contract,
        // and the flag aggregate is how a 100 TB engine should compute
        // two set cardinalities over the same inputs.
        val flags = y95.select(col("o_custkey"), lit(1).as("in95"),
            lit(0).as("in96"))
          .union(y96.select(col("o_custkey"), lit(0), lit(1)))
          .groupBy(col("o_custkey"))
          .agg(max(col("in95")).as("a95"), max(col("in96")).as("a96"))
        flags.agg(
            coalesce(sum(when(col("a95") === 1 && col("a96") === 1, 1L)
              .otherwise(0L)), lit(0L)).as("n_inter"),
            coalesce(sum(when(col("a95") === 1 && col("a96") === 0, 1L)
              .otherwise(0L)), lit(0L)).as("n_exc"))
          .select(explode(map(
            lit("intersect"), col("n_inter"),
            lit("except"), col("n_exc"))).as(Seq("op", "n")))
          .orderBy(col("op"))
      },
      Some("""WITH y95 AS (SELECT o_custkey FROM orders
               WHERE o_orderdate >= timestamp '1995-01-01'
                 AND o_orderdate < timestamp '1996-01-01'),
             y96 AS (SELECT o_custkey FROM orders
               WHERE o_orderdate >= timestamp '1996-01-01'
                 AND o_orderdate < timestamp '1997-01-01')
        SELECT 'intersect' AS op, count(*) AS n
          FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
        UNION ALL
        SELECT 'except' AS op, count(*) AS n
          FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
        ORDER BY op""")),

    // ─── q16: ROLLUP (grouping sets) ───
    "q16_grouping_sets" -> Q(
      (s, dir) => {
        // pre-aggregate to the finest grouping BEFORE the rollup: the
        // Expand operator multiplies its input by the number of
        // grouping sets (3x here), so rolling up raw orders triples
        // the corpus through the aggregate — rolling up the ~15-row
        // (status, priority) pre-agg is free, and count/sum re-derive
        // exactly as sums of the partials (decimal addition exact)
        val pre = t(s, dir, "orders")
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("pn"),
            graft.functions.Dnum.dsumDec(col("o_totalprice"), 2).as("pt"))
        pre
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(sum(col("pn")).as("n"), sum(col("pt")).cast("double").as("total"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy(col("status"), col("priority"))
      },
      Some(s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
          coalesce(o_orderpriority, 'ALL') AS priority,
          count(*) AS n, ${dsumSql("o_totalprice")} AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    // ─── q17: ranking windows ───
    "q17_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
            row_number().over(w).as("rn"),
            rank().over(w).as("rk"),
            dense_rank().over(w).as("drk"))
          .filter(col("rn") <= 3)
          .orderBy(col("c_nationkey"), col("rn"))
      },
      Some("""SELECT * FROM (
          SELECT c_custkey, c_nationkey, c_acctbal,
            row_number() OVER w AS rn,
            rank() OVER w AS rk,
            dense_rank() OVER w AS drk
          FROM customer
          WINDOW w AS (PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey)
        ) WHERE rn <= 3
        ORDER BY c_nationkey, rn""")),

    // ─── q18: running sum + moving average (rows frames) ───
    // The decimal casts here stay OFF the dsum policy deliberately:
    // they run AFTER the o_custkey <= 50 filter (a few hundred rows at
    // any SF — the key predicate is scale-fixed, not proportional), so
    // the per-row BigDecimal route is O(filtered), not O(corpus); the
    // corpus-scale cost of this key is the orders scan, and lsumDec
    // has no windowed (`.over`) form to buy anything with.
    "q18_window_running" -> Q(
      (s, dir) => {
        val order = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val wRun = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wMov = order.rowsBetween(-2, Window.currentRow)
        t(s, dir, "orders")
          .filter(col("o_custkey") <= 50)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wRun)
              .cast("double").as("running_total"),
            (sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wMov)
              .cast("double") / count(lit(1)).over(wMov)).as("moving_avg"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
          cast(sum(cast(o_totalprice as decimal(18,2))) OVER w_run as double)
            AS running_total,
          cast(sum(cast(o_totalprice as decimal(18,2))) OVER w_mov as double)
            / count(*) OVER w_mov AS moving_avg
        FROM orders
        WHERE o_custkey <= 50
        WINDOW
          w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey""")),

    // ─── q19: lead / lag / first_value / last_value ───
    "q19_window_leadlag" -> Q(
      (s, dir) => {
        val order = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val full = order.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        t(s, dir, "orders")
          .filter(col("o_custkey") <= 50)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(order).as("prev_price"),
            lead(col("o_totalprice"), 1).over(order).as("next_price"),
            first(col("o_totalprice")).over(full).as("first_price"),
            last(col("o_totalprice")).over(full).as("last_price"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
          lag(o_totalprice, 1) OVER w AS prev_price,
          lead(o_totalprice, 1) OVER w AS next_price,
          first_value(o_totalprice) OVER wf AS first_price,
          last_value(o_totalprice) OVER wf AS last_price
        FROM orders
        WHERE o_custkey <= 50
        WINDOW
          w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey""")),

    // ─── q20: ntile / percent_rank / cume_dist ───
    // Global by semantics, computed scale-safely: a bare
    // Window.orderBy sorts the whole table in ONE task. Instead the
    // table is range-partitioned on the sort key (32 parallel local
    // sorts), rows are numbered within each range partition, and the
    // global rank is the local row_number plus the partition's
    // cumulative offset. The offsets (and total n) are derived by an
    // aggregate + broadcast join INSIDE the same plan, so the range
    // exchange is computed once (ReuseExchange / AQE stage reuse) and
    // correctness never depends on RangePartitioner sampling the same
    // boundaries across two jobs; nothing reaches the driver. The
    // sort key includes the unique c_custkey, so rank == row_number
    // and every row is its own peer group (exact percent_rank/cume).
    "q20_window_ntile" -> Q(
      (s, dir) => {
        val ranged = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"))
          .repartitionByRange(32, col("c_acctbal"), col("c_custkey"))
          .withColumn("pid", spark_partition_id())
        // 32-row frame: per-pid count → running-sum offset + total n.
        val wOff = Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val offsets = ranged.groupBy(col("pid"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("pid"),
            (sum(col("cnt")).over(wOff) - col("cnt")).as("off"),
            sum(col("cnt")).over(wAll).as("n"))
        val wLocal = Window.partitionBy(col("pid"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        val (r, n) = (col("r"), col("n"))
        val base = (n / 4).cast("long") // n >= 0: truncation == floor
        val rem = n - base * 4
        val cut = rem * (base + 1) // rows in the rem larger buckets
        val quartile = when(r <= cut,
            floor((r - 1) / (base + 1)) + 1)
          .otherwise(floor((r - cut - 1) / base) + rem + 1)
        ranged
          .withColumn("rl", row_number().over(wLocal).cast("long"))
          .join(broadcast(offsets), Seq("pid"))
          .withColumn("r", col("rl") + col("off"))
          .select(col("c_custkey"), col("c_acctbal"),
            quartile.cast("int").as("quartile"),
            (when(n === 1, lit(0.0)).otherwise(
              (r - 1).cast("double") / (n - 1).cast("double"))).as("pct_rank"),
            (r.cast("double") / n.cast("double")).as("cume"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_acctbal,
          ntile(4) OVER w AS quartile,
          percent_rank() OVER w AS pct_rank,
          cume_dist() OVER w AS cume
        FROM customer
        WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        ORDER BY c_custkey"""))
  )
}
