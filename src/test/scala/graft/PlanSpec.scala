package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties the 100 TB design depends
  * on must stay visible in the optimized plans.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.SF)
    df.queryExecution.executedPlan.toString
  }

  test("q2 pushes its filters into the parquet scan") {
    val p = planOf("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), " +
      "GreaterThanOrEqual(p_size,25)") || p.contains("GreaterThanOrEqual(p_size,25)"),
      s"p_size filter not pushed:\n$p")
  }

  test("q2 prunes the scan to the projected columns") {
    val p = planOf("q2_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("p_retailprice") || readSchema.contains("p_retailprice"),
      "sanity")
    assert(!readSchema.contains("p_container") && !readSchema.contains("p_comment"),
      s"scan reads more than needed: $readSchema")
    assert(readSchema.contains("p_partkey") && readSchema.contains("p_retailprice"),
      s"scan must include projected columns: $readSchema")
  }

  test("q5 has no cartesian product and broadcasts the fixed dims") {
    val p = planOf("q5_multijoin")
    // region/nation are fixed-cardinality (5/25 rows at every SF) and
    // stay force-broadcast; everything else must not be.
    assert(p.contains("BroadcastHashJoin"), s"expected dim broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian products")
  }

  test("q3/q5/q42/q43 never force-broadcast a corpus-proportional side") {
    // broadcast() overrides spark.sql.autoBroadcastJoinThreshold up to
    // a hard 8 GB failure, so a forced-broadcast side must have
    // CONSTANT cardinality (region=5, nation=25). Sides that grow with
    // the corpus (customer segments, supplier, per-key thresholds) use
    // shuffle_hash and let AQE re-broadcast when genuinely small.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    for (q <- Seq("q3_join_agg", "q5_multijoin", "q42_not_in",
        "q43_avg_subquery", "q41_disjunctive")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.SF)
      val forced = df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }
      forced.foreach { h =>
        val cols = h.child.output.map(_.name)
        assert(cols.forall(n => n.startsWith("n_") || n.startsWith("r_")),
          s"$q force-broadcasts a corpus-proportional side: ${cols.mkString(", ")}")
      }
    }
  }

  test("q41 joins the fact against a MATERIALIZED pruned dim, unshuffled") {
    // the cache+count materialization is what lets the planner see the
    // pruned dim's true size and plan the broadcast statically — the
    // fact side must not shuffle on the join key
    val df = SparkEntry.queries("q41_disjunctive")(spark, TestSpark.SF)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"q41's pruned part side is not materialized:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast join:\n$p")
    assert(!p.contains("hashpartitioning(l_partkey"),
      s"q41 must not shuffle the fact side on the join key:\n$p")
  }

  test("GateCache holds size materializations only: no subtree persists") {
    // the one materialization rule: a gate persists (and counts) a
    // dimension only so the next join plans on its true size. The
    // dedup/ANN keys read their multiply-referenced subtrees by
    // recompute; the size-materializing keys read one cached relation
    // per materialized dimension.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def cached(q: String): Int = {
      val df = SparkEntry.queries(q)(spark, TestSpark.SF)
      val rels = df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder
      }
      rels.distinct.size
    }
    try {
      for (q <- Seq("d2_dedup_minhash", "d4_dedup_simhash", "d6_dup_clusters",
          "d8_incr_dedup", "d11_semdedup", "s3_ann_ivf", "s4_knn_graph"))
        assert(cached(q) == 0, s"$q plans with an InMemoryRelation")
      for ((q, n) <- Seq("q3_join_agg" -> 1, "q5_multijoin" -> 1,
          "q41_disjunctive" -> 1, "q51_setops_all" -> 1,
          "q62_nation_pairs" -> 2, "d9_contamination" -> 1, "t10_rarity" -> 1))
        assert(cached(q) == n, s"$q should plan with $n InMemoryRelation(s)")
    } finally graft.queries.GateCache.release(spark)
  }

  test("q1 aggregates partially before the exchange (map-side combine)") {
    val p = planOf("q1_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"expected partial aggregation:\n$p")
  }

  test("q20 has no single-partition global window over raw rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q20_window_ntile")(spark, TestSpark.SF)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "expected a partitioned Window in q20's plan")
    // A global (unpartitioned) window is only tolerable on top of an
    // Aggregate — the 32-row per-partition-counts frame, whose size is
    // the partition count, not the data size.
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        "global Window over raw (non-aggregated) rows — a single-task sort")
    }
  }

  test("q20 derives rank offsets inside one plan (no driver collect)") {
    // Both the row_number branch and the counts branch read the same
    // repartitionByRange exchange; the plan must contain that range
    // exchange so AQE stage-reuse evaluates it once. (The old shape
    // collected counts to the driver in a separate job, which silently
    // depended on RangePartitioner sampling identically twice.)
    val df = SparkEntry.queries("q20_window_ntile")(spark, TestSpark.SF)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), s"expected a range exchange:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"offsets must join back via broadcast:\n$p")
  }

  test("q20's range exchange is evaluated once (reused, not recomputed)") {
    // RangePartitioner boundaries are sampled per evaluation, so the
    // pid-alignment between the row_number branch and the offsets
    // branch is only sound if the two branches share ONE materialized
    // exchange. Drive the query to completion and assert the final
    // adaptive plan reuses the range stage instead of planting a
    // second independent rangepartitioning exchange.
    val df = SparkEntry.queries("q20_window_ntile")(spark, TestSpark.SF)
    df.collect() // drive THIS plan (count() would execute a different one)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"adaptive plan did not finalize:\n$p")
    val planted = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(planted == 1 || p.contains("ReusedExchange"),
      s"expected a single (reused) range exchange, found $planted independent ones:\n$p")
  }

  test("q3/q5 shuffle raw narrow fact rows (no aggregate below the orderkey join)") {
    // Round-7 interleaved A/B at sf100: the per-orderkey
    // pre-aggregation (one combined row per order through the join)
    // measured SLOWER than shuffling raw narrow line items — at ~4
    // rows per group the ~|orders|-group hash table costs more than
    // the 4x shuffle-volume cut saves (q3 26.5 → 16.7 s, q5 113 →
    // 26.8 s medians). The load-bearing plan properties are: a
    // shuffle join over the fact, NO aggregate below it, and a fact
    // scan pruned to the join/aggregate columns.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    for (q <- Seq("q3_join_agg", "q5_multijoin")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.SF)
      val orderkeyJoins = df.queryExecution.optimizedPlan.collect {
        case j: Join
            if j.condition.exists(_.references.exists(_.name == "l_orderkey")) =>
          j
      }
      assert(orderkeyJoins.nonEmpty, s"$q: no orderkey join in plan")
      orderkeyJoins.foreach { j =>
        assert(j.collect { case a: Aggregate => a }.isEmpty,
          s"$q: aggregate below the orderkey join — the pre-agg form " +
            "measured slower at sf100 (round-7 A/B); see BASELINE.md")
      }
      val p = planOf(q)
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
        s"$q: no shuffle join in plan:\n$p")
      val liScan = p.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("l_orderkey"))
        .mkString("\n")
      assert(!liScan.contains("l_comment") && !liScan.contains("l_partkey"),
        s"$q: fact scan reads more than needed:\n$liScan")
    }
  }

  test("q12 shuffles a 0/1 flag, not the priority string") {
    val p = planOf("q12_case_when")
    assert(p.contains("ShuffledHashJoin"),
      s"q12 should hash, not sort, its join:\n$p")
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(scans.contains("o_orderpriority"), "sanity: orders scan present")
    // the join itself must not carry the string: the projection above
    // the orders scan folds it to is_high before the exchange
    assert(p.contains("is_high"), s"priority not pre-folded:\n$p")
  }

  test("q47 splits the hot key out of the join (no salt machinery)") {
    import org.apache.spark.sql.functions._
    // the mechanism under test: the known-hot key's rows never enter
    // the keyed join at all — they aggregate globally (skew-immune by
    // construction) and meet their one dim row by cross join — so the
    // plan must carry no salt column and no explode-replication of
    // dim rows (the round-5/6 salting this replaces), and the result
    // must equal the plain join's
    val df = SparkEntry.queries("q47_salted_join")(spark, TestSpark.SF)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("salt"), s"salt column survived the hot/cold split:\n$p")
    assert(!p.toLowerCase.contains("explode"),
      s"dim-row explode survived the hot/cold split:\n$p")
    // the hot slice joins by a 1-row cross join, not a keyed shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
      s"expected the hot slice's 1-row cross join:\n$p")
    // and the gate's result must match the plain (skew-suffering) join
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val plain = spark.read.parquet(s"${TestSpark.SF}/lineitem.parquet")
      .select(when((col("l_orderkey") % 100) < 30, lit(0L))
        .otherwise(col("l_orderkey")).as("k"))
      .join(spark.read.parquet(s"${TestSpark.SF}/orders.parquet"),
        col("k") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == plain, s"hot/cold result differs from plain join: $got vs $plain")
  }

  test("q36 range join stays an equi-join (no nested-loop)") {
    val p = planOf("q36_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must use derived equi-buckets:\n$p")
  }

  test("t13/t14/t16 scan-speed curation ops carry no exchange") {
    // the r8 curation additions are per-row projections (chunking,
    // blocklist, entropy): any Exchange in their plans means a
    // regression re-introduced a shuffle into what must stay a narrow
    // scan at 100 TB. (The trailing orderBy exists only for the
    // deterministic gate dump, so a single range exchange for the
    // final sort is tolerated; none may appear below it.)
    for (q <- Seq("t13_chunk_overlap", "t14_blocklist", "t16_char_entropy")) {
      val p = planOf(q)
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1,
        s"$q must be shuffle-free below its output sort, got:\n$p")
      assert(!p.contains("hashpartitioning"),
        s"$q must not hash-shuffle:\n$p")
    }
  }

  test("t17's term filter lands below the first exchange") {
    // BM25's scale contract: only (doc, term) pairs MATCHING the query
    // terms may shuffle — the corpus token stream must be filtered in
    // the same narrow stage as the explode. If the isin predicate
    // drifts above an Exchange, every token of every document crosses
    // the wire at 100 TB.
    val p = planOf("t17_bm25")
    val lines = p.linesIterator.toSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("spark"))
    assert(firstExchange >= 0 && filterIdx >= 0,
      s"expected both an exchange and the term filter:\n$p")
    // executedPlan prints top-down: the filter must sit BELOW (after)
    // the first exchange line, i.e. closer to the scan
    assert(filterIdx > firstExchange,
      s"term filter must run before (below) the first exchange:\n$p")
  }

  test("q66's gap fill is one user-partition window, no extra shuffle") {
    // LOCF = one hash exchange on user_id + in-partition sort; the
    // running frame must not add a second corpus-scale exchange (the
    // trailing range exchange for the output sort is the only other
    // one allowed).
    val p = planOf("q66_gap_fill")
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1,
      s"q66 must shuffle exactly once on user_id, got $hashEx:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected a window operator:\n$p")
  }

  test("t18's corpus exchanges are keyed by term hash, not term strings") {
    // the t10 lesson, pinned: the (doc, term) pair aggregation and the
    // df aggregation must partition on the 8-byte xxhash64 key; a
    // regression reintroducing string-keyed corpus exchanges would
    // ship the token stream's bytes through every shuffle at 100 TB.
    val p = planOf("t18_keyterms")
    assert(p.contains("xxhash64"), s"expected hashed term keys:\n$p")
    // no exchange may PARTITION on the term string: every
    // hashpartitioning key list must be th/doc_id longs (strings may
    // ride post-partial vocab-scale exchanges as payload, never as a
    // corpus-scale partition key)
    val badEx = p.linesIterator
      .filter(_.contains("hashpartitioning(term"))
      .toSeq
    assert(badEx.isEmpty,
      s"corpus exchange partitioned on the term string: $badEx")
  }

  test("s5's rank lists cut via TakeOrderedAndProject, not a global sort") {
    // RRF fuses top-50 lists; each cut must plan as per-partition
    // top-k + driver merge (TakeOrderedAndProject). A Sort + Limit
    // pair over the full scored set would be a corpus-scale
    // single-partition sort at 100 TB.
    val p = planOf("s5_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the top-50 cuts:\n$p")
  }

  test("t15's percentile band is estimated on the sample, not the corpus") {
    // the scalable estimator: the percentile aggregate's input scan
    // must carry the doc_id % 5 sample predicate — an exact
    // corpus-wide percentile would be a per-group full sort at 100 TB
    val df = SparkEntry.queries("t15_length_band")(spark, TestSpark.SF)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("percentile"), s"expected a percentile aggregate:\n$p")
    assert(p.contains("% 5") || p.contains("pmod"),
      s"percentile must aggregate the deterministic sample:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"band must broadcast back over the corpus:\n$p")
  }
  test("q1/q44/q47 decimal measures ride the scaled-long path (no per-row Cast)") {
    // the r11 bias-class fix, pinned: dsum/davg inputs must plan as
    // double_to_scaled_long + primitive long sums, never as a per-row
    // cast(double as decimal) whose BigDecimal allocation rides every
    // fact row (and whose >18-digit sum buffer forces variable-length
    // aggregation-map updates). The reconstruction to decimal happens
    // on output groups only.
    for (q <- Seq("q1_agg", "q44_in_having", "q47_salted_join",
        "q65_unpivot", "q43_avg_subquery")) {
      val p = planOf(q)
      assert(p.contains("double_to_scaled_long"),
        s"$q lost the scaled-long sum path:\n$p")
      val castSums = p.linesIterator.filter(l =>
        l.contains("partial_sum(cast(") && l.contains("as decimal")).toSeq
      assert(castSums.isEmpty,
        s"$q re-grew a per-row decimal cast under a partial sum: $castSums")
    }
  }

  test("d9's shingles exchange as 16-byte sigs; probe is a semi join") {
    // the r11 d9 fix, pinned: no shingle STRING may ever be built or
    // partitioned on (the t10/t18 exchange rule applied to 5-grams),
    // and the bench probe must stay a semi join (bench is distinct,
    // so inner join output would only duplicate corpus rows).
    val p = planOf("d9_contamination")
    assert(p.contains("word_shingle_sigs"),
      s"d9 lost the native shingle signatures:\n$p")
    assert(!p.contains("concat_ws"),
      s"d9 re-grew shingle string construction:\n$p")
    assert(p.contains("LeftSemi"), s"d9's bench probe must be semi:\n$p")
    // r12: text mode — no split() array may feed the shingler (the
    // scanner tokenizes the UTF-8 bytes directly), and the bench
    // distinct is cache+count-materialized so the semi probe plans as
    // a BROADCAST on the true (benchmark-sized) set: the corpus side
    // must never exchange on g (a shuffle semi at sf100 was two
    // 250M-row exchange stages for a 4 MB realized bench domain).
    assert(!p.contains("split("),
      s"d9 re-grew the split() array pass ahead of the shingler:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"),
      s"d9's bench distinct must be cache-materialized:\n$p")
    val semiLine = p.linesIterator.find(_.contains("LeftSemi")).get
    assert(semiLine.contains("BroadcastHashJoin"),
      s"d9's semi probe must plan as a broadcast on the true bench " +
        s"size, not a corpus-side exchange:\n$p")
  }

  test("d1/d1b dedup sigs are 16-byte binaries, not hex strings") {
    // unhex(md5(..)) must survive: a regression to hex md5 strings
    // doubles every sig exchange's key bytes and the window sort width
    for (q <- Seq("d1_dedup_exact", "d1b_dedup_union")) {
      val p = planOf(q)
      assert(p.contains("unhex"), s"$q lost the binary sig keys:\n$p")
    }
    // d1b must be the single-scan window form: no self-join remains
    val p1b = planOf("d1b_dedup_union")
    assert(!p1b.contains("SortMergeJoin") && !p1b.contains("ShuffledHashJoin"),
      s"d1b re-grew the groupBy+self-join form:\n$p1b")
  }
}
