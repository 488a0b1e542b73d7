package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + semantic specs over the full SparkEntry inventory. */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has either an oracle or a documented reason") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // r9: every approximate key is driver-gated — either its exact-
    // verification stage IS the output (d2, d4, d5b, d11, s2, q27b)
    // or a companion recall gate covers it (s3 → s3b, s4 → s4b). The
    // two remaining no-oracle keys are the raw approximate results
    // themselves, whose health the driver sees through the gates.
    assert(noOracle == Set("s3_ann_ivf", "s4_knn_graph"))
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name runs and returns rows at sf0.001") {
      val df = SparkEntry.queries(name)(spark, TestSpark.SF)
      assert(df.count() > 0, s"$name returned 0 rows")
      // no gate persists a working set: every join plans on Catalyst's
      // own estimates and AQE's runtime sizes
      val cached = df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.isEmpty, s"$name plans with an InMemoryRelation")
    }
  }

  test("q40 yields NULL on malformed JSON (oracle semantics), not an exception") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q40").toString
    Seq((1L, """{"k": 7}""", new java.sql.Timestamp(0L)),
        (2L, "not json {", new java.sql.Timestamp(0L)),
        (3L, null.asInstanceOf[String], new java.sql.Timestamp(0L)))
      .toDF("event_id", "props", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q40_json")(spark, dir).collect()
    // the malformed and null props must land in the NULL k_mod group,
    // matching DuckDB's json_extract_string null-on-malformed behavior
    assert(rows.length == 2, s"expected {7, NULL} groups, got ${rows.toSeq}")
    val nullGroup = rows.find(_.isNullAt(0)).get
    assert(nullGroup.getLong(1) == 2)
    val sevens = rows.find(r => !r.isNullAt(0) && r.getLong(0) == 7).get
    assert(sevens.getLong(1) == 1 && sevens.getLong(2) == 7L)
  }

  test("d3/t8 on short documents: no shingles below n words, no exception") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_short").toString
    // doc_ids are multiples of 5 so d3's sample keeps them all
    Seq((0L, "the quick brown fox jumps"),
        (5L, "The quick  brown fox sleeps"),
        (10L, ""),
        (15L, "hello"),
        (20L, "hello world"),
        (25L, "quick brown fox"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val perDoc = graft.queries.Q.shingles(docs).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc == Map(0L -> 3L, 5L -> 3L, 25L -> 1L), s"shingles: $perDoc")
    // by hand: 0 and 5 share "the quick brown" and "quick brown fox" of
    // 3 trigrams each; 25's one trigram is "quick brown fox"
    val d3 = SparkEntry.queries("d3_ngram_jaccard")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(d3 == Seq((0L, 5L, 2L, 3L, 3L, 0.5), (0L, 25L, 1L, 3L, 1L, 1.0 / 3),
      (5L, 25L, 1L, 3L, 1L, 1.0 / 3)), s"d3: $d3")
    val t8 = SparkEntry.queries("t8_repetition")(spark, dir)
      .filter(col("doc_id").isin(10L, 15L, 20L))
      .select("doc_id", "dup_bigram_frac").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t8 == Map(10L -> 0.0, 15L -> 0.0, 20L -> 0.0), s"t8: $t8")
  }

  test("t13/d10 chunk edge documents: empty, 1, 48, 49, 64 and 65 words") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_chunks").toString
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    Seq((1L, ""), (2L, doc(1)), (3L, doc(48)), (4L, doc(49)), (5L, doc(64)),
        (6L, doc(65)))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // by hand: chunk k holds words k*48+1 .. k*48+64 for k = 0 ..
    // (n_words - 1) / 48; the empty text is one empty word, so one chunk
    val t13 = SparkEntry.queries("t13_chunk_overlap")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(t13 == Seq((1L, 0L, 0L, 1L), (2L, 0L, 0L, 1L), (3L, 0L, 0L, 48L),
      (4L, 0L, 0L, 49L), (4L, 1L, 48L, 1L), (5L, 0L, 0L, 64L),
      (5L, 1L, 48L, 16L), (6L, 0L, 0L, 64L), (6L, 1L, 48L, 17L)),
      s"t13: $t13")
    // (doc_id, n_chunks, n_dup_chunks): doc 6's first chunk is words
    // 1-64, the same chunk as doc 5's first, which survives
    val d10 = SparkEntry.queries("d10_chunk_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(d10 == Seq((1L, 1L, 0L), (2L, 1L, 0L), (3L, 1L, 0L), (4L, 2L, 0L),
      (5L, 2L, 0L), (6L, 2L, 1L)), s"d10: $d10")
  }

  test("q14/q15 count 0 on an empty orders table, as count(*) does") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q14").toString
    spark.read.parquet(s"${TestSpark.SF}/orders.parquet").limit(0)
      .write.parquet(s"$dir/orders.parquet")
    val q14 = SparkEntry.queries("q14_union")(spark, dir).collect()
    assert(q14.map(r => (r.get(0), r.get(1))).toSeq == Seq((0L, 0L)),
      s"q14 on empty orders: ${q14.toSeq}")
    val q15 = SparkEntry.queries("q15_setops")(spark, dir).collect()
    assert(q15.map(r => (r.getString(0), r.get(1))).toSeq ==
      Seq(("except", 0L), ("intersect", 0L)),
      s"q15 on empty orders: ${q15.toSeq}")
  }
}

/** s2's LSH candidates must be a subset of the exact ranking and
  * achieve non-trivial recall vs. the s1 brute-force baseline.
  */
class AnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def recallOf(name: String): Double = {
    val brute = SparkEntry.queries("s1_ann_brute")(spark, TestSpark.SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries(name)(spark, TestSpark.SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty, s"$name produced no results")
    val recall = (brute intersect approx).size.toDouble / brute.size
    info(f"$name recall@5 = $recall%.2f (${approx.size} hits)")
    recall
  }

  // Deterministic pipelines (seeded hyperplanes / seeded k-means, exact
  // decimal dot products), so the floors are hard assertions, not flaky
  // statistical bounds. Measured: s2 = 0.96, s3 = 0.94 at sf0.001.
  test("s2_ann_lsh recall vs s1_ann_brute") {
    assert(recallOf("s2_ann_lsh") >= 0.9,
      "LSH recall@5 regressed below 0.9")
  }

  test("s3_ann_ivf recall vs s1_ann_brute") {
    // measured 0.94 at sf0.001; floor kept at 0.9 (same margin as s2)
    // so benign perturbations don't fail a still-good quantizer
    assert(recallOf("s3_ann_ivf") >= 0.9,
      "IVF recall@5 regressed below 0.9")
  }
}

/** d5b injects 50 perturbed near-copies (cosine ≈ 0.9999) into the
  * corpus and must recover every (original, copy) pair through its
  * LSH buckets alone — full recall on true near-dups, and nothing
  * else on this no-natural-near-dup corpus (precision by the exact
  * cosine filter on candidates).
  */
class NearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("d5b recovers all injected near-dup pairs, and only them") {
    val got = SparkEntry.queries("d5b_embed_neardup_lsh")(spark, TestSpark.SF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    val expected = (0L until 50L).map(i => (i, i + 1000000L)).toSet
    assert(pairs == expected,
      s"missing: ${(expected -- pairs).take(5)}, spurious: ${(pairs -- expected).take(5)}")
    assert(got.forall(_._3 > 0.99), "recovered pairs must be near-identical")
  }
}

/** d11 injects 50 perturbed near-copies (cosine ≈ 0.9999, larger ids)
  * into the corpus and must prune exactly them: every injected copy is
  * semantically redundant with its original, and on this
  * no-natural-near-dup corpus nothing else may be dropped — the
  * surviving set is precisely the original exact-dedup representatives.
  */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("d11 prunes all injected semantic copies and nothing else") {
    val survivors = SparkEntry.queries("d11_semdedup")(spark, TestSpark.SF)
      .collect().map(_.getLong(0)).toSet
    val expected = spark.read.parquet(s"${TestSpark.SF}/embeddings.parquet")
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val spuriousDrops = expected -- survivors
    val injectedSurvivors = survivors.filter(_ >= 1000000L)
    assert(injectedSurvivors.isEmpty,
      s"injected copies survived the prune: ${injectedSurvivors.take(5)}")
    assert(spuriousDrops.isEmpty,
      s"originals dropped without a semantic duplicate: ${spuriousDrops.take(5)}")
  }
}

/** s4's IVF-bucketed kNN graph must (a) keep per-vector output shape
  * (≤3 neighbors, contiguous ranks, no self-edges) and (b) achieve
  * solid recall@3 against the exact brute-force neighbor graph on a
  * sampled query set. The pipeline is fully deterministic (seeded
  * k-means, exact decimal-grid cosine), so the floor is a hard
  * assertion, not a statistical bound.
  */
class KnnGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("s4 per-vector shape: ≤3 neighbors, contiguous ranks, no self-edges") {
    val rows = SparkEntry.queries("s4_knn_graph")(spark, TestSpark.SF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (v, n, _) => v != n }, "self-edge in graph")
    rows.groupBy(_._1).foreach { case (v, g) =>
      val ranks = g.map(_._3).sorted.toList
      assert(ranks.length <= 3 && ranks == (1L to ranks.length).toList,
        s"vec $v has ranks $ranks")
    }
  }

  test("s4 recall@3 vs exact brute-force neighbors on sampled queries") {
    import graft.functions.FloatVecDot
    val e = spark.read.parquet(s"${TestSpark.SF}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val sample = e.filter(col("vec_id") < 40)
    val exact = sample.as("x").join(e.as("y"),
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr_id"),
        (FloatVecDot.dot(col("x.embedding"), col("y.embedding")) /
          (sqrt(FloatVecDot.dot(col("x.embedding"), col("x.embedding"))) *
            sqrt(FloatVecDot.dot(col("y.embedding"), col("y.embedding")))))
          .as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SparkEntry.queries("s4_knn_graph")(spark, TestSpark.SF)
      .filter(col("vec_id") < 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    info(f"s4 recall@3 = $recall%.2f (${got.size} edges on sample)")
    // measured 0.89 at sf0.001 with 3-way cell assignment; floor left
    // at 0.75 so a benign quantizer perturbation doesn't fail a
    // still-useful graph (same margin policy as AnnSpec)
    assert(recall >= 0.75, f"kNN-graph recall@3 regressed: $recall%.2f")
  }
}

/** q27b's HLL estimates must sit within the configured relative
  * standard deviation of q27's exact distinct counts — the one gate
  * that previously had neither an oracle nor a quality assertion.
  */
class ApproxCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q27b approx_count_distinct within 5x default rsd of exact") {
    val exact = SparkEntry.queries("q27_countd")(spark, TestSpark.SF)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q27b_approx_countd")(spark, TestSpark.SF)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    // default rsd = 0.05; 5 sigma leaves room for the worst group while
    // still catching a broken sketch (off by 2x) immediately
    for ((flag, e) <- exact) {
      val a = approx(flag)
      val relErr = math.abs(a - e).toDouble / e
      info(f"$flag: exact=$e approx=$a relErr=$relErr%.4f")
      assert(relErr <= 0.25, s"group $flag: approx $a vs exact $e")
    }
  }
}

/** simhash64's packed-lane majority counters must be exact for
  * documents spanning many 127-word chunks — the pre-round-3
  * single-level version silently wrapped its 8-bit counters at 256
  * words (and long-summing 255-word chunks would overflow under ANSI).
  */
class SimhashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bruteSimhash(words: Seq[String]): Long = {
    import spark.implicits._
    val hashes = words.distinct.toDF("w")
      .select(col("w"), xxhash64(col("w")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = words.size
    (0 until 64).map { b =>
      val cnt = words.count(w => ((hashes(w) >>> b) & 1L) == 1L)
      if (2L * cnt > n) 1L << b else 0L
    }.sum
  }

  test("multi-chunk documents get exact bit counts (300, 700, 70000 words)") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    // deterministic pseudo-random word streams with skewed frequencies
    def doc(n: Int, seed: Int): Seq[String] =
      (0 until n).map(i =>
        vocab(((i.toLong * seed + i.toLong * i) % vocab.size).toInt))
    val docs = Seq(1L -> doc(300, 7), 2L -> doc(700, 13), 3L -> doc(40, 3),
      4L -> doc(70000, 31)) // far past any 8/16-bit counter capacity
    val df = docs.map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = graft.queries.LlmSim.simhash64(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((id, ws) <- docs) {
      assert(got(id)._1 == ws.size.toLong, s"doc $id word count")
      assert(got(id)._2 == bruteSimhash(ws), s"doc $id simhash mismatch")
    }
  }
}

/** The exact-moment formulations in q25 must agree with Spark's
  * builtin statistical aggregates (proves the builtins' semantics are
  * covered even though the oracle uses the mergeable-moment form).
  */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q25 exact moments match builtin stddev/var/corr") {
    val cust = spark.read.parquet(s"${TestSpark.SF}/customer.parquet")
    val builtin = cust.groupBy(col("c_mktsegment")).agg(
      stddev_samp(col("c_acctbal")).as("sd"),
      var_samp(col("c_acctbal")).as("vr"),
      corr(col("c_acctbal"), col("c_custkey")).as("cr"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val moments = SparkEntry.queries("q25_stats_agg")(spark, TestSpark.SF)
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4),
        r.getDouble(5))).toMap
    for ((seg, (sd, vr, cr)) <- builtin) {
      val (msd, mvr, mcr) = moments(seg)
      assert(math.abs(sd - msd) < 1e-6, s"stddev mismatch in $seg")
      assert(math.abs(vr - mvr) < 1e-4, s"variance mismatch in $seg")
      assert(math.abs(cr - mcr) < 1e-6, s"corr mismatch in $seg")
    }
  }
}

/** Streaming window agg must equal its batch formulation. */
class StreamParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q39 streaming result equals q38 batch result") {
    val stream = SparkEntry.queries("q39_stream_window")(spark, TestSpark.SF)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = SparkEntry.queries("q38_events_window")(spark, TestSpark.SF)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(stream == batch)
  }
}
