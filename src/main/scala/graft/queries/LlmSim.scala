package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types.DecimalType

/** Near-duplicate detection + similarity search for LLM training-data
  * pipelines (SURVEY.md §2.3: d2, d4, d5, s1, s2, s3).
  *
  * Scale design: every candidate-generation step is a hash-shuffle on
  * a small key (band value / bit chunk / bucket id) — the quadratic
  * pair explosion only ever happens *inside* a bucket. Exact
  * verification runs only on candidates. Signatures are computed in a
  * single codegen'd projection (array folds, no UDFs, no shuffle).
  */
object LlmSim extends QueryModule {
  import Q.{t, norm, normSql, shingles, words, wordsSql}
  import graft.functions.FloatVecDot.dot

  // ── deterministic coefficient tables (seeded LCG, no RNG at plan time) ──
  private def lcgStream(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)

  private val P30 = 1073741789L // prime < 2^30

  /** 16 (a, b) pairs for the MinHash universal-hash family. */
  private val minhashCoef: Seq[(Long, Long)] = {
    val it = lcgStream(42L)
    Seq.fill(16)(((math.abs(it.next()) % (P30 - 2)) + 1,
      math.abs(it.next()) % P30))
  }

  /** Sign-LSH over the `embedding` column: 8 bands of `perBand`
    * seeded hyperplanes × 64 dims in [-1, 1], stored as float arrays
    * so one codegen'd FloatVecSignBuckets call computes every band's
    * sign pattern (the higher-order aggregate/zip_with alternative
    * runs interpreted). */
  private final class SignLsh(seed: Long, perBand: Int) {
    private val planes: Seq[Seq[Float]] = {
      val it = lcgStream(seed)
      Seq.fill(8 * perBand)(Seq.fill(64)(
        ((math.abs(it.next()) % 2001) / 1000.0 - 1.0).toFloat))
    }

    /** One `(band, bucket)` row per band. */
    def buckets: Column = posexplode(graft.functions.FloatVecSignBuckets
      .buckets(col("embedding"), planes, 8, perBand))

    /** Hamming-1 multi-probe of `bucket`: itself, then each of its
      * `perBand` one-bit flips, one row each. */
    def probes(bucket: Column): Column =
      explode(array((0L +: (0 until perBand).map(p => 1L << p)).map(f =>
        bucket.bitwiseXOR(lit(f))): _*))
  }

  /** 4 planes per band for top-k search (s2). */
  private val topkLsh = new SignLsh(7L, 4)

  /** 16 planes per band for the near-dup LSH (d5b): a 2^-16
    * random-pair band-collision rate — near-dup detection needs far
    * more selective buckets than top-k search, where missing a
    * candidate only costs rank quality. */
  private val ndupLsh = new SignLsh(19L, 16)

  // Every `dot` here is the exact (order-independent) FloatVecDot:
  // per-position double products rounded onto a 15-decimal grid and
  // summed with exact integer arithmetic — `sum(cast(x*y as
  // decimal(18,15)))` as a native codegen'd expression.

  /** Cosine of two embedding columns on that grid, rounded to 12
    * places — the grid the top-k and near-dup oracles compare on. */
  private def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), 12)

  /** Exact vector collapse (exact-then-near): one `(vec_id, embedding)`
    * row per byte-identical embedding, under its min id — one shuffle
    * on the full array as the group key, no hash-collision risk. */
  private def exactReps(e: DataFrame): DataFrame =
    e.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("embedding"))

  /** Exact text collapse (exact-then-near): one `(doc_id, text)` row per
    * normalized text — one md5 hash-shuffle, the min-doc_id
    * representative kept. Identity on an exact-dup-free corpus. */
  private def textReps(docs: DataFrame): DataFrame =
    docs.groupBy(md5(norm(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"))
      .select(col("doc_id"), col("text"))

  /** Perturbed copies (ids + 1000000, cosine ≈ 0.9999) of the vectors
    * with id < 50: the near-dups d5b and d11 must recover.
    * INTEGER-derived so the oracle can replicate it bit-for-bit:
    * delta = 0.001·k with k = (31·vec_id + i) mod 7 − 3 ∈ [−3, 3] —
    * every step (int arithmetic, one double multiply, one double add,
    * one float cast) is exactly reproducible IEEE in both engines,
    * unlike the pre-r9 sin() whose libm vs StrictMath ulps could flip
    * the rounded cosine grid.
    */
  private def nearDupCopies(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("""transform(embedding,
             (x, i) -> cast(x + 0.001d *
               cast(pmod(vec_id * 31 + i, 7) - 3 as double) as float))""")
          .as("embedding"))

  /** DuckDB rendering of the corpus plus [[nearDupCopies]] on the
    * cosine grid: `flat0` the embeddings, `inj` the copies, `flat` both,
    * and the [[Q.gridCosinesSql]] CTEs over every pair a < b. */
  private val injectedGridSql = s"""flat0 AS (${Q.flatSql("embeddings")}),
        inj AS (SELECT vec_id + 1000000 AS vec_id, pos,
            cast(cast(val + cast(0.001 as double) *
              cast((vec_id * 31 + pos - 1) % 7 - 3 as double)
              as float) as double) AS val
          FROM flat0 WHERE vec_id < 50),
        flat AS (SELECT * FROM flat0 UNION ALL SELECT * FROM inj),
        ${Q.gridCosinesSql("x.vec_id < y.vec_id")}"""

  /** Exact collapse of the top-k candidate side (vec_id >= 10): one
    * `(embedding, rep_id, member_ids)` row per distinct vector under its
    * min id, and the `(rep_id, cand_id)` map back to every member. The
    * one aggregation carries the mapping out (collect_list), so the
    * final expansion joins on the 8-byte rep_id instead of re-hashing
    * the 256-byte float array. Identity on a dup-free corpus. */
  private def candidateReps(e: DataFrame): (DataFrame, DataFrame) = {
    val grouped = e.filter(col("vec_id") >= 10).groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep_id"),
        collect_list(col("vec_id")).as("member_ids"))
    (grouped, grouped.select(col("rep_id"),
      explode(col("member_ids")).as("cand_id")))
  }

  /** Sorted-neighborhood pairing: each row of `df` next to the `n` rows
    * after it in `w`'s bucket order, one row per neighbor — `keep` plus
    * the neighbor's `member` as `out` — in one window pass (lead()
    * arrays), never a rank-probe self-join. Pair volume is ≤ n per row,
    * linear at any bucket skew. */
  private def nextInBucket(df: DataFrame, w: WindowSpec, n: Int,
      member: Column, out: String, keep: Column*): DataFrame =
    df.withColumn("nbrs", array((1 to n).map(i => lead(member, i).over(w)): _*))
      .select(keep :+ explode(col("nbrs")).as(out): _*)
      .filter(col(out).isNotNull)

  /** Recall verdict of an approximate result: `(<queries>, recall_ok)`,
    * the distinct `query` count of `truth` and whether the `hits` (truth
    * rows the result also holds) reach `floor` of it. */
  private def recallVerdict(truth: DataFrame, hits: DataFrame,
      query: String, queries: String, floor: Double): DataFrame = {
    val nHits = hits.groupBy().agg(count(lit(1)).as("n_hits"))
    val totals = truth.groupBy().agg(count(lit(1)).as("n_truth"),
      countDistinct(col(query)).as(queries))
    totals.join(nHits)
      .select(col(queries),
        (col("n_hits").cast("double") / col("n_truth") >= floor)
          .as("recall_ok"))
  }

  /** Top-5 member ids per query from `(query_id, rep_id, cosine)` rep
    * scores: rank() (not row_number) cuts the REP list, so cosine ties
    * keep every tied vector and the expansion through `memberMap`
    * (`rep_id → cand_id`) is a superset of the exact top-5 ids; the
    * final (cosine desc, cand_id) cut is exact. */
  private def topMembers(scored: DataFrame, memberMap: DataFrame): DataFrame = {
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc)
    val topReps = scored.withColumn("rk", rank().over(wr))
      .filter(col("rk") <= 5)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    topReps.join(memberMap, Seq("rep_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("cand_id"), col("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** Exact brute-force top-5 `(query_id, cand_id, cosine, rank)` of
    * the 10 query vectors (id < 10) over the rest: broadcast query set,
    * one corpus scan, no shuffle; norms computed once per side. */
  private def bruteTop5(e: DataFrame): DataFrame = {
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    val cands = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        sqrt(dot(col("embedding"), col("embedding"))).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    cands.join(broadcast(queries))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 12)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  /** Shuffle-free nearest-cell assignment (r15, guide §2.4 "remove
    * shuffles outright").
    *
    * The r8-r14 form joined every row against the broadcast centroid
    * table and ranked the k copies with a per-id row_number window:
    * correct, but the window is an Exchange+Sort of n×k rows that
    * carries the 256-byte embedding payload k times — one such
    * exchange pair per assignment in EVERY IVF consumer
    * (s3/s3b/s4/s4b/d11). The centroids are driver-side the whole
    * time ([[trainCentroids]] returns k×dim floats), so top-nprobe
    * selection needs no data movement at all: score the k cells in
    * one array-of-struct projection, sort the k-element array inside
    * the row, take the first nprobe, explode. Values and order are
    * bit-identical to the window form — the same FloatVecDot dots on
    * the same operands and the same (cent_dot DESC, cent_id ASC)
    * tiebreak, stated as an explicit comparator rather than a sort
    * key so no numeric negation trick can disturb ties.
    *
    * Appends `cent_id` and `cent_dot` (nprobe rows per input row);
    * when `normalizeBy` is set the dot is divided by that column
    * (knnGraph/d11 rank cells by cosine, not raw dot).
    */
  private[graft] def assignCells(df: DataFrame, vec: Column, nprobe: Int,
      cents: Seq[(Int, Seq[Float])],
      normalize: Boolean = false): DataFrame = {
    val scored = array(cents.map { case (cid, cv) =>
      val d0 = dot(vec, typedlit(cv))
      val d = if (normalize) d0 / sqrt(dot(vec, vec)) else d0
      struct(d.as("cent_dot"), lit(cid).as("cent_id"))
    }: _*)
    val byDotDescIdAsc = (l: Column, r: Column) =>
      when(l("cent_dot") > r("cent_dot"), -1)
        .when(l("cent_dot") < r("cent_dot"), 1)
        .when(l("cent_id") < r("cent_id"), -1)
        .when(l("cent_id") > r("cent_id"), 1)
        .otherwise(0)
    df.withColumn("_cell",
        explode(slice(array_sort(scored, byDotDescIdAsc), 1, nprobe)))
      .withColumn("cent_id", col("_cell.cent_id"))
      .withColumn("cent_dot", col("_cell.cent_dot"))
      .drop("_cell")
  }

  /** Spherical k-means coarse quantizer for IVF (s3): Lloyd iterations
    * expressed as Spark aggregations. Assignment is a broadcast-join
    * argmax (`max_by` — one partial→final HashAggregate, no window
    * sort); the update is one HashAggregate over (centroid, dim). Only
    * aggregate results (k vectors at init, k×dim means per iteration)
    * ever reach the driver — never corpus rows — so training scales
    * exactly like any other groupBy.
    *
    * Deterministic end-to-end: seeded init (the k lowest-id vectors),
    * fixed iteration count, order-independent decimal-grid dot products
    * and decimal mean sums, smallest-centroid-id assignment tiebreak.
    */
  private[graft] def trainCentroids(s: SparkSession, e0: DataFrame,
      k: Int, iters: Int): Seq[(Int, Seq[Float])] = {
    // the training set is scanned 2x per Lloyd iteration; persist it
    // for the (bounded) lifetime of training and release before
    // returning — at 100 TB the training input is a sample, so the
    // cached footprint is the sample size, not the corpus
    val e = e0.persist()
    try {
      trainCentroidsOn(s, e, k, iters)
    } finally e.unpersist()
  }

  /** The 16 IVF cells every ANN key shares: trained on an ABSOLUTELY
    * bounded sample (the first 5000 vec ids — a no-op below sf1, the
    * whole point above it): quantizer quality needs a representative
    * sample, not the corpus, and training cost must not scale with the
    * data. */
  private def sampleCentroids(s: SparkSession,
      e: DataFrame): Seq[(Int, Seq[Float])] =
    trainCentroids(s, e.filter(col("vec_id") < 5000)
      .select(col("vec_id"), col("embedding")), k = 16, iters = 3)

  private def trainCentroidsOn(s: SparkSession, e: DataFrame,
      k: Int, iters: Int): Seq[(Int, Seq[Float])] = {
    import s.implicits._
    def normalize(v: Array[Double]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (if (n == 0) 0.0 else x / n).toFloat).toSeq
    }
    var cents: Seq[(Int, Seq[Float])] = e
      .filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => i -> normalize(v.map(_.toDouble).toArray) }
    for (_ <- 0 until iters) {
      // argmax as a pure projection (r15): the centroids are already
      // driver-side, so per-row best-cell selection needs neither the
      // broadcast join (n×k rows) nor the groupBy(vec_id) exchange the
      // old max_by form paid each iteration — greatest() over k
      // (d, -cent_id) structs is the same (d DESC, cent_id ASC) argmax
      // with zero data movement. Same dots, same tiebreak.
      // greatest() needs >= 2 args; with a single seed centroid the
      // argmax is that centroid by definition (ADVICE r15 — the old
      // max_by form handled k=1, this projection must too)
      val centStructs = cents.map { case (cid, cv) =>
        struct(dot(col("embedding"), typedlit(cv)).as("d"),
          lit(-cid).as("neg_id"), lit(cid).as("cent_id"))
      }
      val best =
        if (centStructs.size == 1) centStructs.head
        else greatest(centStructs: _*)
      val assigned = e
        .select(best.getField("cent_id").as("cent_id"), col("embedding"))
      // exact decimal sums keep the mean independent of partitioning;
      // 12 integer digits so raw (unnormalized) embeddings up to 1e12
      // cannot overflow the cast to null and silently skew the mean.
      // Stays OFF the dsum scaled-long policy: scale 12 exceeds
      // lsumDec's exact-division cap (<= 6), and the input is the
      // bounded k-means training sample, not a corpus scan
      val means = assigned
        .select(col("cent_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(24, 12))).cast("double") /
          count(lit(1))).as("m"))
        .as[(Int, Int, Double)].collect()
      val byId = means.groupBy(_._1).map { case (cid, rows) =>
        cid -> normalize(rows.sortBy(_._2).map(_._3))
      }
      cents = cents.map { case (cid, old) => cid -> byId.getOrElse(cid, old) }
    }
    cents
  }

  /** 64-bit SimHash per document: (doc_id, n_words, simhash).
    *
    * Bit-majority counting uses packed-lane sums in a two-level
    * aggregation so the counters are exact at any realistic document
    * length:
    *   - level 1 groups by (doc_id, 127-word chunk) and sums 8 longs
    *     of 8 independent 8-bit lanes — a chunk holds ≤ 127 words, so
    *     a lane cannot carry into its neighbor and the top lane's
    *     weighted sum (127·2^56·…) stays under Long.Max;
    *   - level 2 spreads each 8-bit lane into a 32-bit slot (mask
    *     0x000000FF000000FF shifted — two lanes per long, 32 sums) and
    *     sums per doc — exact up to 2^31 words per document, with a
    *     raise_error guard past that instead of a silent wrap.
    * The pre-round-3 single-level version silently corrupted the
    * simhash of any ≥ 256-word document. Everything here is codegen'd
    * HashAggregates — higher-order array folds would run interpreted
    * and re-evaluate the hash per fold; level 1's map-side combine
    * does the bulk reduction, so level 2's 33 buffers only ever see
    * one row per 127 words.
    */
  private[graft] def simhash64(docs: DataFrame): DataFrame = {
    val LANES8 = 0x0101010101010101L
    val SPREAD = 0x000000FF000000FFL // lanes k and k+4 → 32-bit slots
    val hashed = docs
      .select(col("doc_id"),
        posexplode(words(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id"), (col("pos") / 127).cast("int").as("chk"),
        xxhash64(col("w")).as("wh"))
    val lvl1Aggs = count(lit(1)).as("cn") +: (0 until 8).map { j =>
      sum(shiftright(col("wh"), j).bitwiseAND(LANES8)).as(s"p_$j")
    }
    val lvl1 = hashed.groupBy(col("doc_id"), col("chk"))
      .agg(lvl1Aggs.head, lvl1Aggs.tail: _*)
    val lvl2Aggs = sum(col("cn")).as("n_words") +: (0 until 8).flatMap { j =>
      (0 until 4).map { k =>
        sum(shiftrightunsigned(col(s"p_$j"), 8 * k).bitwiseAND(SPREAD))
          .as(s"q_${j}_$k")
      }
    }
    val packed = lvl1.groupBy(col("doc_id"))
      .agg(lvl2Aggs.head, lvl2Aggs.tail: _*)
    // bit b lived in 8-bit lane l = b/8 of p_{b%8}; after the spread it
    // is the (l/4)-th 32-bit slot of q_{b%8}_{l%4}
    def cnt(b: Int): Column = {
      val (j, l) = (b % 8, b / 8)
      shiftrightunsigned(col(s"q_${j}_${l % 4}"), 32 * (l / 4))
        .bitwiseAND(0xFFFFFFFFL)
    }
    val sim = (0 until 64).map { b =>
      when(cnt(b) * 2 > col("n_words"), lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    packed.select(col("doc_id"), col("n_words"),
      when(col("n_words") < (1L << 31), sim)
        .otherwise(raise_error(concat(
          lit("simhash64: document "), col("doc_id"), lit(" has "),
          col("n_words"),
          lit(" words, beyond the 2^31-word exact-counter capacity"))))
        .as("simhash"))
  }

  /** LSH candidate pairs from a MinHash signature table
    * `(doc_id, sig: array<long>[16])`, bounded two ways:
    *
    *  - **r=2 banding**: 8 bands, each keyed by the hash of a PAIR of
    *    minhashes, so a random pair collides in a band with
    *    probability s² (s = true jaccard) instead of s — mildly
    *    self-similar corpora no longer flood the buckets (the round-5
    *    r=1 form put every pair sharing ANY single minhash in a
    *    bucket).
    *  - **sorted-neighborhood cap** (same as d4): docs rank by id
    *    within each bucket and pair only with their next 8 neighbors,
    *    as a pure equi-join on (band, bh, rank) — candidate count is
    *    ≤ 8·8·n by construction (BandBoundSpec injects a 100-strong
    *    mutual near-dup cluster to pin this), and the quadratic
    *    intermediate never materializes at any scale. A true dup
    *    cluster stays fully discoverable through neighborhood
    *    chaining: consecutive members pair in every band.
    */
  private[graft] def minhashCandidates(mhArr: DataFrame): DataFrame = {
    val bands = mhArr.select(col("doc_id"),
      posexplode(array((0 until 8).map { j =>
        xxhash64(col("sig")(2 * j), col("sig")(2 * j + 1))
      }: _*)).as(Seq("band", "bh")))
    // next-8 pairing as lead() arrays in one window pass (s4's
    // trick, as in d4's exact buckets): exploding 8 rank probes per
    // row and equi-joining them back on (band, bh, rn) would pay a
    // second exchange+sort of 8n rows for pairs the window already
    // sees.
    val wb = Window.partitionBy(col("band"), col("bh"))
      .orderBy(col("doc_id"))
    nextInBucket(bands, wb, 8, col("doc_id"), "b", col("doc_id").as("a"))
      .distinct()
  }

  /** Shared DuckDB oracle for the near-dup DETECTORS (d2, d4): the
    * exact all-pairs trigram-jaccard duplicate list over the
    * exact-dedup representatives. Both approximate candidate
    * generators must recover it completely at the gate's corpus scale
    * — their exact-verification stage already guarantees zero false
    * positives, so a full-recall generator makes the gate output
    * EQUAL the exact answer (the r8 sf0.01 margin: 25 true pairs at
    * j ≥ 0.9, nothing between 0.2 and 0.9). Quadratic by design —
    * gate-scale only, excluded from the large-SF bench replay.
    */
  private val dupPairsOracle =
    s"""WITH reps AS (
        SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
        FROM documents
        GROUP BY md5($normSql)),
      docs AS (SELECT doc_id, $wordsSql AS words
        FROM reps),
      ${Q.trigramOverlapSql}
      SELECT a, b, jaccard FROM jac
      WHERE jaccard >= 0.5
      ORDER BY a, b"""

  /** Exact trigram-jaccard verification of candidate pairs `(a, b)`:
    * joins each pair's distinct 128-bit trigram signatures `sh` (never
    * the 30-bit `sh30`, whose collisions would shift the reported
    * jaccard off the oracle grid; two signatures collide with ~2^-128
    * chance, so the counts are the string-keyed oracle's) and keeps
    * pairs at or above `thresh`. Cost is |candidates| ×
    * shingles-per-doc via two (doc, shingle) equi-joins — linear in
    * the candidate count, the 100 TB-safe order of operations (exact
    * verification never touches non-candidate pairs).
    */
  private def verifyJaccard(cands: DataFrame, tri: DataFrame,
      thresh: Double): DataFrame = {
    // Every join is inner, so `cands` executes once and its broadcast
    // is reused; that drops a pair with ZERO shared shingles, which
    // can never reach the output when thresh > 0 (required below). A
    // left_outer join that re-attached such pairs cannot build its
    // left side, so the whole candidate DAG (bands/buckets, windows,
    // distinct) executed a second time as the streamed side. Two
    // rejected variants, both measured:
    //   - carrying per-doc sizes on the shingle rows via a window
    //     count (tri 2x instead of 4x): the two full-row
    //     Exchange+Sorts the window needs cost MORE than the two
    //     saved shingle-subtree executions at every SF tried (d4
    //     sf100 min-leg 14.3 s vs 9.2 s here; sf0.1 9.5 vs 8.0);
    //   - semi-filtering the shingle stream to candidate docs before
    //     the distinct: the extra materialization wave + raw-stream
    //     probe lost at sf0.1 (d2 1.9 → 4.5 s) with no sf100 payback.
    require(thresh > 0,
      "verifyJaccard: inner-join form drops zero-intersection pairs, " +
        "which is only equivalent for a strictly positive threshold")
    val inter = cands
      .join(tri.select(col("doc_id").as("a"), col("sh")), "a")
      .join(tri.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("ni"))
    Q.jaccard(inter, tri)
      .select(col("a"), col("b"), col("jaccard"))
      .filter(col("jaccard") >= thresh)
      .orderBy(col("a"), col("b"))
  }

  /** Shared DuckDB oracle for top-k retrieval (s1, s2, s3): exact
    * brute-force cosine top-5 per query on the decimal(18,15) grid.
    * For the approximate indexes this is the r9 driver gate: at the
    * gate's corpus scale their candidate stages achieve full recall
    * (measured, deterministic — seeded hyperplanes / seeded k-means,
    * exact decimal cosines), so their output EQUALS the exact top-k;
    * AnnSpec keeps the recall floors that hold at any scale.
    */
  private val topkOracle = s"""WITH flat AS (${Q.flatSql("embeddings")}),
        ${Q.gridCosinesSql("x.vec_id < 10 AND y.vec_id >= 10")},
        scored AS (SELECT a AS query_id, b AS cand_id,
            round(cosine, 12) AS cosine FROM cosines),
        ranked AS (SELECT query_id, cand_id, cosine,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rank
          FROM scored)
        SELECT query_id, cand_id, cosine, rank
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank"""

  /** s4's graph builder, shared by the bench/spec key (the graph
    * itself) and the r9 driver gate key s4b (its exact-recall
    * evaluation summary). */
  private def knnGraph(s: SparkSession, dir: String): DataFrame = {
        val K = 3
        val W = 48
        val e = t(s, dir, "embeddings")
        val reps = exactReps(e)
        val centroids = sampleCentroids(s, e)
        // 3-cell multi-assignment as a pure projection (r15) — see
        // [[assignCells]]; was a broadcast join + per-vec row_number
        // window (an Exchange+Sort of n×16 embedding-carrying rows)
        val assigned = assignCells(reps, col("embedding"), nprobe = 3,
            cents = centroids, normalize = true)
          .select(col("cent_id"), col("vec_id"), col("cent_dot"))
        val wCell = Window.partitionBy(col("cent_id"))
          .orderBy(col("cent_dot").desc, col("vec_id"))
        val fwd = nextInBucket(assigned, wCell, W, col("vec_id"), "nbr_id",
          col("vec_id"))
        val candIds = fwd
          .union(fwd.select(col("nbr_id").as("vec_id"),
            col("vec_id").as("nbr_id")))
          .distinct()
        def scorePairs(cand: DataFrame): DataFrame = cand
          .join(reps.select(col("vec_id"), col("embedding").as("xv")),
            Seq("vec_id"))
          .join(reps.select(col("vec_id").as("nbr_id"),
            col("embedding").as("yv")), Seq("nbr_id"))
          .select(col("vec_id"), col("nbr_id"),
            cosine(col("xv"), col("yv")).as("cosine"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        // one NN-descent refinement round: a vector's true neighbor is
        // very likely a neighbor-of-a-neighbor in the provisional
        // graph, so compose the (undirected) top-K edges once and
        // rescore — Θ((2K)²·n) extra pairs, linear in n, and it buys
        // back the recall the W-bounded neighborhood gives up vs the
        // quadratic all-pairs form this replaced.
        // expand from a wider provisional graph (top-8, not top-K):
        // composition through rank-4..8 edges is what reaches the
        // neighbors the 1-D neighborhood ordering missed
        val g0 = scorePairs(candIds)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 8)
          .select(col("vec_id"), col("nbr_id"))
        val ug = g0.union(
          g0.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
        val expanded = ug.as("a").join(ug.as("b"),
            col("a.nbr_id") === col("b.vec_id") &&
              col("a.vec_id") =!= col("b.nbr_id"))
          .select(col("a.vec_id").as("vec_id"), col("b.nbr_id").as("nbr_id"))
        val cand2 = candIds.union(expanded).distinct()
        scorePairs(cand2).withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select(col("vec_id"), col("nbr_id"), col("cosine"),
            col("rank").cast("long").as("rank"))
          .orderBy(col("vec_id"), col("rank"))
  }

  /** s3's IVF top-k builder, shared by the operator key and its
    * r9 driver recall gate (s3b). */
  private def ivfTopk(s: SparkSession, dir: String): DataFrame = {
        val e = t(s, dir, "embeddings")
        val centroids = sampleCentroids(s, e)
        // nprobe-cell assignment is a pure projection since r15 — see
        // [[assignCells]]; the old broadcast-join + row_number window
        // paid an Exchange+Sort of n×16 embedding-carrying rows per
        // assignment (plan diff: plans/r15/s3_ann_ivf_{before,after}.txt)
        def assign(df: DataFrame, vec: Column, nprobe: Int): DataFrame =
          assignCells(df, vec, nprobe, centroids).drop("cent_dot")
        // exact-then-near (same collapse as s2/d5b): byte-identical
        // corpus vectors fill inverted lists ONCE via their min-id
        // representative
        val (grouped, memberMap) = candidateReps(e)
        val cands = assign(
          grouped.select(col("rep_id"), col("embedding").as("cv")),
          col("cv"), nprobe = 2)
        val queries = assign(
          e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
          col("qv"), nprobe = 4)
        val scored = queries.join(cands, Seq("cent_id"))
          .select(col("query_id"), col("rep_id"),
            cosine(col("qv"), col("cv")).as("cosine"))
          .distinct()
        topMembers(scored, memberMap)
  }

  def queries: Map[String, Q] = Map(
    // ─── d2: MinHash + LSH near-dup candidates, exact-verified ───
    // Gate output = the exact-verified duplicate pairs (jaccard ≥ 0.5
    // on word trigrams), which the driver's DuckDB oracle recomputes
    // as the full all-pairs answer: banding/bucketing stays
    // engine-specific, but a full-recall candidate stage makes the
    // verified output EQUAL the exact duplicate list.
    "d2_dedup_minhash" -> Q(
      (s, dir) => {
        // Exact duplicates are collapsed FIRST (one md5 hash-shuffle,
        // keep the min-doc_id representative). LSH candidate
        // enumeration is Ω(near-dup pairs); a corpus with k exact
        // copies of a document would otherwise put k identical
        // signatures in every band and pay k² candidate pairs for
        // what the O(n) exact pass resolves outright — the standard
        // dedup-pipeline ordering (exact → near) at 100 TB. On an
        // exact-dup-free corpus this pre-step is the identity.
        val reps = textReps(t(s, dir, "documents"))
        val tri = shingles(reps)
        // 16 minhashes per doc, one shuffle
        val mhAggs = minhashCoef.zipWithIndex.map { case ((a, b), i) =>
          min(pmod(col("sh30") * a + b, lit(P30))).as(s"mh_$i")
        }
        val mh = tri.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
        val mhArr = mh.select(col("doc_id"),
          array((0 until 16).map(i => col(s"mh_$i")): _*).as("sig"))
        // exact-verify ONLY candidates (the 100 TB-safe order of
        // operations): jaccard on trigram signatures, the oracle's grid
        verifyJaccard(minhashCandidates(mhArr), tri, thresh = 0.5)
      },
      Some(dupPairsOracle), quadraticOracle = true),

    // ─── d4: SimHash near-dup (64-bit, 16-bit-chunk banding) ───
    // Signatures come from [[simhash64]] (two-level exact packed-lane
    // majority counters, loud failure past 65,535 words); banding +
    // sorted-neighborhood candidate generation below.
    "d4_dedup_simhash" -> Q(
      (s, dir) => {
        // exact-then-near: byte-identical texts collapse to their
        // min-id representative BEFORE the (word-hash-heavy) simhash
        // pass — exact pairs are d1's O(n) job, and every reported
        // pair here is genuinely near-but-not-exact. Identity on a
        // dup-free corpus.
        val reps = textReps(t(s, dir, "documents"))
        val sim = simhash64(reps)
          .select(col("doc_id"), col("simhash"))
        val chunks = sim.select(col("doc_id"), col("simhash"),
          explode(array((0 until 4).map { c =>
            struct(lit(c).as("chunk"),
              shiftrightunsigned(col("simhash"), 16 * c)
                .bitwiseAND(0xFFFFL).as("cval"))
          }: _*)).as("ck"))
          .select(col("doc_id"), col("simhash"),
            col("ck.chunk").as("chunk"), col("ck.cval").as("cval"))
        // Sorted-neighborhood bound: similar corpora collide heavily on
        // 16-bit chunks, so an unbounded bucket self-join is quadratic.
        // Rank docs within each bucket and pair each doc only with its
        // next 8 neighbors — as a pure equi-join on (chunk, cval, rank),
        // so the quadratic intermediate never materializes at any scale.
        val wb = Window.partitionBy(col("chunk"), col("cval"))
          .orderBy(col("doc_id"))
        // next-8 pairing as lead() arrays in the SAME window pass that
        // ranks the bucket (s4's trick): exploding 8 rank probes per
        // row and equi-joining them back on (chunk, cval, rn) would
        // pay a second full exchange+sort of 8n rows the window
        // operator already has in hand.
        val ranked = chunks.withColumn("rn", row_number().over(wb))
        val exactBucket = nextInBucket(ranked, wb, 8,
            struct(col("doc_id"), col("simhash")), "nb",
            col("doc_id").as("a"), col("simhash").as("sim_a"))
          .select(col("a"), col("nb.doc_id").as("b"),
            col("sim_a"), col("nb.simhash").as("sim_b"))
        // hamming-1 multiprobe (the s2/d5b trick on the simhash index):
        // each doc additionally probes the 16 buckets one bit away per
        // chunk, pairing with that bucket's first 8 members. Pigeonhole
        // now guarantees a collision up to total hamming 7 (4 chunks,
        // h ≤ 7 → some chunk flips ≤ 1 bit) where the exact-bucket
        // form only covered h ≤ 3 — the r9 gate measurement found true
        // near-dups (j ≥ 0.95!) at hamming 4-5 with every chunk dirty.
        // Probe volume stays linear: 4 chunks × 16 flips × 8 members.
        val headMembers = ranked.filter(col("rn") <= 8)
          .select(col("doc_id").as("b"), col("simhash").as("sim_b"),
            col("chunk"), col("cval"))
        val flipped = ranked.select(col("doc_id").as("a"),
            col("simhash").as("sim_a"), col("chunk"),
            explode(array((0 until 16).map(bit =>
              col("cval").bitwiseXOR(lit(1L << bit))): _*)).as("cval"))
          .join(headMembers, Seq("chunk", "cval"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"),
            col("sim_a"), col("sim_b"))
        // hamming pre-filter (≤ 12 of 64 bits) keeps only
        // signature-close candidates, then the exact trigram-jaccard
        // pass (same oracle grid as d2) confirms them: the gate output
        // is the exact duplicate list, reached through the simhash
        // index. The filter runs FIRST (cheap, narrows) and the one
        // distinct runs on the projected 16-byte id pair: a distinct
        // on (a, b, sim_a, sim_b) could not merge a pair both probes
        // find (flipped attaches the sims before the swap, so the same
        // (a, b) carries swapped sim columns).
        val cands = exactBucket.unionByName(flipped)
          .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 12)
          .select(col("a"), col("b")).distinct()
        verifyJaccard(cands, shingles(reps.select(col("doc_id"), col("text"))),
          thresh = 0.5)
      },
      Some(dupPairsOracle), quadraticOracle = true),

    // ─── d5: embedding-cosine near-dup pairs (exact oracle) ───
    "d5_embed_neardup" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings").filter(col("vec_id") < 200)
          .select(col("vec_id"), col("embedding"))
        val norms = e.select(col("vec_id").as("nid"),
          dot(col("embedding"), col("embedding")).as("nrm"))
        val pairs = e.as("x").join(e.as("y"),
            col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
            dot(col("x.embedding"), col("y.embedding")).as("dot"))
        pairs
          .join(norms.select(col("nid").as("a"), col("nrm").as("na")), "a")
          .join(norms.select(col("nid").as("b"), col("nrm").as("nb")), "b")
          .withColumn("cosine",
            round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 12))
          .filter(col("cosine") > 0.3)
          .select(col("a"), col("b"), col("cosine"))
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH flat AS (${Q.flatSql("embeddings WHERE vec_id < 200")}),
        ${Q.gridCosinesSql("x.vec_id < y.vec_id")}
        SELECT a, b, round(cosine, 12) AS cosine FROM cosines
        WHERE round(cosine, 12) > 0.3
        ORDER BY a, b""")),

    // ─── d5b: LSH-bucketed embedding near-dup (the scale path) ───
    // d5 is the capped exact oracle (all-pairs on 200 vectors, fenced
    // by construction). This is the full-corpus version, and like d1b
    // it proves itself by injecting its own targets: perturbed copies
    // (cosine ≈ 0.9999) of the first 50 vectors join the corpus, and
    // the operator must recover every (original, copy) pair WITHOUT
    // materializing the quadratic pair space. Candidates come only
    // from sign-LSH band buckets — 8 bands × 16 planes, so two random
    // vectors share a band with p ≈ 2^-16 (the corpus costs ~n·bands
    // rows), while hamming-1 multi-probe holds near-dup recall at
    // ≈ 1.0. Exact FloatVecDot cosine runs on candidates only; pair
    // recovery is asserted in NearDupSpec (rows-only: banding is
    // engine-specific). Near-dup LSH needs these much more selective
    // buckets than top-k search (s2): here a collision must *mean*
    // near-identical, not merely similar.
    "d5b_embed_neardup_lsh" -> Q(
      (s, dir) => {
        // exact-then-near, like d2: byte-identical vectors collapse to
        // their min-id representative first (one shuffle on the full
        // array as the group key — exact, no hash-collision risk).
        // A corpus with k exact copies of a vector holds k²/2 true
        // near-dup pairs; listing them is the exact pass's O(n) job,
        // not the LSH's.
        val e = exactReps(t(s, dir, "embeddings"))
        val corpus = e.unionByName(nearDupCopies(e))
        val sigs = corpus.select(col("vec_id"),
          ndupLsh.buckets.as(Seq("band", "bucket")))
        val probes = sigs.select(col("vec_id"), col("band"),
          ndupLsh.probes(col("bucket")).as("bucket"))
        val cands = probes.as("x").join(sigs.as("y"),
            col("x.band") === col("y.band") &&
              col("x.bucket") === col("y.bucket") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
          .distinct()
        val withVecs = cands
          .join(corpus.select(col("vec_id").as("a"),
            col("embedding").as("av")), "a")
          .join(corpus.select(col("vec_id").as("b"),
            col("embedding").as("bv")), "b")
        withVecs.select(col("a"), col("b"),
            cosine(col("av"), col("bv")).as("cosine"))
          .filter(col("cosine") > 0.99)
          .orderBy(col("a"), col("b"))
      },
      // Oracle (r9; rows-only through r8): replicate the injection in
      // SQL, then the EXACT all-pairs cosine > 0.99 on the same
      // decimal(18,15) grid as d5 — the LSH candidate stage must have
      // full recall at gate scale (max natural pair cosine 0.51 vs
      // injected ≈ 0.9999, so the margin is 3 decades wide) and the
      // exact verify already guarantees zero spurious pairs.
      // Quadratic by design — gate-scale only, excluded from the
      // large-SF bench replay. Exact-dup collapse is omitted here: the
      // gate corpus has no byte-identical vectors (spec-pinned).
      Some(s"""WITH $injectedGridSql
        SELECT a, b, round(cosine, 12) AS cosine FROM cosines
        WHERE round(cosine, 12) > 0.99
        ORDER BY a, b"""), quadraticOracle = true),

    // ─── s1: brute-force cosine top-k (exact ANN baseline, oracled) ───
    "s1_ann_brute" -> Q(
      (s, dir) => bruteTop5(t(s, dir, "embeddings"))
        .select(col("query_id"), col("cand_id"), col("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank")),
      Some(topkOracle)),

    // ─── s2: sign-LSH bucketed approximate top-k (scale path; oracled
    // against exact brute-force top-k since r9 — full recall at gate
    // scale; AnnSpec keeps the any-scale floor) ───
    // 8 bands × 4 planes: a candidate is probed if it agrees with the
    // query on all 4 signs of ANY band. Queries additionally multi-probe
    // the 4 buckets at hamming distance 1 per band (one flipped sign),
    // which lifts recall without extra shuffles — probing is just more
    // rows on the small (query) side of the same equi-join. At 100 TB
    // the candidate volume per query stays |corpus| × P(collide)
    // per band; bands/planes are the recall/cost dials.
    "s2_ann_lsh" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        // exact-then-near (the d5b/d2 ordering): byte-identical corpus
        // vectors collapse to their min-id representative before any
        // bucket work — k exact copies would otherwise multiply every
        // probed bucket and every scored pair by k. Each distinct
        // vector is hashed and scored ONCE.
        val (grouped, memberMap) = candidateReps(e)
        val reps = grouped.select(col("embedding"), col("rep_id"))
        val candSigs = reps.select(col("rep_id"), col("embedding").as("cv"),
          topkLsh.buckets.as(Seq("band", "bucket")))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            topkLsh.buckets.as(Seq("band", "bucket0")))
          .select(col("query_id"), col("qv"), col("band"),
            topkLsh.probes(col("bucket0")).as("bucket"))
        val matched = queries.join(candSigs, Seq("band", "bucket"))
          .select(col("query_id"), col("rep_id"), col("qv"), col("cv"))
          .distinct()
        val scored = matched.select(col("query_id"), col("rep_id"),
          cosine(col("qv"), col("cv")).as("cosine"))
        topMembers(scored, memberMap)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(topkOracle)),

    // ─── s3: IVF-bucketed approximate top-k (oracled against exact
    // brute-force top-k since r9 — full recall at gate scale; AnnSpec
    // keeps the any-scale floor) ───
    // Coarse quantizer: 16 centroids trained by seeded spherical
    // k-means ([[trainCentroids]] — Lloyd iterations as Spark
    // aggregations; at 100 TB training runs once offline on a sample).
    // Every corpus vector is assigned to its 2 nearest centroids
    // (standard IVF multi-assignment: 2× index size buys recall with
    // no extra probe cost); a query probes its 4 nearest centroid
    // cells and scores exactly only inside them (r9: nprobe 3→4 —
    // one boundary-split true neighbor at gate scale sat in cell #4;
    // recall@5 is 0.98 after the bump, floored driver-side by s3b
    // below). The inverted lists
    // are just a partition key — candidate volume per query is
    // |corpus| * assign * nprobe / ncells.

    "s3_ann_ivf" -> Q(
      (s, dir) => ivfTopk(s, dir),
      // Approximate by design: IVF recall at nprobe=4 is high but not
      // 1.0 even at gate scale (one true rank-5 neighbor of query 6
      // sits in its 6th-nearest cell — probing 6 of 16 cells to chase
      // it would gut the index's selectivity story). Driver
      // visibility comes from the companion recall gate s3b below;
      // AnnSpec keeps the recall floor.
      None),

    // ─── s3b: driver-visible recall gate for the IVF index (r9) ───
    // Same pattern as s4b: exact recall@5 of the IVF results against
    // the brute-force truth (s1's own scoring — broadcast query set,
    // one corpus scan, no shuffle), emitted as an aggregate verdict
    // the DuckDB oracle can assert. Recall floor 0.9 (AnnSpec's own
    // bar); measured 0.98 at gate scale with nprobe=4.
    "s3b_ivf_recall_gate" -> Q(
      (s, dir) => {
        val ivf = ivfTopk(s, dir)
          .select(col("query_id"), col("cand_id"))
        val truth = bruteTop5(t(s, dir, "embeddings"))
          .select(col("query_id"), col("cand_id"))
        recallVerdict(truth, truth.join(ivf, Seq("query_id", "cand_id")),
          "query_id", "n_queries", floor = 0.9)
      },
      Some("""SELECT count(*) AS n_queries, true AS recall_ok
        FROM embeddings WHERE vec_id < 10""")),

    // ─── d11: SemDeDup — cluster-then-prune semantic dedup (oracled
    // from first principles since r9; injected-copy recovery also
    // asserted in SemDedupSpec) ───
    // The Abbas et al. 2023 recipe the big curation pipelines run:
    // k-means cluster the embedding space, then look for semantic
    // duplicates (cosine > eps) only WITHIN a cluster, keeping one
    // representative per duplicate group. Differs from d5/d5b (pair
    // *listing*) in that the output is the pruned corpus itself.
    //
    // Scale design, stage by stage:
    //   1. exact collapse: byte-identical vectors keep only their
    //      min-id copy (one hash shuffle on the array).
    //   2. quantizer: seeded spherical k-means on an absolutely
    //      bounded sample ([[trainCentroids]] — only k×dim aggregates
    //      reach the driver). k is fixed here; at corpus scale k grows
    //      ∝ n / target-cell-size (SemDeDup's own knob), which keeps
    //      every stage below linear-times-constant.
    //   3. candidates: each vector joins its 2 nearest cells (IVF
    //      multi-assignment, same trick as s3 — a near-dup pair split
    //      by a cell boundary still meets in one of the 2×2 cells);
    //      within a cell, members sort by cosine-to-centroid and only
    //      W=16 sorted neighbors pair up — near-identical vectors have
    //      near-identical centroid-cosines, so true dups are adjacent
    //      and the pair volume is ≤ cells·|cell|·W — linear in n, never
    //      quadratic (the d2/d4 sorted-neighborhood bound).
    //   4. verdict: exact decimal-grid cosine on candidates only;
    //      deterministic keep rule — a vector is dropped iff some
    //      lower-id vector within its neighborhood is near-identical
    //      (drop the larger id of every dup pair).
    "d11_semdedup" -> Q(
      (s, dir) => {
        import s.implicits._
        val EPS = 0.99
        val W = 16
        val e0 = t(s, dir, "embeddings")
        // the d5b near-dup copies of the first 50 vectors must all be
        // pruned, and only they may be
        val corpus = e0.select(col("vec_id"), col("embedding"))
          .unionByName(nearDupCopies(e0))
        // 1. exact collapse (k byte-identical copies are k-1 drops here,
        //    never k²/2 pairs downstream)
        val reps = exactReps(corpus)
        // 2. bounded-sample quantizer (shared machinery with s3)
        val centroids = sampleCentroids(s, e0)
        // 3. 2-nearest-cell assignment + sorted-neighborhood pairing.
        //    Assignment is a pure projection since r15 ([[assignCells]];
        //    was a broadcast join + per-vec row_number window). Pairing
        //    uses s4's lead()-array trick instead of the old ranked
        //    self-join: a SortMergeJoin on cent_id has only k=16
        //    distinct keys, so its per-key buffered scan evaluated
        //    Σ|cell|² ≈ n²/k pair predicates — QUADRATIC in n at fixed
        //    k — before the pos-range filter kept the linear W-band.
        //    The lead window emits exactly the (x, next-W-in-cell)
        //    pairs in one pass: O(n·W) work, no join, one fewer
        //    exchange (plan diff: plans/r15/d11_semdedup_*.txt).
        val assigned = assignCells(reps, col("embedding"), nprobe = 2,
            cents = centroids, normalize = true)
          .select(col("cent_id"), col("vec_id"), col("embedding"),
            col("cent_dot"))
        val wCell = Window.partitionBy(col("cent_id"))
          .orderBy(col("cent_dot").desc, col("vec_id"))
        val pairs = nextInBucket(assigned, wCell, W,
            struct(col("vec_id"), col("embedding")), "nb",
            col("vec_id"), col("embedding"))
          .select(
            least(col("vec_id"), col("nb.vec_id")).as("a"),
            greatest(col("vec_id"), col("nb.vec_id")).as("b"),
            col("embedding").as("av"), col("nb.embedding").as("bv"))
        // 4. exact verdict on candidates only; drop the larger id
        val drops = pairs
          .withColumn("cosine",
            dot(col("av"), col("bv")) /
              (sqrt(dot(col("av"), col("av"))) *
                sqrt(dot(col("bv"), col("bv")))))
          .filter(col("cosine") > EPS)
          .select(col("b").as("vec_id")).distinct()
        reps.join(drops, Seq("vec_id"), "left_anti")
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      // Oracle (r9; rows-only through r8): the SemDeDup answer from
      // first principles — drop every vector that has a strictly
      // lower-id vector with exact cosine > 0.99 anywhere in the
      // injected-augmented corpus. The clustered candidate stage must
      // therefore recover every true pair at gate scale (margin: max
      // natural cosine 0.51). Unrounded cosine compare, identical
      // IEEE division on identical decimal-grid operands. Quadratic —
      // gate-scale only, excluded from the large-SF bench replay.
      Some(s"""WITH $injectedGridSql,
        drops AS (SELECT DISTINCT b AS vec_id FROM cosines
          WHERE cosine > 0.99)
        SELECT vec_id FROM (
          SELECT DISTINCT vec_id FROM flat) all_ids
        WHERE vec_id NOT IN (SELECT vec_id FROM drops)
        ORDER BY vec_id"""), quadraticOracle = true),

    // ─── s4: IVF-bucketed kNN graph (rows-only; recall vs brute force
    // asserted in KnnGraphSpec) ───
    // The all-vectors top-k neighbor graph that SemDeDup-style
    // clustering, graph-based ANN indexes (NSW seeding), and
    // diversity-aware sampling all start from. Differs from s2/s3
    // (fixed query set → corpus) in that EVERY vector is a query, so
    // candidate generation must avoid the n² pair space on the corpus
    // itself:
    //   1. exact collapse — byte-identical vectors keep one
    //      representative (the d5b/d2 ordering).
    //   2. IVF cells — every rep joins its 3 nearest of 16 centroids
    //      (seeded spherical k-means on an absolutely bounded sample,
    //      shared [[trainCentroids]] machinery; 3-way multi-assignment
    //      is the graph analogue of s3's nprobe — both pair sides
    //      probe, so recall needs the extra cell). Within a cell,
    //      members sort by cosine-to-centroid and each pairs only its
    //      W=24 sorted neighbors (the d11 sorted-neighborhood bound —
    //      vectors close to each other have close centroid-cosines,
    //      and a pair missed in one shared cell's ordering gets two
    //      more chances in the other assigned cells). Pair volume is
    //      ≤ assign·n·W — LINEAR in n at FIXED k, where the pre-r8
    //      all-pairs form was Σ|cell|² (quadratic at fixed k; it was
    //      already the most expensive bench entry at 2000 vectors).
    //      The pairing itself is one window pass emitting W lead()
    //      columns — no self-join, no 16-key skewed shuffle beyond
    //      the window's own partitioning.
    //   3. id-pair dedup BEFORE vectors re-join: pairs sharing both
    //      cells dedup on 16 bytes of ids, never on the 256-byte
    //      arrays; exact decimal-grid cosine runs once per pair side.
    //   4. per-vector top-3 by a bounded window (candidates per
    //      vector ≤ 2·assign·W, a constant).
    "s4_knn_graph" -> Q(
      (s, dir) => knnGraph(s, dir),
      None),

    // ─── s4b: driver-visible recall gate for the kNN graph (r9) ───
    // s4 is approximate by design (recall@3 floor 0.75 in
    // KnnGraphSpec) and its edge list cannot hash-match an exact
    // oracle — so this companion key makes its health visible to the
    // driver: compute exact brute-force top-3 for an ABSOLUTELY
    // bounded query subset (rep ids < 100 — O(|eval|·n) pairs, linear
    // in the corpus), intersect with the graph's edges, and emit the
    // aggregate verdict. The oracle recomputes n_eval and asserts the
    // recall floor held; a silent recall regression below 0.75 goes
    // red driver-side instead of only in the spec run.
    "s4b_knn_recall_gate" -> Q(
      (s, dir) => {
        val K = 3
        val graph = knnGraph(s, dir)
          .filter(col("vec_id") < 100)
          .select(col("vec_id"), col("nbr_id"))
        val reps = exactReps(t(s, dir, "embeddings"))
        val evalQ = reps.filter(col("vec_id") < 100)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        val scored = reps.join(broadcast(evalQ),
            col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("nbr_id"),
            cosine(col("qv"), col("embedding")).as("cosine"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        val truth = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("nbr_id"))
        recallVerdict(truth, truth.join(graph,
            truth("q_id") === graph("vec_id") &&
              truth("nbr_id") === graph("nbr_id")),
          "q_id", "n_eval", floor = 0.75)
      },
      Some("""WITH reps AS (
          SELECT min(vec_id) AS vec_id FROM embeddings GROUP BY embedding)
        SELECT count(*) AS n_eval, true AS recall_ok
        FROM reps WHERE vec_id < 100""")),
  )
}
