package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for the LLM-training-data pipeline:
  * sequence packing and stratified sampling (beyond the reference's
  * adapter surface — the curation steps that follow dedup/quality
  * filtering when a corpus is turned into training batches).
  */
object LlmPipeline extends QueryModule {
  import Q.{t, norm, normSql, words, wordsSql, wsTokens, wsTokensSql}

  def queries: Map[String, Q] = Map(
    // ─── t6: sequence packing (concatenate-and-chop) ───
    // Pack documents into fixed 2048-token context windows per source
    // shard: a doc belongs to the window its first token lands in
    // (floor of the preceding cumulative length). Packing is per
    // shard, as in real pipelines — the window is partitioned by
    // `source`, so no global single-task sort exists; at 100 TB each
    // shard packs independently and shards parallelize freely.
    "t6_seq_pack" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            wsTokens(col("text")).cast("long").as("ntok"))
          .select(col("source"), col("ntok"),
            floor(coalesce(sum(col("ntok")).over(w), lit(0L)) / 2048.0)
              .as("pack_id"))
          .groupBy(col("source"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok_sum"))
          .orderBy(col("source"), col("pack_id"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, source,
            ${wsTokensSql("text")} AS ntok
          FROM documents),
        packed AS (
          SELECT source, ntok,
            cast(floor(cast(coalesce(sum(ntok) OVER (PARTITION BY source
              ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) as double) / 2048.0) as bigint) AS pack_id
          FROM toks)
        SELECT source, pack_id, count(*) AS n_docs,
          cast(sum(ntok) as bigint) AS tok_sum
        FROM packed GROUP BY source, pack_id
        ORDER BY source, pack_id""")),

    // ─── d8: incremental dedup — curate a new batch against the corpus ───
    // The composed ingest flow a growing training corpus runs on every
    // batch: candidate docs → quality floor → dedup WITHIN the batch →
    // anti-join against the existing corpus's signatures → survivors.
    // The batch is synthesized deterministically from the corpus: every
    // 3rd doc re-tagged unchanged (an exact dup — must be dropped by
    // the anti-join) and every 5th doc with an appended suffix (novel
    // content — must survive). Scale shape: one hash-shuffle per
    // signature groupBy and a broadcast-able anti-join on 16-byte keys.
    "d8_incr_dedup" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val nrm = norm(col("text"))
        val corpusSigs = docs.select(md5(nrm).as("sig")).distinct()
        val dupes = docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
            col("text"))
        val novel = docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
            concat(col("text"), lit(" fresh batch suffix")).as("text"))
        val batch = dupes.unionByName(novel)
          .filter(length(col("text")) >= 100) // quality floor
          .withColumn("sig", md5(nrm))
        // r16 (ADVICE r15): the r15 min_by(lang, doc_id) shortcut
        // assumed batch doc_ids are unique, but the +2M/+3M offset
        // ranges collide once the corpus exceeds 1M docs (gen_scale
        // reaches 5M at sf100): a novel id 3M+s can equal a dupe id
        // (s+1M)+2M, and the oracle's join-back on doc_id then emits
        // TWO rows where the aggregate emits one. The join-back is
        // therefore semantics, not plumbing — restored, on a narrow
        // projection of the batch (doc_id, lang, sig — never the text).
        val qualified = batch.select(col("doc_id"), col("lang"), col("sig"))
        val batchKeep = qualified
          .groupBy(col("sig")).agg(min(col("doc_id")).as("doc_id"))
        batchKeep
          .join(corpusSigs, Seq("sig"), "left_anti")
          .join(qualified.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH nrmdocs AS (
          SELECT doc_id, lang, text,
            md5($normSql) AS sig
          FROM documents),
        corpus_sigs AS (SELECT DISTINCT sig FROM nrmdocs),
        batch AS (
          SELECT doc_id + 2000000 AS doc_id, lang, text FROM documents
          WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 3000000, lang, text || ' fresh batch suffix'
          FROM documents WHERE doc_id % 5 = 0),
        qualified AS (
          SELECT doc_id, lang,
            md5($normSql) AS sig
          FROM batch WHERE length(text) >= 100),
        batch_keep AS (
          SELECT sig, min(doc_id) AS doc_id FROM qualified GROUP BY sig)
        SELECT k.doc_id, q.lang
        FROM batch_keep k
        JOIN qualified q ON q.doc_id = k.doc_id
        WHERE k.sig NOT IN (SELECT sig FROM corpus_sigs)
        ORDER BY k.doc_id""")),

    // ─── d9: benchmark decontamination (n-gram overlap) ───
    // Flag training documents sharing any 5-gram with a held-out
    // benchmark set — the eval-contamination check real pipelines run
    // before training, at n-gram (not whole-document) granularity,
    // which d8's exact signatures cannot see. The benchmark here is a
    // deterministic corpus slice (doc_id % 97 == 0). Shingles are a
    // bounded per-row transform (no explode fan-out beyond ~one row
    // per token — linear in corpus size), and the overlap is a plain
    // equi-join on the shingle: the benchmark side is
    // corpus-proportional, so it is NOT force-broadcast; the
    // size-checked policy broadcasts it while it fits and degrades to
    // a hash-shuffle join at scale. At 100 TB the join key would be a
    // 64-bit shingle hash instead of the string — the string form is
    // kept because both engines then compare bit-identical keys.
    "d9_contamination" -> Q(
      (s, dir) => {
        // Shingles live ONLY as 16-byte native signatures
        // (WordShingleSigs): no shingle string is ever built, and the
        // bench-probe join + the per-doc count exchange both move
        // 16-byte keys instead of ~40-byte 5-gram strings (t10/t18's
        // exchange rule). The bench branch's doc_id filter pushes
        // below the normalize+hash projection, so the corpus-side
        // subtree is the only full normalize+hash pass (without it the
        // full-plan row read 309 s).
        // Text mode: the scanner tokenizes whitespace runs from
        // the UTF-8 bytes directly, so the regexp_replace pass, the
        // trimmed copy and the per-doc array<string> materialization
        // are all gone (the TokenCounts move); only lower() remains
        // ahead of it (one ASCII-fast-path pass per doc; Unicode case
        // folding stays Spark's, not the scanner's).
        val docs = t(s, dir, "documents")
        val sh = docs
          .select(col("doc_id"),
            explode(graft.functions.WordShingleSigs.of(
              lower(col("text")), 5)).as("g"))
        // bench is DISTINCT on g, so the inner join is exactly a
        // left-semi probe — each corpus shingle is a hash lookup.
        val bench = sh.filter(col("doc_id") % 97 === 0)
          .select(col("g")).distinct()
        val cnt = sh.filter(col("doc_id") % 97 =!= 0)
          .join(bench, Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_cont"))
        docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"))
          .join(cnt, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n_cont"), lit(0L)).as("n_cont"),
            (coalesce(col("n_cont"), lit(0L)) > 0).as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (
          SELECT doc_id,
            $wordsSql AS words
          FROM documents),
        sh AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(words) - 3),
              i -> array_to_string(words[i:i+4], ' '))) AS g
          FROM w WHERE len(words) >= 5),
        bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
        cnt AS (
          SELECT doc_id, count(*) AS n_cont
          FROM sh JOIN bench USING (g)
          WHERE doc_id % 97 <> 0
          GROUP BY doc_id)
        SELECT w.doc_id, coalesce(n_cont, 0) AS n_cont,
          coalesce(n_cont, 0) > 0 AS contaminated
        FROM w LEFT JOIN cnt ON w.doc_id = cnt.doc_id
        WHERE w.doc_id % 97 <> 0
        ORDER BY w.doc_id""")),

    // ─── t7: stratified sampling (deterministic per-language fraction) ───
    // Keep ceil(10%) of every language, chosen by md5-hash order — a
    // portable, seedless shuffle both engines reproduce byte-for-byte
    // (the training-data mixing step: fix per-stratum proportions
    // regardless of corpus skew). The rank-within-stratum window is
    // the correctness baseline; at 100 TB the same selection is a
    // hash-threshold filter against per-stratum quantiles of md5
    // (no per-stratum sort), which this operator's ORDER BY md5
    // deliberately mirrors.
    "t7_stratified_sample" -> Q(
      (s, dir) => {
        // r14 rewrite (verdict task 4): the old form ranked EVERY row
        // through one md5-order window sort per language — and with
        // |langs| ≪ shuffle partitions the sort ran at |langs|-way
        // parallelism over the whole corpus (the measured 2.6x floor
        // at sf100). Threshold selection instead: (1) one narrow
        // aggregate computes each language's row count and an
        // OVERSHOT md5-threshold estimate — percentile_approx at 0.12
        // with accuracy 10000 has a guaranteed rank error ≤ n/10000,
        // so the estimate's true rank is ≥ 0.1199·n ≥ ceil(0.1·n) for
        // every n (exact below the sketch's compression threshold) —
        // the candidate band PROVABLY contains the true top-10%, no
        // verify-and-retry arm needed; (2) only the ~12% of rows at
        // or under the threshold enter the per-language rank window,
        // which selects the exact ceil(10%) by (md5, doc_id) — the
        // same rows the full sort produced, bit-for-bit. The md5
        // prefix rides as a monotone 52-BIT long (fixed-width
        // lowercase hex: string order == numeric order; 13 hex chars,
        // NOT 15 — percentile_approx's sketch stores values as
        // DOUBLES, so a 60-bit key silently rounds to the nearest
        // representable and the returned threshold can land BELOW the
        // true data value, dropping band rows; T7BandBoundSpec caught
        // exactly that on 1-3-row strata. 52 bits round-trip a double
        // exactly, and a shorter prefix only widens the band — prefix
        // order is a monotone coarsening of full-h order, so the
        // superset proof is unchanged). Ties at the threshold are
        // included by <=, and the |langs|-row stats join is a
        // constant-cardinality broadcast. Interleaved
        // fresh-JVM A/B at sf100 (32 cores): this form
        // 5.35/3.07 s vs the full window 8.07/7.69 s — off the weak
        // list (DuckDB 3.34 s → ~0.9-1.6x, was 2.6x).
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
        def hkey(c: Column): Column =
          conv(substring(c, 1, 13), 16, 10).cast("long")
        val stats = docs.groupBy(col("lang")).agg(
            count(lit(1)).as("n"),
            percentile_approx(hkey(col("h")), lit(0.12), lit(10000))
              .as("thr"))
          .select(col("lang").as("lang_s"),
            ceil(col("n") * 0.1).as("k"), col("thr"))
        // NULL-text rows (md5(NULL) = NULL) are KEPT as candidates
        // (ADVICE r14): the old full window ranked them first (Spark
        // ASC = NULLS FIRST), so a threshold filter that dropped them
        // would silently change the selection on a corpus that ever
        // grew null text. The rank window below restores the exact
        // old order. Oracle parity on such a corpus is a separate,
        // pre-existing caveat — DuckDB's ORDER BY defaults NULLS
        // LAST — pinned by CorpusInvariantSpec's non-null-text
        // invariant, which this operator (old and new form alike)
        // relies on.
        val cand = docs.join(broadcast(stats),
            col("lang") <=> col("lang_s"))
          .filter(hkey(col("h")).isNull || hkey(col("h")) <= col("thr"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("h"), col("doc_id"))
        cand.select(col("doc_id"), col("lang"), col("k"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= col("k"))
          .select(col("doc_id"), col("lang"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH ranked AS (
          SELECT doc_id, lang,
            row_number() OVER (PARTITION BY lang
              ORDER BY md5(text), doc_id) AS rn,
            count(*) OVER (PARTITION BY lang) AS n
          FROM documents)
        SELECT doc_id, lang FROM ranked
        WHERE rn <= ceil(n * 0.1)
        ORDER BY lang, doc_id""")),

    // ─── t9: per-source document cap ───
    // Cap every source/domain at the K best documents (quality proxy:
    // n_chars desc, doc_id tiebreak) — the per-domain cap real corpus
    // pipelines apply so no single crawl domain dominates the training
    // mixture. Runs on the native TopKIdsByScore aggregate
    // (ObjectHashAggregate, real PARTIAL mode): each map task reduces
    // its slice to ≤ K (score, id) pairs per source before the
    // shuffle, so at 100 TB only |sources|·K tiny buffers cross the
    // wire — no per-source window sort, and a pathologically hot
    // domain costs K entries per map partition, not a skewed sort
    // partition.
    "t9_domain_cap" -> Q(
      (s, dir) => {
        import graft.functions.TopKIdsByScore.topkIds
        t(s, dir, "documents")
          .groupBy(col("source"))
          .agg(topkIds(col("n_chars").cast("double"), col("doc_id"), 10)
            .as("ids"))
          .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
          .select(col("source"), col("doc_id"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""SELECT source, doc_id, rank FROM (
          SELECT source, doc_id,
            row_number() OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id) AS rank
          FROM documents)
        WHERE rank <= 10
        ORDER BY source, rank""")),

    // ─── t10: unigram-frequency rarity score (perplexity proxy) ───
    // Score each document by the mean corpus frequency of its tokens,
    // normalized by corpus size — the cheap stand-in for an LM
    // perplexity filter (docs whose vocabulary is mostly corpus-rare
    // tokens are disproportionately OCR noise / gibberish). Two
    // passes: (1) the term-frequency table — vocabulary-sized, i.e.
    // sublinear in the corpus (Heaps' law), so the size-checked policy
    // broadcasts it to the token join while it fits and degrades to a
    // hash join beyond; (2) one per-doc aggregate over the joined
    // tokens. The token explode is ≤ one row per token — linear, no
    // fan-out. Replicating the corpus K× scales every wf and the
    // total by K, so the score is replication-invariant (the same doc
    // scores the same at every sf). All intermediate sums are exact
    // BIGINTs; the single final division of two exact integers is
    // IEEE-rounded identically in both engines, so the double compares
    // bit-exact.
    "t10_rarity" -> Q(
      (s, dir) => {
        // agg+join, NOT a frequency window: the token key is the most
        // skewed key imaginable ("the" alone is ~5% of the stream), so
        // a d1-style count-over-partition was measured to strand a
        // 21-second single window partition at sf10; the hash
        // aggregate's partial mode absorbs exactly that skew map-side,
        // and the vocab-sized wf table joins size-checked (sublinear
        // by Heaps' law — broadcasts while it fits). Two alternative
        // shapes were measured at sf10 and both LOST to this one: a
        // (w, doc_id) pre-agg "single-scan" form (short docs mean the
        // pre-agg barely contracts, its extra exchange costs more than
        // the saved scan) and folding the corpus total out of the
        // per-doc aggregate (the total branch recomputes the join
        // pipeline — exchange reuse does not cover it — which costs
        // more than summing wf).
        val docs = t(s, dir, "documents")
        // r9: the exchange key is xxhash64(word), not the word — the
        // score needs only per-token counts, so shipping raw strings
        // through the groupBy and join exchanges both ways (the r8
        // profile's dominant cost) buys nothing. An 8-byte long key
        // hashes/compares faster and shrinks both shuffles; a 64-bit
        // collision (≈ vocab²/2⁶⁵) would merge two words' counts and
        // go loudly red against the string-keyed oracle rather than
        // silently skew.
        val toks = docs.select(col("doc_id"),
          explode(words(col("text"))).as("w"))
          .select(col("doc_id"), xxhash64(col("w")).as("w"))
        val wf = toks.groupBy(col("w")).agg(count(lit(1)).as("wf"))
        // the corpus token total is Σwf: a one-row aggregate in the same
        // plan, which reuses wf's exchange instead of re-exploding the corpus
        val total = wf.agg(sum(col("wf")).as("total"))
        toks.join(wf, Seq("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"), sum(col("wf")).as("sum_wf"))
          .crossJoin(total)
          .select(col("doc_id"), col("n_tok"), col("sum_wf"),
            (col("sum_wf").cast("double") /
              (col("n_tok") * col("total")).cast("double")).as("score"))
          .withColumn("keep", col("score") > 0.0333)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id,
            unnest($wordsSql) AS w
          FROM documents),
        wf AS (SELECT w, count(*) AS wf FROM toks GROUP BY w),
        total AS (SELECT count(*) AS n FROM toks)
        SELECT doc_id, count(*) AS n_tok,
          cast(sum(wf) as bigint) AS sum_wf,
          cast(sum(wf) as double)
            / cast(count(*) * (SELECT n FROM total) as double) AS score,
          cast(sum(wf) as double)
            / cast(count(*) * (SELECT n FROM total) as double) > 0.0333 AS keep
        FROM toks JOIN wf USING (w)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ─── t12: mixture re-weighting planner ───
    // Given per-source token counts, compute the sampling rate each
    // source needs to hit a uniform target mixture (the domain-
    // rebalancing step before training: weight = target share /
    // corpus share, capped at 1.0 — over-represented crawl domains
    // are downsampled, under-represented ones pass through whole and
    // the gap is closed by epochs, not upsampling). One linear token
    // count, one |sources|-row aggregate; the totals join is a
    // broadcast of a single row. All counts stay exact BIGINTs; the
    // shares/weights are IEEE divides of exact integers, so the
    // oracle compare is bit-identical. At 100 TB this output *is* the
    // plan t7-style hash-threshold sampling executes per stratum.
    "t12_mix_weights" -> Q(
      (s, dir) => {
        val per = t(s, dir, "documents")
          .select(col("source"),
            wsTokens(col("text")).cast("long").as("ntok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok_sum"))
        val tot = per.agg(sum(col("tok_sum")).as("total"),
          count(lit(1)).as("ns"))
        per.join(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tok_sum"),
            (col("tok_sum").cast("double") / col("total").cast("double"))
              .as("share"),
            ((lit(1.0) / col("ns").cast("double")) /
              (col("tok_sum").cast("double") / col("total").cast("double")))
              .as("weight"))
          .withColumn("sample_rate", least(lit(1.0), col("weight")))
          .orderBy(col("source"))
      },
      Some(s"""WITH toks AS (
          SELECT source,
            ${wsTokensSql("text")} AS ntok
          FROM documents),
        per AS (
          SELECT source, count(*) AS n_docs,
            cast(sum(ntok) as bigint) AS tok_sum
          FROM toks GROUP BY source),
        tot AS (
          SELECT cast(sum(tok_sum) as bigint) AS total, count(*) AS ns
          FROM per)
        SELECT source, n_docs, tok_sum,
          cast(tok_sum as double) / cast(total as double) AS share,
          (1.0 / cast(ns as double))
            / (cast(tok_sum as double) / cast(total as double)) AS weight,
          least(1.0, (1.0 / cast(ns as double))
            / (cast(tok_sum as double) / cast(total as double)))
            AS sample_rate
        FROM per, tot
        ORDER BY source""")),

    // ─── t15: distribution-based length filter (per-language
    // percentile band) ───
    // Keep documents inside the [p5, p95] per-language length band —
    // the outlier-filtering stage that drops truncation stubs and
    // concatenation monsters. The band is estimated on a DETERMINISTIC
    // 20% sample (doc_id % 5): at 100 TB the exact corpus-wide
    // percentile is a per-group full sort (ObjectHashAggregate holding
    // every value), while the sampled estimator is the standard scale
    // path — the sample aggregate is bounded, its |langs|-row output
    // broadcasts back over the corpus scan, and the filter itself is
    // one narrow pass. Band membership compares exact integers against
    // the interpolated bounds, which both engines derive from the same
    // sorted sample (non-integer whenever interpolation is fractional,
    // exactly integral when not — either way cross-engine identical);
    // the EMITTED bounds are round(6)'d to absorb formula-order ulp.
    "t15_length_band" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val bands = docs.filter(col("doc_id") % 5 === 0)
          .groupBy(col("lang"))
          .agg(expr("percentile(n_chars, array(0.05D, 0.95D))").as("q"))
          .select(col("lang"),
            element_at(col("q"), 1).as("lo"),
            element_at(col("q"), 2).as("hi"))
        docs.join(broadcast(bands), Seq("lang"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_chars") >= col("lo") &&
              col("n_chars") <= col("hi"), 1L).otherwise(0L)).as("n_kept"),
            round(min(col("lo")), 6).as("lo"),
            round(min(col("hi")), 6).as("hi"))
          .orderBy(col("lang"))
      },
      Some("""WITH bands AS (
          SELECT lang,
            quantile_cont(n_chars, 0.05) AS lo,
            quantile_cont(n_chars, 0.95) AS hi
          FROM documents WHERE doc_id % 5 = 0
          GROUP BY lang)
        SELECT d.lang, count(*) AS n_docs,
          cast(sum(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi
                        THEN 1 ELSE 0 END) as bigint) AS n_kept,
          round(min(b.lo), 6) AS lo,
          round(min(b.hi), 6) AS hi
        FROM documents d JOIN bands b ON d.lang = b.lang
        GROUP BY d.lang
        ORDER BY d.lang"""))
  )
}
