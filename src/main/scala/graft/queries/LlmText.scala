package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + exact/ngram dedup operators for LLM training-data
  * pipelines (SURVEY.md §2.3: d1, d3, t1–t4).
  *
  * All operate on the `documents` table. Everything here is pure
  * `functions._` (whole-stage codegen, no UDFs); the per-doc word
  * arrays stay inside one projection so nothing materializes wide.
  */
object LlmText extends QueryModule {
  import Q.{t, norm, normSql, bagSig, bagSigSql, words, wordsSql}

  /** Deterministic per-language stopword lists (from the synthetic
    * corpus vocabulary) for the language-ID heuristic.
    */
  private val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "fast", "key", "order"),
    "de" -> Seq("table", "scan", "merge", "part"),
    "fr" -> Seq("window", "small", "hash", "join"),
    "es" -> Seq("batch", "stream", "spark", "group"))

  private val stoplist = Seq("the", "data", "row", "line", "key", "value")

  /** Chunk width and stride of the retrieval chunker (t13, d10):
    * 64-word chunks every 48 words, so neighbours overlap by 16. */
  private val ChunkWords = 64
  private val ChunkStride = 48

  /** The overlapping chunks of each document's [[Q.words]]: for k = 0
    * to (n_words - 1) / 48, chunk k is words k·48 to k·48 + 63 (the
    * last chunks run short), as one `(…documents columns, words, k,
    * chunk)` row each. A text without a word still has its one empty
    * word, so one chunk. */
  private def chunks(docs: DataFrame): DataFrame = docs
    .withColumn("words", words(col("text")))
    .withColumn("k", explode(sequence(lit(0),
      floor((size(col("words")) - 1) / ChunkStride).cast("int"))))
    .withColumn("chunk",
      slice(col("words"), col("k") * ChunkStride + 1, lit(ChunkWords)))

  /** DuckDB rendering of [[chunks]] over `documents`: CTEs ending in
    * `chunked (doc_id, chunk_idx, start_word, chunk)`. */
  private val chunksSql = s"""d AS (
          SELECT doc_id, $wordsSql AS w FROM documents),
        chunked AS (
          SELECT doc_id, k AS chunk_idx, k * $ChunkStride AS start_word,
            list_slice(w, k * $ChunkStride + 1,
              k * $ChunkStride + $ChunkWords) AS chunk
          FROM d, unnest(generate_series(0,
            (len(w) - 1) // $ChunkStride)) AS t(k))"""

  def queries: Map[String, Q] = Map(
    // ─── d1: exact dedup via content fingerprints ───
    // Two signatures per doc: md5 of normalized text (byte-exact dup)
    // and md5 of the sorted distinct-word bag (reordered-content dup).
    // Survivor = min doc_id per signature group. At 100 TB this is one
    // hash-shuffle on a 16-byte key; no text comparison ever happens.
    "d1_dedup_exact" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Group-min via windows, not groupBy+self-join: the join form
        // recomputes the text-heavy signature projection (normalize +
        // split + sort + two md5s over the full body) once per branch —
        // three full corpus scans. Here the signatures project ONCE,
        // and everything after moves only (doc_id, lang, sig, bag_sig)
        // ≈ 60 B/row — 16-byte binary sigs since r11, not 32-char hex
        // strings — through two hash exchanges; at 100 TB the parse
        // cost dominates, so single-scan is the difference between one
        // corpus read and three.
        val sigs = t(s, dir, "documents")
          .withColumn("nrm", norm(col("text")))
          .select(col("doc_id"), col("lang"),
            unhex(md5(col("nrm"))).as("sig"),
            unhex(bagSig(col("nrm"))).as("bag_sig"))
        sigs
          .withColumn("keep_id",
            min(col("doc_id")).over(Window.partitionBy(col("sig"))))
          .withColumn("bag_keep_id",
            min(col("doc_id")).over(Window.partitionBy(col("bag_sig"))))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
              .as("n_exact_survivors"),
            sum(when(col("doc_id") === col("bag_keep_id"), 1L).otherwise(0L))
              .as("n_bag_survivors"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH docs AS (
          SELECT doc_id, lang, md5($normSql) AS sig,
            ${bagSigSql(normSql)} AS bag_sig
          FROM documents),
        by_sig AS (SELECT sig, min(doc_id) AS keep_id FROM docs GROUP BY sig),
        by_bag AS (SELECT bag_sig, min(doc_id) AS bag_keep_id
                   FROM docs GROUP BY bag_sig)
        SELECT lang, count(*) AS n_docs,
          cast(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) as bigint)
            AS n_exact_survivors,
          cast(sum(CASE WHEN doc_id = bag_keep_id THEN 1 ELSE 0 END) as bigint)
            AS n_bag_survivors
        FROM docs JOIN by_sig USING (sig) JOIN by_bag USING (bag_sig)
        GROUP BY lang
        ORDER BY lang""")),

    // ─── d1b: dedup actually removing duplicates ───
    // Input = documents ∪ re-tagged copies of every 7th document; the
    // dedup must keep exactly the original corpus (min doc_id per
    // normalized-text group survives).
    "d1b_dedup_union" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("text"))
        val copies = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            col("text"))
        // Window group-min (d1's shape), not groupBy+self-join: the
        // join form recomputes the normalize+md5 projection once per
        // branch and ships 32-char hex sig STRINGS through two
        // exchanges; here the signature projects once and moves as a
        // 16-byte binary key (full-plan r10 row: 50 s at sf100 vs
        // DuckDB 4 s — the rewrite removes both the double scan and
        // the string exchange).
        val unioned = docs.union(copies)
          .withColumn("sig", unhex(md5(norm(col("text")))))
        unioned
          .withColumn("keep_id",
            min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_input"),
            sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
              .as("n_survivors"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH unioned AS (
          SELECT doc_id, lang, md5($normSql) AS sig FROM documents
          UNION ALL
          SELECT doc_id + 1000000, lang, md5($normSql) FROM documents
          WHERE doc_id % 7 = 0),
        keep AS (SELECT sig, min(doc_id) AS keep_id FROM unioned GROUP BY sig)
        SELECT lang, count(*) AS n_input,
          cast(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) as bigint)
            AS n_survivors
        FROM unioned JOIN keep USING (sig)
        GROUP BY lang
        ORDER BY lang""")),

    // ─── d3: exact n-gram Jaccard pair similarity (oracle for the
    // LSH candidates in d2) ───
    // The verification sample is bounded ABSOLUTELY (≤ 150 docs), not
    // as a corpus percentage: this is the exact all-pairs oracle twin,
    // and on a bounded-vocabulary corpus shingle multiplicities grow
    // with corpus size, so a %-subset self-join goes quadratic at
    // scale (measured: it filled the disk at sf10 in BOTH engines).
    // A fixed-size sample keeps the gate O(1) in corpus size; d2 is
    // the scale path for the full corpus. doc_id < 750 is a no-op at
    // the driver's sf0.01 gate (doc_ids there stop at 499).
    // Trigrams join as 16-byte signatures (`Q.shingles`): equal exactly
    // when the word trigrams are, up to ~2^-128 per pair, so every
    // count and jaccard is the string-keyed oracle's. A document with
    // fewer than three words has no trigrams and pairs with nothing.
    "d3_ngram_jaccard" -> Q(
      (s, dir) => {
        val tri = Q.shingles(t(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0 && col("doc_id") < 750))
        val inter = tri.as("x").join(tri.as("y"),
            col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .agg(count(lit(1)).as("ni"))
        Q.jaccard(inter, tri).orderBy(col("a"), col("b"))
      },
      Some(s"""WITH docs AS (
          SELECT doc_id, $wordsSql AS words
          FROM documents WHERE doc_id % 5 = 0 AND doc_id < 750),
        ${Q.trigramOverlapSql}
        SELECT a, b, ni, na, nb, jaccard FROM jac
        ORDER BY a, b""")),

    // ─── t1: language-ID heuristic (stopword scoring) ───
    "t1_langid" -> Q(
      (s, dir) => {
        // Native per-language word-set counting (the t2/t14 class): an
        // interpreted filter-lambda over every document's split array,
        // 4x, took 14.2 s at sf100; QualityScanStats' compiled walk
        // counts the same words in the set (`n_stop`) per its
        // contract, one walk per language.
        val scored = langWords.foldLeft(t(s, dir, "documents")) {
          case (df, (l, ws)) =>
            df.withColumn(s"score_$l",
              graft.functions.QualityScanStats.of(col("text"), ws)
                .getField("n_stop"))
        }
        scored.select(col("doc_id"), col("lang"),
            col("score_en"), col("score_de"), col("score_fr"), col("score_es"),
            when(col("score_en") >= col("score_de") &&
              col("score_en") >= col("score_fr") &&
              col("score_en") >= col("score_es"), "en")
              .when(col("score_de") >= col("score_fr") &&
                col("score_de") >= col("score_es"), "de")
              .when(col("score_fr") >= col("score_es"), "fr")
              .otherwise("es").as("predicted"))
          .orderBy(col("doc_id"))
      },
      Some {
        val scoreCols = langWords.map { case (l, ws) =>
          val lst = ws.map(w => s"'$w'").mkString(", ")
          s"len(list_filter($wordsSql, x -> x IN ($lst))) AS score_$l"
        }.mkString(",\n          ")
        s"""WITH scored AS (
          SELECT doc_id, lang,
          $scoreCols
          FROM documents)
        SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
          CASE WHEN score_en >= score_de AND score_en >= score_fr
                    AND score_en >= score_es THEN 'en'
               WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
               WHEN score_fr >= score_es THEN 'fr'
               ELSE 'es' END AS predicted
        FROM scored
        ORDER BY doc_id"""
      }),

    // ─── t2: quality scoring ───
    // Native one-pass QualityScanStats: the composition it replaces
    // runs three corpus-wide regexp_replace passes, a split allocation,
    // and an interpreted filter-lambda with per-word isInCollection
    // (the t16 class; 28 s at sf100). Every counter the ratios
    // derive from comes out of one compiled byte walk; semantics
    // pinned field-by-field in the expression's scaladoc + spec.
    "t2_quality" -> Q(
      (s, dir) => {
        val qs = graft.functions.QualityScanStats
          .of(col("text"), stoplist).as("qs")
        t(s, dir, "documents")
          .select(col("doc_id"), qs)
          .select(col("doc_id"),
            col("qs.n_chars").as("n_chars"),
            col("qs.n_words").as("n_words"),
            col("qs.n_punct").as("n_punct"),
            (col("qs.n_punct").cast("double") / col("qs.n_chars"))
              .as("punct_ratio"),
            (col("qs.n_stop").cast("double") / col("qs.n_words"))
              .as("stop_ratio"),
            (col("qs.n_alpha").cast("double") / col("qs.n_chars"))
              .as("alpha_ratio"),
            (col("qs.n_word_chars").cast("double") / col("qs.n_words"))
              .as("avg_word_len"))
          .withColumn("quality",
            when(col("n_words").between(20, 80) && col("stop_ratio") > 0.05,
              "good")
              .when(col("n_words") >= 10, "ok")
              .otherwise("poor"))
          .orderBy(col("doc_id"))
      },
      Some {
        val lst = stoplist.map(w => s"'$w'").mkString(", ")
        s"""WITH base AS (
          SELECT doc_id, text, $normSql AS nrm,
            $wordsSql AS words
          FROM documents)
        SELECT doc_id,
          length(text) AS n_chars,
          len(words) AS n_words,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
            AS n_punct,
          cast(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
            as double) / length(text) AS punct_ratio,
          cast(len(list_filter(words, x -> x IN ($lst))) as double)
            / len(words) AS stop_ratio,
          cast(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) as double)
            / length(text) AS alpha_ratio,
          cast(length(replace(nrm, ' ', '')) as double) / len(words)
            AS avg_word_len,
          CASE WHEN len(words) BETWEEN 20 AND 80
                    AND cast(len(list_filter(words, x -> x IN ($lst))) as double)
                        / len(words) > 0.05 THEN 'good'
               WHEN len(words) >= 10 THEN 'ok'
               ELSE 'poor' END AS quality
        FROM base
        ORDER BY doc_id"""
      }),

    // ─── t3: token counting (whitespace + BPE-ish regex) ───
    // Native one-pass TokenCounts: the composition it replaces
    // materializes two split arrays plus regexp_extract_all's full
    // match list just to count it (8.4 s / 13x at sf10 under the
    // full-plan action; 0.9 s native). Counted semantics identical —
    // see the expression's scaladoc for the regex-to-scan mapping.
    "t3_tokcount" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TokenCounts.of(col("text")).as("tc"))
          .select(col("doc_id"),
            col("tc.ws_tokens").as("ws_tokens"),
            col("tc.re_tokens").as("re_tokens"),
            (col("tc.n_chars").cast("double") / col("tc.ws_tokens"))
              .as("chars_per_token"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
          ${Q.wsTokensSql("text")} AS ws_tokens,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
            AS re_tokens,
          cast(length(text) as double)
            / ${Q.wsTokensSql("text")} AS chars_per_token
        FROM documents
        ORDER BY doc_id""")),

    // ─── t8: repetition-based quality filter (Gopher-style) ───
    // Per-document duplicate-word and duplicate-bigram fractions — the
    // repetition signals large-scale curation pipelines gate on
    // (excessively repetitive documents are low-quality training
    // data). Everything is a bounded per-row array computation inside
    // one projection — bigrams are the 16-byte WordShingleSigs
    // signatures of the text (equal exactly when the word bigrams are,
    // up to ~2^-128 per pair; none below two words), not an explode —
    // so there is no shuffle and at 100 TB the operator runs at scan
    // speed like t1-t3. The two ratios are one IEEE divide + subtract
    // on exact integer counts in both engines, so the oracle compare
    // is bit-identical.
    "t8_repetition" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .withColumn("words", words(col("text")))
          .withColumn("bigrams",
            graft.functions.WordShingleSigs.of(lower(col("text")), 2))
          .select(col("doc_id"),
            size(col("words")).cast("long").as("n_words"),
            (lit(1.0) - size(array_distinct(col("words"))).cast("double") /
              size(col("words"))).as("dup_word_frac"),
            when(size(col("bigrams")) > 0,
              lit(1.0) - size(array_distinct(col("bigrams"))).cast("double") /
                size(col("bigrams")))
              .otherwise(lit(0.0)).as("dup_bigram_frac"))
          .withColumn("keep",
            col("dup_word_frac") < 0.9 && col("dup_bigram_frac") < 0.75)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH base AS (
          SELECT doc_id, $wordsSql AS words
          FROM documents),
        big AS (
          SELECT doc_id, words,
            CASE WHEN len(words) >= 2 THEN
              list_transform(range(1, len(words)),
                i -> words[i] || ' ' || words[i + 1])
            ELSE [] END AS bigrams
          FROM base)
        SELECT doc_id,
          len(words) AS n_words,
          1.0 - cast(len(list_distinct(words)) as double) / len(words)
            AS dup_word_frac,
          CASE WHEN len(bigrams) > 0 THEN
            1.0 - cast(len(list_distinct(bigrams)) as double) / len(bigrams)
          ELSE 0.0 END AS dup_bigram_frac,
          1.0 - cast(len(list_distinct(words)) as double) / len(words) < 0.9
            AND (CASE WHEN len(bigrams) > 0 THEN
              1.0 - cast(len(list_distinct(bigrams)) as double) / len(bigrams)
            ELSE 0.0 END) < 0.75 AS keep
        FROM big
        ORDER BY doc_id""")),

    // ─── d7: exact span dedup (C4 / Lee et al. substring dedup at
    // fixed-window granularity) ───
    // d1 removes whole-document dups; this flags *partial* overlap —
    // spans of 8 consecutive words that occur 2+ times anywhere in the
    // corpus (boilerplate headers, license blurbs, templated
    // paragraphs). Spans are non-overlapping windows, so the explode
    // emits ≤ n_tokens/8 rows — strictly linear, no shingle fan-out.
    // Two hash shuffles: the corpus-wide span-frequency aggregate and
    // the per-doc rollup. The span-frequency side is corpus-
    // proportional, so the join is size-checked, never force-broadcast
    // (same policy as t10's term-frequency join). At 100 TB the join
    // key becomes a 64-bit span hash; the string key is kept here so
    // both engines compare identical keys bit-for-bit.
    "d7_span_dedup" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // group-count via a window, not groupBy+self-join (the d1
        // trick): the join form re-runs the normalize+split+explode
        // span projection once per branch — two full corpus scans plus
        // a string-keyed shuffle join. Here spans project ONCE and the
        // frequency attaches in the same span-partitioned exchange the
        // aggregate would have needed anyway (measured at sf10:
        // 7.1 → ~2.2 s). Unlike t10's token key, the span key has no
        // hot values (8-word spans are near-unique), so the window's
        // per-key partitioning is skew-safe.
        val sp = t(s, dir, "documents")
          .withColumn("words", words(col("text")))
          .filter(size(col("words")) >= 8)
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0), (size(col("words")) / 8).cast("int") - 1),
              j => concat_ws(" ", slice(col("words"), j * 8 + 1, lit(8)))))
              .as("span"))
        sp.withColumn("c",
            count(lit(1)).over(Window.partitionBy(col("span"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_spans"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_spans").cast("double"))
              .as("dup_frac"))
          .withColumn("keep", col("dup_frac") < 0.5)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (
          SELECT doc_id, $wordsSql AS words
          FROM documents),
        sp AS (
          SELECT doc_id,
            unnest(list_transform(range(0, len(words) // 8),
              j -> array_to_string(words[j * 8 + 1 : j * 8 + 8], ' ')))
              AS span
          FROM w WHERE len(words) >= 8),
        cnt AS (SELECT span, count(*) AS c FROM sp GROUP BY span)
        SELECT doc_id, count(*) AS n_spans,
          cast(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) as bigint) AS n_dup,
          cast(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) as double)
            / cast(count(*) as double) AS dup_frac,
          cast(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) as double)
            / cast(count(*) as double) < 0.5 AS keep
        FROM sp JOIN cnt USING (span)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ─── t11: Gopher-style quality rules ───
    // The Rae et al. 2021 document-level heuristics: word-count
    // bounds, mean word length in a sane band, and a minimum stopword
    // presence. Everything is one codegen'd projection per row — the
    // character sum falls out of the normalized length arithmetically
    // (len(nrm) = sum(word lens) + (n-1) separators), so no per-word
    // fold runs at all; the operator is scan-speed like t1-t3. The
    // two ratios are single IEEE divides of exact integer counts, so
    // the oracle compare is bit-identical.
    "t11_gopher" -> Q(
      (s, dir) => {
        val stops = Seq("the", "a", "of", "and", "to", "in")
        // Native one-pass scan (the t2 class) in place of norm+split
        // plus TWO interpreted lambdas (filter +
        // transform/array_max) per document. QualityScanStats'
        // n_word_chars IS length(nrm) - n_words + 1 (norm joins the
        // words with single spaces), and max_word_chars is the
        // array_max(transform(...)) — semantics pinned in its
        // scaladoc + TextScanSpec.
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.QualityScanStats.of(col("text"), stops).as("qs"))
          .select(col("doc_id"),
            col("qs.n_words").as("n_words"),
            col("qs.n_word_chars").as("n_chars_words"),
            col("qs.n_stop").as("stop_count"),
            col("qs.max_word_chars").as("max_word_len"))
          .select(col("doc_id"), col("n_words"), col("stop_count"),
            col("max_word_len"),
            (col("n_chars_words").cast("double") /
              col("n_words").cast("double")).as("mean_word_len"),
            (col("stop_count").cast("double") /
              col("n_words").cast("double")).as("stop_frac"))
          .withColumn("keep",
            col("n_words") >= 5 && col("n_words") <= 100000 &&
              col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
              col("stop_count") >= 2)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH base AS (
          SELECT doc_id, $normSql AS nrm,
            $wordsSql AS words
          FROM documents),
        m AS (
          SELECT doc_id,
            len(words) AS n_words,
            length(nrm) - len(words) + 1 AS n_chars_words,
            len(list_filter(words,
              w -> w IN ('the', 'a', 'of', 'and', 'to', 'in')))
              AS stop_count,
            list_max(list_transform(words, w -> length(w)))
              AS max_word_len
          FROM base)
        SELECT doc_id, n_words, stop_count, max_word_len,
          cast(n_chars_words as double) / cast(n_words as double)
            AS mean_word_len,
          cast(stop_count as double) / cast(n_words as double) AS stop_frac,
          n_words >= 5 AND n_words <= 100000
            AND cast(n_chars_words as double) / cast(n_words as double)
              BETWEEN 2.0 AND 12.0
            AND stop_count >= 2 AS keep
        FROM m
        ORDER BY doc_id""")),

    // ─── t4: document fingerprint (polynomial rolling hash) ───
    // Per-word md5-derived 32-bit values folded left with
    // acc = (acc * 31 + h) mod 1e9+7 — engine-agnostic, deterministic,
    // and a single codegen'd projection per doc (no shuffle). The fold
    // runs as the native RollingFingerprint expression: Spark's
    // aggregate(transform(...)) evaluates interpreted per element and
    // was the single most expensive projection in the suite (5.4 s at
    // sf10); the compiled loop replaces it result-identically
    // (RollingHashSpec asserts parity against the interpreted form).
    "t4_fingerprint" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .withColumn("words", words(col("text")))
          .filter(size(col("words")) >= 2)
          .select(col("doc_id"),
            graft.functions.RollingFingerprint.of(col("words"))
              .as("fingerprint"),
            size(col("words")).cast("long").as("n_words"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
          list_reduce(
            list_transform($wordsSql,
              w -> cast(('0x' || substr(md5(w), 1, 8)) as bigint)),
            (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint,
          len($wordsSql) AS n_words
        FROM documents
        WHERE len($wordsSql) >= 2
        ORDER BY doc_id""")),

    // ─── t13: overlapping document chunking (RAG / context-window
    // prep) ───
    // Split each document into 64-word chunks at a 48-word stride
    // (25% overlap — the retrieval-chunking shape, the text analogue
    // of m3's audio windows). One narrow projection + explode: output
    // rows ≈ 4/3 × input words, no shuffle, the payload is re-read
    // only within its own partition — exactly how a chunker runs over
    // 100 TB. Each chunk carries its word span and an md5 signature
    // (what a downstream embedder or chunk-level dedup keys on).
    "t13_chunk_overlap" -> Q(
      (s, dir) => {
        chunks(t(s, dir, "documents"))
          .select(col("doc_id"),
            col("k").cast("long").as("chunk_idx"),
            (col("k") * ChunkStride).cast("long").as("start_word"),
            size(col("chunk")).cast("long").as("n_words"),
            md5(array_join(col("chunk"), " ")).as("chunk_sig"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some(s"""WITH $chunksSql
        SELECT doc_id, chunk_idx, start_word,
          cast(len(chunk) as bigint) AS n_words,
          md5(array_to_string(chunk, ' ')) AS chunk_sig
        FROM chunked
        ORDER BY doc_id, chunk_idx""")),

    // ─── d10: chunk-granular dedup (t13 chunks × d1 group-min) ───
    // Dedup at CHUNK granularity — the unit RAG indexes and span-
    // aware pretraining dedup actually operate on: a 64-word window
    // repeated across documents (boilerplate, quoted passages) is
    // redundant even when the containing documents differ. Survivor =
    // lexicographically-min (doc_id, chunk_idx) per chunk signature;
    // output is the per-document redundancy profile (how many of my
    // chunks are duplicates of an earlier chunk anywhere). Scale
    // shape: the chunker is t13's narrow explode; the survivor choice
    // is ONE hash exchange on the 16-byte signature (window group-min,
    // the d1 form — signatures are near-unique so no skew); nothing
    // ever compares chunk text.
    "d10_chunk_dedup" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wSig = Window.partitionBy(col("sig"))
        chunks(t(s, dir, "documents"))
          .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
            md5(array_join(col("chunk"), " ")).as("sig"))
          .withColumn("keep_doc", min(col("doc_id")).over(wSig))
          .withColumn("keep_idx", min(when(
            col("doc_id") === col("keep_doc"), col("chunk_idx"))).over(wSig))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("doc_id") === col("keep_doc") &&
              col("chunk_idx") === col("keep_idx"), 0L).otherwise(1L))
              .as("n_dup_chunks"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $chunksSql,
        chunks AS (
          SELECT doc_id, chunk_idx, md5(array_to_string(chunk, ' ')) AS sig
          FROM chunked),
        keep AS (
          SELECT sig, min(doc_id) AS keep_doc FROM chunks GROUP BY sig),
        keep2 AS (
          SELECT c.sig, k.keep_doc, min(c.chunk_idx) AS keep_idx
          FROM chunks c JOIN keep k ON c.sig = k.sig
            AND c.doc_id = k.keep_doc
          GROUP BY c.sig, k.keep_doc)
        SELECT c.doc_id, count(*) AS n_chunks,
          cast(sum(CASE WHEN c.doc_id = k.keep_doc
                         AND c.chunk_idx = k.keep_idx
                        THEN 0 ELSE 1 END) as bigint) AS n_dup_chunks
        FROM chunks c JOIN keep2 k ON c.sig = k.sig
        GROUP BY c.doc_id
        ORDER BY c.doc_id""")),

    // ─── t14: blocklist filter (C4-style "bad words" pass) ───
    // Fraction of words hitting a static blocklist, plus the keep
    // verdict — the standard wordlist-filtering stage every web-scale
    // corpus runs. One shuffle-free codegen projection (the list is a
    // compile-time constant folded into the lambda); the fraction is
    // a single IEEE divide of exact counts, so the oracle compare is
    // bit-identical. At 100 TB a real blocklist (thousands of terms)
    // becomes a broadcast set or an Aho-Corasick expression — the
    // plan shape (narrow scan, no exchange) is already the right one.
    // Native one-pass QualityScanStats walk, the blocklist as its word
    // set: the composition it replaces pays a whitespace-collapsing
    // regexp_replace, a split allocation, and an interpreted per-word
    // lambda (6.4 s / 10x at sf10 under the full-plan action). Same
    // run/membership semantics (`n_words`, `n_stop`) — see the
    // kernel's scaladoc.
    "t14_blocklist" -> Q(
      (s, dir) => {
        val block = Seq("merge", "hash", "stream")
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.QualityScanStats.of(col("text"), block).as("bs"))
          .select(col("doc_id"),
            col("bs.n_words").as("n_words"),
            col("bs.n_stop").as("n_flagged"))
          .withColumn("flag_frac",
            col("n_flagged").cast("double") / col("n_words").cast("double"))
          .withColumn("keep", col("flag_frac") <= 0.05)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH m AS (
          SELECT doc_id,
            len($wordsSql) AS n_words,
            len(list_filter($wordsSql,
              w -> w IN ('merge', 'hash', 'stream'))) AS n_flagged
          FROM documents)
        SELECT doc_id, n_words, n_flagged,
          cast(n_flagged as double) / cast(n_words as double) AS flag_frac,
          cast(n_flagged as double) / cast(n_words as double) <= 0.05
            AS keep
        FROM m
        ORDER BY doc_id""")),

    // ─── t16: character-entropy quality signal ───
    // Shannon entropy of the per-document character distribution —
    // the gibberish/binary-noise detector (low entropy = repeated
    // filler, implausibly high = random bytes). Shuffle-free, and
    // since r11 a single native codegen pass per document
    // (CharEntropyStats): the previous higher-order-function
    // histogram (`transform(distinct, c -> size(filter(chars, ..)))`)
    // was O(|alphabet|·len) per doc in interpreted lambda evaluation
    // and the full-plan bench action surfaced it at 51 s / 21x at
    // sf10. The native pass accumulates the entropy terms in the same
    // ascending code-point order as the oracle's sorted-char left
    // fold, so the double sums stay order-identical; the only
    // cross-engine wobble is log2's last ulp, absorbed by round(6).
    "t16_char_entropy" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.CharEntropyStats.of(norm(col("text"))).as("st"))
          .select(col("doc_id"),
            col("st.n_chars_norm").as("n_chars_norm"),
            col("st.n_distinct_chars").as("n_distinct_chars"),
            round(col("st.entropy"), 6).as("entropy"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH base AS (
          SELECT doc_id, string_split($normSql, '') AS chars
          FROM documents),
        h AS (
          SELECT doc_id, len(chars) AS n,
            list_transform(list_sort(list_distinct(chars)),
              c -> len(list_filter(chars, x -> x = c))) AS counts
          FROM base)
        SELECT doc_id, cast(n as bigint) AS n_chars_norm,
          cast(len(counts) as bigint) AS n_distinct_chars,
          round(list_reduce(
            list_transform(counts, c ->
              -(c / cast(n as double)) * log2(c / cast(n as double))),
            (a, b) -> a + b), 6) AS entropy
        FROM h
        ORDER BY doc_id"""))
  )
}
