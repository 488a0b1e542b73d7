package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{QualityScanStats, TokenCounts, WordShingleSigs}
import graft.queries.Q

/** The codegen'd TokenCounts / QualityScanStats scans must be
  * result-identical to the regex/split/HOF compositions they replaced
  * in t3 / t14 (and t2).
  */
class TextScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val block = Seq("merge", "hash", "stream")

  /** The pre-r11 t3 arm, verbatim. */
  private def t3Interp(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"),
      size(split(trim(col("s")), "\\s+")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("s"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .cast("long").as("re_tokens"),
      length(col("s")).cast("long").as("n_chars"))

  private def t3Native(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), TokenCounts.of(col("s")).as("tc"))
      .select(col("id"), col("tc.ws_tokens").as("ws_tokens"),
        col("tc.re_tokens").as("re_tokens"),
        col("tc.n_chars").as("n_chars"))

  /** The pre-r11 t14 arm, verbatim. */
  private def t14Interp(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("words",
        split(lower(trim(regexp_replace(col("s"), "\\s+", " "))), " "))
      .select(col("id"),
        size(col("words")).cast("long").as("n_words"),
        size(filter(col("words"), w => w.isInCollection(block)))
          .cast("long").as("n_flagged"))

  private def t14Native(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), QualityScanStats.of(col("s"), block).as("bs"))
      .select(col("id"), col("bs.n_words").as("n_words"),
        col("bs.n_stop").as("n_flagged"))

  private def docs = spark.read
    .parquet(s"${TestSpark.SF}/documents.parquet")
    .select(col("doc_id").as("id"), col("text").as("s"))

  test("TokenCounts parity with the regex forms on the real corpus") {
    val n = docs.count()
    val matched = t3Native(docs)
      .join(t3Interp(docs), Seq("id", "ws_tokens", "re_tokens", "n_chars"))
      .count()
    assert(matched == n, s"TokenCounts must agree on all $n docs")
  }

  test("t14 word-set counts match the split+filter form on the corpus") {
    val n = docs.count()
    val matched = t14Native(docs)
      .join(t14Interp(docs), Seq("id", "n_words", "n_flagged")).count()
    assert(matched == n, s"t14's word-set counts must agree on all $n docs")
  }

  /** The pre-r13 t2 counter arm, verbatim (ratios derive from these). */
  private val stops = Seq("the", "data", "row", "line", "key", "value")

  private def t2Interp(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("nrm", lower(trim(regexp_replace(col("s"), "\\s+", " "))))
      .withColumn("words", split(col("nrm"), " "))
      .select(col("id"),
        length(col("s")).cast("long").as("n_chars"),
        size(col("words")).cast("long").as("n_words"),
        (length(col("s")) -
          length(regexp_replace(col("s"), "[.,;:!?]", "")))
          .cast("long").as("n_punct"),
        size(filter(col("words"), w => w.isInCollection(stops)))
          .cast("long").as("n_stop"),
        length(regexp_replace(lower(col("s")), "[^a-z]", ""))
          .cast("long").as("n_alpha"),
        length(regexp_replace(col("nrm"), " ", ""))
          .cast("long").as("n_word_chars"),
        array_max(transform(col("words"), w => length(w)))
          .cast("long").as("max_word_chars"),
        // the t11 numerator identity: n_word_chars via nrm arithmetic
        (length(col("nrm")) - size(col("words")) + 1).cast("long")
          .as("n_word_chars_t11"))

  private def t2Native(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), QualityScanStats.of(col("s"), stops).as("qs"))
      .select(col("id"), col("qs.n_chars").as("n_chars"),
        col("qs.n_words").as("n_words"), col("qs.n_punct").as("n_punct"),
        col("qs.n_stop").as("n_stop"), col("qs.n_alpha").as("n_alpha"),
        col("qs.n_word_chars").as("n_word_chars"),
        col("qs.max_word_chars").as("max_word_chars"),
        col("qs.n_word_chars").as("n_word_chars_t11"))

  test("QualityScanStats parity with the regex+HOF form on the corpus") {
    val n = docs.count()
    val matched = t2Native(docs)
      .join(t2Interp(docs), Seq("id", "n_chars", "n_words", "n_punct",
        "n_stop", "n_alpha", "n_word_chars", "max_word_chars",
        "n_word_chars_t11")).count()
    assert(matched == n, s"QualityScanStats must agree on all $n docs")
  }

  test("QualityScanStats edge cases") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("")),
      (2L, Some("   ")),
      (3L, Some("The data, ROW; the!! key?")),
      (4L, Some("héllo wörld the 漢字.")),
      (5L, Some("\tdata\n\nvalue\r x ")),
      (6L, None: Option[String]),
      (7L, Some("a.b,c;d:e!f?g")),
      (8L, Some("THE THE the tHe thex"))).toDF("id", "s")
    val present = df.filter(col("s").isNotNull)
    val a = t2Native(present).orderBy(col("id")).collect()
    val b = t2Interp(present).orderBy(col("id")).collect()
    a.zip(b).foreach { case (x, y) =>
      (1 to 8).foreach(i => assert(x.getLong(i) == y.getLong(i),
        s"t2 field $i row ${x.getLong(0)}: ${x} vs ${y}"))
    }
    val nul = df.filter(col("id") === 6)
      .select(QualityScanStats.of(col("s"), stops)).collect()(0)
    assert(nul.isNullAt(0))
    // known values: "The data, ROW; the!! key?" -> 5 runs; membership
    // is the EXACT run lowercased, so only "The" matches "the" —
    // "data," / "ROW;" / "the!!" / "key?" carry punctuation
    val r3 = a(2)
    assert(r3.getLong(2) == 5L, s"n_words: $r3")
    assert(r3.getLong(4) == 1L, s"n_stop: $r3")
    assert(r3.getLong(3) == 5L, s"n_punct: $r3") // , ; ! ! ?
  }

  test("edge cases: empties, mixed runs, case, multi-byte, null") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("")),
      (2L, Some("   ")),
      (3L, Some("a1b .. x9")),
      (4L, Some("MERGE Hash stream hashx merge.")),
      (5L, Some("héllo wörld 漢字 merge")),
      (6L, Some("\tmerge\n\nhash\r stream ")),
      (7L, None: Option[String]),
      // trailing non-space whitespace: split keeps the trailing empty
      // token (limit -1), so ws_tokens must count it (ADVICE r11)
      (8L, Some("a b\t")),
      // all non-space whitespace: split("\t") = ["", ""] -> 2
      (9L, Some("\t")),
      (10L, Some("\t\n")),
      (11L, Some("a\t ")),
      (12L, Some(" \t merge \n")))
      .toDF("id", "s")
    val present = df.filter(col("s").isNotNull)
    val a = t3Native(present).orderBy(col("id")).collect()
    val b = t3Interp(present).orderBy(col("id")).collect()
    a.zip(b).foreach { case (x, y) =>
      (1 to 3).foreach(i => assert(x.getLong(i) == y.getLong(i),
        s"t3 field $i row ${x.getLong(0)}: ${x} vs ${y}"))
    }
    val c = t14Native(present).orderBy(col("id")).collect()
    val d = t14Interp(present).orderBy(col("id")).collect()
    c.zip(d).foreach { case (x, y) =>
      (1 to 2).foreach(i => assert(x.getLong(i) == y.getLong(i),
        s"t14 field $i row ${x.getLong(0)}: ${x} vs ${y}"))
    }
    // null input -> null structs
    val nulls = df.filter(col("id") === 7)
      .select(TokenCounts.of(col("s")), QualityScanStats.of(col("s"), block))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // known values: "MERGE Hash stream hashx merge." flags 3 of 5
    // (hashx doesn't match; "merge." doesn't match — punctuation)
    assert(c(3).getLong(1) == 5L && c(3).getLong(2) == 3L)
  }

  test("every word counter counts Q.words, ws_tokens counts Q.wsTokens") {
    import spark.implicits._
    // the edge-case strings above, plus \u000B, \f and a non-ASCII
    // space (U+00A0, not \s, so inside a word)
    val texts = Seq("", "   ", "a1b .. x9", "MERGE Hash stream hashx merge.",
      "héllo wörld 漢字 merge", "\tmerge\n\nhash\r stream ", "a b\t", "\t",
      "\t\n", "a\t ", " \t merge \n", "The data, ROW; the!! key?",
      "\tdata\n\nvalue\r x ", "x\u000By\fz\u00A0w")
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "s")
      .select(col("id"),
        QualityScanStats.of(col("s"), block).getField("n_words"),
        QualityScanStats.of(col("s"), stops).getField("n_words"),
        size(WordShingleSigs.of(lower(col("s")), 1)),
        size(Q.words(col("s"))),
        TokenCounts.of(col("s")).getField("ws_tokens"),
        Q.wsTokens(col("s")))
      .orderBy(col("id")).collect()
    assert(rows.length == texts.length)
    rows.foreach { r =>
      val text = texts(r.getLong(0).toInt)
      val n = r.getInt(4)
      assert(r.getLong(1) == n && r.getLong(2) == n,
        s"n_words vs size(Q.words) on ${text.toSeq}: $r")
      // a text without a non-whitespace byte is Q.words' one empty word:
      // the counters floor at 1, the shingler has no word to sign
      val blank = text.forall(c => " \t\n\u000B\f\r".contains(c))
      if (blank) assert(n == 1 && r.getInt(3) == 0, s"blank ${text.toSeq}: $r")
      else assert(r.getInt(3) == n, s"1-shingles on ${text.toSeq}: $r")
      assert(r.getLong(5) == r.getInt(6), s"ws_tokens on ${text.toSeq}: $r")
    }
    assert(rows.last.getInt(4) == 3, "x, y, z\u00A0w")
  }
}
