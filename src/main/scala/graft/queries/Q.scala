package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_distinct, array_join,
  array_sort, col, count, explode, expr, lit, lower, md5, pmod,
  regexp_replace, size, split, timestamp_micros, trim, xxhash64}
import org.apache.spark.sql.types.LongType

import graft.functions.WordShingleSigs

/** One gated capability: a Spark query builder plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB as the oracle.
  *
  * Numeric policy (keeps the driver's hash-compare order-independent):
  *   - money sums: sum over decimal(18,2) cast, then cast to double —
  *     exact in both engines regardless of aggregation order
  *     ([[graft.functions.Dnum.dsum]]; DuckDB side [[Q.dsumSql]]).
  *   - averages: exact decimal sum / exact count, divided in double
  *     ([[graft.functions.Dnum.davg]]; DuckDB side [[Q.davgSql]]).
  *   - integer sums in DuckDB return HUGEINT; oracles cast to bigint.
  *   - date-ish group keys are formatted to strings on both sides.
  */
final case class Q(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** The oracle recomputes an approximate operator's EXACT answer
      * quadratically (all-pairs jaccard/cosine) — correct and cheap at
      * the sf0.01 correctness gate, structurally infeasible as a
      * timing replay at protocol SFs. Declared here (the one place
      * that knows the oracle's complexity) and surfaced through
      * [[graft.SparkEntry.quadraticOracles]] → `oracle_meta.json`, so
      * replay tooling never has to maintain a parallel hardcoded list.
      */
    quadraticOracle: Boolean = false)

object Q {
  /** Read one test table: `{sfDir}/{name}.parquet`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scratch database root for engine gates, resolved through Hadoop's
    * [[org.apache.hadoop.fs.FileSystem]] — the same abstraction
    * [[graft.core.Catalog]] runs on — so the gates themselves stay
    * object-store-honest: point GRAFT_SCRATCH_ROOT at any supported
    * scheme (`file://`, `hdfs://`, `s3a://`) and every c_* gate
    * materializes there instead of assuming a POSIX tmpdir.
    */
  def scratch(spark: SparkSession, name: String): String = {
    val p = new Path(scratchRoot(spark), s"graft_db_$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    fs.makeQualified(p).toString
  }

  /** Delete this application's entire scratch root. Every gate
    * recreates its own scratch database on invocation (drop-first /
    * overwrite semantics), so a harness may call this between gates to
    * bound transient disk to ONE gate's footprint instead of the whole
    * suite's accumulation — at sf100 the 19 engine write gates
    * otherwise stack ~43 GB of dead tables under the live one.
    */
  def cleanScratch(spark: SparkSession): Unit = {
    val p = scratchRoot(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** This application's scratch root: `GRAFT_SCRATCH_ROOT` (default
    * the JVM tmpdir) plus `graft_<applicationId>`. The application id
    * keeps two concurrent graft JVMs (e.g. a bench run overlapping a
    * correctness run) from ever sharing a scratch database — a CTAS
    * rename-aside in one process would corrupt the other's mid-swap
    * read. Within one JVM the id is stable, so each gate keeps its own
    * drop-first determinism.
    */
  private def scratchRoot(spark: SparkSession): Path =
    new Path(sys.env.getOrElse("GRAFT_SCRATCH_ROOT",
      "file:" + System.getProperty("java.io.tmpdir")),
      s"graft_${spark.sparkContext.applicationId}")

  /** DuckDB rendering of [[graft.functions.Dnum.dsum]] (numeric policy
    * above): exact decimal(18,scale) sum, as double. */
  def dsumSql(expr: String, scale: Int = 2): String =
    s"cast(sum(cast($expr as decimal(18,$scale))) as double)"

  /** DuckDB rendering of [[graft.functions.Dnum.davg]]: [[dsumSql]] /
    * count — identical IEEE division on identical operands. */
  def davgSql(expr: String, scale: Int = 2): String =
    s"${dsumSql(expr, scale)} / count($expr)"

  /** Normalized text: lowercase, trimmed, whitespace collapsed — the
    * form every text signature, shingle and word split starts from. */
  def norm(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** DuckDB rendering of [[norm]] over the `text` column. */
  val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** The words of a text: [[norm]] split on single spaces, so the
    * maximal runs of non-`\s` characters, lowercased. Every word count,
    * word key, span and chunk reads this list, and the native word
    * scanners in [[graft.functions]] count the same runs. A text
    * without a non-whitespace character has one empty word (`[""]`),
    * so a word count never reads 0. */
  def words(c: Column): Column = split(norm(c), " ")

  /** DuckDB rendering of [[words]] over the `text` column. */
  val wordsSql = s"string_split($normSql, ' ')"

  /** Whitespace-token count: the `\s+`-separated pieces of the text
    * with its leading and trailing spaces trimmed. Unlike [[words]] it
    * neither lowercases nor collapses: `trim` strips only spaces, so a
    * leading or trailing tab or newline adds an empty token, and a
    * blank text counts 1. [[graft.functions.TokenCounts]] computes the
    * same count in its fused pass. */
  def wsTokens(c: Column): Column = size(split(trim(c), "\\s+"))

  /** DuckDB rendering of [[wsTokens]] over the column named `c`. */
  def wsTokensSql(c: String): String =
    s"len(string_split_regex(trim($c), '\\s+'))"

  /** Bag signature of a normalized text: md5 of its sorted distinct
    * words, so reordered or repeated content signs alike. */
  def bagSig(nrm: Column): Column =
    md5(array_join(array_sort(array_distinct(split(nrm, " "))), " "))

  /** DuckDB rendering of [[bagSig]]. */
  def bagSigSql(nrm: String): String =
    s"md5(array_to_string(list_sort(list_distinct(string_split($nrm, ' '))), ' '))"

  /** Distinct word-trigram shingles `(doc_id, sh, sh30)` of each
    * document's text. `sh` is the trigram's 16-byte
    * [[graft.functions.WordShingleSigs]] signature, over the
    * [[words]] of the text; two signatures are equal
    * exactly when the trigrams are, up to a ~2^-128 chance per pair
    * (both 64-bit lanes colliding). A document with fewer than three
    * words has no trigrams, as in [[trigramOverlapSql]]. `sh30` hashes
    * the signature into [0, 2^30). */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(WordShingleSigs.of(lower(col("text")), 3)).as("sh"))
      .distinct()
      .withColumn("sh30", pmod(xxhash64(col("sh")), lit(1L << 30)))

  /** Trigram jaccard of the pairs in `inter (a, b, ni)`, where `ni`
    * counts the distinct shingles the pair shares, over the distinct
    * shingles `tri (doc_id, sh)` of each side: `(a, b, ni, na, nb,
    * jaccard)` with jaccard = ni / (na + nb - ni), one IEEE divide of
    * exact counts. A pair missing from `inter` shares nothing and is
    * not reported. The `jac` CTE of [[trigramOverlapSql]] is its
    * DuckDB rendering. */
  def jaccard(inter: DataFrame, tri: DataFrame): DataFrame = {
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"), col("ni"), col("na"), col("nb"),
        (col("ni").cast("double") /
          (col("na") + col("nb") - col("ni"))).as("jaccard"))
  }

  /** DuckDB rendering of [[shingles]] plus their all-pairs overlap, as
    * CTEs over a caller-defined `docs (doc_id, words)`: `tri (doc_id,
    * sh)` distinct trigrams, `sizes (doc_id, n)`, `inter (a, b, ni)`
    * the shared-trigram count of every overlapping pair a < b, and
    * `jac (a, b, ni, na, nb, jaccard)`, the rendering of [[jaccard]]. */
  val trigramOverlapSql =
    """toks AS (SELECT doc_id, generate_subscripts(words, 1) AS pos,
                 unnest(words) AS w FROM docs),
      tri AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
              FROM toks a
              JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
              JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ni
                FROM tri x JOIN tri y ON x.sh = y.sh AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      jac AS (SELECT a, b, ni, sa.n AS na, sb.n AS nb,
                cast(ni as double) / (sa.n + sb.n - ni) AS jaccard
              FROM inter JOIN sizes sa ON sa.doc_id = a
                         JOIN sizes sb ON sb.doc_id = b)"""

  /** DuckDB rendering of [[graft.functions.FloatVecDot.dot]] over two
    * double components: each product rounded onto the decimal(18,15)
    * grid, summed exactly. */
  def gridDotSql(x: String, y: String): String =
    s"cast(sum(cast($x * $y as decimal(18,15))) as double)"

  /** One `(vec_id, pos, val)` row per component of the embeddings
    * `from` names (a table, optionally with a WHERE clause), `val` as
    * double and `pos` 1-based. */
  def flatSql(from: String): String =
    s"""SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
            cast(unnest(embedding) as double) AS val
          FROM $from"""

  /** Grid-cosine CTEs over a caller-defined `flat` ([[flatSql]]):
    * `norms (vec_id, nrm)` squared norms, `dots (a, b, dot)` for every
    * pair of flat vectors `x`, `y` that `pairs` admits, and `cosines
    * (a, b, cosine)` unrounded: dot(a, b) / (sqrt(dot(a, a)) *
    * sqrt(dot(b, b))), the cosine every embedding key computes. */
  def gridCosinesSql(pairs: String): String =
    s"""norms AS (SELECT vec_id, ${gridDotSql("val", "val")} AS nrm
          FROM flat GROUP BY vec_id),
        dots AS (SELECT x.vec_id AS a, y.vec_id AS b,
            ${gridDotSql("x.val", "y.val")} AS dot
          FROM flat x JOIN flat y ON x.pos = y.pos AND $pairs
          GROUP BY x.vec_id, y.vec_id),
        cosines AS (SELECT a, b, dot / (sqrt(na.nrm) * sqrt(nb.nrm)) AS cosine
          FROM dots JOIN norms na ON na.vec_id = a
                    JOIN norms nb ON nb.vec_id = b)"""

  /** Read the events table with [[eventTs]] applied. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventTs(spark.read.parquet(s"$dir/events.parquet"))

  /** Normalize an events frame's TIMESTAMP(NANOS) `ts` column — read as
    * epoch-nanos longs under the conf [[graft.core.EngineDefaults.scaled]]
    * sets, since Spark's vectorized parquet reader rejects the type —
    * to a microsecond TimestampType column: the same truncation DuckDB
    * applies when casting timestamp_ns to timestamp. Batch and stream
    * reads both go through here; a microsecond `ts` passes unchanged.
    */
  def eventTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType =>
      // integer `div`, not `/`: double division loses precision on
      // epoch-nanos magnitudes (~1.7e18 > 2^53)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _ => raw
  }
}

/** A module contributing queries to [[graft.SparkEntry]]. */
trait QueryModule {
  def queries: Map[String, Q]
}
