package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dup-cluster assignment and PII scrubbing for the LLM-training-data
  * pipeline (beyond the reference's own surface; the reference's query
  * engine could express neither — DuckDB has no iterative operator and
  * its adapter role never needed one; cf. /root/reference/README.md
  * scope).
  *
  * d6 turns pairwise duplicate SIGNALS into disjoint CLUSTERS — the
  * step a real dedup pipeline needs between candidate generation
  * (d1/d2/d4/d5b produce pairs) and canonical-document election: near-
  * dup similarity is not transitive, but the keep-one-per-group
  * decision must be, so pairs are closed into connected components.
  */
object LlmCluster extends QueryModule {
  import Q.t

  private def norm(c: org.apache.spark.sql.Column) =
    lower(trim(regexp_replace(c, "\\s+", " ")))
  private val normSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"

  /** Connected components of a symmetric `(src, dst)` edge list;
    * returns `(id, comp)` with `comp` = the component's min id.
    *
    * The input here is always a CONTRACTED graph (one node per
    * signature group), so it is usually tiny no matter how large the
    * corpus is — in that regime a collected union-find beats paying
    * one distributed round-trip per graph-diameter hop. Graphs over
    * `maxDriverEdges` fall back to Pregel-style min-label propagation
    * WITH pointer jumping: each round moves labels one edge hop (join
    * + combine-aggregated groupBy) and one label-indirection hop
    * (label(id) := min(label(id), label(label(id)))), so convergence
    * is O(log diameter) rounds — a 64-round cap covers any graph with
    * under 2^63 nodes, making the `require` a correctness backstop
    * rather than a reachable limit (a plain one-hop loop needs
    * O(diameter) rounds and a long signature chain could exceed any
    * fixed cap). Every round is lineage-cut with an eager
    * localCheckpoint (see the inline comment), which both prevents
    * the self-join's exponential plan growth and lets the
    * ContextCleaner reclaim old rounds — nothing stays pinned.
    */
  private[graft] def components(sym: DataFrame,
      maxDriverEdges: Int = 2000000): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    // one evaluation decides the path: collect up to the guard + 1
    val head = sym.select(col("src"), col("dst")).as[(Long, Long)]
      .limit(maxDriverEdges + 1).collect()
    if (head.length <= maxDriverEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for ((a, b) <- head) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min wins
      }
      head.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSeq.distinct
        .map(v => (v, find(v))).toDF("id", "comp")
    } else {
      // Each round is cut from its lineage with an eager
      // localCheckpoint: the pointer-jump self-join references the
      // round's frame twice, so an uncut logical plan doubles per
      // round (exponential — it OOMs formatting the plan string long
      // before the data is large), and checkpointing also replaces
      // the persist/unpersist frontier dance — blocks are freed by
      // the ContextCleaner when a round's frame is GC'd, so repeated
      // invocations cannot accumulate pinned caches. (On a real
      // cluster a reliable checkpoint dir trades the same cut for
      // executor-loss tolerance.)
      var comp = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp")).localCheckpoint()
      var iter = 0
      var done = false
      while (!done && iter < 64) {
        val prop = sym.join(comp, col("src") === col("id"))
          .select(col("dst").as("id"), col("comp"))
        // toDF on both sides mints fresh expression ids: prop derives
        // from comp, and unioning a checkpointed frame with its own
        // derivation trips Catalyst's union constraint rewrite
        // hop is NOT checkpointed: next's cut bounds the plan at two
        // copies of this round's frame (the exponential growth the
        // per-round cut prevents needs the uncut frame to carry over
        // rounds), and skipping the eager materialization saves a
        // full job per round
        val hop = comp.toDF("id", "comp")
          .unionByName(prop.toDF("id", "comp"))
          .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        // pointer jump: follow the label's own label (labels are node
        // ids, so they resolve in the same frame); left join + coalesce
        // keeps already-minimal labels (comp == id) intact
        val next = hop.as("a")
          .join(hop.select(col("id").as("jid"), col("comp").as("jcomp")),
            col("a.comp") === col("jid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.comp"), coalesce(col("jcomp"), col("a.comp")))
              .as("comp"))
          .localCheckpoint()
        val changed = next
          .join(comp.select(col("id"), col("comp").as("prev")), "id")
          .filter(col("comp") =!= col("prev")).count()
        comp = next
        done = changed == 0
        iter += 1
      }
      require(done, s"components did not converge within $iter rounds")
      comp
    }
  }

  def queries: Map[String, Q] = Map(
    // ─── d6: duplicate clusters via distributed connected components ───
    // Edges: docs sharing a 40-char normalized prefix OR the same
    // sorted distinct-word bag (two equivalence signals, neither
    // refines the other, so components are genuinely transitive:
    // A~B by prefix, B~C by bag ⇒ {A,B,C} one cluster). Components
    // by iterative min-label propagation — Pregel-style, one
    // hash-shuffle join + one combine-aggregated groupBy per round,
    // O(component diameter) rounds (star edges keep diameters small).
    // Each round persists its frontier and drops the previous one, so
    // lineage and memory stay bounded; only the scalar changed-count
    // reaches the driver. The DuckDB oracle computes the same closure
    // with a recursive CTE.
    "d6_dup_clusters" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), norm(col("text")).as("nrm"))
        // 16-byte binary sigs (r15; the d1 r11 convention): pfx/bag are
        // only partition keys for the two window exchanges below — the
        // 32-char hex strings shipped 2x the key bytes for identical
        // grouping. unhex(md5) halves both exchanges' key payload.
        val keyed = docs.select(col("doc_id"),
          unhex(md5(substring(col("nrm"), 1, 40))).as("pfx"),
          unhex(md5(array_join(
            array_sort(array_distinct(split(col("nrm"), " "))),
            " "))).as("bag"))
        // Contraction: every doc is directly connected to its prefix
        // group's min ("pfx root") and its bag group's min, so the
        // component structure survives collapsing each group to its
        // root. Propagation then runs on the ROOT graph — one node
        // per signature group, invariant under duplication of the
        // corpus — instead of on every document; docs map back with
        // one join at the end. (A dup-heavy corpus is exactly where
        // this matters: 100x-replicated docs add zero root nodes.)
        val wp = Window.partitionBy(col("pfx"))
        val wb = Window.partitionBy(col("bag"))
        val rooted = keyed.select(col("doc_id"),
          min(col("doc_id")).over(wp).as("pr"),
          min(col("doc_id")).over(wb).as("br"))
        val redges = rooted.select(col("pr").as("src"), col("br").as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val sym = redges
          .unionAll(redges.select(col("dst").as("src"), col("src").as("dst")))
        val comp = components(sym)
        // cluster id = component min, which is always a root (the
        // global min of a component is the min of its own pfx group);
        // roots with no cross-signal edge fall back to min(pr, br)
        val out = rooted
          .join(comp.withColumnRenamed("id", "pr"), Seq("pr"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), least(col("pr"), col("br"))).as("cluster_id"))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc_id"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("cluster_id"))
        out
      },
      Some(s"""WITH RECURSIVE docs AS (
          SELECT doc_id, $normSql AS nrm FROM documents),
        keyed AS (
          SELECT doc_id, md5(substr(nrm, 1, 40)) AS pfx,
            md5(array_to_string(list_sort(list_distinct(
              string_split(nrm, ' '))), ' ')) AS bag
          FROM docs),
        rooted AS (
          SELECT doc_id,
            min(doc_id) OVER (PARTITION BY pfx) AS pr,
            min(doc_id) OVER (PARTITION BY bag) AS br
          FROM keyed),
        -- closure over the CONTRACTED root graph (one node per
        -- signature group): the naive doc-level closure is quadratic
        -- in duplication, the root graph is invariant under it
        redges AS (SELECT DISTINCT pr AS src, br AS dst FROM rooted
                   WHERE pr <> br),
        sym AS (SELECT src, dst FROM redges
                UNION SELECT dst, src FROM redges),
        reach AS (
          SELECT DISTINCT src AS id, src AS comp FROM sym
          UNION
          SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id),
        lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
        mapped AS (
          SELECT r.doc_id,
            coalesce(l.comp, least(r.pr, r.br)) AS cluster_id
          FROM rooted r LEFT JOIN lab l ON l.id = r.pr)
        SELECT cluster_id, count(*) AS n_docs, max(doc_id) AS max_doc_id
        FROM mapped GROUP BY cluster_id HAVING count(*) >= 2
        ORDER BY cluster_id""")),

    // ─── t5: PII scrubbing (regex redaction) ───
    // The corpus carries no natural PII, so deterministic synthetic
    // PII (an email and a phone derived from doc_id) is appended
    // before scrubbing — the redaction path is exercised for real and
    // both engines agree byte-for-byte. One codegen'd projection; the
    // patterns stay in the Java∩RE2 common dialect (character
    // classes + bounded repetition, no lookaround). Since r11 the
    // Spark side is a native one-pass scanner (PiiScrub) hand-
    // compiled for exactly these two patterns — java.util.regex's
    // per-offset backtracking NFA was 8.8x the reference at sf10;
    // PiiScrubSpec pins match-for-match parity against it, including
    // a 10k-string randomized adversarial alphabet.
    "t5_pii_scrub" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"),
              lit("@mail.example.com or +1 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
              .as("dirty"))
          .select(col("doc_id"),
            graft.functions.PiiScrub.of(col("dirty")).as("pii"))
          .select(col("doc_id"),
            col("pii.n_emails").as("n_emails"),
            col("pii.n_phones").as("n_phones"),
            col("pii.clean").as("clean"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH dirty AS (
          SELECT doc_id,
            text || ' contact user' || cast(doc_id AS varchar)
              || '@mail.example.com or +1 555-'
              || lpad(cast(doc_id % 10000 AS varchar), 4, '0') AS dirty
          FROM documents)
        SELECT doc_id,
          cast(len(regexp_extract_all(dirty,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint)
            AS n_emails,
          cast(len(regexp_extract_all(dirty,
            '\+[0-9]{1,2} [0-9]{3}-[0-9]{4}')) AS bigint) AS n_phones,
          regexp_replace(regexp_replace(dirty,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+[0-9]{1,2} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        FROM dirty
        ORDER BY doc_id"""))
  )
}
