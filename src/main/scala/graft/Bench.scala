package graft

/** Driver-run benchmark: per-query wall times at `SPARK_GRAFT_SF_DIR`
  * on `SPARK_GRAFT_CPUS` local cores, printed as a full-precision
  * `queries_full` JSON line followed by the compact tail of
  * [[renderTail]].
  *
  * A first untimed warm-up pass runs every query so the measured
  * numbers report steady-state engine throughput rather than one-off
  * JVM class-loading / whole-stage-codegen compilation (JMH-style; the
  * cold-start cost is amortized to zero on any long-lived cluster).
  *
  * Each query is then timed on [[Runs]] full passes and reported as
  * the per-query MEDIAN across passes — round-2 showed single-pass
  * times swinging 2-15x on unchanged code from JIT / GC / scheduler
  * interference, which made the bench unable to detect real
  * regressions. `value` is the sum of medians; `spread` is the
  * max over queries of (max-min)/median across passes, a noise
  * indicator for the run.
  */
object Bench {

  /** Timed passes per key, after the one untimed warm-up pass. */
  private val Runs = 3

  /** Contention sentinel (r15, verdict task 3). BENCH_r14's 163 s
    * total (vs r13's 89 s on mostly-unchanged code) was the round's
    * own still-live protocol JVM stepping on the driver bench —
    * unchanged keys blew up 20x and a turn went to re-litigating
    * phantom regressions. Rather than refuse to start (the driver's
    * bench run must never deadlock on a stray process), the run
    * STAMPS what else was live: any non-ancestor JVM that looks like
    * an sbt/graft process (forked bench JVMs carry an opaque
    * `java @/tmp/sbt-args...` cmdline, so any sbt-launched java
    * counts) and any DuckDB oracle replay. Peers are sampled at start
    * and at end and unioned — a leg that starts mid-run still marks
    * the output. `contended: 0` is the clean-room claim; readers of
    * BENCH_r{N} treat anything else as non-comparable.
    */
  def liveGraftPeers(): Seq[String] = {
    val self = {
      val b = scala.collection.mutable.Set[Long]()
      var h = ProcessHandle.current()
      b += h.pid()
      while (h.parent().isPresent) { h = h.parent().get(); b += h.pid() }
      b.toSet
    }
    val procs = Option(new java.io.File("/proc").listFiles())
      .getOrElse(Array.empty)
    procs.toSeq.filter(f => f.getName.forall(_.isDigit)).flatMap { f =>
      if (self.contains(f.getName.toLong)) None
      else try {
        val cmd = new String(java.nio.file.Files.readAllBytes(
          f.toPath.resolve("cmdline"))).replace('\u0000', ' ').trim
        val jvm = cmd.contains("java") &&
          (cmd.contains("sbt") || cmd.contains("graft"))
        val oracle = cmd.contains("python") && cmd.contains("duckdb")
        if (jvm || oracle) Some(s"${f.getName}: ${cmd.take(120)}")
        else None
      } catch { case _: Throwable => None }
    }
  }

  /** `s` as a JSON string literal: backslash, quote and every control
    * character (< 0x20) escaped. A tab or CR in an oracle's SQL or a
    * peer's command line would otherwise make the whole document
    * unparseable. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val peersAtStart = liveGraftPeers()
    val spark = graft.core.EngineDefaults.session(sfDir,
      graft.core.EngineDefaults.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Bench action (r10, was Dataset.count() r1-r9): execute the FULL
    // physical plan via queryExecution.toRdd.count(). Plain count()
    // lets Catalyst prune work that doesn't change cardinality — a
    // window whose columns the count never reads collapses to a bare
    // scan — which under-measured window-heavy queries relative to the
    // DuckDB replay's fetchall (two r9 gates, q66/t19, were fully
    // count-degenerate and needed a FORCE special case; that flag is
    // retired now that full-plan is the only action). toRdd runs every
    // operator and materializes every output row per-partition without
    // collecting to the driver — the Spark analog of the replay's
    // fetchall, minus the driver transfer both engines would equally
    // skip on a cluster.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.count()
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Query-major measurement (r9; was run-major): warm up a query,
    // time its `Runs` passes back-to-back, then drop the app's scratch
    // root before moving on. Gates recreate their scratch databases on
    // every invocation, so transient disk is bounded by ONE gate's
    // footprint instead of the whole suite's accumulation — the
    // difference between c_compact_cluster fitting at sf100 (its two
    // lineitem copies alone are ~27 GB) and dying on a full disk under
    // 43 GB of other gates' dead tables. Per-query medians are
    // unchanged in meaning; back-to-back passes also sample less
    // cross-query JIT/GC interference than the interleaved order did.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val perQuery: Map[String, Seq[Double]] = names.map { name =>
      // untimed warm-up pass
      try run(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => () }
      val times = (1 to Runs).map { _ =>
        val t0 = System.nanoTime()
        try run(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      graft.queries.Q.cleanScratch(spark)
      // Shuffle files are reaped by ContextCleaner only when the
      // driver GCs — a 64 GB heap can go many corpus-scale queries
      // without one, stacking tens of GB of dead shuffle data (the
      // second sf100 disk-pressure source after scratch). One explicit
      // GC per query, outside every timed window, keeps the floor flat.
      System.gc()
      name -> times
    }.toMap
    val samples: Seq[Map[String, Double]] =
      (0 until Runs).map(i => names.map(n => n -> perQuery(n)(i)).toMap)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // A failed query's elapsed-to-exception is not a throughput
    // sample: report it as null and keep it out of the total/spread so
    // a fast-failing query cannot deflate the headline number.
    val ok = names.filterNot(failed.contains)
    val med = ok.map(n => n -> median(samples.map(_(n)))).toMap
    val spread = (0.0 +: ok.map { n =>
      val xs = samples.map(_(n))
      if (med(n) > 0) (xs.max - xs.min) / med(n) else 0.0
    }).max
    val qs = names.map(n =>
        jsonString(n) + ":" + med.get(n).map(_.toString).getOrElse("null"))
      .mkString("{", ",", "}")
    // Per-query spread ((max-min)/median across passes) on the full
    // line only: the r12 protocol auto-isolates high-spread leg rows
    // (q1's 27.1-vs-5.4 and d9's 88.8-vs-80.4 proved a single leg
    // median can misgrade a plan 5x under host throttle).
    val qspreads = ok.map { n =>
      val xs = samples.map(_(n))
      val sp = if (med(n) > 0) (xs.max - xs.min) / med(n) else 0.0
      jsonString(n) + ":" + "%.3f".formatLocal(java.util.Locale.ROOT, sp)
    }.mkString("{", ",", "}")
    // When anything failed the headline total is NOT comparable with
    // other rounds (the sum silently shrank), so report it as null and
    // expose the partial sum separately as total_ok + n_failed.
    val totalOk = med.values.sum
    val total = if (failed.isEmpty) totalOk.toString else "null"
    // Full-precision per-query map: its own line (local tooling reads
    // this; at 125 queries it is ~5 KB and cannot fit the driver's
    // 2000-char stdout tail window, which is why BENCH_r1..r8 all
    // carry "parsed": null).
    // contention stamp: peers sampled at start ∪ end (see liveGraftPeers)
    val peers = (peersAtStart ++ liveGraftPeers()).distinct
    val fullLine = s"""{"metric":"queries_full","value":$total,"unit":"sec","queries":$qs,"qspreads":$qspreads,"sf":${jsonString(sfDir)},"runs":$Runs,"spread":$spread,"total_ok":$totalOk,"n_failed":${failed.size},"failed":${failed.map(jsonString).mkString("[", ",", "]")},"contended":${peers.size},"peers":${peers.map(jsonString).mkString("[", ",", "]")}}"""
    println(fullLine)
    val tail = renderTail(names, med, failed.toSeq, sfDir, Runs, spread,
      peers.size)
    // Machine-parseable artifacts: stdout framing (sbt's [info]/[success]
    // wrappers) defeated tail-parsing for nine straight rounds, so the
    // same two JSON documents are also written as files in the CWD the
    // driver launches from (the repo root).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_headline.json"), tail.last + "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), fullLine + "\n")
    spark.stop()
    // Printed after SparkSession teardown so no late Spark/log4j writer
    // can interleave; the compact headline stays the ABSOLUTE last line.
    tail.foreach(println)
  }

  /** The driver-visible stdout tail: the per-key medians (`null` for a
    * failed key) in `queries_part` lines, then the compact headline,
    * which must stay the LAST line.
    *
    * The full-precision map lives on the queries_full line and in
    * bench_full.json, but the driver's regression comparator only sees
    * a ~3.5 KB stdout TAIL. So seconds print at 2 decimals, the
    * headline names only the 5 slowest keys, and the map is chunked
    * into ≤1200-char `{"metric":"queries_part","i":I,"k":K,...}` lines:
    * a whole-tail reader reconstructs all K, and a narrower one still
    * gets the last chunks intact.
    */
  def renderTail(names: Seq[String], med: Map[String, Double],
      failed: Seq[String], sfDir: String, runs: Int, spread: Double,
      contended: Int): Seq[String] = {
    def r2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    def obj(keys: Seq[String]): String = keys.map(n =>
      jsonString(n) + ":" + med.get(n).map(r2).getOrElse("null"))
      .mkString("{", ",", "}")
    val chunks = names.foldLeft(Vector(Vector.empty[String])) { (cs, n) =>
      if (obj(cs.last :+ n).length > 1200) cs :+ Vector(n)
      else cs.init :+ (cs.last :+ n)
    }
    val parts = chunks.zipWithIndex.map { case (c, i) =>
      s"""{"metric":"queries_part","i":$i,"k":${chunks.size},"queries":${obj(c)}}"""
    }
    val totalOk = med.values.sum
    val total = if (failed.isEmpty) r2(totalOk) else "null"
    val slowest = obj(med.keys.toSeq.sortBy(n => (-med(n), n)).take(5))
    val failedJson = failed.map(jsonString).mkString("[", ",", "]")
    val headline = s"""{"metric":"total","value":$total,"unit":"sec","slowest":$slowest,"n_queries":${names.size},"sf":${jsonString(sfDir)},"runs":$runs,"spread":${r2(spread)},"total_ok":${r2(totalOk)},"n_failed":${failed.size},"failed":$failedJson,"contended":$contended}"""
    parts :+ headline
  }
}
