package graft

/** Dev tool: time (3-run median after warm-up) and print the plan of
  * selected queries at a given SF dir. Usage:
  * `runMain graft.Explain <sfDir> [query ...]` — no args = all.
  * Set GRAFT_EXPLAIN=1 to also dump the formatted plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // the same session as graft.Bench, so isolated rows measure the
    // plans the bench ran
    val spark = graft.core.EngineDefaults.session(sfDir,
      graft.core.EngineDefaults.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Same action as graft.Bench since r10: the FULL physical plan
    // (count() lets Catalyst prune pure-projection work, so numbers
    // here would not be comparable with bench/protocol rows).
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.count()
    for (n <- names) {
      val q = SparkEntry.queries(n)
      run(q(spark, sfDir)) // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run(q(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"== $n%-22s median ${ts(1)}%.3f s  (${ts.mkString(", ")})")
      if (sys.env.get("GRAFT_EXPLAIN").contains("1")) {
        val df = q(spark, sfDir)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
      graft.queries.Q.cleanScratch(spark)
    }
    spark.stop()
  }
}
