package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only these query names (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = graft.core.EngineDefaults.session(sfDir,
      graft.core.EngineDefaults.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.queries.Q.cleanScratch(spark)
    }
    import Bench.jsonString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Oracle metadata the replay tooling needs: which keys' oracles are
    // gate-scale-only (quadratic). Declared per-Q in Scala — the single
    // source of truth — so tools/bench_duckdb.py never maintains a
    // parallel hardcoded name list that silently goes stale.
    val quad = SparkEntry.quadraticOracles.toSeq.sorted
      .map(jsonString).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/oracle_meta.json"),
      s"""{"quadratic_oracles": $quad}""")
    spark.stop()
  }
}
