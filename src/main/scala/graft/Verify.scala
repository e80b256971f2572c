package graft
import graft.core.{Json, Sessions}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local debugging)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // transient mid-plan caches die with the query that registered
      // them; memoized tables (components, code tables) live on
      graft.core.PlanCache.release(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    // A filtered debug run must not overwrite the full-suite manifest a
    // later differential pass would read — partial subsets go to a
    // distinct file (scripts/check.py prefers the partial when present).
    val manifest = if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$manifest"), json)
    // ...and a FULL run clears any stale partial so downstream readers
    // can't pick up an old debug subset.
    if (only.isEmpty) Files.deleteIfExists(Paths.get(s"$outDir/oracle_sql.partial.json"))
    SparkEntry.releaseSessionCaches(spark)
    spark.stop()
  }
}
