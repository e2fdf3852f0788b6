package graft
import graft.tools.Harness
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // The driver always passes two args (all queries); the optional third is
    // for fast local iteration on a changed subset.
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.release(spark)
    }
    writeOracleSql(outDir, only)
    spark.stop()
  }

  /** `<outDir>/oracle_sql.json`: the DuckDB oracle SQL of every declared
    * key in `only` (all when None). */
  def writeOracleSql(outDir: String, only: Option[Set[String]]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Harness.jsonObject(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })): Unit
}
