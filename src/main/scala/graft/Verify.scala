package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure-honest: a query that throws is recorded in `_failures.json`
  * (name → message) beside oracle_sql.json and flips the exit code to
  * nonzero — a crashed query must surface as a red row in the gate, not
  * silently vanish from the artifact (round 6: five analysis crashes
  * were invisible because the exception only reached stderr).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional trailing query names restrict the dump (local iteration);
    // the driver passes exactly (sfDir, outDir) and dumps everything.
    // Unknown names fail loudly — a typo that silently dumps nothing
    // would leave a stale previous dump to pass the oracle compare.
    val only = args.drop(2).toSet
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.LocalFs.install(spark)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Jsons.obj(SparkEntry.oracleSql))
    // always written (empty object when clean) so its absence can never
    // be mistaken for a clean run
    Files.writeString(Paths.get(s"$outDir/_failures.json"), Jsons.obj(failures))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
