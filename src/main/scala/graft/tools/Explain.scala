package graft.tools

/** Dump formatted physical plans for the headline queries — the
  * shuffle/broadcast/pushdown audit loop — in the bench session on
  * SPARK_GRAFT_SF_DIR. Run:
  *   sbt "runMain graft.tools.Explain q01_pricing_summary q03_revenue_by_segment"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.benchQueries
    val sf = graft.Bench.sfDir
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
