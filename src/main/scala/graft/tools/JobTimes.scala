package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev harness for the core-scaling blind spot: at bench SF every query
  * is 0.2-3 s and per-job scheduling/planning overhead dominates, so
  * wall-clock core-scaling ratios measure the scheduler, not the
  * engine. This main runs the named queries (default: the WHOLE bench
  * suite) once in the bench session after the bench's own warmup and
  * reports, per query, wall seconds alongside sum-of-job seconds — the
  * in-job share is the part that scales with cores; the gap is driver
  * work (planning, commits, collects) that no core count removes. One
  * JSON line + sidecar (SPARK_GRAFT_JOBTIME_OUT, default
  * jobtime_report.json); the sidecar also lists each query's jobs as
  * (id, seconds, site) — the where-do-the-seconds-go view for
  * multi-job lifecycle entries whose cost the SQL plan can't attribute.
  * A job's site is the SQL action it runs for (its execution's
  * description, e.g. `collect at Warc.scala:…`; AQE query-stage jobs
  * carry their execution's id too), or its result stage's name for a
  * job outside any SQL execution.
  * Same env contract as Bench; a dev tool, not a measured surface. Run:
  *   sbt "runMain graft.tools.JobTimes p218_sq8_lifecycle"
  */
object JobTimes {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Bench.sfDir
    val cpus = graft.Bench.cpus
    val spark = graft.Bench.session(cpus)
    val benchDir = graft.Bench.rematerialize(spark, sfDir, cpus)
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.benchQueries
    graft.Bench.warm(spark, names)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val actions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => actions.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // an execution's start is posted before its jobs'; outside SQL
        // the result stage (created last, highest id) is named after
        // the job's short call site
        val action = Option(js.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(actions.get(id.toLong)))
        val site = action.orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          jobs.add((je.jobId, (je.time - t0) / 1e3, site))
        }
    })
    // single-threaded suite: every job between a query's start and end
    // belongs to that query. Events reach the listener asynchronously,
    // so the bus is drained before the reset (nothing of the previous
    // query arrives late) and before the read (nothing of this one is
    // missing).
    // Failure-honest like Bench: one bad name or throwing query must
    // not lose the whole report — it appears with wall = -1.
    val rows = names.map { n =>
      BusBridge.drain(spark.sparkContext)
      jobs.clear()
      actions.clear()
      val t0 = System.nanoTime()
      val ok = try { graft.Bench.materialize(graft.SparkEntry.queries(n)(spark, benchDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[jobtimes] $n FAILED: ${e.getMessage}"); false }
      val wall = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      BusBridge.drain(spark.sparkContext)
      (n, wall, jobs.asScala.toVector.sortBy(_._1))
    }
    def report(withJobs: Boolean): String = {
      val body = rows.map { case (n, w, js) =>
        val detail = if (!withJobs) "" else js.map { case (id, s, site) =>
          f"""{"id":$id,"s":$s%.3f,"site":${graft.Jsons.str(site)}}"""
        }.mkString(""","jobs":[""", ",", "]")
        f"""\"$n\":{\"wall\":$w%.3f,\"in_jobs\":${js.map(_._2).sum}%.3f,\"n_jobs\":${js.size}$detail}"""
      }.mkString("{", ",", "}")
      val totalWall = rows.filter(_._2 >= 0).map(_._2).sum
      val totalJobs = rows.flatMap(_._3).map(_._2).sum
      f"""{"metric":"jobtime","wall_total":$totalWall%.3f,"in_jobs_total":$totalJobs%.3f,"cpus":$cpus,"sf":"$sfDir","queries":$body}"""
    }
    println(report(withJobs = false))
    val out = sys.env.getOrElse("SPARK_GRAFT_JOBTIME_OUT", "jobtime_report.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (report(withJobs = true) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"jobtime write failed: $e") }
    spark.stop()
  }
}
