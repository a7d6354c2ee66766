package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds, so harness spans
  * (taken with nanoTime) and Spark listener spans (taken with
  * currentTimeMillis) share one axis.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Double, end: Double, attrs: Map[String, Double])

/** In-memory span recorder. Disabled, it only runs the bodies. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0L)
  private val buf = ArrayBuffer.empty[Span]
  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  def nowMs: Double = wallBase + (System.nanoTime() - nanoBase) / 1e6
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) buf.synchronized { buf += s }
  def spans: Seq[Span] = buf.synchronized { buf.toList }

  /** Run `body` inside a span; jobs it submits carry the span id as the
    * `perfbench.span` local property, so the listener can parent them.
    */
  def span[T](sc: SparkContext, name: String, kind: String, parent: Long)
             (body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = newId()
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = nowMs
      try body(id)
      finally {
        add(Span(id, parent, name, kind, t0, nowMs, Map.empty))
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Counts from the executed plans of every action a query ran. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Map[String, Double] = {
    val kinds = collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike => "n_exchanges"
      case _: BroadcastHashJoinExec => "n_bhj"
      case _: FileSourceScanExec => "n_scans"
    }
    kinds.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
  }
}

/** Spark-side layer probe: job and stage spans parented by the span id
  * the harness put in the job's local properties, task metrics summed per
  * stage, cached-block bytes and executed-plan node counts.
  */
final class LayerListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private final case class Job(id: Long, parent: Long, start: Double)
  private final class Agg {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val stageAgg = new ConcurrentHashMap[(Int, Int), Agg]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var cached = 0L
  @volatile private var cachedPeak = 0L
  private val plan = new ConcurrentHashMap[String, Double]()
  val jobsStarted = new AtomicLong(0L)
  val jobsEnded = new AtomicLong(0L)

  private def parentOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val id = tracer.newId()
    jobs.put(e.jobId, Job(id, parentOf(e.properties), e.time.toDouble))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    Option(jobs.remove(e.jobId)).foreach { j =>
      val ok = if (e.jobResult == JobSucceeded) 1.0 else 0.0
      tracer.add(Span(j.id, j.parent, s"job ${e.jobId}", "job", j.start, e.time.toDouble,
        Map("succeeded" -> ok)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Agg)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val a = Option(stageAgg.remove((si.stageId, si.attemptNumber()))).getOrElse(new Agg)
    val end = si.completionTime.getOrElse(tracer.nowMs.toLong).toDouble
    val start = si.submissionTime.map(_.toDouble).getOrElse(end)
    tracer.add(Span(tracer.newId(), Option(stageJob.get(si.stageId)).map(_.longValue).getOrElse(0L),
      s"stage ${si.stageId}", "stage", start, end,
      Map("tasks" -> a.tasks.toDouble, "task_cpu_s" -> a.cpuNs / 1e9, "task_gc_s" -> a.gcMs / 1e3,
        "shuffle_write_mb" -> a.shWrite / 1048576.0, "shuffle_read_mb" -> a.shRead / 1048576.0,
        "spill_mb" -> a.spill / 1048576.0)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val before = Option(blocks.put(b.blockId.name, now)).map(_.longValue).getOrElse(0L)
      cached += now - before
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanCounts.of(qe.executedPlan).foreach { case (k, v) => plan.merge(k, v, _ + _) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Plan counts and peak cached MB since the last call; resets both. */
  def takeQueryCounters(): Map[String, Double] = synchronized {
    val counts = Seq("n_exchanges", "n_bhj", "n_scans").map { k =>
      k -> Option(plan.remove(k)).map(_.doubleValue).getOrElse(0.0)
    }.toMap
    val peak = cachedPeak / 1048576.0
    cachedPeak = cached
    counts + ("cache_blocks_mb" -> peak)
  }

  def openJobs: Int = jobs.size
}

object LayerListener {
  /** Flush the bus, then require every job-start to have its job-end. */
  def settle(sc: SparkContext, l: LayerListener): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    if (l.openJobs != 0 || l.jobsStarted.get != l.jobsEnded.get)
      throw new IllegalStateException(
        s"tracer: ${l.jobsStarted.get} job starts but ${l.jobsEnded.get} job ends after drain")
  }
}
