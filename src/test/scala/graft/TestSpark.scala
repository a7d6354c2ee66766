package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.sources.LocalFs.install(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with Spark logging OFF, restoring WARN after. Two
    * benign-but-noisy cases log ERROR stack traces into an otherwise
    * green suite's output: (a) negative tests that intentionally fail
    * executor tasks (loud-guard `raise_error` expressions under
    * `intercept[]` — the task abort is the EXPECTED outcome), and
    * (b) `query.stop()` racing an in-flight no-data micro-batch
    * commit (CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT task aborts after
    * `processAllAvailable()` has already quiesced the data — the
    * watermark-advance batch is interruptible by design). A log that
    * trains readers to ignore ERROR lines is worse than a quiet one;
    * real failures still fail assertions. Toggling the global level is
    * safe here: the forked test JVM runs suites sequentially.
    */
  def quietly[A](body: => A): A = {
    spark.sparkContext.setLogLevel("OFF")
    try body finally spark.sparkContext.setLogLevel("WARN")
  }

  /** `body`'s result and the number of Spark jobs it started. The
    * listener bus delivers asynchronously, so it is drained before the
    * count resets and again before it is read.
    */
  def jobsOf[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.BusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.graft.BusBridge.drain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Stop a streaming query with the stop-window noise suppressed —
    * callers quiesce with `processAllAvailable()` first, so everything
    * the test asserts is already materialized when this runs. The OFF
    * window holds briefly PAST the stop: an interrupted in-flight task
    * logs its abort asynchronously on an executor thread, after
    * `stop()` has already returned. What that task leaves of a
    * temporary checkpoint goes with the query, as in the engine's own
    * runner.
    */
  def quietStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    quietly { graft.streaming.StreamingQueries.stop(q); Thread.sleep(300) }
}
