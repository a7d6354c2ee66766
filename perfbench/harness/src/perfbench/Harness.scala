package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Benchmark process: sets up Spark on the generated inputs, measures the
  * workload from outside the engine through its public entry points, and
  * writes `result.json` (and `spans.json` when tracing) into `--out`.
  * Analysis, the oracle check and the metric line are done by `run.py`.
  *
  * Arguments: `--workload w --input dir --out dir --seconds s --trace 0|1
  * --cpus n`, then `--queries a,b,c` for a batch workload or
  * `--rate files/s --horizon-s s` for the stream. A traced run also records
  * a `local[1]` baseline.
  */
object Harness {

  final case class Conf(workload: String, input: String, out: String, seconds: Int,
                        trace: Boolean, cpus: Int, args: Map[String, String]) {
    def queries: Seq[String] = args("queries").split(",").toSeq.filter(_.nonEmpty)
  }

  /** Processing-time trigger of the stream. */
  val TriggerMs = 200L

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("input"), m("out"), m("seconds").toInt, m("trace") == "1",
      m("cpus").toInt, m)
  }

  def session(cpus: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.files.maxPartitionBytes", (512L << 10).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" ")

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    Files.createDirectories(Paths.get(c.out))
    val tracer = new Tracer(c.trace, s"${c.workload}-${ProcessHandle.current().pid()}")
    val result = mutable.LinkedHashMap[String, Any]("workload" -> c.workload, "cpus" -> c.cpus,
      "trace" -> c.trace, "run_id" -> tracer.runId)
    val root = tracer.newId()
    val t0 = tracer.nowMs
    try {
      if (c.workload == "stream_dedup_openloop") new StreamRun(c, tracer, root, result).run()
      else new BatchRun(c, tracer, root, result).run()
      result("heap_live_mb") = liveHeapMb()
    } finally {
      tracer.add(Span(root, 0L, c.workload, "workload", t0, tracer.nowMs, Map.empty))
      result("peak_rss_mb") = peakRssMb()
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      Json.write(Paths.get(c.out, "result.json"), result)
      if (c.trace) Json.write(Paths.get(c.out, "spans.json"), Map("run_id" -> tracer.runId,
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "kind" -> s.kind, "start" -> s.start, "end" -> s.end,
          "attrs" -> s.attrs))))
    }
  }

  /** Warm-up passes until the latest is within 5 % of the one before
    * (at least `min`, at most `max`); returns each pass's figure.
    */
  def settle(min: Int, max: Int)(pass: Int => Double): Seq[Double] = {
    val ts = mutable.ArrayBuffer[Double]()
    while (ts.size < min ||
           (ts.size < max && math.abs(ts.last - ts(ts.size - 2)) > 0.05 * ts(ts.size - 2)))
      ts += pass(ts.size + 1)
    ts.toList
  }

  /** Heap in use after full collections, in MB: the run's live set. Spark
    * drops unreachable cached blocks and broadcasts from its cleaner thread
    * once a collection has found them, so collect until two readings agree.
    */
  def liveHeapMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); m.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = Double.MaxValue
    var cur = used()
    var n = 1
    while (math.abs(prev - cur) > 0.5 && n < 10) {
      Thread.sleep(200)
      prev = cur; cur = used(); n += 1
    }
    cur
  }

  /** Attach or detach the probe between passes. The bus is drained first,
    * so the probe sees every event of the work it traced and none of the
    * work it did not.
    */
  def attach(spark: SparkSession, l: LayerListener): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l)
  }
  def detach(spark: SparkSession, l: LayerListener): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l); spark.listenerManager.unregister(l)
  }

  /** A fresh session with the tracer's listeners attached when tracing. */
  def tracedSession(c: Conf, cpus: Int, tracer: Tracer): (SparkSession, Option[LayerListener]) = {
    val spark = session(cpus, c.out)
    val listener = if (c.trace) Some(new LayerListener(tracer)) else None
    listener.foreach(attach(spark, _))
    (spark, listener)
  }

  /** Throughput of each `graft.functions` kernel on one fixed cached frame
    * (independent of the workload's seed), as rows per second: the median
    * of three noop-sink projections after one warm projection.
    */
  def kernels(spark: SparkSession): Map[String, Double] = {
    import graft.functions._
    val rows = 20000L
    val vocab = (0 until 64).map(i => s"w${Integer.toString(i * 7919 % 4096, 36)}")
    val words = array(vocab.map(lit): _*)
    val base = spark.range(rows).select(
      col("id"),
      concat_ws(" ", transform(sequence(lit(0), lit(40)),
        i => element_at(words, (pmod(hash(col("id"), i), lit(64)) + 1).cast("int")))).as("text"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(hash(col("id"), i), lit(2001)) - 1000).cast("float") / 1000f).as("vec"))
      .withColumn("gz", GzipBytes(col("text").cast("binary")))
      .cache()
    base.count()
    val lo = Array.fill(64)(-1.0)
    val hi = Array.fill(64)(1.0)
    val merges = Seq(("w", "1"), ("w", "2"), ("w", "3"), ("w1", "a"), ("w2", "b"))
    val rnd = new java.util.Random(7)
    val other = array((0 until 64).map(_ => lit(rnd.nextFloat() - 0.5f)): _*)
    val ks = Seq[(String, org.apache.spark.sql.Column)](
      "CosineSimilarity" -> CosineSimilarity(col("vec"), other),
      "MinHashSignature" -> MinHashSignature(col("text"), 3, 8),
      "SimHash" -> SimHash(col("text"), 16),
      "Sq8Codec" -> Sq8Codec.encode(col("vec"), lo, hi, clamp = true),
      "BpeEncode" -> BpeEncode(col("text"), merges),
      "UnicodeNormalize" -> UnicodeNormalize(col("text"), "NFC", casefold = false),
      "GunzipText" -> GunzipText(col("gz")),
      "L2SqMicro" -> L2SqMicro(col("vec"), other),
      "RandomProjection" -> RandomProjection(col("vec"), 16, 42L),
      "ShingleHash40" -> ShingleHash40(col("text"), 3))
    val out = ks.map { case (name, k) =>
      val df = base.select(k.as("k"))
      noop(df)
      val ts = (1 to 3).map { _ => val t = System.nanoTime(); noop(df); secondsSince(t) }.sorted
      name -> rows / ts(1)
    }.toMap
    base.unpersist(blocking = true)
    out
  }
}

/** Batch workloads: `SparkEntry.queries(name)(spark, dir)` then a noop-sink
  * action, per query, pass after pass.
  */
final class BatchRun(c: Harness.Conf, tracer: Tracer, root: Long,
                     result: mutable.Map[String, Any]) {
  import Harness._

  private val failures = mutable.LinkedHashMap[String, String]()
  private var spark: SparkSession = _
  private var listener: Option[LayerListener] = None
  private var tr: Tracer = tracer

  private def live: Seq[String] = c.queries.filterNot(failures.contains)

  /** One query: build, then act. Returns (build_s, action_s), or None
    * after recording the failure — a failed query is never a time.
    */
  private def query(name: String, pass: Long, act: DataFrame => Unit): Option[(Double, Double)] =
    try tr.span(spark.sparkContext, name, "query", pass) { qid =>
      val tb = System.nanoTime()
      val df = tr.span(spark.sparkContext, "build", "build", qid) { _ =>
        graft.SparkEntry.queries(name)(spark, c.input)
      }
      val build = secondsSince(tb)
      val ta = System.nanoTime()
      tr.span(spark.sparkContext, "action", "action", qid)(_ => act(df))
      val action = secondsSince(ta)
      listener.foreach { l =>
        LayerListener.settle(spark.sparkContext, l)
        tr.add(Span(tr.newId(), qid, "counters", "counters", tr.nowMs, tr.nowMs,
          l.takeQueryCounters()))
      }
      Some((build, action))
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name FAILED: ${message(e)}")
      failures(name) = message(e)
      None
    }

  private def pass(label: String, traced: Boolean,
                   act: String => DataFrame => Unit): Map[String, Any] = {
    val t = System.nanoTime()
    val qs = tr.span(spark.sparkContext, label, "pass", root) { pid =>
      live.flatMap { q => query(q, pid, act(q)).map { case (b, a) =>
        q -> Map("build_s" -> b, "action_s" -> a) } }
    }
    Map("label" -> label, "traced" -> traced, "wall_s" -> secondsSince(t), "queries" -> qs.toMap)
  }

  def run(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Json.write(Paths.get(c.out, "oracle_sql.json"),
      c.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap)
    // set-up: session start, then warm-up passes on the workload's own
    // input until pass time settles; the first pass writes each query's
    // output for the oracle check
    val t = System.nanoTime()
    val (s, l) = tracedSession(c, c.cpus, tracer)
    spark = s; listener = l
    val warm = settle(2, 3) { r =>
      val t = System.nanoTime()
      if (r == 1) pass(s"setup $r", c.trace, q => df =>
        df.write.mode("overwrite").parquet(s"${c.out}/outputs/$q"))
      else pass(s"setup $r", c.trace, _ => noop)
      secondsSince(t)
    }
    result("setup_s") = secondsSince(t)
    result("setup_passes_s") = warm
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    // at least two passes; a traced run makes each one twice, untraced
    // then traced, so one is enough there
    var n = 0
    while (n < (if (c.trace) 1 else 2) || System.nanoTime() < deadline) {
      n += 1
      if (!c.trace) passes += pass(s"pass $n", traced = false, _ => noop)
      else {
        passes += untracedPass(s"pass $n untraced")
        passes += pass(s"pass $n", traced = true, _ => noop)
      }
    }
    result("passes") = passes.toList
    if (c.trace) {
      result("kernels") = kernels(spark)
      spark.stop()
      spark = session(1, c.out); listener = None
      result("baseline_1core") = untracedPass("baseline local[1]") + ("cpus" -> 1)
    }
    result("failures") = failures.toMap
  }

  /** A pass with the tracer and its listeners detached. */
  private def untracedPass(label: String): Map[String, Any] = {
    val saved = (tr, listener)
    listener.foreach(detach(spark, _))
    tr = new Tracer(false, tracer.runId); listener = None
    try pass(label, traced = false, _ => noop)
    finally {
      tr = saved._1; listener = saved._2
      listener.foreach(attach(spark, _))
    }
  }
}

/** The open-loop stream: one generator thread moves pre-written documents
  * files into the watched directory on a fixed schedule, which does not
  * slow down when the engine does. The query is
  * `StreamingQueries.documentsStream` → `minhashStreamingCandidates`
  * (stateful `StatefulOps.lshBandMatches`) on a processing-time trigger,
  * into a `foreachBatch` sink that keeps the emitted (min, max) pairs.
  */
final class StreamRun(c: Harness.Conf, tracer: Tracer, root: Long,
                      result: mutable.Map[String, Any]) {
  import Harness._

  private def filesIn(sub: String): Seq[Path] =
    Files.list(Paths.get(c.input, sub)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
  private val staged = filesIn("staged")
  private val rate = c.args("rate").toInt
  private val horizonMs = c.args("horizon-s").toLong * 1000L

  private def query(spark: SparkSession, dir: String) = {
    val docs = graft.streaming.StreamingQueries.documentsStream(spark, dir)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    // the horizon is shorter than the run, so the band state stays
    // bounded; bands are uncapped, so every pair within two horizons is
    // emitted whatever the micro-batch slicing (see oracle.py)
    graft.streaming.StreamingQueries.minhashStreamingCandidates(docs, col("doc_id"),
        col("text"), col("ts"), horizonMs = horizonMs, maxPerBand = Int.MaxValue)
      .toDF()
      .select(least(col("earlierId"), col("laterId")).as("id_a"),
        greatest(col("earlierId"), col("laterId")).as("id_b"))
  }

  private final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      events.add(Map("batch_id" -> p.batchId, "num_input_rows" -> p.numInputRows,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L)))
    }
  }

  /** Run the query to completion over `files` delivered on the schedule.
    * A primed query first reads one warm-up file, before the schedule's
    * clock starts, so a new query's start-up cost does not delay the
    * schedule's first files. Returns due/moved times, the progress events
    * of the scheduled batches and every emitted pair.
    */
  private def schedule(spark: SparkSession, label: String, files: Seq[Path],
                       listener: Option[LayerListener], parent: Long,
                       prime: Boolean): Map[String, Any] = {
    val dir = Paths.get(c.out, label.replace(' ', '_'))
    val watch = dir.resolve("watch/documents.parquet")
    val pre = dir.resolve("pre")
    Files.createDirectories(watch); Files.createDirectories(pre)
    val copies = files.map { f =>
      Files.copy(f, pre.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    if (prime) filesIn("warm").take(1).foreach(f => Files.copy(f, watch.resolve(f.getFileName)))
    val progress = new Progress
    spark.streams.addListener(progress)
    val pairs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    // spans only for the traced schedule
    val tr = if (listener.isDefined) tracer else new Tracer(false, tracer.runId)
    val runId = tr.newId()
    val tStart = tr.nowMs
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.Key, runId.toString)
    val tb = System.nanoTime()
    val bStart = tr.nowMs
    val df = query(spark, dir.resolve("watch").toString)
    val buildS = secondsSince(tb)
    tr.add(Span(tr.newId(), runId, "build", "build", bStart, tr.nowMs, Map.empty))
    val q = df.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => pairs.add((r.getLong(0), r.getLong(1))))
      }
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    sc.setLocalProperty(Tracer.Key, null)
    if (prime) q.processAllAvailable()
    val primeS = secondsSince(tb)
    val primedAt = System.currentTimeMillis()
    // the generator: file i is due at t0 + i / rate, whatever the engine does
    val t0 = primedAt + 500L
    val due = copies.indices.map(i => t0 + i * 1000L / rate)
    val moved = new Array[Long](copies.size)
    val gen = new Thread(() => {
      copies.zipWithIndex.foreach { case (f, i) =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(f, watch.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        moved(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    org.apache.spark.PerfbenchBus.drain(sc)
    listener.foreach(l => LayerListener.settle(sc, l))
    spark.streams.removeListener(progress)
    val events = progress.events.asScala.toList.sortBy(_("batch_id").asInstanceOf[Long])
      .filter(_("start_ms").asInstanceOf[Long] >= primedAt)
    events.foreach { e =>
      val s = e("start_ms").asInstanceOf[Long].toDouble
      val d = e("duration_ms").asInstanceOf[Map[String, Long]]
      val id = tr.newId()
      tr.add(Span(id, runId, s"batch ${e("batch_id")}", "micro-batch", s,
        s + d.getOrElse("triggerExecution", 0L), Map("rows" -> e("num_input_rows").asInstanceOf[Long].toDouble)))
      var at = s
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k => d.get(k).foreach { ms =>
          tr.add(Span(tr.newId(), id, k, "batch-part", at, at + ms, Map.empty)); at += ms } }
    }
    tr.add(Span(runId, parent, label, "run", tStart, tr.nowMs, Map.empty))
    Map("label" -> label, "build_s" -> buildS, "prime_s" -> primeS, "due_ms" -> due,
      "moved_ms" -> moved.toSeq,
      "rows_per_file" -> files.map(f => rowsIn(spark, f)), "batches" -> events,
      "pairs" -> pairs.asScala.toList.distinct.sorted.map { case (a, b) => Seq(a, b) })
  }

  private def rowsIn(spark: SparkSession, f: Path): Long = {
    val r = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(r)
    try reader.getRecordCount finally reader.close()
  }

  /** One warm-up schedule over the warm-up files (the same path as the
    * measured run); returns its median micro-batch seconds.
    */
  private def warm(spark: SparkSession, label: String): Double = {
    val run = schedule(spark, label, filesIn("warm"), None, root, prime = false)
    val ms = run("batches").asInstanceOf[List[Map[String, Any]]]
      .filter(_("num_input_rows").asInstanceOf[Long] > 0)
      .map(_("duration_ms").asInstanceOf[Map[String, Long]].getOrElse("triggerExecution", 0L))
      .sorted
    if (ms.isEmpty) 0.0 else ms(ms.size / 2) / 1000.0
  }

  def run(): Unit = {
    Json.write(Paths.get(c.out, "oracle_sql.json"),
      Map("p05_minhash_pairs" -> graft.SparkEntry.oracleSql("p05_minhash_pairs")))
    val t = System.nanoTime()
    var (spark, listener) = tracedSession(c, c.cpus, tracer)
    // warm-up schedules until the median micro-batch time settles
    val warmRuns = settle(2, 3)(r => warm(spark, s"warm $r"))
    val warmS = secondsSince(t)
    result("setup_passes_s") = warmRuns
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    if (c.trace) {
      // untraced schedule first, then the traced one: their difference is
      // the tracing overhead
      listener.foreach(detach(spark, _))
      runs += schedule(spark, "run untraced", staged, None, root, prime = true) +
        ("traced" -> false)
      listener.foreach(attach(spark, _))
      runs += schedule(spark, "run", staged, listener, root, prime = true) + ("traced" -> true)
      result("kernels") = kernels(spark)
      spark.stop()
      spark = session(1, c.out)
      warm(spark, "warm local1")
      result("baseline_1core") = schedule(spark, "baseline local1", staged, None, root,
        prime = true) + ("cpus" -> 1)
    } else runs += schedule(spark, "run", staged, None, root, prime = true) + ("traced" -> false)
    // set-up: session start, the warm-up schedules and priming the first
    // measured query
    result("setup_s") = warmS + runs.head("prime_s").asInstanceOf[Double]
    result("runs") = runs.toList
    result("failures") = Map.empty[String, String]
  }
}

/** Writes the result files with the Jackson Scala module bundled with Spark. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
}
