package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is materialized with a noop-format
  * write, which executes the full physical plan (every projection and
  * expression evaluated, rows serialized to the sink boundary) without
  * writing bytes — unlike count(), under which Catalyst prunes the entire
  * select list of projection-shaped queries.
  *
  * The driver's sf parquet is one file with one row group per table, so
  * every scan would get exactly ONE task no matter how many cores exist —
  * the bench would measure a single-task scan floor, not the engine.
  * Before timing, each table is re-materialized (once, outside the timed
  * region) into a multi-file layout sized ~128 KB/file up to `cpus`
  * files — the local-scale analog of the row-group-sized layout a real
  * deployment maintains with [[graft.sources.Sinks]]. `maxPartitionBytes`
  * / `openCostInBytes` are sized to the small local files for the same
  * reason (at 100 TB the defaults are right; at 11 MB they'd pack all
  * files back into one split).
  */
object Bench {

  /** Worker threads of the bench layout: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees — a fixed default over- or under-subscribes any
    * host but the one it was picked on.
    */
  private[graft] def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The bench-layout session every timing main shares (see scaladoc
    * above for the split sizing).
    */
  private[graft] def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 50+ headline queries generate far more than the default 100
      // codegen cache entries, so ROUND-ROBIN passes would re-pay
      // janino compilation for every query every pass (+0.3-0.8 s
      // uniformly, measured) — size the cache to the workload
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // split sizing for the small local files (see scaladoc): without
      // this, file packing undoes the multi-file layout below
      .config("spark.sql.files.maxPartitionBytes", (512L << 10).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.LocalFs.install(spark)
    spark
  }

  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JVM + whole-stage-codegen warmup: run each query once at the
    * smallest SF so measured numbers reflect steady-state execution
    * (first use of each plan shape pays one-time janino compilation).
    * Failures are left to the measured run to report.
    */
  private[graft] def warm(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach { name =>
      try materialize(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }

  /** Rewrite `sfDir` tables into `cpus`-way multi-file parquet under a
    * temp dir; returns the new dir. Nanos timestamps pass through as
    * longs (same values [[Tables.events]] expects).
    */
  private[graft] def rematerialize(spark: SparkSession, sfDir: String, cpus: Int): String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_").toString
    Tables.names.foreach { t =>
      val src = new java.io.File(s"$sfDir/$t.parquet")
      // leaf-file byte total: File.length() on a parquet DIRECTORY returns
      // the ~4 KB directory entry, which would silently force nFiles=1
      val bytes = {
        val p = new org.apache.hadoop.fs.Path(src.getPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(p).getLength
      }
      val nFiles = math.max(1L, math.min(cpus.toLong, bytes / (128L << 10))).toInt
      val df = spark.read.parquet(src.getPath)
      (if (nFiles > 1) df.repartition(nFiles) else df)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  def main(args: Array[String]): Unit = {
    // optional query names restrict the run (per-query iteration); with
    // none, every bench query is timed. Unknown names fail loudly, as in
    // Verify.
    val names = if (args.nonEmpty) args.toSeq.distinct else SparkEntry.benchQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = this.sfDir
    val cpus = this.cpus
    val spark = session(cpus)
    val benchDir = rematerialize(spark, sfDir, cpus)
    warm(spark, names)
    // MIN of 3 interleaved runs per query. The workload is deterministic,
    // so the true cost is the fastest observed run; anything above it is
    // background load, GC, or scheduling jitter. Median-of-interleaved
    // (rounds 7-8) only protects against bursts shorter than one suite
    // pass — an all-run burst poisons every sample and the median keeps
    // the poison (BENCH_r08 printed p63 4.48 s vs 0.49 s idle on
    // identical code). Min-of-n is the noise-robust estimator here: load
    // can only ADD time to a deterministic run, never subtract it, so
    // the min converges to the idle cost as long as ANY one sample
    // escapes the burst — and interleaving (pass 1 of everything, then
    // pass 2, then pass 3) spaces a query's samples a full suite-pass
    // apart to maximize that chance.
    // Driver-loop queries (many small jobs per run — q28's retry rounds)
    // are scheduling-jitter-dominated and get extra reps for the same
    // min estimate.
    val driverLoop = Set("q28_retry_fixpoint")
    // Failure-honest timing: a query that throws is NOT a time. Round 6
    // reported three timed analysis crashes as the suite's fastest query
    // (q22 "0.060 s") because the catch sat inside the timed region.
    // Failed queries appear as null in "queries", their messages in
    // "errors", and the run exits nonzero.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    def timeOne(name: String): Unit =
      try {
        val t0 = System.nanoTime()
        materialize(SparkEntry.queries(name)(spark, benchDir))
        samples(name) = samples.getOrElse(name, Vector.empty) :+
          (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        samples.remove(name)
      }
    for (_ <- 1 to 3; name <- names if !errors.contains(name))
      timeOne(name)
    for (_ <- 1 to 6; name <- names if driverLoop(name) && !errors.contains(name))
      timeOne(name)
    val results = names.flatMap { name =>
      samples.get(name).map(ts => name -> ts.min)
    }
    val timed = results.toMap
    val qs = names.map { n =>
      "\"" + n + "\":" + timed.get(n).map(v => f"$v%.3f").getOrElse("null")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":${Jsons.obj(errors)},"cpus":$cpus,"sf":"$sfDir"}"""
    // The stdout line lands in a log TAIL the driver regex-mines, and
    // the tail window is ~2 KB: the full 90-query map (~2.5 KB) arrives
    // front-truncated and parses as nothing, so per-query timings have
    // been invisible to the driver since the suite outgrew the window.
    // Print the full line first (human/log record, methodology and
    // per-query numbers unchanged), then a compact headline line LAST
    // so a complete JSON object always sits inside the tail window; the
    // full per-query map stays machine-readable in the sidecar file.
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"cpus":$cpus,"sf":"$sfDir","detail":"$out"}"""
    println(compact)
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
