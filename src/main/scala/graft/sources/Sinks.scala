package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Write-side scale hygiene. Reading 100 TB well is half the job; the
  * other half is not producing a pathological layout while writing it.
  *
  * `writePartitionedParquet` encodes the rules:
  *  - `partitionBy` on low-cardinality columns → partition pruning for
  *    every downstream reader (the write-side dual of PushedFilters);
  *  - `maxRecordsPerFile` bounds file size (no 100 GB files that defeat
  *    task parallelism, no OOM on the writer);
  *  - repartition on the partition columns first, so each task writes to
  *    few partitions (the default — every task writing every partition —
  *    produces smallFiles × tasks explosion);
  *  - optional sort within partitions for run-length/dictionary-friendly
  *    column layout (better compression + rowgroup skipping).
  */
object Sinks {

  /** Temp directory for a per-invocation artifact (posting logs, index
    * builds in the oracle/bench/spec drivers), recursively removed at
    * JVM exit. A production deployment passes a durable path instead —
    * this exists so repeated driver runs don't abandon artifact copies
    * in /tmp.
    */
  def tempArtifactDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir.toString
  }

  /** Remove `dir` recursively now, and again at JVM exit in case a
    * writer that was still running brings part of it back.
    */
  private[graft] def removeDir(dir: java.io.File): Unit = {
    rm(dir)
    tempDirs.add(dir)
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  // ONE shutdown hook draining a shared queue, not one hook thread per
  // tempArtifactDir call: bench/correctness drivers invoke artifact
  // queries (p59/q67/q68/...) in a loop, and a per-call hook would
  // accumulate a live Thread per invocation for the JVM lifetime
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var f = tempDirs.poll()
      while (f != null) { rm(f); f = tempDirs.poll() }
    }))
  }

  /** Compact a parquet directory's small files into ~`targetFileMB`
    * files. Small-file sprawl (streaming sinks, over-parallel writers)
    * taxes every later scan with per-file open cost and driver-side
    * listing; periodic compaction is standard table maintenance. Output
    * file count = ceil(bytes / target).
    *
    * Crash safety: the table is the one child of its parent directory
    * in the shared publish ([[Publish]]) — the rewrite stages beside
    * the parent, a manifest in the parent names it, and the next call
    * finishes a publish an earlier one left half done.
    *
    * Hive-partitioned layouts (`key=value` subdirectories) are rejected:
    * a flat read+repartition+write would silently flatten the directory
    * structure and lose partition pruning for every downstream reader.
    * Compact each leaf partition directory instead.
    */
  def compactParquet(df: DataFrame, path: String, targetFileMB: Int = 256): Unit = {
    val spark = df.sparkSession
    val raw = new org.apache.hadoop.fs.Path(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified, so a relative path still has a parent to publish into
    val hadoopPath = fs.makeQualified(raw)
    val name = hadoopPath.getName
    val layout = Publish.named(hadoopPath.getParent.toString, name)
    layout.repair(spark)
    val partitionDirs = fs.listStatus(hadoopPath)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    require(partitionDirs.isEmpty,
      s"compactParquet: $path contains hive-style partition directories " +
        s"(e.g. ${partitionDirs.head.getPath.getName}); compact each leaf " +
        "partition instead — flattening would lose partition pruning")
    val bytes = fs.getContentSummary(hadoopPath).getLength
    val nFiles = math.max(1L, (bytes + targetFileMB.toLong * 1048576 - 1) /
      (targetFileMB.toLong * 1048576)).toInt
    spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite").parquet(s"${layout.staging}/$name")
    layout.publish(spark, Seq(name -> Seq(name)))
  }

  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              maxRecordsPerFile: Long = 5000000L,
                              sortCols: Seq[Column] = Nil): Unit = {
    val arranged = {
      val base =
        if (partitionCols.nonEmpty)
          df.repartition(partitionCols.map(df.col): _*)
        else df
      if (sortCols.nonEmpty) base.sortWithinPartitions(sortCols: _*) else base
    }
    val writer = arranged.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
  }

  /** Bucketed table write — co-location paid ONCE at write time: rows
    * are hash-distributed into `nBuckets` files per the bucket columns,
    * so every later join or aggregation keyed on them scans pre-shuffled
    * data and plans NO exchange (pinned in PlanSpec). This is the 100 TB
    * answer for fact-to-fact joins where neither side broadcasts and a
    * per-query shuffle of either would dominate the job: bucket both
    * sides with the SAME key and bucket count. `sortCols` additionally
    * sorts within each bucket file (run-length-friendly layout, and
    * sort-merge join can read it pre-sorted).
    *
    * Requires a catalog table (bucketing metadata lives in the
    * catalog, not the files) — hence `saveAsTable`, not `parquet(path)`.
    *
    * Pass `path` to create the table EXTERNAL at that location instead
    * of managed-in-the-warehouse. A managed table's directory OUTLIVES
    * its (session-local, in-memory) catalog entry, so the next
    * session's rebuild finds an orphaned location and refuses to
    * create — an artifact meant to be rebuilt from fresh sessions
    * (the served dedup index) must be external at an explicit path.
    * The stale catalog entry (whatever form) is dropped first.
    */
  def writeBucketedTable(df: DataFrame, table: String, nBuckets: Int,
                         bucketCols: Seq[String], sortCols: Seq[String] = Nil,
                         path: Option[String] = None,
                         partitionCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && nBuckets > 0, "need bucket columns and buckets > 0")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    val w0 = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val w1 = path.fold(w0)(p => w0.option("path", p))
    // partition-then-bucket: each partition directory holds a full set
    // of bucket files, and the bucket-aware scan groups same-bucket
    // files ACROSS partitions, so co-located joins survive a
    // partitioned (segmented) layout
    val w2 = if (partitionCols.isEmpty) w1
      else w1.partitionBy(partitionCols: _*)
    (if (sortCols.nonEmpty) w2.sortBy(sortCols.head, sortCols.tail: _*) else w2)
      .saveAsTable(table)
  }

  /** Idempotent `foreachBatch` wrapper — the exactly-once completion for
    * non-transactional stores: Structured Streaming guarantees at-least-
    * once batch delivery (after a crash the last batch REPLAYS with the
    * same batchId), so a sink that records committed batch ids and skips
    * replays makes the pipeline end-to-end exactly-once as long as the
    * wrapped write is atomic-or-restartable. The commit marker is
    * written AFTER the write lands — a crash between the two replays the
    * batch (at-least-once into the store, never lost), which is the
    * correct failure side for an idempotent or transactional `write`.
    *
    * CONTRACT: `commitDir` is scoped to ONE query and ONE checkpoint
    * incarnation. Markers are keyed by batchId alone, and batch ids
    * restart from 0 when a checkpointLocation is reset — reusing the old
    * commitDir then makes every new id collide with a stale marker and
    * silently skips every batch. Resetting the checkpoint REQUIRES a
    * fresh commitDir (and two queries must never share one).
    *
    * Use: `writeStream.foreachBatch(Sinks.idempotentForeachBatch(dir)(write))`.
    */
  def idempotentForeachBatch(commitDir: String)(
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) => {
      val dir = new org.apache.hadoop.fs.Path(commitDir)
      val fs = dir.getFileSystem(
        batch.sparkSession.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(dir, id.toString)
      if (!fs.exists(marker)) {
        write(batch, id)
        // create() makes missing parents; marker lands strictly AFTER
        // the write, so a crash between the two replays (never loses)
        fs.create(marker, true).close()
      }
    }

  /** The segment label-collision guard shared by every segmented
    * artifact (ANN postings/tombstones, minhash index partitions): a
    * segment that already exists is only overwritable when the caller
    * declared itself a RETRY (`allowReplace`) — two distinct ingests
    * reusing a label must collide loudly, not silently erase each
    * other (overwrite-as-idempotence is only idempotence when the
    * replayed data is the same).
    */
  def requireFreshSegment(spark: SparkSession, segPath: String,
                          segment: String, allowReplace: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(segPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(allowReplace || !fs.exists(p),
      s"segment '$segment' already exists at $segPath — pass " +
        "allowReplace = true only for a RETRY of the same data; a new " +
        "ingest needs a new label")
  }

  /** The tombstone mask every segmented index shares (the ANN and
    * MinHash serve paths, their compactors, the live-membership
    * retrain): rows of `df` whose `idCol` appears in the
    * `<indexDir>/tombstones` log (written under the same column name)
    * drop by anti-join — deleted ids cannot resurface through one path
    * the others forgot. No log, no mask.
    */
  private[graft] def maskTombstones(df: DataFrame, idCol: String,
                                    indexDir: String): DataFrame = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) df
    else df.join(spark.read.parquet(p.toString).select(idCol),
      Seq(idCol), "left_anti")
  }

  /** Register an EXISTING bucketed-table artifact directory in this
    * session's catalog — the cross-session attach a served artifact
    * needs (the catalog entry is session-local and in-memory; the
    * files outlive it). The DDL re-declares the bucket spec; the scan
    * then recovers each file's bucket id from its name
    * (`..._NNNNN.parquet`), so co-located joins plan exactly as they
    * did in the building session. Partitioned layouts are re-discovered
    * with `MSCK REPAIR TABLE`. The declared spec must MATCH what the
    * files were written with — bucketing metadata lives only in the
    * catalog, so a wrong re-declaration would silently mis-bucket
    * every join; callers keep the spec in a params sidecar and read it
    * from there ([[graft.dedup.Dedup.attachMinhashIndex]]).
    */
  def attachBucketedTable(spark: SparkSession, table: String, path: String,
                          nBuckets: Int, bucketCols: Seq[String],
                          sortCols: Seq[String] = Nil,
                          partitionCols: Seq[String] = Nil): Unit = {
    val schema = spark.read.parquet(path).schema
    // partition columns go in PARTITIONED BY, not the column list
    val dataCols = schema.fields.filterNot(f => partitionCols.contains(f.name))
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val partClause = if (partitionCols.isEmpty) "" else
      partitionCols.map { c =>
        s"`$c` ${schema.fields.find(_.name == c).get.dataType.sql}"
      }.mkString("PARTITIONED BY (", ", ", ")")
    val sortClause = if (sortCols.isEmpty) "" else
      sortCols.map(c => s"`$c`").mkString("SORTED BY (", ", ", ")")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(
      s"""CREATE TABLE `$table` ($dataCols) USING parquet
         |$partClause
         |CLUSTERED BY (${bucketCols.map(c => s"`$c`").mkString(", ")})
         |$sortClause
         |INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    if (partitionCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE `$table`")
  }

  /** Z-ordered layout write — multi-dimensional clustering paid once at
    * write time (the OPTIMIZE ZORDER technique): rows are
    * range-partitioned and sorted by the Morton interleave of two keys,
    * so each parquet file covers a compact rectangle in (x, y) space and
    * its min/max column statistics prune scans filtered on EITHER key —
    * where sorting by (x, y) lexicographically prunes only x. `nFiles`
    * bounds the range partitioning; the Z-code column itself is dropped
    * from the files (it is a pure function of the keys, recomputable).
    */
  def writeZOrdered(df: DataFrame, path: String, x: Column, y: Column,
                    bits: Int = 20, nFiles: Int = 64): Unit = {
    import org.apache.spark.sql.functions._
    // ZOrderCode uses only the low `bits` of each key, so an
    // out-of-range key would silently WRAP (distant values sharing low
    // bits land in the same file — clustering quietly destroyed).
    // Fail loudly instead; callers mask or bucketize first (%, div, or
    // quantile rank into [0, 2^bits)).
    // Null keys are NOT range violations: ZOrderCode is null-tolerant
    // (null in → null z-code), and repartitionByRange sorts nulls first,
    // so null-keyed rows get a defined placement — clustered together in
    // the lowest file — instead of aborting the write.
    val bound = 1L << bits
    def checked(c: Column, name: String): Column =
      when(c.isNull, lit(null).cast("long"))
        .when(c.cast("long").between(0L, bound - 1), c.cast("long"))
        .otherwise(raise_error(concat(
          lit(s"writeZOrdered: $name key out of [0, 2^$bits): "),
          c.cast("string"))).cast("long"))
    val z = graft.functions.ZOrderCode(checked(x, "x"), checked(y, "y"), bits)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
