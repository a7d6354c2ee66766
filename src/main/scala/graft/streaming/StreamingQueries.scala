package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming executions of engine queries.
  *
  * These run a REAL streaming query (file source → agg → memory sink,
  * `Trigger.AvailableNow`) and return the result as a DataFrame, so the
  * driver's DuckDB oracle verifies the streaming engine too — same
  * result as the batch plan, different execution path.
  *
  * Every query here starts, waits and stops through the one private
  * runner `run`: memory-sink twins reach it through [[runToMemory]],
  * [[runToMemoryPolling]] and [[runToMemoryUntil]], the segment and
  * index logs through the one idempotent `foreachBatch` drain. Staged
  * fixture inputs go through one `staged` file source. Every stream
  * reader here installs [[graft.sources.LocalFs]] on its session first,
  * so the query's checkpoint and state files start no process.
  *
  * Derived twins. A streaming execution is the batch computation
  * run over each micro-batch (D-Streams), so where a twin would only
  * swap the input and insert the sink, it is not written here at all:
  * its batch entry is a [[graft.queries.Twinned]] body written once
  * against two [[graft.queries.Seams]], and `SparkEntry` derives the
  * twin by name, with the batch entry's oracle. The twin runs that body
  * on [[seams]]: the frame the body passes to `in` streams back through
  * `staged`, and the frame it passes to `cut` runs to a memory sink
  * through [[runToMemory]], in complete mode when the cut aggregates
  * the stream and append mode otherwise. Whatever follows the cut (the
  * ordering, a batch-side finalize) runs on the sink's table. A body
  * that folds and then finalizes cuts between the two halves; a frozen
  * model trains on the batch table outside both seams, and only the
  * frame it scores is cut; a group-then-join cuts the grouped side and
  * joins the batch rows to it.
  *
  * The twins written here differ from their batch plan on purpose:
  *  - a fold the batch plan does not make: a UDAF buffer where the
  *    batch entry folds SQL registers or bins (`hllDistinct`,
  *    `histQuantiles`), a distinct-grain fold where the batch entry
  *    counts distinct or diffs the raw ledger (`outlinksStream`,
  *    `changeRatesStream`, `recrawlScheduleStream`), a word table where
  *    the batch entry trains in one call (`unigramTrainStream`,
  *    `wordPieceTrainStream`);
  *  - a map-side form where the batch entry joins or aggregates
  *    (`decontaminate`, `spanScrubStream`, `unigramEncodeStream`,
  *    `semanticDecontamStream`, `selfDedupStream`, `filterFunnelStream`);
  *  - a frozen model or published artifact served to a stream where the
  *    batch entry scores another domain or broadcasts the panel
  *    (`qualityLrScoring`, `sq8ServeStream`, `ivfSq8ServeStream`);
  *  - more than one sink (`aliasChainsStream`), or a timer-driven
  *    operator with its own runner (`pacedWorklistStream`);
  *  - fixtures that are themselves the source under test
  *    (`tailReadDocuments`);
  *  - the index and log twins behind the drain (`logStructuredIndex`,
  *    `spanIndexLog`, `indexTombstones`, `annIndexAppend`,
  *    `minhashIndexAppend`);
  *  - every function a spec calls by name (`tumblingWindow`,
  *    `clickToPurchase`, `sessionWindow`, `lshCandidatePairs`,
  *    `bm25TopK`, `minhashStreamingCandidates`).
  */
object StreamingQueries {

  private val counter = new AtomicInteger(0)

  /** events schema as stored, EXCEPT `ts`, whose physical type is probed
    * from the parquet footer per [[eventsStream]] — a hard-coded guess
    * silently mis-decodes when the generator changes encodings (round 6:
    * forced-Long over TIMESTAMP(MICROS) compressed event time 1000×).
    */
  private val rawEventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val rawDocumentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val rawEmbeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming read of the events table. The file stream needs a declared
    * schema; `ts`'s physical type is probed from the parquet footer (one
    * metadata read, no scan) and the declared schema set to MATCH what is
    * on disk — then [[graft.Tables.normalizeEventTime]], the same
    * function the batch loader uses, maps it to session-zone timestamps,
    * so the two read paths cannot drift.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.LocalFs.install(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.Tables.table(spark, sfDir, "events").schema("ts").dataType
    val schema = StructType(rawEventsSchema.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f => f
    })
    // glob form: FileStreamSource force-sets basePath to the (file) path
    // for non-glob paths, which then fails directory validation.
    val raw = spark.readStream.schema(schema)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/events.parque[t]")
    graft.Tables.normalizeEventTime(raw)
  }

  def documentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.LocalFs.install(spark)
    spark.readStream.schema(rawDocumentsSchema)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/documents.parque[t]")
  }

  def embeddingsStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.LocalFs.install(spark)
    spark.readStream.schema(rawEmbeddingsSchema)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/embeddings.parque[t]")
  }

  /** The one place a twin's query starts: `writer` starts under
    * `trigger`, `await` blocks until its input is drained, and the
    * query stops in `finally` whether or not the wait succeeded.
    */
  private def run(writer: DataStreamWriter[Row], trigger: Trigger)(
      await: StreamingQuery => Unit): Unit = {
    val q = writer.trigger(trigger).start()
    try await(q) finally stop(q)
  }

  /** Stop `q`, then remove what is left of its checkpoint root when
    * Spark made that root as a temporary dir (no checkpointLocation
    * given). Spark deletes such a root itself when the query did not
    * fail, but a task still writing state while that delete runs can
    * leave part of it behind (`FileUtil: Failed to delete … it still
    * exists`). A failed query's root stays, as Spark keeps it.
    */
  private[graft] def stop(q: StreamingQuery): Unit = {
    q.stop()
    if (q.exception.isEmpty) q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        val root = new java.net.URI(w.streamingQuery.resolvedCheckpointRoot)
        if (root.getScheme == "file") {
          val dir = new java.io.File(root)
          val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalFile
          if (dir.getParentFile == tmp && tempCheckpointName.matches(dir.getName) && dir.exists)
            graft.sources.Sinks.removeDir(dir)
        }
      case _ =>
    }
  }

  // the name Spark gives a checkpoint root it makes in java.io.tmpdir
  private val tempCheckpointName = "temporary-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}".r

  /** [[run]] into a fresh memory table, returned once `await` returns. */
  private def toMemory(df: DataFrame, mode: String, trigger: Trigger)(
      await: (StreamingQuery, String) => Unit): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    run(df.writeStream.format("memory").queryName(name).outputMode(mode),
      trigger)(await(_, name))
    df.sparkSession.table(name)
  }

  /** [[run]] `input` to its end through `write`, exactly once per
    * micro-batch. Manual writes in foreachBatch are at-least-once;
    * [[graft.sources.Sinks.idempotentForeachBatch]]'s commit markers in
    * `<dir>/_commits` skip crash-replayed batch ids, and every `write`
    * lands its batch under its own `batch_id=`/`segment=` path with
    * overwrite, so a crash BETWEEN the write and the marker replays
    * into the same place instead of appending a duplicate beside it.
    * The crash-replay contract lives here, once, for every log and
    * index the twins append to. `dir` is a JVM-lifetime temp dir here
    * (see [[graft.sources.Sinks.tempArtifactDir]]); production passes a
    * durable path instead.
    */
  private def drain(input: DataFrame, dir: String)(
      write: (DataFrame, Long) => Unit): Unit =
    run(input.writeStream.foreachBatch(
        graft.sources.Sinks.idempotentForeachBatch(s"$dir/_commits")(write)),
      Trigger.AvailableNow())(_.awaitTermination())

  /** A log [[drain]] sealed as `<dir>/batch_id=<id>` subdirectories, read
    * back with exactly `schema`'s columns. The parent dir is read (a
    * `batch_id=*` glob makes Spark stat the literal glob path and log a
    * FileNotFoundException on every read); the `batch_id` partition
    * column that discovery adds is kept only where `schema` names it,
    * and then carries `schema`'s type.
    */
  private def sealedLog(spark: SparkSession, schema: StructType,
                        dir: String): DataFrame =
    spark.read.schema(schema).parquet(dir).select(schema.fieldNames.toSeq.map(col): _*)

  /** `frame` written to a temp dir and streamed back as a file source —
    * the fixture input of the at-ingest twins. The stream takes the
    * frame's own schema, so no footer is read back; a `coalesce(1)`
    * frame stays one file and so one micro-batch.
    */
  private def staged(frame: DataFrame, prefix: String): DataFrame = {
    graft.sources.LocalFs.install(frame.sparkSession)
    val dir = graft.sources.Sinks.tempArtifactDir(prefix)
    frame.write.mode("overwrite").parquet(dir)
    frame.sparkSession.readStream.schema(frame.schema).parquet(dir)
  }

  /** The seams a derived twin runs its batch body on (see the object
    * doc): input through [[staged]], the cut through [[runToMemory]].
    */
  val seams: graft.queries.Seams = graft.queries.Seams(
    in = staged(_, "twin_in"),
    cut = df => runToMemory(df, if (aggregatesStream(df)) "complete" else "append"))

  private def aggregatesStream(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a.isStreaming
      case _ => false
    }

  /** Run a streaming aggregation to a memory sink and return the final
    * table. AvailableNow processes the whole input then stops — the
    * deterministic replay mode.
    */
  def runToMemory(agg: DataFrame, mode: String = "complete"): DataFrame =
    toMemory(agg, mode, Trigger.AvailableNow())((q, _) => q.awaitTermination())

  /** Like [[runToMemory]] but drives the query with a short
    * processing-time trigger until `processAllAvailable` reports no
    * further progress — for sources that advance one admission-
    * controlled step per trigger (PagedSource's page walk), where
    * AvailableNow's single offset snapshot would stop after one step.
    */
  def runToMemoryPolling(df: DataFrame, mode: String = "append"): DataFrame =
    toMemory(df, mode, Trigger.ProcessingTime(10))((q, _) => q.processAllAvailable())

  /** Like [[runToMemoryPolling]] but keeps the query alive until the
    * sink holds `expectedRows` — for TIMER-driven operators
    * ([[StatefulOps.paceByKeyRates]]'s backlog drain). It POLLS the
    * sink rather than calling `processAllAvailable`: under
    * `ProcessingTimeTimeout` the engine's shouldRunAnotherBatch is
    * permanently true (processing time always advances, so a timer
    * could always fire), the no-new-data signal never latches, and
    * `processAllAvailable` blocks FOREVER even after the state store
    * has fully drained. Times out LOUDLY — a drain that never
    * completes is an under-provisioned rate, not an empty result.
    */
  def runToMemoryUntil(df: DataFrame, expectedRows: Long,
                       timeoutMs: Long = 300000L): DataFrame =
    toMemory(df, "append", Trigger.ProcessingTime(10)) { (q, name) =>
      val deadline = System.currentTimeMillis + timeoutMs
      def n() = df.sparkSession.table(name).count()
      while (n() < expectedRows && System.currentTimeMillis < deadline) {
        q.exception.foreach(e => throw e)
        Thread.sleep(100)
      }
      require(n() >= expectedRows,
        s"runToMemoryUntil: timed out with ${n()} of $expectedRows rows — " +
          "the pacer's backlog never drained")
    }

  /** q21's tumbling-window aggregation, executed via Structured
    * Streaming. Oracle: identical SQL to q21.
    */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    runToMemory(agg).orderBy(col("window_start"), col("event_type"))
  }

  /** Watermarked stream-stream inner join: each click joined to the same
    * user's purchases within the following hour. Both sides carry a
    * watermark and the join condition bounds event time in BOTH
    * directions, so Spark can expire join state — the requirement that
    * makes stream-stream joins runnable on unbounded input. Oracle: the
    * identical interval join as batch SQL.
    */
  def clickToPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsStream(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(buys,
      col("user_id") === col("b_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    runToMemory(joined, mode = "append")
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Streaming near-duplicate suppression: because the MinHash signature
    * is computed map-side (stateless — [[graft.functions.MinHashSignature]]),
    * online fuzzy dedup reduces to `dropDuplicates` on the signature with
    * state bounded by the watermark. Matching on the FULL signature (all
    * k minhashes) collapses exact duplicates and very-high-Jaccard
    * near-duplicates with no false drops — the precision-first online
    * variant; the recall-first any-band variant is
    * [[minhashStreamingCandidates]] (per-band state via
    * [[StatefulOps.lshBandMatches]]). First-wins semantics
    * (arrival order, like any online dedup). State boundedness:
    * `dropDuplicatesWithinWatermark` evicts a signature's state once the
    * watermark passes its event time + `horizon` — plain
    * `dropDuplicates("band_key")` would keep every signature forever
    * (StreamingDeduplicateExec only evicts when the event-time column is
    * part of the key set). The semantic trade: duplicates are suppressed
    * only within the `horizon` window, which is exactly the reference
    * semantics an online dedup with finite memory can promise.
    */
  def minhashStreamingDedup(docs: org.apache.spark.sql.DataFrame, id: org.apache.spark.sql.Column,
                            text: org.apache.spark.sql.Column, ts: org.apache.spark.sql.Column,
                            horizon: String, shingleN: Int = 3,
                            numBands: Int = 4, rowsPerBand: Int = 2): org.apache.spark.sql.DataFrame = {
    import graft.functions.MinHashSignature
    val k = numBands * rowsPerBand
    val sig = docs.select(id.as("doc_id"), ts.as("ts"),
      MinHashSignature(text, shingleN, k).as("sig"))
      .filter(col("sig").isNotNull)
    val bandCols = graft.dedup.Dedup.bandKeyCols(col("sig"), numBands, rowsPerBand)
    sig.withColumn("band_key", concat_ws("#", bandCols: _*))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("band_key")
      .select(col("doc_id"), col("ts"))
  }

  /** Recall-first streaming near-dup candidates: the any-band LSH match
    * [[minhashStreamingDedup]]'s full-signature key cannot express —
    * docs agreeing on ANY of `numBands` bands surface as a
    * [[StatefulOps.BandMatch]], across micro-batches, within `horizonMs`.
    * Signature + banding are map-side (the same
    * [[graft.dedup.Dedup.bandKeyCols]] the batch candidate generator
    * uses); the only shuffle keys on band_key into the state store, and
    * per-band state is bounded by `maxPerBand`
    * (see [[StatefulOps.lshBandMatches]]). Downstream dedups pairs with
    * `distinct` exactly like the batch operator.
    */
  def minhashStreamingCandidates(docs: DataFrame, id: org.apache.spark.sql.Column,
                                 text: org.apache.spark.sql.Column,
                                 ts: org.apache.spark.sql.Column,
                                 horizonMs: Long, shingleN: Int = 3,
                                 numBands: Int = 4, rowsPerBand: Int = 2,
                                 maxPerBand: Int = 64): org.apache.spark.sql.Dataset[StatefulOps.BandMatch] = {
    import graft.functions.MinHashSignature
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs.select(id.as("docId"), ts.cast("timestamp").as("ts"),
      MinHashSignature(text, shingleN, numBands * rowsPerBand).as("sig"))
      .filter(col("sig").isNotNull)
    val banded = sig.select(col("docId"), col("ts"),
        explode(array(graft.dedup.Dedup.bandKeyCols(col("sig"), numBands, rowsPerBand): _*))
          .as("bandKey"))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .as[StatefulOps.BandedDoc]
    StatefulOps.lshBandMatches(banded, horizonMs, maxPerBand)
  }

  /** p05's any-band candidate set from the RECALL-FIRST streaming LSH —
    * the oracle-gated instance of [[minhashStreamingCandidates]] /
    * [[StatefulOps.lshBandMatches]]. Event time derives
    * deterministically from doc_id (one second per doc), the horizon
    * covers the whole corpus, and `maxPerBand` is uncapped, so the
    * emitted match set is exactly the batch operator's any-band pairs;
    * the projection normalizes each pair to (min, max) — the batch
    * id_a < id_b orientation, independent of file-to-micro-batch
    * slicing — and applies the same downstream `distinct` both
    * operators document. Per-band state and the one band_key shuffle
    * are unchanged from the production wrapper; only the uncapped
    * maxPerBand is test-scale (a production call keeps the hot-band
    * cap and trades tail recall for bounded state).
    */
  def lshCandidatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documentsStream(spark, sfDir)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val matches = minhashStreamingCandidates(docs, col("doc_id"), col("text"),
      col("ts"), horizonMs = 10000000000L, maxPerBand = Int.MaxValue)
    runToMemory(matches.toDF(), mode = "append")
      .select(least(col("earlierId"), col("laterId")).as("id_a"),
        greatest(col("earlierId"), col("laterId")).as("id_b"))
      .distinct().orderBy(col("id_a"), col("id_b"))
  }

  /** Streaming SemDeDup end-to-end: nearest-centroid assignment runs
    * MAP-SIDE against the collected centroid artifact (broadcast-sized
    * by k, same argmax rule as the batch coarse assign: highest
    * round(cos, 6), tie → smallest centroid_id), and the per-cluster
    * first-wins election is [[StatefulOps.semanticStreamingDedup]]'s
    * bounded state. `centroids`: (centroid_id, centv) — kmeans output
    * or a fixed seed set, frozen at query start (the model-artifact
    * deployment shape, like q56's perplexity scoring).
    */
  def semanticStreamingDedup(vectors: DataFrame, id: org.apache.spark.sql.Column,
                             vec: org.apache.spark.sql.Column,
                             ts: org.apache.spark.sql.Column,
                             centroids: DataFrame, threshold: Double,
                             maxPerCluster: Int = 1024): org.apache.spark.sql.Dataset[StatefulOps.SemanticVerdict] = {
    val cents = centroids
      .select(col("centroid_id").cast("long"), col("centv").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val spark = vectors.sparkSession
    import spark.implicits._
    val typed = vectors.select(id.cast("long").as("_1"),
        vec.cast("array<double>").as("_2"), ts.cast("timestamp").as("_3"))
      .as[(Long, Array[Double], java.sql.Timestamp)]
    val assigned = typed.map { case (i, v, t) =>
      StatefulOps.AssignedVec(StatefulOps.nearest(cents, v)._1, i, v, t)
    }
    StatefulOps.semanticStreamingDedup(assigned, threshold, maxPerCluster)
  }

  /** p35's first-occurrence chunk election executed on the streaming
    * engine: documents stream in, fixed-token chunks explode map-side
    * (stateless, in the scan stage), and the keeper election is the same
    * order-independent min over the packed (doc_id · 2²⁰ + idx) position
    * as the batch operator — so the result is batch-identical no matter
    * how ingest slices into micro-batches. Streaming state is one row
    * per distinct chunk fingerprint.
    */
  def chunkElection(spark: SparkSession, sfDir: String,
                    chunkTokens: Int = 8): DataFrame = {
    // the chunk expansion + packed position come from the SAME
    // Dedup.chunkRows definition the batch operator uses — the
    // batch-identical guarantee is by construction, not by copy
    val chunks = graft.dedup.Dedup.chunkRows(
      documentsStream(spark, sfDir), col("doc_id"), col("text"), chunkTokens)
    val agg = chunks
      .groupBy(col("f").as("fingerprint"))
      .agg(min(col("packed")).as("p"), count(lit(1)).as("n_instances"))
      .select(col("fingerprint"),
        expr(s"p div ${1L << 20}L").as("keeper_doc"),
        (col("p") % lit(1L << 20)).as("keeper_idx"),
        col("n_instances"))
    runToMemory(agg).orderBy(col("fingerprint"))
  }

  /** p114's span-level self-dedup with the first-occurrence election
    * running ON the streaming engine: positional n-gram shingles expand
    * stateless map-side (the HOF array form — the batch path's window
    * `lead` is batch-only), the packed-key min/count fold is the
    * cross-batch state (one row per distinct shingle hash,
    * order-independent merge ⇒ the election is batch-identical under
    * any micro-batch slicing), and the scrub — islands + ordered
    * reassembly over the elected winners — runs batch-side at the epoch
    * boundary through the SAME [[graft.text.CorpusOps.scrubSelfHits]]
    * the batch operator uses (shared-definition guarantee, the
    * chunkElection pattern). Packing rides the same loud contract via
    * [[graft.text.CorpusOps.withPackedSpanKey]].
    */
  def selfDedupStream(spark: SparkSession, sfDir: String,
                      n: Int = 8): DataFrame = {
    import graft.functions.TextFunctions
    import graft.text.CorpusOps
    val sh = documentsStream(spark, sfDir)
      .select(col("doc_id"),
        posexplode(TextFunctions.shingles(col("text"), n)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(col("sh")).as("h"))
    val agg = CorpusOps.withPackedSpanKey(sh)
      .groupBy(col("h"))
      .agg(min(col("__k")).as("__w"), count(lit(1)).as("__c"))
    val firsts = runToMemory(agg)
      .filter(col("__c") > 1).select(col("h"), col("__w"))
    CorpusOps.scrubSelfHits(graft.Tables.documents(spark, sfDir),
        col("doc_id"), col("text"), firsts, n)
      .orderBy(col("doc_id"))
  }

  /** p117's filter funnel running AT INGEST — the governance-report
    * twin (q103's quality-gate shape): the kill-attribution CASE is a
    * pure map-side column in the scan stage
    * ([[graft.text.CorpusOps.funnelKillMapSide]] — repetition fractions
    * from array HOFs, same integer counts as the batch aggregation,
    * equivalence spec-pinned), and the cross-batch state is ONE row of
    * six associative counters ([[graft.text.CorpusOps.funnelAggCols]]),
    * slice-independent by construction. The 6-row report expands
    * batch-side at the epoch boundary through the shared
    * [[graft.text.CorpusOps.funnelReport]].
    */
  def filterFunnelStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.CorpusOps
    val k = documentsStream(spark, sfDir)
      .select(CorpusOps.funnelKillMapSide(col("text"), col("lang")).as("k"))
    val one = runToMemory(k.agg(CorpusOps.funnelAggCols.head,
      CorpusOps.funnelAggCols.tail: _*))
    CorpusOps.funnelReport(one).orderBy(col("stage"))
  }

  /** q53: the [[graft.sources.FileTailSource]] read path under the
    * correctness gate — the one DSv2 source whose output is
    * SQL-expressible enough to oracle (VERDICT r3 §What's-missing #3).
    *
    * Shape: a fixture file of FIXED-WIDTH records (one per document,
    * sorted by doc_id: `doc_id` right-aligned to 12 + "," + 32-char
    * md5(text) + "\n" = 46 bytes) is tail-read with `maxChunkSize` set
    * to exactly the record width. Chunk planning is offset-aligned
    * (FileTailSource.scala planInputPartitions), so every emitted chunk
    * IS one record — the parse is a pure map-side projection with no
    * line-reassembly state, the same fixed-width-record layout a 100 TB
    * log-ingest uses to keep tail reads embarrassingly parallel.
    *
    * The oracle (`SELECT doc_id, md5(text) FROM documents`) recomputes
    * the digests independently in DuckDB, so a single mangled byte
    * anywhere in the read path (offset arithmetic, partition splits,
    * readFully ranges) breaks the hash match.
    *
    * The fixture write is driver-side test scaffolding (bounded by the
    * verify-scale document count), NOT part of the operator under test.
    */
  def tailReadDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val recWidth = 46
    val recs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .orderBy(col("doc_id"))
      .collect()
    val sb = new StringBuilder(recs.length * recWidth)
    recs.foreach { r => sb.append(f"${r.getLong(0)}%12d,${r.getString(1)}%s\n") }
    val file = java.nio.file.Paths.get(
      graft.sources.Sinks.tempArtifactDir("tail_fixture"), "records.txt")
    java.nio.file.Files.write(file, sb.toString.getBytes("UTF-8"))

    val chunks = spark.readStream.format("graft.sources.FileTailSource")
      .option("path", file.toString)
      .option("maxChunkSize", recWidth.toString)
      .load()
    val parsed = chunks
      .select(decode(col("data"), "UTF-8").as("rec"))
      .select(trim(substring(col("rec"), 1, 12)).cast("long").as("doc_id"),
        substring(col("rec"), 14, 32).as("text_md5"))
    runToMemory(parsed, mode = "append").orderBy(col("doc_id"))
  }

  /** p203's logistic-regression quality scoring on the streaming
    * engine — weights train BATCH-side on the corpus snapshot
    * ([[graft.text.QualityLr.trainLr]]) and the document stream
    * scores through the SAME [[graft.text.QualityLr.scoreTokens]]
    * path as batch (shared token-bucket projection, shared sigmoid
    * spelling), a stream-static broadcast join + ONE integer-sum
    * aggregate per doc (token-level scoring keeps the stream to a
    * single stateful operator; Σ_tokens w[bucket] ≡ Σ_buckets w·x
    * exactly) — order- and slice-independent because the margin is an
    * exact integer dot product.
    */
  def qualityLrScoring(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.QualityLr
    val docs = graft.Tables.documents(spark, sfDir)
    val w = QualityLr.trainLr(docs, col("doc_id"), col("text"),
      col("lang") === "en", dim = 16, iters = 2, lr = 0.5)
      .localCheckpoint()
    val toks = QualityLr.tokenBucketRows(documentsStream(spark, sfDir),
      col("doc_id"), col("text"), dim = 16)
    runToMemory(QualityLr.scoreTokens(toks, w)).orderBy(col("doc_id"))
  }

  /** p118's semantic decontamination AT INGEST — the stateless end of
    * the spectrum: the eval panel is a broadcast constant, so every
    * arriving vector's nearest-eval verdict is computable inside its
    * own row (map-side cross score + a greatest-fold over the panel —
    * no aggregation, ZERO streaming state, append mode). The same
    * packed-argmax election as the batch operator: rounded cosine,
    * smallest eval id on ties.
    */
  def semanticDecontamStream(spark: SparkSession, sfDir: String,
                             threshold: Double = 0.35): DataFrame = {
    import spark.implicits._
    // panel collected once, frozen at query start — small by
    // construction (the bloomDecontaminate bound); sorted ascending for
    // StatefulOps.nearest's smallest-id tie rule
    val panel = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(panel.nonEmpty,
      "semanticDecontamStream: eval panel is empty — the batch twin's " +
        "contract, enforced here on the collected panel")
    val typed = embeddingsStream(spark, sfDir)
      .filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id").cast("long").as("_1"),
        col("embedding").cast("array<double>").as("_2"))
      .as[(Long, Array[Double])]
    val scored = typed.map { case (id, v) =>
      val (best, bestCos) = StatefulOps.nearest(panel, v)
      (id, best, bestCos, bestCos >= threshold)
    }.toDF("vec_id", "eval_id", "max_eval_cos", "contaminated")
    runToMemory(scored, mode = "append").orderBy(col("vec_id"))
  }

  /** p138's robots gate over the LIVE frontier — where a fetcher
    * actually consults robots (a URL is gated when DISCOVERED, not in
    * a batch job after the crawl): the same
    * [[graft.graph.LinkGraph.linkRows]] harvest map-side, cross-batch
    * state = the frontier seen-set (streaming `dropDuplicates` on the
    * canonical key — exactly the q31 incremental-dedup state shape),
    * and the rule election runs through the SAME
    * [[graft.graph.LinkGraph.robotsFilterWildcard]] as the batch
    * entry — the full RFC 9309 pattern tier, a stateless scan-stage
    * fold over the broadcast rule arrays (parsed once, batch-side,
    * from the same wildcard-bearing fixture files), so it could
    * equally run per-row at ingest; here it runs at the epoch
    * boundary over the deduped frontier. Dedup-then-gate is
    * slice-independent because the gate is per-row deterministic.
    */
  def robotsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pages = documentsStream(spark, sfDir)
      .select(col("doc_id"),
        graft.queries.PipelineQueries.messyUrlFixture.as("page_url"),
        graft.queries.PipelineQueries.htmlFixtureText.as("html"))
    val urls = graft.graph.LinkGraph
      .linkRows(pages, col("page_url"), col("html"))
      .select(col("canonical"), col("dst_family"))
      .dropDuplicates("canonical")
    val seen = runToMemory(urls, mode = "append")
    val rules = graft.graph.LinkGraph.parseRobotsPatterns(
      graft.queries.PipelineQueries.robotsWildTxtFixture
        .toDF("family", "txt"),
      col("family"), col("txt"))
    graft.graph.LinkGraph.robotsFilterWildcard(seen, rules)
      .orderBy(col("canonical"))
  }

  /** p204's RFC 9309 wildcard robots gate AT ingest — the gate is a
    * pure function of the URL once the rule table is parsed (rules
    * collapse to a per-family broadcast array; the match + election
    * is a scan-stage fold over the codegen'd
    * [[graft.functions.RobotsMatch]] kernel), so a discovered URL's
    * verdict exists the moment its row lands: stream-static left
    * join, ZERO state rows, append mode — the q134 rule applied to
    * the crawl's trust boundary.
    */
  def robotsWildcardStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rules = graft.graph.LinkGraph.parseRobotsPatterns(
        Seq(("x.com", graft.queries.PipelineQueries.robotsWildcardTxt))
          .toDF("family", "txt"),
        col("family"), col("txt"))
      .localCheckpoint()
    val urls = graft.queries.PipelineQueries.robotsWildcardUrls(
      documentsStream(spark, sfDir))
    runToMemory(
      graft.graph.LinkGraph.robotsFilterWildcard(urls, rules)
        .select(col("canonical"), col("allowed"), col("rule_pattern")),
      mode = "append")
      .orderBy(col("canonical"))
  }

  /** p145's worklist with the frontier built WHILE discovery streams —
    * the production split of the crawl loop: budget allocation is a
    * periodic batch job (here the FROZEN p139 schedule, the q113
    * frozen-model rule), but URL discovery never stops, so the
    * per-domain md5-smallest-k buffer ([[graft.graph.CrawlOps
    * .frontierTopK]]) IS the cross-batch state — associative,
    * deduping, ≤k per domain regardless of how many batches or how
    * often a URL is rediscovered. The robots gate runs per-row in the
    * scan stage ([[graft.graph.LinkGraph.robotsFilterWildcard]] — the
    * full RFC 9309 pattern election as a higher-order fold over a
    * broadcast rule array through the codegen'd RobotsMatch kernel,
    * because a streaming query gets ONE stateful aggregation and the
    * frontier needs it), and the spend-selection finalize is the SAME
    * [[graft.graph.CrawlOps.worklistSelect]] half as the batch entry.
    */
  def crawlWorklistStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pages = documentsStream(spark, sfDir)
      .select(col("doc_id"),
        graft.queries.PipelineQueries.messyUrlFixture.as("page_url"),
        graft.queries.PipelineQueries.nofollowHtmlFixture.as("html"))
    // the page-level gates run map-side at ingest (follow harvest is
    // a per-row projection), and the alias rewrite is a STREAM-STATIC
    // left join against the batch-resolved pointer table — stateless,
    // so a discovered key collapses to its terminal form the moment
    // its row lands, before it ever touches the frontier state
    val urls = graft.graph.CrawlOps.resolveFrontierAliases(
      graft.graph.LinkGraph.linkRowsFollow(pages, col("page_url"),
        col("html")),
      graft.queries.PipelineQueries.frontierAliasResolved(spark))
    val rules = graft.graph.LinkGraph.parseRobotsPatterns(
        graft.queries.PipelineQueries.robotsWildTxtFixture
          .toDF("family", "txt"),
        col("family"), col("txt"))
      .localCheckpoint()
    val allowed = graft.graph.LinkGraph.robotsFilterWildcard(urls, rules)
      .filter(col("allowed"))
      .select(col("canonical"), col("dst_family"))
    val frontier = graft.graph.CrawlOps.frontierTopK(allowed,
      maxPerDomain = 10000)
    graft.graph.CrawlOps.worklistSelect(runToMemory(frontier),
        graft.queries.PipelineQueries.crawlScheduleFixture(spark, sfDir))
      .orderBy(col("dst_family"), col("pos"))
  }

  /** p164's per-host worklist with discovery STREAMING — the q126
    * split pushed one politeness level down: the cross-batch state is
    * the per-(family, host) md5-smallest-k buffer (the SAME
    * associative, deduping [[graft.functions.Aggregators.UrlTopK]]
    * fold, keyed one grain finer — a host's unbounded URL space never
    * accumulates, only its ≤hostCap buffer), and the family-level
    * budget selection is BATCH-side at the epoch boundary: explode
    * the surviving buffers, fold the family TopK, spend the frozen
    * schedule through the shared
    * [[graft.graph.CrawlOps.worklistSelect]]. Batch-identical to p164
    * by the shared fold definitions.
    */
  def perHostWorklistStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hostCap = 4
    val docs = documentsStream(spark, sfDir)
    val id = col("doc_id").cast("string")
    val allowed = docs.select(
        concat(lit("https://h"), (col("doc_id") % 3).cast("string"),
          lit(".twohost.com/p/"), id).as("canonical"),
        lit("twohost.com").as("dst_family"))
      .unionByName(docs.select(
        concat(lit("https://one.solo.net/p/"), id).as("canonical"),
        lit("solo.net").as("dst_family")))
    val topk = udaf(new graft.functions.Aggregators.UrlTopK(hostCap))
    val perHost = allowed
      .select(col("dst_family"),
        graft.functions.SourceFamily.hostOf(col("canonical")).as("__host"),
        md5(col("canonical")).as("__prio"), col("canonical"))
      .groupBy(col("dst_family"), col("__host"))
      .agg(topk(col("__prio"), col("canonical")).as("tk"))
    val survivors = runToMemory(perHost)
      .select(col("dst_family"), explode(col("tk.items")).as("__x"))
      .select(col("dst_family"), col("__x.url").as("canonical"))
    val sched = Seq(("twohost.com", 10L), ("solo.net", 4L))
      .toDF("node", "n_requests")
    graft.graph.CrawlOps.worklistSelect(
        graft.graph.CrawlOps.frontierTopK(survivors, maxPerDomain = 100),
        sched)
      .orderBy(col("dst_family"), col("pos"))
  }

  /** The p145 worklist RELEASED at each domain's published robots
    * cadence — the politeness UNIFICATION: parsed `Crawl-delay` from
    * the same wildcard-bearing fixture files
    * ([[graft.graph.LinkGraph.robotsCrawlDelay]]) becomes each
    * family's per-trigger release rate (`trigger div crawl_delay_ms`
    * floored at 1 — [[graft.graph.LinkGraph.crawlDelayCaps]]'
    * arithmetic at trigger grain; un-delayed domains release at the
    * default burst), and the frozen worklist drains through
    * [[StatefulOps.paceByKeyRates]]' per-key state-store queue. The
    * release ROUND is deterministic — item `pos` of a domain's
    * md5-ordered list releases in round `ceil(pos / rate)` — so the
    * pacing SCHEDULE itself is oracle-gated (the q135 rule pushed one
    * level further: not just the delay table, the schedule it
    * produces). The rate table rides the closure at domain
    * cardinality (the bounded-model rule); the worklist input is ONE
    * file → one micro-batch, so every key's queue forms in its first
    * invocation and drains on processing-time timers.
    */
  def pacedWorklistStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.PipelineQueries
    val wl = PipelineQueries.crawlWorklistFixture(spark, sfDir)
      .localCheckpoint()
    val fams = wl.select(col("dst_family")).distinct()
      .orderBy(col("dst_family")).collect().map(_.getString(0))
    val famsDf = fams.zipWithIndex
      .map { case (f, i) => (i.toLong, f) }.toSeq.toDF("key", "dst_family")
    // the delay snapshot the rate closure carries is pre-filtered to
    // THIS round's worklist families (LinkGraph.restrictToFrontier —
    // the semi-join that keeps the driver-side map round-sized at a
    // 10⁸-domain archive; the fixture table is authored-small, but
    // the wiring is the production shape)
    val delays = graft.graph.LinkGraph.restrictToFrontier(
        graft.graph.LinkGraph.robotsCrawlDelay(
          PipelineQueries.robotsMetaFixture.toDF("family", "txt"),
          col("family"), col("txt")),
        col("family"), wl.select(col("dst_family")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val triggerMs = 10000L
    val defaultRate = 4
    val rates: Long => Int = id =>
      delays.get(fams(id.toInt))
        .map(ms => math.max(1L, triggerMs / ms).toInt)
        .getOrElse(defaultRate)
    val keyed = wl.join(broadcast(famsDf), Seq("dst_family"))
      .select(col("key"), col("pos").as("seq"),
        col("canonical").as("property"), lit(0.0).as("payload"))
    val stream = staged(keyed.coalesce(1), "paced_worklist_in")
      .as[StatefulOps.KeyedElement]
    val released = StatefulOps.paceByKeyRates(stream, rates,
      maxBuffer = 1000, drainIntervalMs = 50)
    runToMemoryUntil(released.toDF(), wl.count())
      .select(col("key"), col("seq").as("pos"), col("round"))
      .join(broadcast(famsDf), Seq("key"))
      .join(wl, Seq("dst_family", "pos"))
      .select(col("canonical"), col("dst_family"), col("pos"), col("round"))
      .orderBy(col("dst_family"), col("pos"))
  }

  /** p198's WordPiece training with the vocabulary folded from the
    * stream — q131's split applied to the likelihood trainer: the
    * (word, freq) table is the ONE streaming aggregation (the shared
    * [[graft.text.UnigramLm.wordFreqs]] projection), the merge rounds
    * and seed-alphabet derivation run driver-side on the bounded
    * artifact through the SAME
    * [[graft.text.WordPiece.wordPieceTrainFromWords]] /
    * `trainedVocabFromWords` pair (single maxVocab site, single
    * seeding code path — batch-identical by shared definition), and
    * the epoch-boundary serve runs p198's round-trip gate verbatim.
    */
  def wordPieceTrainStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.WordPiece
    val words = runToMemory(graft.text.UnigramLm.wordFreqs(
        documentsStream(spark, sfDir), col("text")))
      .localCheckpoint()
    val merges = WordPiece.wordPieceTrainFromWords(words, numMerges = 150)
    val vocab = WordPiece.trainedVocabFromWords(words, merges)
    graft.queries.PipelineQueries.wordPieceRoundTrip(
      graft.Tables.documents(spark, sfDir), vocab)
  }

  /** p193's unigram-LM TRAINING with the word table folded from the
    * stream — q147's split applied to the EM trainer: the ONE
    * corpus-sized aggregation is the streaming (word, freq) fold; the
    * EM rounds (E-step likelihood, re-estimate, prune) run
    * driver-side against that bounded artifact through the SAME
    * [[graft.text.UnigramLm.unigramTrainFromWords]] as the batch
    * entry (single seeding and election code path — batch-identical
    * by shared definition), and the trained pieces serve p191's
    * round-trip gate over the corpus.
    */
  def unigramTrainStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions
    val words = runToMemory(graft.text.UnigramLm.wordFreqs(
        documentsStream(spark, sfDir), col("text")))
      .localCheckpoint()
    val (vocab, _) = graft.text.UnigramLm.unigramTrainFromWords(words,
      vocabTarget = 400, seedMaxLen = 4, seedSize = 1500, iters = 2)
    val pieces = graft.text.UnigramLm.toMicro(vocab)
    graft.Tables.documents(spark, sfDir).select(col("doc_id"),
        graft.functions.UnigramEncode(col("text"), pieces).as("seg"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        (regexp_replace(col("seg"), "\\|", "") ===
          array_join(col("toks"), "")).as("ok"))
      .orderBy(col("doc_id"))
  }

  /** p217's alias-chain resolution with the UNIONED edge extraction
    * at ingest — one step past q156: BOTH declaration kinds
    * (rel=canonical and meta-refresh) project statelessly per row,
    * but the refresh-beats-canonical precedence is an anti-join on
    * the refresh srcs, which in a streaming world is epoch-boundary
    * work (a canonical edge cannot know a later batch won't bring a
    * refresh for the same page), so extraction streams per KIND and
    * precedence + pointer doubling run batch-side through the SAME
    * [[graft.graph.CrawlOps]] halves as p217 — the q151 split, with
    * the precedence seam placed where its cross-batch dependency
    * actually lives.
    */
  def aliasChainsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.graph.CrawlOps
    val pages = graft.queries.PipelineQueries.canonicalChainPages(
      documentsStream(spark, sfDir))
    val refresh = CrawlOps.metaRefreshEdges(pages, col("page_url"),
      col("html"), maxDelaySeconds = 10L).select(col("src"), col("dst"))
    val canon = CrawlOps.canonicalEdges(pages, col("page_url"), col("html"))
    val r = runToMemory(refresh, mode = "append")
    val c = runToMemory(canon, mode = "append")
    val unioned = r.unionByName(
      c.join(r.select(col("src")), Seq("src"), "left_anti"))
    CrawlOps.resolveRedirects(unioned, maxDepth = 4).orderBy(col("url"))
  }

  /** p218's SQ8 serving tier AT stream time — the q60 frozen-artifact
    * shape for vector serving: the store (model + packed codes) is a
    * PUBLISHED artifact generation (the same blue/green lifecycle as
    * the batch entry — v1 on the 80% slice, v2 full retrain, each
    * recall-gated), and queries ARRIVE as a stream. Each micro-batch
    * dequants map-side through the stored model (literal arrays in
    * the projection — no model join) and scores against the static
    * reconstructed store via one stream-static join
    * ([[graft.similarity.SimilaritySearch.sq8ServeScored]] — shared
    * with the batch serve, so the twins cannot drift); the bounded
    * per-query TopK is the ONLY streaming state. At 100 TB the
    * full-store scan per batch gives way to IVF-SQ8 probing
    * (ivfSq8TopKCurrent) — documented, the brute serve is the
    * recall-exact baseline.
    */
  def sq8ServeStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.similarity.SimilaritySearch
    val e = graft.Tables.embeddings(spark, sfDir)
    val base = graft.sources.Sinks.tempArtifactDir("sq8_serve_stream")
    val panel = e.filter(col("vec_id") < 20).localCheckpoint(eager = false)
    SimilaritySearch.publishSq8Store(spark, base,
      e.filter(col("vec_id") % 5 =!= 4), col("vec_id"), col("embedding"),
      panel, col("vec_id"), col("embedding"), k = 5,
      recallFloorMicro = 500000L)
    SimilaritySearch.publishSq8Store(spark, base,
      e, col("vec_id"), col("embedding"),
      panel, col("vec_id"), col("embedding"), k = 5,
      recallFloorMicro = 500000L)
    val qs = embeddingsStream(spark, sfDir).filter(col("vec_id") < 20)
    val scored = SimilaritySearch.sq8ServeScored(spark, base, qs,
      col("vec_id"), col("embedding"))
    runToMemory(SimilaritySearch.rankTopK(scored, 5))
      .orderBy(col("query_id"), col("rank"))
  }

  /** p225's IVF-SQ8 serve AT stream time — the scale-right streaming
    * vector serve (q159's brute twin scans the whole store per batch;
    * this one does not): probes compute MAP-SIDE against the
    * stride-bounded centroid literals, candidates arrive through ONE
    * stream-static EQUI-join on centroid_id against the store's
    * materialized coarse assignment
    * ([[graft.similarity.SimilaritySearch.ivfSq8ServeScored]] —
    * shared with the batch serve, spec-pinned equal), and the bounded
    * per-query TopK is the only state. Shares p225's oracle.
    */
  def ivfSq8ServeStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.similarity.SimilaritySearch
    val e = graft.Tables.embeddings(spark, sfDir)
    val base = graft.sources.Sinks.tempArtifactDir("ivf_sq8_stream")
    val panel = e.filter(col("vec_id") < 20).localCheckpoint(eager = false)
    SimilaritySearch.publishSq8Store(spark, base,
      e, col("vec_id"), col("embedding"),
      panel, col("vec_id"), col("embedding"), k = 5,
      recallFloorMicro = 500000L)
    val qs = embeddingsStream(spark, sfDir).filter(col("vec_id") < 20)
    val scored = SimilaritySearch.ivfSq8ServeScored(spark, base, qs,
      col("vec_id"), col("embedding"), centroidStride = 25, nprobe = 2)
    runToMemory(SimilaritySearch.rankTopK(scored, 5))
      .orderBy(col("query_id"), col("rank"))
  }

  /** p174's two-level CDX serve AT stream time — lookup batches
    * arrive as a stream against a FROZEN shard layout (the q113
    * frozen-artifact shape: the sorted shards + their shard table are
    * the served generation; maintenance is [[graft.sources.Warc
    * .compactCdxShards]]'s separate job). Each micro-batch's keys
    * route through the SAME scan-stage shard-table HOF the batch
    * serve uses (the table collected once at start, riding the plan as
    * a literal — no state, no join, no shuffle on the streaming side)
    * and hit their shards via a stream-static equi-join on (shard,
    * surt_key); append mode, zero state rows. The static-side
    * partition pruning of the batch path becomes the join's shard key
    * here — per-batch static pruning is the engine's dynamic-filter
    * territory, documented, not faked with a collect on a stream.
    */
  def cdxServeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val cdx = graft.sources.Warc.cdxIndex(graft.sources.Warc.parseWarc(
      graft.queries.PipelineQueries.warcFixtureFrom(docs),
      col("file_id"), col("payload")))
    val dir = graft.sources.Sinks.tempArtifactDir("cdx_serve_shards")
    graft.sources.Warc.writeCdxShards(cdx, dir, numShards = 8)
    val shards = graft.sources.Warc.readCdxShards(spark, dir, cdx.schema)
    val table = graft.sources.Warc.cdxClusterIndex(shards)
    val keys = staged(docs.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("HTTPS://WWW.SRC"),
          (col("doc_id") % 20).cast("string"), lit(".COM:443/p/"),
          col("doc_id").cast("string"), lit("?utm_source=x#frag")).as("url")),
        "cdx_serve_panel")
      .select(graft.functions.SourceFamily.surtKey(col("url"))
        .as("surt_key"))
    val assigned = graft.sources.Warc.assignShards(keys, col("surt_key"),
      table)
    runToMemory(
      assigned.join(shards, Seq("shard", "surt_key"))
        .select(col("surt_key"), col("target_uri"), col("file_id"),
          col("record_idx"), col("offset"), col("record_bytes")),
      mode = "append")
      .orderBy(col("surt_key"))
  }

  /** p191's unigram-LM serving AT ingest — tokenizer inference is
    * per-row kernel work (the vocabulary rides the expression, the
    * Viterbi walk is scan-stage), so a document's segmentation exists
    * the moment its file lands: zero state, append mode, the q134
    * rule. n_pieces/score_micro derive from the SEGMENTATION via a
    * literal score map (scan-stage array fold — the batch twin's
    * score join, re-expressed without an aggregation so the stream
    * stays stateless); a piece outside the vocabulary nulls the score
    * and desyncs the oracle.
    */
  def unigramEncodeStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{aggregate => fAggregate, size => fSize}
    val docs = graft.Tables.documents(spark, sfDir)
    val vocab = graft.queries.PipelineQueries.unigramTrapVocab
    val k = (col("doc_id") % 4 + 1).cast("int")
    val m = (col("doc_id") % 3).cast("int")
    val input = staged(docs.select(col("doc_id"),
      concat(repeat(lit("ab"), k), repeat(lit("a"), m)).as("w")), "unigram_stream_in")
    val scoreMap = map(vocab.flatMap { case (p, s) =>
      Seq(lit(p), lit(s)) }: _*)
    runToMemory(
      input.select(col("doc_id"),
          graft.functions.UnigramEncode(col("w"), vocab).as("seg"))
        .select(col("doc_id"), col("seg"),
          fSize(split(col("seg"), "\\|")).cast("long").as("n_pieces"),
          fAggregate(split(col("seg"), "\\|"), lit(0L),
            (acc, p) => acc + element_at(scoreMap, p)).as("score_micro")),
      mode = "append")
      .orderBy(col("doc_id"))
  }

  /** p173's revisit LEDGER maintained live — the state a real archive
    * ingest carries: as WARC files land (two fetch batches in the
    * fixture), each digest's row tracks its first-stored extent (the
    * order-independent packed-`min` election — batch-identical no
    * matter how ingest slices into micro-batches, the q31/q48 rule)
    * and its copy count; a new record is a revisit exactly when it
    * doesn't move the min. Streaming state is one row per distinct
    * digest — the content-cardinality frame, not the record count.
    */
  def cdxRevisitStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val input = staged(graft.queries.PipelineQueries.warcFixtureFrom(docs)
      .unionByName(graft.queries.PipelineQueries.warcFixtureFrom(
        docs.filter(col("doc_id") % 5 === 0), fileBase = 8L)), "cdx_revisit_in")
    val cdx = graft.sources.Warc.cdxIndex(graft.sources.Warc.parseWarc(
      input, col("file_id"), col("payload")))
    val agg = cdx.groupBy(col("digest"))
      .agg(min(graft.sources.Warc.packedExtent(col("file_id"),
        col("offset"))).as("p"), count(lit(1)).as("n_copies"))
      .select(col("digest"),
        expr(s"p div ${graft.sources.Warc.ExtentPack}L").as("orig_file"),
        (col("p") % lit(graft.sources.Warc.ExtentPack)).as("orig_offset"),
        col("n_copies"))
    runToMemory(agg).orderBy(col("digest"))
  }

  /** p141's change-rate estimation with the crawl ledger accumulating
    * ON the streaming engine: cross-batch state is the ledger at its
    * natural (url, day, fingerprint) grain — never the raw fetch
    * stream — and the adjacency/rate finalize runs batch-side at the
    * epoch boundary through the SAME
    * [[graft.graph.CrawlOps.changeRates]] operator, because
    * adjacent-fetch diffing is ORDER-dependent and micro-batch
    * arrival order is not day order (the q99 EWMA rule: an
    * order-dependent fold must never live in stream state).
    */
  def changeRatesStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ledger = graft.queries.PipelineQueries
      .crawlLedgerFixtureFrom(documentsStream(spark, sfDir))
      .groupBy(col("url"), col("day"), col("fingerprint"))
      .agg(count(lit(1)).as("__n"))
    graft.graph.CrawlOps.changeRates(
        runToMemory(ledger)
          .select(col("url"), col("day"), col("fingerprint")),
        asofDay = 5L)
      .orderBy(col("url"))
  }

  /** p147's recrawl schedule recomputed at the EPOCH boundary from a
    * LIVE fetch ledger — freshness turned into spend while the crawl
    * runs: the ledger folds cross-batch to its distinct (url, day,
    * fingerprint) triples (q123's state — the finest-grain fold,
    * re-fetches of an unchanged page update a count, never the
    * state's size), and the rate → family rollup → largest-remainder
    * spend finalize runs batch-side through the SAME
    * [[graft.graph.CrawlOps.changeRates]] +
    * [[graft.graph.LinkGraph.crawlBudget]] halves as the batch entry.
    */
  def recrawlScheduleStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ledger = graft.queries.PipelineQueries
      .crawlLedgerFixtureFrom(documentsStream(spark, sfDir))
      .groupBy(col("url"), col("day"), col("fingerprint"))
      .agg(count(lit(1)).as("__n"))
    val rates = graft.graph.CrawlOps.changeRates(
      runToMemory(ledger)
        .select(col("url"), col("day"), col("fingerprint")),
      asofDay = 5L)
    val fam = rates
      .select(graft.functions.SourceFamily.familyOf(col("url")).as("node"),
        col("score_micro"))
      .groupBy(col("node")).agg(sum(col("score_micro")).as("rank_micro"))
    graft.graph.LinkGraph.crawlBudget(fam, budget = 10000L,
        maxPerDomain = 2000L)
      .orderBy(col("node"))
  }

  /** p131's outlink harvest with the link graph accumulating ON the
    * streaming engine — the frontier's view DURING the crawl, not
    * after it: harvest/canonicalize/family run stateless map-side
    * (the SAME [[graft.graph.LinkGraph.linkRows]] scan-stage program
    * — shared definition, the chunkElection rule), the cross-batch
    * state is the finest-grain fold — one (src_family, dst_family,
    * canonical) count row per distinct linked page, which IS the
    * crawl frontier table — and the family-pair rollup (n_links =
    * Σcounts, n_urls = row count) is the FINALIZE half, batch-side
    * over the sink at the epoch boundary. Both halves associative ⇒
    * batch-identical under any micro-batch slicing.
    */
  def outlinksStream(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = documentsStream(spark, sfDir)
      .select(col("doc_id"),
        graft.queries.PipelineQueries.messyUrlFixture.as("page_url"),
        graft.queries.PipelineQueries.htmlFixtureText.as("html"))
    val agg = graft.graph.LinkGraph
      .linkRows(pages, col("page_url"), col("html"))
      .groupBy(col("src_family"), col("dst_family"), col("canonical"))
      .agg(count(lit(1)).as("n"))
    runToMemory(agg)
      .groupBy(col("src_family"), col("dst_family"))
      .agg(sum(col("n")).as("n_links"), count(lit(1)).as("n_urls"))
      .orderBy(col("src_family"), col("dst_family"))
  }

  /** p54's source-drift KL on the streaming engine — the frozen-
    * reference deployment shape (the q56/q60 model-artifact pattern):
    * the corpus vocabulary and its token counts are trained ONCE
    * batch-side; the stream then maintains ONE fixed `|vocab|+1`-long
    * count buffer per source ([[graft.functions.KlDrift.CountsAgg]] —
    * OOV tokens bucket into the last slot, so state is bounded by the
    * reference artifact regardless of what arrives; elementwise-add
    * merge ⇒ slice-independent). The KL arithmetic is rebuilt from the
    * final buffers with the IDENTICAL Catalyst expression as the batch
    * operator (same micro-unit truncation, same rounding engine), so
    * the twin hash-matches p54's oracle — OOV counts enter the token
    * total but carry no term, which on the training corpus itself is
    * vacuous (every token is in-vocabulary) and in live drift
    * monitoring is the documented frozen-reference semantics.
    */
  def sourceKl(spark: SparkSession, sfDir: String,
               maxVocab: Int = 1 << 20): DataFrame = {
    import graft.functions.{KlDrift, TextFunctions}
    val sp = spark; import sp.implicits._
    val refAgg = graft.Tables.documents(spark, sfDir)
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_t"))
    // the reference distribution is a driver-built artifact — the
    // limit bounds what can ever reach the driver (≤ maxVocab+1 rows),
    // and one extra row is proof of overflow, failing loudly in the
    // same single pass (the temperatureMixSqrt rule: no silent
    // corpus-sized collects); production callers pass a top-V artifact
    val ref = refAgg.orderBy(col("tok")).limit(maxVocab + 1).collect()
    require(ref.length <= maxVocab,
      s"sourceKl: reference vocabulary exceeds maxVocab=$maxVocab — " +
        "train the drift monitor on a bounded top-V vocabulary artifact")
    val vocab = ref.map(_.getString(0)).toSeq
    val nT = ref.map(_.getLong(1))
    val nTotal = nT.sum
    val ca = udaf(new KlDrift.CountsAgg(vocab))
    val counts = runToMemory(
      documentsStream(spark, sfDir)
        .select(col("source"), TextFunctions.tokens(col("text")).as("toks"))
        .groupBy(col("source")).agg(ca(col("toks")).as("cb")))
    val refDf = broadcast(vocab.indices.map(i => (i, nT(i))).toDF("i", "n_t"))
    // the per-source base row is built BEFORE the in-vocab term filter:
    // a source streaming 100% out-of-vocabulary tokens is the MOST
    // drifted one and must still appear (n_tokens counts everything
    // including OOV; its in-vocab KL sum is empty → 0). Sources with
    // zero tokens produce no batch rows and none here (n_s > 0 guard).
    val base = counts
      .select(col("source").as("__src"), // renamed: joined back against
        aggregate(col("cb.counts"), lit(0L), _ + _).as("n_s")) // the same memory table
      .where(col("n_s") > 0)
    val terms = counts
      .select(col("source"), posexplode(col("cb.counts")).as(Seq("i", "n_st")))
      .where(col("n_st") > 0 && col("i") < lit(vocab.size))
      .join(refDf, "i")
      .join(broadcast(base), col("source") === col("__src"))
      .select(col("source"), graft.text.CorpusOps.klMicro(col("n_st"),
        col("n_s"), col("n_t"), lit(nTotal)).as("kl_micro"))
      .groupBy(col("source")).agg(sum(col("kl_micro")).as("s"))
    base.join(terms, col("__src") === col("source"), "left")
      .select(col("__src").as("source"), col("n_s").as("n_tokens"),
        round(coalesce(col("s"), lit(0L)) / 1e6, 6).as("kl"))
      .orderBy(col("source"))
  }

  /** p55's inverted-index STATISTICS maintained incrementally on the
    * streaming engine: df and cf per token as a single streaming
    * aggregation with bounded state (two longs per token). Each
    * arriving document pre-reduces to its own (token, tf) pairs
    * MAP-SIDE (distinct tokens × occurrence counts from its token
    * array — no per-occurrence rows reach the state store), so df is a
    * plain `count` (each doc contributes each token once) and cf a
    * plain `sum` — both order-independent, slice-independent counts.
    * Posting LISTS don't live in the state store (per-token postings
    * grow with the corpus); their streaming form is the log-structured
    * segment build + LSM compaction of [[logStructuredIndex]] (q67),
    * which keeps the list body on durable storage — the standard
    * index-maintenance split, with both halves live.
    */
  def indexStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions
    // per-doc (token, tf) via sort + run-length boundaries — O(n log n)
    // per document (the distinct×filter form is O(distinct·n), which a
    // 10k-token doc turns into ~10^8 comparisons in the scan stage)
    val perDoc = documentsStream(spark, sfDir)
      .select(array_sort(TextFunctions.tokens(col("text"))).as("srt"))
      .where(size(col("srt")) > 0) // sequence(0, -1) would descend
      .select(col("srt"), filter(sequence(lit(0), size(col("srt")) - 1),
        i => (i === 0) ||
          element_at(col("srt"), i + 1) =!= element_at(col("srt"), i)).as("st"))
      .select(explode(zip_with(col("st"),
        concat(slice(col("st"), lit(2), size(col("st")) - 1),
          array(size(col("srt")))),
        (s, e) => struct(element_at(col("srt"), s + 1).as("tok"),
          (e - s).cast("long").as("tf")))).as("e"))
      .select(col("e.tok").as("tok"), col("e.tf").as("tf"))
    runToMemory(perDoc.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")))
      .orderBy(col("tok"))
  }

  /** p87's surgical scrubbing applied DURING ingest: the eval set is a
    * broadcast exact hash set (static side, built once from the batch
    * table), and every streaming document scrubs itself in the scan
    * stage via [[graft.text.CorpusOps.scrubSpansMapSide]] — a fully
    * STATELESS append-mode stream with no aggregation, no state store,
    * and no shuffle, so throughput is scan-bound and any slicing gives
    * identical rows. The map-side form is pinned row-identical to the
    * span form in CorpusOpsSpec; shares p87's oracle.
    */
  def spanScrubStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.CorpusOps
    val evalHashes = CorpusOps.evalShingleHashes(
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 101 === 0),
      col("text"), n = 3)
    val out = runToMemory(
      CorpusOps.scrubSpansMapSide(
        documentsStream(spark, sfDir).filter(col("doc_id") % 101 =!= 0),
        col("doc_id"), col("text"), evalHashes, n = 3),
      mode = "append")
    out.orderBy(col("doc_id"))
  }

  /** p91's WHOLE release pipeline on the streaming engine — dedup →
    * scrub → quality gate → manifest — with one narrow-state streaming
    * aggregate. Everything the downstream stages need is a pure
    * function of the row, so it computes in the SCAN stage before any
    * state: the dedup fingerprint (of raw text — batch order:
    * scrubbing the keepers equals electing then scrubbing), the
    * scrubbed text's token count / char count / fingerprint lanes (via
    * the map-side scrub + shared manifestStats projection). The only
    * streaming state is fingerprint → struct-min of those stats
    * (doc_id leads ⇒ batch-identical keeper); scrubbed TEXT itself
    * never enters state. At the epoch boundary the calibration
    * histogram, cutoff, and grouping-set rollups all run batch-side
    * over the elected keepers through the same shared halves the batch
    * entry uses. Shares p91's oracle.
    */
  def corpusReleaseStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.curation.Curation
    import graft.text.CorpusOps
    import graft.functions.TextFunctions
    val evalHashes = CorpusOps.evalShingleHashes(
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 101 === 0),
      col("text"), n = 3)
    val train = documentsStream(spark, sfDir).filter(col("doc_id") % 101 =!= 0)
    val scrubbed = CorpusOps.scrubSpansMapSide(train,
      col("doc_id"), col("text"), evalHashes, 3,
      col("source"), col("lang"),
      TextFunctions.fingerprint(col("text")).as("fingerprint"))
    val stats = Curation.manifestStats(scrubbed,
      col("source"), col("lang"), col("scrubbed"),
      col("doc_id"), col("fingerprint"))
    val elected = runToMemory(
      stats.groupBy(col("fingerprint"))
        .agg(min(struct(col("doc_id"), col("source"), col("lang"),
          col("__nt"), col("__nc"), col("__h_lo"), col("__h_hi"))).as("s")))
      .select(col("s.doc_id").as("doc_id"), col("s.source").as("source"),
        col("s.lang").as("lang"), col("s.__nt").as("__nt"),
        col("s.__nc").as("__nc"), col("s.__h_lo").as("__h_lo"),
        col("s.__h_hi").as("__h_hi"))
    val hist = elected.groupBy(col("lang").as("group"), col("__nt").as("score"))
      .agg(count(lit(1)).as("__c"))
    val flags = Curation.calibrateFromHist(hist,
        elected.select(col("doc_id"), col("lang").as("group"),
          col("__nt").as("score")),
        rateMicro = 800000L, keepLowest = false)
      .filter(col("kept")).select(col("doc_id"))
    Curation.releaseManifestFromStats(elected.join(flags, Seq("doc_id"))
        .select(col("source"), col("lang"), col("__nt"), col("__nc"),
          col("__h_lo"), col("__h_hi")))
      .orderBy(col("lvl"), col("source").asc_nulls_first,
        col("lang").asc_nulls_first)
  }

  /** p88's release manifest on the streaming engine. The dedup election
    * and the manifest stats fold in ONE streaming aggregate whose state
    * is NARROW by construction: each arriving document reduces in the
    * scan stage to (fingerprint, stats struct) — token/char totals and
    * the two fingerprint lanes via [[graft.curation.Curation.manifestStats]],
    * the same projection the batch entry uses — and the election keeps
    * the struct-min (doc_id leads the struct, so min == the batch
    * keeper's attributes). Text never enters state. The grouping-set
    * rollup runs batch-side at the epoch boundary over the elected
    * keepers ([[graft.curation.Curation.releaseManifestFromStats]] —
    * shared, no drift). Slice-independent because min/count/sum/xor all
    * merge associatively; shares p88's oracle.
    */
  def releaseManifestStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.curation.Curation
    import graft.functions.TextFunctions
    val stats = Curation.manifestStats(documentsStream(spark, sfDir),
      col("source"), col("lang"), col("text"),
      col("doc_id"), TextFunctions.fingerprint(col("text")).as("fingerprint"))
    val elected = runToMemory(
      stats.groupBy(col("fingerprint"))
        .agg(min(struct(col("doc_id"), col("source"), col("lang"),
          col("__nt"), col("__nc"), col("__h_lo"), col("__h_hi"))).as("s")))
    Curation.releaseManifestFromStats(
        elected.select(col("s.source").as("source"), col("s.lang").as("lang"),
          col("s.__nt").as("__nt"), col("s.__nc").as("__nc"),
          col("s.__h_lo").as("__h_lo"), col("s.__h_hi").as("__h_hi")))
      .orderBy(col("lvl"), col("source").asc_nulls_first,
        col("lang").asc_nulls_first)
  }

  /** The segment log q67 and q74 share: each micro-batch builds its
    * own complete segment and [[drain]] lands it in its own batch_id=
    * subdirectory, so the compactors' unique-(tok, doc) contract holds
    * under crash replay. The sealed log reads back through
    * [[sealedLog]].
    */
  private def runSegmentLog(spark: SparkSession, sfDir: String, prefix: String,
                            segSchema: StructType)
                           (buildSegment: DataFrame => DataFrame): DataFrame = {
    val segDir = graft.sources.Sinks.tempArtifactDir(prefix)
    drain(documentsStream(spark, sfDir), segDir) { (batch, batchId) =>
      buildSegment(batch)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$segDir/segments/batch_id=$batchId")
    }
    sealedLog(spark, segSchema, s"$segDir/segments")
  }

  /** q65's missing half — the posting-list BODY maintained on the
    * streaming engine, log-structured: each micro-batch builds its own
    * complete index SEGMENT (the batch [[graft.text.CorpusOps.invertedIndex]]
    * over just that batch's documents — per-token runs already
    * doc_id-sorted) and APPENDS it to a durable segment log; a periodic
    * compaction ([[graft.text.CorpusOps.compactPostingSegments]], run
    * here at the epoch boundary) LSM-merges the runs into the exact
    * index the batch build (p55) produces over the same corpus — the
    * oracle is shared.
    *
    * State boundedness: the streaming query holds NO state-store state
    * at all (stateless foreachBatch); the log grows with the corpus on
    * DURABLE storage, where an index must live anyway, and compaction
    * touches only (tok, doc_id, tf) entries — never re-scanning or
    * re-tokenizing corpus text. That is the standard LSM index-
    * maintenance design (segments + merge), not a state-store blow-up.
    */
  def logStructuredIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.CorpusOps
    val segSchema = StructType(Seq(
      StructField("tok", StringType), StructField("df", LongType),
      StructField("cf", LongType), StructField("postings", StringType),
      StructField("batch_id", LongType)))
    CorpusOps.compactPostingSegments(
        runSegmentLog(spark, sfDir, "graft_postseg", segSchema)(
          CorpusOps.invertedIndex(_, col("doc_id"), col("text"))))
      .orderBy(col("tok"))
  }

  /** p122's span-index lifecycle with the segment APPENDS running on
    * the streaming engine — q67's exactly-once segment-log recipe over
    * the span election: each micro-batch builds its own (h, w, c)
    * segment through the SAME
    * [[graft.text.CorpusOps.spanSegment]] the batch appender uses and
    * lands it idempotently; the merged serve is the SAME
    * [[graft.text.CorpusOps.mergeSpanSegments]] h-keyed min/sum — both
    * associative, so the result equals the whole-corpus election no
    * matter how ingest slices into batches. Shares p122's oracle.
    */
  def spanIndexLog(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.CorpusOps
    val segSchema = StructType(Seq(
      StructField("h", StringType), StructField("w", LongType),
      StructField("w2", LongType), StructField("c", LongType),
      StructField("batch_id", LongType)))
    CorpusOps.mergeSpanSegments(
        runSegmentLog(spark, sfDir, "graft_spanseg", segSchema)(
          CorpusOps.spanSegment(_, col("doc_id"), col("text"), n = 8)))
      .orderBy(col("h"))
  }

  /** q67's log with the TAKEDOWN feed folded in: the corpus streams
    * into per-batch index segments exactly as q67, and compaction
    * receives the tombstoned doc_ids — deletes are input to the one
    * existing rewrite point (p67's rule), so the compacted index
    * equals a direct build on the SURVIVING corpus, df/cf included,
    * no matter how ingest sliced into segments. Shares p67's oracle
    * (which only ever sees the survivors).
    */
  def indexTombstones(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.CorpusOps
    val segSchema = StructType(Seq(
      StructField("tok", StringType), StructField("df", LongType),
      StructField("cf", LongType), StructField("postings", StringType),
      StructField("batch_id", LongType)))
    val deletes = graft.Tables.documents(spark, sfDir)
      .filter(expr("floor(doc_id / 20) % 7 = 3")).select(col("doc_id"))
    CorpusOps.compactPostingSegments(
        runSegmentLog(spark, sfDir, "graft_delseg", segSchema)(
          CorpusOps.invertedIndex(_, col("doc_id"), col("text"))),
        deletes = Some(deletes))
      .orderBy(col("tok"))
  }

  /** Fresh PHRASE serving — the positional half of the q67/q68 story:
    * each micro-batch writes its own complete POSITIONAL segment (the
    * batch [[graft.text.CorpusOps.invertedIndexPositional]] over just
    * that batch's documents) into the exactly-once segment log; at the
    * epoch boundary [[graft.text.CorpusOps.compactPositionalSegments]]
    * LSM-merges the runs into exactly the positional index the batch
    * build (p62) serves from, and [[graft.text.CorpusOps.phraseSearch]]
    * answers FROM THE LOG — corpus text never re-read at serve time.
    * Run over the whole corpus this is bit-for-bit p62's answer (shared
    * oracle); the per-epoch prefix parity is pinned in StreamingSpec.
    *
    * State boundedness: stateless foreachBatch — NO state-store state;
    * the log carries (tok, doc_id, positions) entries, linear in corpus
    * tokens, on durable storage where a phrase-capable index must live
    * anyway.
    */
  def phraseServeFresh(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.CorpusOps
    val segSchema = StructType(Seq(
      StructField("tok", StringType), StructField("df", LongType),
      StructField("postings", StringType), StructField("batch_id", LongType)))
    CorpusOps.phraseSearch(
        CorpusOps.compactPositionalSegments(
          runSegmentLog(spark, sfDir, "graft_posseg", segSchema)(
            CorpusOps.invertedIndexPositional(_, col("doc_id"), col("text")))),
        CorpusOps.phraseDemoQueries)
      .orderBy(col("qid"), col("doc_id"))
  }

  /** The RECRAWL cycle on the streaming engine: p66's tombstone ledger
    * driven by streaming crawls. Each crawl is a streaming run whose
    * keeper election — groupBy(fingerprint).min(doc_id) — is order-
    * and slice-independent, so any micro-batch slicing yields the
    * batch election; between runs, the ledger grows by APPENDED DATA
    * only (admission rows from the crawl's survivors, tombstone rows
    * from the takedown feed — never a mutation). The recrawl then runs
    * the SAME streaming election and admits it against the ledger's
    * live set: exactly the retracted fingerprints re-admit, with no
    * special case — their fingerprints are simply absent from the live
    * set. Shares p66's set-theoretic oracle.
    *
    * State boundedness: the streaming state is one (fingerprint,
    * min-id) row per distinct fingerprint — the q31 exact-dedup state
    * shape; the ledger itself is data on durable storage, resolved by
    * one codegen max-over-packed-struct aggregate at admission time.
    */
  def tombstoneDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.functions.TextFunctions
    // one crawl = one streaming election run (slice-independent)
    def crawlElection(): DataFrame = runToMemory(
      documentsStream(spark, sfDir)
        .groupBy(TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("doc_id")))
    val docs = graft.Tables.documents(spark, sfDir)
    val ledger = Dedup.admissions(crawlElection(), 0L).unionByName(
      Dedup.tombstones(docs.filter(expr("floor(doc_id / 20) % 7 = 3")),
        col("text"), 1L))
    crawlElection()
      .join(Dedup.liveFingerprints(ledger), Seq("fingerprint"), "left_anti")
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-build v4 on the streaming engine — the daily-crawl cycle
    * (p73) with BOTH crawls running as streaming keeper elections
    * (q76's slice-independent groupBy(fingerprint).min(doc_id) state
    * shape). The ledger grows by appended data between the two runs,
    * day-2's streamed election admits against its live set, and the
    * gate + exact per-language quota run over the admitted survivors —
    * still one declarative tail. Shares p73's set-theoretic oracle:
    * the full incremental pipeline is batch-identical under any
    * micro-batch slicing.
    */
  def corpusBuild4(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.functions.TextFunctions
    def election(pred: org.apache.spark.sql.Column): DataFrame = runToMemory(
      documentsStream(spark, sfDir).filter(pred)
        .groupBy(TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("doc_id")))
    val day1Pred = expr("floor(doc_id / 20) % 2 = 0")
    val docs = graft.Tables.documents(spark, sfDir)
    val ledger = Dedup.admissions(election(day1Pred), 0L).unionByName(
      Dedup.tombstones(
        docs.filter(day1Pred).filter(expr("floor(doc_id / 20) % 7 = 3")),
        col("text"), 1L))
    val fresh = election(lit(true))
      .join(Dedup.liveFingerprints(ledger), Seq("fingerprint"), "left_anti")
    val gated = docs.join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .filter(TextFunctions.tokenCount(col("text")).between(20, 200))
    graft.curation.Curation.sampleExactPerGroup(
        gated, col("lang"), col("doc_id"), k = 15)
      .orderBy(col("group"), col("rank"))
  }

  /** The LIVE similarity service: p65's incremental ANN maintenance on
    * the streaming engine. The base index builds once (batch-side, 80%
    * of the corpus, frozen quantizers); then newly arriving vectors
    * STREAM in, and each micro-batch encodes its delta against the
    * frozen centroid/codebook artifacts and lands it as its own
    * postings segment — `segment=b<batchId>`, written with overwrite
    * inside the commit-marker wrapper, so a crash-replayed batch
    * rewrites its own directory (the q67 exactly-once rule; a
    * mode("append") here would duplicate code rows and corrupt every
    * later serve). Segment union is slice-independent (encoding is
    * per-row), so the served result is batch-identical under any
    * micro-batch slicing: serving base+streamed equals the inline
    * build on the union corpus — p65's oracle verbatim.
    *
    * State boundedness: stateless foreachBatch — NO state-store state;
    * the index artifacts live on durable storage where a serving index
    * must live anyway, and grow only by the encoded delta.
    */
  def annIndexAppend(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.similarity.SimilaritySearch
    val e = graft.Tables.embeddings(spark, sfDir)
    val dir = graft.sources.Sinks.tempArtifactDir("graft_ivfpq_stream")
    val cent = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(e, col("vec_id"), col("embedding"),
      dim = 64, numSubspaces = 4, codeStride = 25)
    SimilaritySearch.buildIvfPqIndex(e.filter(col("vec_id") % 5 =!= 4),
      col("vec_id"), col("embedding"), cent, cb,
      dim = 64, numSubspaces = 4, indexDir = dir)
    drain(embeddingsStream(spark, sfDir).filter(col("vec_id") % 5 === 4), dir) {
      (batch, batchId) =>
        // allowReplace: a re-entry here IS a crash replay of the same
        // micro-batch (the commit marker skips completed batch ids)
        SimilaritySearch.appendToIvfPqIndex(batch, col("vec_id"), col("embedding"),
          dim = 64, numSubspaces = 4, indexDir = dir, segment = s"b$batchId",
          allowReplace = true)
    }
    SimilaritySearch.searchIvfPqIndex(dir, e.filter(col("vec_id") < 20),
        col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4,
        nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The LIVE crawl-frontier dedup check: p79's served minhash index
    * growing with the crawl on the streaming engine. The base index
    * builds once (batch-side, 80% of the corpus); the remaining pages
    * STREAM in, each micro-batch landing its band postings and shingle
    * hashes as its own `segment=b<batchId>` partitions of the two
    * bucketed tables (static-partition overwrite inside the
    * commit-marker wrapper — the q67 exactly-once rule: a
    * crash-replayed batch rewrites its own partitions, never appends
    * beside them). Banding is per-row, so segment union is
    * slice-independent: the verified probe after the stream drains
    * equals probing the full-corpus index — p78's oracle verbatim.
    * Stateless foreachBatch — no state-store state; the index grows on
    * the durable storage a serving index lives on anyway.
    */
  def minhashIndexAppend(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dedup.Dedup
    val docs = graft.Tables.documents(spark, sfDir)
    val dir = graft.sources.Sinks.tempArtifactDir("graft_mh_stream")
    val table = "graft_mh_streamidx"
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 5 =!= 4),
      col("doc_id"), col("text"), indexDir = dir, table = table, nBuckets = 8)
    drain(documentsStream(spark, sfDir).filter(col("doc_id") % 5 === 4), dir) {
      (batch, batchId) =>
        // allowReplace: a re-entry here IS a crash replay of the same
        // micro-batch (the commit marker skips completed batch ids)
        Dedup.appendToMinhashIndex(batch, col("doc_id"), col("text"),
          table = table, segment = s"b$batchId", allowReplace = true)
    }
    Dedup.queryMinhashIndexVerified(spark, table,
        docs.filter(col("doc_id") % 10 === 7), col("doc_id"), col("text"),
        threshold = 0.25)
      .orderBy(col("query_id"), col("candidate_id"))
  }

  /** q60's frozen-stats limitation removed: BM25 whose df/corpus stats
    * TRACK THE ARRIVING CORPUS. Each micro-batch appends two
    * log-structured artifacts map-side (no state-store state): the
    * query-vocabulary entry segment (doc_id, term, tf, dl — the
    * [[graft.text.CorpusOps.bm25IndexSegment]] form, bounded by the
    * query vocabulary) and a one-row (n_docs, sum_dl) stats slice. At
    * any epoch boundary, [[graft.text.CorpusOps.bm25FromIndex]] serves
    * ranked retrieval FROM THE LOG — df aggregated over entries,
    * stats summed over slices, corpus text never re-touched — so
    * scores always reflect the corpus-so-far. Run to the end of the
    * corpus that is exactly the batch p49 ranking (shared oracle); the
    * per-epoch prefix parity is pinned in StreamingSpec.
    */
  def bm25FreshStats(spark: SparkSession, sfDir: String, k: Int = 15,
                     deletes: Option[DataFrame] = None): DataFrame = {
    import graft.text.CorpusOps
    val queries = CorpusOps.bm25DemoQueries
    val terms = queries.flatMap(_._2).distinct
    val logDir = graft.sources.Sinks.tempArtifactDir("graft_bm25log")
    // commit-marker idempotence (the q67 rule): replaying a crashed
    // batch must not double its postings/stats rows — inflated df or
    // n_docs/sum_dl would silently skew every later epoch's ranking.
    // The marker lands after BOTH writes, so the remaining failure
    // window (crash between the two appends) replays the pair together;
    // the postings append is re-run too, which mode("append") would
    // duplicate — hence the per-batch subdirectory with overwrite: a
    // replay rewrites the same paths instead of appending beside them.
    drain(documentsStream(spark, sfDir), logDir) { (batch, batchId) =>
      // ONE tokenize per batch: both artifacts derive from this
      val toks = batch.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks")).persist()
      try {
        CorpusOps.bm25IndexSegmentTokens(toks, terms)
          .write.mode("overwrite").parquet(s"$logDir/postings/batch_id=$batchId")
        toks.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("sum_dl"))
          .write.mode("overwrite").parquet(s"$logDir/stats/batch_id=$batchId")
        // the (doc_id, dl) doc-length sidecar a production index
        // keeps anyway — what lets a LATER takedown retract corpus
        // stats without re-reading the deleted documents' text
        toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
          .write.mode("overwrite").parquet(s"$logDir/doclens/batch_id=$batchId")
      } finally toks.unpersist()
    }
    val postSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("term", StringType),
      StructField("tf", LongType), StructField("dl", LongType)))
    val statSchema = StructType(Seq(
      StructField("n_docs", LongType), StructField("sum_dl", LongType)))
    val dlSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("dl", LongType)))
    CorpusOps.bm25FromIndex(
        sealedLog(spark, postSchema, s"$logDir/postings"),
        sealedLog(spark, statSchema, s"$logDir/stats"),
        queries, k, deletes = deletes,
        doclens = Some(sealedLog(spark, dlSchema, s"$logDir/doclens")))
      .orderBy(col("qid"), col("rank"))
  }

  /** Deletions reach the RANKING: q68's fresh-stats BM25 log with a
    * takedown feed applied at serve time — tombstoned docs' entry rows
    * are masked (df shrinks with them) and their counts/lengths leave
    * the corpus stats via a NEGATIVE slice computed from the doclens
    * sidecar the log already keeps (deleted text is never re-read; a
    * deletion is appended data entering the existing sums). Serves
    * exactly the batch ranking over the SURVIVING corpus — the oracle
    * recomputes that from raw text with the deleted slice filtered out
    * and never sees the log.
    */
  def bm25Deletes(spark: SparkSession, sfDir: String): DataFrame =
    bm25FreshStats(spark, sfDir, deletes = Some(
      graft.Tables.documents(spark, sfDir)
        .filter(expr("floor(doc_id / 20) % 7 = 3")).select(col("doc_id"))))

  /** p48's HyperLogLog vocabulary cardinality on the streaming engine —
    * the sketch-state story beside count-min (q50): the stream folds
    * every token into ONE fixed m-int register buffer per language
    * ([[graft.functions.Hll.RegisterAgg]]), elementwise-max merge makes
    * the registers independent of micro-batch slicing and identical to
    * the declarative batch registers (same md5-derived integer
    * arithmetic), and the estimate is the SAME shared fold
    * ([[graft.functions.Hll.estimate]]). The exact-distinct audit
    * column joins from the batch table (count DISTINCT is not a
    * streaming aggregate), mirroring q50's exact-count resolution.
    */
  def hllDistinct(spark: SparkSession, sfDir: String, p: Int = 6): DataFrame = {
    import graft.functions.{Hll, TextFunctions}
    val ra = udaf(new Hll.RegisterAgg(p))
    val toks = documentsStream(spark, sfDir)
      .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("w"))
    val regs = runToMemory(toks.groupBy(col("lang")).agg(ra(col("w")).as("hb")))
      .select(col("lang").as("group"),
        round(Hll.estimate(col("hb.regs"), p), 2).as("approx_distinct"))
    val exact = graft.Tables.documents(spark, sfDir)
      .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("lang").as("group"))
      .agg(countDistinct(col("w")).as("exact_distinct"))
    regs.join(exact, "group").orderBy(col("group"))
  }

  /** p49's BM25 retrieval on the streaming engine — the frozen-stats
    * deployment shape (the q56 frozen-LM pattern): df and the (N,
    * sum_dl) corpus stats are trained ONCE batch-side from the corpus
    * snapshot and broadcast (df pivoted to one row — bounded by the
    * query vocabulary); the stream then scores each arriving document
    * entirely MAP-SIDE (per-term tf from its own token array, the
    * shared [[graft.text.CorpusOps.bm25Micro]] contribution, integer
    * sum over the query's terms), so the only streaming aggregation is
    * the bounded per-query top-k buffer
    * ([[graft.functions.Aggregators.TopK]], ≤ k rows of state per
    * query — the q51 live-index shape). Self-corpus stats make the
    * result identical to batch p49, so the oracle is shared.
    */
  def bm25TopK(spark: SparkSession, sfDir: String, k: Int = 15,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.text.CorpusOps
    val queries = CorpusOps.bm25DemoQueries
    val terms = queries.flatMap(_._2).distinct
    val termIdx = terms.zipWithIndex.toMap
    val docs = graft.Tables.documents(spark, sfDir)
    val toksB = docs.select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val stats = toksB.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("sum_dl"))
    val dfRow = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .where(col("term").isin(terms: _*)).distinct()
      .groupBy().pivot("term", terms).agg(count(lit(1)))
      .select(terms.map(t => col(s"`$t`").as(s"__df_${termIdx(t)}")): _*)
    val frozen = broadcast(stats.crossJoin(dfRow))

    val stream = documentsStream(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .crossJoin(frozen)
    // per-term contribution, all map-side; a term absent from the whole
    // corpus has null df and contributes 0 (batch has no row for it)
    def contribution(t: String): org.apache.spark.sql.Column = {
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("long")
      val dfc = col(s"__df_${termIdx(t)}")
      when(dfc.isNotNull,
        CorpusOps.bm25Micro(tf, dfc, col("dl"),
          col("n_docs"), col("sum_dl"), k1, b)).otherwise(lit(0L))
    }
    val perQ = queries.map { case (qid, ts) =>
      struct(lit(qid).as("query_id"),
        ts.distinct.map(contribution).reduce(_ + _).as("score_micro"))
    }
    val scored = stream
      .select(col("doc_id").as("neighbor_id"), explode(array(perQ: _*)).as("qs"))
      .select(col("qs.query_id").as("query_id"), col("neighbor_id"),
        col("qs.score_micro").cast("double").as("cos"))
      .where(col("cos") > 0) // no shared term -> absent, like batch
    runToMemory(graft.similarity.SimilaritySearch.rankTopK(scored, k))
      .select(col("query_id").as("qid"), col("rank"),
        col("neighbor_id").as("doc_id"), col("cos").cast("long").as("score_micro"))
      .orderBy(col("qid"), col("rank"))
  }

  /** p94's hybrid retrieval with BOTH legs on the streaming engine: the
    * lexical leg is the q60 streaming BM25 ranking (frozen corpus
    * stats, map-side scoring, rank aggregate), the vector leg streams
    * the embedding corpus against the three broadcast query vectors
    * through the same [[graft.similarity.SimilaritySearch.rankTopK]]
    * aggregate, and the fusion is the SHARED
    * [[graft.text.CorpusOps.rrfFuse]] run batch-side at the epoch
    * boundary over the two epoch rankings. State per leg = one top-k
    * aggregate row per query; shares p94's oracle.
    */
  def hybridRrfStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.text.CorpusOps
    import graft.functions.VectorFunctions
    val text = bm25TopK(spark, sfDir, k = 15)
      .select(col("qid"), col("doc_id"), col("rank"))
    val corpus = embeddingsStream(spark, sfDir)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val queries = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = corpus.join(broadcast(queries),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    val vr = runToMemory(graft.similarity.SimilaritySearch.rankTopK(scored, 15))
    val sp = spark
    import sp.implicits._
    val qmap = CorpusOps.bm25DemoQueries.map(_._1).zipWithIndex
      .map { case (q, i) => (q, i.toLong) }.toDF("qid", "query_vec")
    val vec = vr.join(broadcast(qmap), col("query_id") === col("query_vec"))
      .select(col("qid"), col("neighbor_id").as("doc_id"), col("rank"))
    CorpusOps.rrfFuse(Seq(text, vec), k0 = 60, topK = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** p50's histogram quantile sketch on the streaming engine — one
    * fixed bins-long buffer per group as streaming state
    * ([[graft.functions.Histogram.HistAgg]]), elementwise-add merge so
    * results are independent of micro-batch slicing and identical to
    * the declarative batch counts; the interpolation is the SAME shared
    * estimator ([[graft.functions.Histogram.estimateQuantiles]]).
    */
  def histQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Histogram
    val ha = udaf(new Histogram.HistAgg(0.0, 512.0, 64))
    val regs = runToMemory(
      eventsStream(spark, sfDir).where(col("value").isNotNull)
        .groupBy(col("event_type").as("grp")).agg(ha(col("value")).as("hb")))
    Histogram.estimateQuantiles(
        regs.select(col("grp"), col("hb.bins").as("dense")),
        Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 512.0, bins = 64)
      .orderBy(col("group"), col("quantile"))
  }

  /** p23's eval-set decontamination gate on the streaming engine —
    * ZERO-STATE: the eval split's distinct shingle hashes are reduced
    * batch-side to ONE broadcast array row (eval sets are small by
    * construction — p23's own premise), and each arriving training
    * document computes its leak count entirely MAP-SIDE as
    * `size(array_intersect(own distinct shingle hashes, eval set))` —
    * an append-mode projection with no streaming aggregation and no
    * state, so results are slice-independent by construction. The
    * batch form instead joins exploded hashes (the right shape when
    * the training side dominates and per-shingle rows must never
    * inflate memory); the shared oracle pins the two semantically
    * identical.
    */
  def decontaminate(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    import graft.functions.TextFunctions
    val batch = graft.Tables.documents(spark, sfDir)
    val evalArr = batch.filter(col("doc_id") % 97 === 0)
      .select(explode(TextFunctions.shingles(col("text"), n)).as("sh"))
      .select(md5(col("sh")).as("h")).distinct()
      .agg(collect_list(col("h")).as("__eval"))
    val gated = documentsStream(spark, sfDir)
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), array_distinct(
        transform(TextFunctions.shingles(col("text"), n), s => md5(s))).as("hs"))
      .crossJoin(broadcast(evalArr))
      .select(col("doc_id"),
        coalesce(size(array_intersect(col("hs"), col("__eval"))), lit(0))
          .cast("long").as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
    runToMemory(gated, mode = "append").orderBy(col("doc_id"))
  }

  /** q22's sessionization executed on the streaming engine via
    * `session_window` — merge-on-overlap session state, the streaming
    * dual of the batch gaps-and-islands form. Boundary semantics agree:
    * a session window is [first_ts, last_ts + gap), so an event at
    * exactly gap distance falls outside and opens a new session, which
    * is the batch rule `gap >= timeout`.
    */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("min_event_id"), col("max_event_id"))
    runToMemory(agg).orderBy(col("user_id"), col("session_start"))
  }

  /** q105's session export on the streaming engine: `session_window`
    * merges each user's events into sessions (state bounded per session
    * by the gap rule — the same bound the batch claim makes), each
    * session's events collect into its struct list, and the
    * time-ordered path materializes at the epoch boundary via
    * `array_sort` (collect order is merge-dependent in streaming; the
    * sort makes the export order-independent). The batch 1-based
    * per-user session index re-derives from session starts over the
    * already-tiny session table. Shares q105's oracle.
    */
  def sessionExportStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
        collect_list(struct(col("ts"), col("event_id"), col("event_type")))
          .as("evs"))
    val sessions = runToMemory(agg)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("first_ts"))
    sessions
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        expr("(unix_micros(last_ts) - unix_micros(first_ts)) div 1000000")
          .as("duration_sec"),
        concat_ws(">", expr("transform(array_sort(evs), x -> x.event_type)"))
          .as("path"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** End-to-end streaming corpus curation — the composition a live
    * ingest pipeline runs, in ONE streaming query: denylist scrub →
    * token-count + quality gates (all stateless, map-side) → exact
    * dedup (min-id per fingerprint, the only stateful step). Everything
    * upstream of the aggregate stays in the scan stage, so the
    * streaming state is one row per distinct fingerprint — identical
    * state shape to q31's exact dedup regardless of how many gates are
    * composed in front.
    */
  def curationPipeline(spark: SparkSession, sfDir: String,
                       patterns: Seq[(String, String)],
                       minTokens: Long, maxTokens: Long,
                       minQuality: Double): DataFrame = {
    import graft.functions.TextFunctions
    val clean = patterns.foldLeft(col("text")) { case (acc, (name, re)) =>
      regexp_replace(acc, re, s"[${name.toUpperCase}]")
    }
    val gated = documentsStream(spark, sfDir)
      .select(col("doc_id"), clean.as("ct"))
      .withColumn("n_tok", TextFunctions.tokenCount(col("ct")))
      .withColumn("quality", TextFunctions.qualityScore(col("ct")))
      .filter(col("n_tok").between(minTokens, maxTokens) &&
        col("quality") >= minQuality)
    val agg = gated
      .groupBy(TextFunctions.fingerprint(col("ct")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("group_size"))
    runToMemory(agg).orderBy(col("fingerprint"))
  }

  /** p100's exact covariance on the streaming engine: the moment fold
    * is associative (integer sums merge in any order), so the stream
    * folds the SAME [[graft.similarity.EmbeddingStats.CovMoments]]
    * Aggregator the batch entry uses, with state = ONE fixed-size
    * buffer (~d²/2 longs) — never vectors; the numerator finalize runs
    * batch-side at the epoch boundary through the shared
    * [[graft.similarity.EmbeddingStats.numeratorRows]].
    * Slice-independent because the fold merges; shares p100's oracle.
    */
  def covarianceStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.similarity.EmbeddingStats
    import spark.implicits._
    val dim = 64
    val folded = embeddingsStream(spark, sfDir)
      .select(EmbeddingStats.microQuantize(col("embedding")).as("em"))
      .as[Seq[Long]]
      .groupByKey(_ => 0)
      .agg(new EmbeddingStats.CovMoments(dim).toColumn.name("buf"))
    // groupByKey on an EMPTY stream yields zero groups (the batch
    // momentFold's untyped global aggregate yields one zero buffer);
    // headOption keeps the twins agreeing on empty input.
    val buf = runToMemory(folded.toDF())
      .select(col("buf.*")).as[EmbeddingStats.CovBuf]
      .collect().headOption
      .getOrElse(new EmbeddingStats.CovMoments(dim).zero)
    EmbeddingStats.numeratorRows(spark, buf, dim)
      .orderBy(col("i"), col("j"))
  }

  /** p110's audio statistics on the streaming engine: the encode /
    * decode pair is map-side (dataset maps, no state), and the per-clip
    * statistics fold is ONE media-keyed aggregation — state is a single
    * stats row per clip, slice-independent because counts, extrema, and
    * Σs² all merge. A live media-ingest pipeline computes clip hygiene
    * exactly this way, as bytes land — on MIXED containers (even clips
    * RIFF/WAVE, odd clips FORM/AIFF, p222's fixture: the magic
    * auto-detect runs per row at ingest). Shares p110's
    * container-independent oracle.
    */
  def audioStatsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.multimodal.AudioCodec
    runToMemory(
      AudioCodec.audioStats(
        AudioCodec.SyntheticAudio.mixedFixture(
          documentsStream(spark, sfDir), col("doc_id")),
        col("media_id"), col("payload")))
      .orderBy(col("media_id"))
  }
}
