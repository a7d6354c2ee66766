package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashSignature, SimHash, TextFunctions, VectorFunctions}

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the point of each algorithm at 100 TB):
  *  - exact: one hash-aggregate on a 16-byte key — shuffle moves
  *    (fingerprint, min_id) after map-side combine, not documents.
  *  - MinHash+LSH: signature computed in a single projection per doc
  *    (no explode), then an explode only of k band keys per doc; the
  *    candidate join shuffles (band_key, doc_id) pairs — never text.
  *  - SimHash: code computed in a single projection per doc (native
  *    expression, no per-token rows); candidates via bit-band buckets.
  *  - n-gram Jaccard: exact verification on candidate pairs only (a
  *    post-filter for LSH), via an explode + count join.
  *  - embedding cosine: blocked by sign-bucket LSH so the self-join is
  *    per-bucket, not O(n²).
  */
object Dedup {

  // unique observe-metric names (observe() rejects duplicate names in a plan)
  private val obsId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exact dedup groups: fingerprint → (keeper = min id, group size).
    * `dropExactDuplicates` keeps one row per fingerprint.
    */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(text).as("fingerprint"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("group_size"))

  /** Exact dedup with a keeper PREFERENCE: among exact duplicates the
    * doc from the highest-priority source wins (lowest `priority` rank),
    * tie-broken by min id — "keep the curated copy, drop the crawl
    * mirror". The election min runs over a packed long
    * `priority·2⁴³ + id` (codegen HashAggregate, no struct buffer),
    * with the bounds (0 ≤ priority < 2²⁰, 0 ≤ id < 2⁴³) enforced by a
    * per-row loud error like [[chunkRows]].
    */
  def exactGroupsPreferring(docs: DataFrame, id: Column, text: Column,
                            priority: Column): DataFrame = {
    val packed = when(priority.isNull || id.isNull, lit(null).cast("long"))
      .when(
        priority.cast("long").between(0L, (1L << 20) - 1) &&
          id.cast("long").between(0L, (1L << 43) - 1),
        priority.cast("long") * lit(1L << 43) + id.cast("long"))
      .otherwise(raise_error(concat(
        lit("exactGroupsPreferring: packed-key bounds exceeded (priority "),
        coalesce(priority.cast("string"), lit("null")), lit(", id "),
        coalesce(id.cast("string"), lit("null")),
        lit(") — need 0 <= priority < 2^20 and 0 <= id < 2^43")))
        .cast("long"))
    docs.groupBy(TextFunctions.fingerprint(text).as("fingerprint"))
      .agg(min(packed).as("p"), count(lit(1)).as("group_size"))
      .select(col("fingerprint"),
        (col("p") % lit(1L << 43)).as("keeper_id"),
        expr(s"p div ${1L << 43}L").as("keeper_priority"),
        col("group_size"))
  }

  def dropExactDuplicates(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val keep = exactGroups(docs, id, text).select(col("keeper_id").as("__keep"))
    docs.join(keep, id === col("__keep"), "left_semi")
  }

  /** Incremental exact dedup for rolling corpus ingest: drop rows of
    * `docs` whose fingerprint already exists in `history` (a table with
    * a `fingerprint` column — every previously admitted document), then
    * keep one row per fingerprint within the batch (min id). Output =
    * the surviving rows WITH their `fingerprint` column, so the caller
    * appends exactly that column back to the history table — replaying
    * the same batch then yields zero survivors (idempotent re-ingest,
    * pinned in OperatorsSpec).
    *
    * Scale shape: the anti-join and keeper aggregate shuffle 16-byte
    * md5 keys, never text. At 100 TB keep the history table BUCKETED on
    * `fingerprint` ([[graft.sources.Sinks.writeBucketedTable]]) — the
    * history side of the anti-join then scans pre-shuffled buckets and
    * plans no exchange for it; only the (small) incoming batch moves.
    */
  def incrementalDedup(docs: DataFrame, id: Column, text: Column,
                       history: DataFrame): DataFrame = {
    val fp = docs.withColumn("fingerprint", TextFunctions.fingerprint(text))
      .withColumn("__id", id)
    val fresh = fp.join(history.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
    dedupWithin(fresh)
  }

  /** In-batch keeper election shared by the incremental-dedup variants:
    * one row per fingerprint (min `__id`), `__id`/`__keep` dropped.
    */
  private def dedupWithin(fresh: DataFrame): DataFrame = {
    val keep = fresh.groupBy(col("fingerprint")).agg(min(col("__id")).as("__keep"))
    fresh.join(keep, Seq("fingerprint"))
      .filter(col("__id") === col("__keep"))
      .drop("__id", "__keep")
  }

  /** Tombstone rows retracting documents from a LEDGER-form dedup
    * history — the deletion path a recrawl needs (robots.txt removals,
    * DMCA takedowns): the history table holds (fingerprint, epoch, op)
    * rows, `op` 'add' for admissions and 'del' for tombstones, and a
    * fingerprint is LIVE iff its highest-epoch op is 'add'
    * ([[liveFingerprints]]). Appending — never updating — keeps the
    * history write path identical to the append-only form (a bucketed
    * parquet table grows; nothing rewrites), which is what makes
    * retraction safe at 100 TB: deletes are data, not mutations.
    * Re-admission then needs NO special case —
    * `incrementalDedup(batch, …, liveFingerprints(history))` re-admits
    * a re-ingested doc whose only prior copy was deleted, because its
    * fingerprint is simply absent from the live set.
    */
  def tombstones(docs: DataFrame, text: Column, epoch: Long): DataFrame =
    docs.select(TextFunctions.fingerprint(text).as("fingerprint"),
      lit(epoch).as("epoch"), lit("del").as("op"))

  /** Admission rows for an [[incrementalDedup]] survivor batch (which
    * carries its `fingerprint` column by contract) — the ledger twin of
    * "append the fingerprint column back to the history table".
    */
  def admissions(survivors: DataFrame, epoch: Long): DataFrame =
    survivors.select(col("fingerprint"),
      lit(epoch).as("epoch"), lit("add").as("op"))

  /** The live fingerprint set of a ledger history: per fingerprint the
    * op at the MAX epoch decides, and within one epoch a tombstone
    * beats an admission (delete-then-readd across epochs re-admits;
    * racing ops inside one epoch resolve conservatively to deleted).
    * One hash-aggregate over (fingerprint, epoch, op) — the max rides a
    * packed struct, so the election is a codegen max, no window.
    */
  def liveFingerprints(history: DataFrame): DataFrame =
    history.groupBy(col("fingerprint"))
      .agg(max(struct(col("epoch"),
        (col("op") === "del").cast("int").as("d"))).as("last"))
      .filter(col("last.d") === 0)
      .select(col("fingerprint"))

  /** [[incrementalDedup]] with a Bloom prefilter over the history — the
    * 100 TB acceleration for rolling ingest against a huge admitted-set:
    * a driver-built Bloom filter of the history fingerprints (a few
    * hundred MB even for billions of rows at 1% fpp) splits the batch
    * map-side into DEFINITELY-new rows (the Bloom's no-false-negative
    * guarantee — they skip the anti-join entirely) and possible
    * duplicates (expected ≈ true-dups + fpp·batch), so only that sliver
    * shuffles against the history table. The possible-duplicates still
    * go through the EXACT anti-join, so results are identical to
    * [[incrementalDedup]] row for row (pinned in OperatorsSpec) — the
    * filter buys traffic, never correctness.
    */
  def incrementalDedupBloom(docs: DataFrame, id: Column, text: Column,
                            history: DataFrame, expectedItems: Long,
                            fpp: Double = 0.01): ManagedDedup = {
    val bloom = history.stat.bloomFilter("fingerprint", expectedItems, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((f: String) => f != null && bc.value.mightContainString(f))
    val fp = docs.withColumn("fingerprint", TextFunctions.fingerprint(text))
      .withColumn("__id", id)
    val definitelyNew = fp.filter(!mightContain(col("fingerprint")))
    val maybeDup = fp.filter(mightContain(col("fingerprint")))
      .join(history.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
    // persist the survivors: the two prefilter branches and
    // dedupWithin's two uses would otherwise re-scan and re-hash the
    // batch once per consumer — with the cache the batch-side cost
    // matches the exact path's, which is the point of the prefilter
    val survivors = definitelyNew.unionByName(maybeDup).persist()
    ManagedDedup(dedupWithin(survivors),
      () => { survivors.unpersist(); bc.destroy() })
  }

  /** The deduplicated batch plus its resource release. The operator's
    * target scenario is a long-running rolling ingest — one call per
    * arriving batch — so the cached survivor partitions and the
    * broadcast Bloom filter MUST be freed between batches or they
    * accumulate until executors evict under memory pressure. Call
    * `release()` once `result` has been consumed (written, counted,
    * unioned into history); the plan must not be re-executed afterwards.
    */
  final case class ManagedDedup(result: DataFrame, release: () => Unit)

  /** The per-band LSH keys of a k-minhash signature: band b's key is
    * `b|min_{b·r}|…|min_{b·r+r-1}` — band index prefixed so keys from
    * different bands never collide. Shared by the batch candidate
    * generator, the precision-first streaming dedup (full-signature
    * concat), and the recall-first streaming candidates, so the three
    * agree on banding by construction.
    */
  private[graft] def bandKeyCols(sig: Column, numBands: Int,
                                 rowsPerBand: Int): Seq[Column] =
    (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => sig.getItem(b * rowsPerBand + r))
      concat_ws("|", (lit(b.toString) +: parts): _*)
    }

  /** MinHash-LSH candidate pairs: docs sharing at least one of
    * `numBands` band keys (each of `rowsPerBand` minhashes over
    * `shingleN`-gram shingles). Output (id_a < id_b) distinct.
    *
    * `maxBucket` caps each bucket at its `maxBucket` smallest doc ids
    * (deterministic), bounding the worst bucket's pair blow-up at
    * m·(m-1)/2 → maxBucket·(maxBucket-1)/2 — the standard LSH hot-bucket
    * mitigation for a band shared by m near-identical documents. The
    * docs dropped per bucket are counted in an `observe` metric
    * (`minhash_lsh_N.capped_docs`, readable via QueryExecutionListener /
    * [[graft.operators.Timed.withTimingListener]]) so capping is never
    * silent. Default None preserves exact all-pairs semantics.
    */
  def minhashCandidates(docs: DataFrame, id: Column, text: Column,
                        shingleN: Int = 3, numBands: Int = 4, rowsPerBand: Int = 2,
                        maxBucket: Option[Int] = None): DataFrame = {
    // Map-side MinHash: the native MinHashSignature expression computes
    // all k salted-md5 minima per document inside the scan stage — no
    // shingle explode, no pre-band shuffle. Docs with fewer than shingleN
    // tokens get a NULL signature and drop out (no candidates), mirroring
    // the oracle's len(shingles) >= 1 guard. The only shuffle in this
    // operator is the (band_key, doc_id) LSH join itself.
    val banded = minhashBandRows(docs, id, text, shingleN, numBands, rowsPerBand)
    // Bucket form instead of a self-join: ONE shuffle on band_key, then
    // pairs generated inside each bucket (posexplode + suffix slice). The
    // a.band_key = b.band_key self-join computes the signature scan twice
    // (once per join side) and shuffles both; this computes it once.
    // Within a bucket each doc appears at most once (band index is part
    // of the key), so the suffix slice enumerates each unordered pair
    // exactly once per shared band; distinct() dedups across bands.
    // Skew note (100 TB): a band shared by m near-identical docs yields
    // m²/2 pairs in both forms — maxBucket bounds the worst bucket.
    val full = banded.groupBy(col("band_key"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val buckets = maxBucket match {
      case None => full
      case Some(m) =>
        full.select(col("band_key"),
            slice(array_sort(col("ids")), 1, m).as("ids"),
            greatest(size(col("ids")) - m, lit(0)).as("__capped"))
          .observe(s"minhash_lsh_${Dedup.obsId.incrementAndGet()}",
            sum(col("__capped")).as("capped_docs"))
    }
    buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_x")), col("ids"))
      .select(col("id_x"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
  }

  /** MATERIALIZE the LSH band postings as a servable dedup index —
    * "does the corpus already hold a near-dup of THIS page?" answered
    * without a corpus scan, the lookup a crawl frontier runs on every
    * fetched URL. The artifact is the (band_key, doc_id) posting table
    * BUCKETED on band_key ([[graft.sources.Sinks.writeBucketedTable]]),
    * so the serve-time probe join plans NO exchange on the corpus-sized
    * side — co-location is paid once at write time, and only the (small)
    * query batch shuffles to the buckets. A `<table>__params` sidecar
    * records (shingle_n, num_bands, rows_per_band): the serve path
    * reads its banding config FROM THE ARTIFACT, so a probe cannot be
    * CALLED with a mismatched config (whose band keys would silently
    * never collide). The sidecar guards miscalled probes, not torn
    * builds: like every multi-file artifact build here
    * ([[graft.similarity.SimilaritySearch.buildIvfPqIndex]]'s
    * centroids/codebooks/postings), a build that crashes between the
    * two writes must be re-run (a FIRST build that crashed fails
    * loudly at probe time — no params table; only a crashed REBUILD
    * with a changed banding config can pair old params with new bands,
    * so rebuild into a fresh dir/table when changing config).
    */
  def buildMinhashIndex(docs: DataFrame, id: Column, text: Column,
                        indexDir: String, table: String, nBuckets: Int,
                        shingleN: Int = 3, numBands: Int = 4,
                        rowsPerBand: Int = 2): Unit = {
    // EXTERNAL at the artifact path: rebuildable from any session (a
    // managed table's warehouse directory outlives the session-local
    // catalog entry and blocks the next build), and the index lives
    // beside the other served artifacts, not in the warehouse.
    // SEGMENT-partitioned like the ANN postings (segment=base is this
    // build; [[appendToMinhashIndex]] deltas land as their own
    // partitions): the bucket-aware scan groups same-bucket files
    // across partitions, so probe joins stay exchange-free as the
    // index grows.
    graft.sources.Sinks.writeBucketedTable(
      minhashBandRows(docs, id, text, shingleN, numBands, rowsPerBand)
        .select(col("band_key"), col("doc_id"), lit("base").as("segment")),
      table, nBuckets,
      Seq("band_key"), Seq("band_key"), path = Some(s"$indexDir/bands"),
      partitionCols = Seq("segment"))
    // the VERIFICATION sidecar: each doc's distinct shingle HASHES
    // (md5 — one-way, so the artifact can verify candidates with exact
    // Jaccard at serve time without carrying or reconstructing text),
    // bucketed on doc_id so the candidate-side join reads co-located
    // buckets
    graft.sources.Sinks.writeBucketedTable(
      shingleHashRows(docs, id, text, shingleN).withColumn("segment", lit("base")),
      s"${table}__shingles", nBuckets,
      Seq("doc_id"), Seq("doc_id"), path = Some(s"$indexDir/shingles"),
      partitionCols = Seq("segment"))
    val spark = docs.sparkSession
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS `${table}__params`")
    // n_buckets and index_dir ride the sidecar so append/compact/attach
    // recover the exact physical spec FROM the artifact (a re-declared
    // bucket count that differed would silently mis-bucket every join)
    Seq((shingleN, numBands, rowsPerBand, nBuckets, indexDir))
      .toDF("shingle_n", "num_bands", "rows_per_band", "n_buckets", "index_dir")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$indexDir/params").saveAsTable(s"${table}__params")
  }

  /** The one banding projection every batch path shares (candidates,
    * index build, append, probe): (doc_id, band_key) rows from MinHash
    * signatures, in the explode's own column order, so no reordering
    * projection is planned.
    */
  private def minhashBandRows(docs: DataFrame, id: Column, text: Column,
                              shingleN: Int, numBands: Int,
                              rowsPerBand: Int): DataFrame =
    docs.select(id.as("doc_id"),
        MinHashSignature(text, shingleN, numBands * rowsPerBand).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"),
        explode(array(bandKeyCols(col("sig"), numBands, rowsPerBand): _*))
          .as("band_key"))

  /** The shared shingle-hash projection: (doc_id, h) distinct md5 rows. */
  private def shingleHashRows(docs: DataFrame, id: Column, text: Column,
                              shingleN: Int): DataFrame =
    TextFunctions.explodedShingles(docs, id, text, shingleN)
      .dropDuplicates("doc_id", "sh")
      .select(col("doc_id"), md5(col("sh")).as("h"))

  /** The index params sidecar, decoded. */
  private final case class MinhashIndexParams(shingleN: Int, numBands: Int,
                                              rowsPerBand: Int, nBuckets: Int,
                                              indexDir: String)
  private def minhashParams(spark: org.apache.spark.sql.SparkSession,
                            table: String): MinhashIndexParams = {
    val p = spark.table(s"${table}__params").collect()(0)
    MinhashIndexParams(p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3),
      p.getString(4))
  }

  /** Grow the served dedup index WITHOUT a rebuild — the minhash twin
    * of [[graft.similarity.SimilaritySearch.appendToIvfPqIndex]]: the
    * new crawl batch's band postings and shingle hashes land as their
    * own `segment=<label>` partitions of the two bucketed tables
    * (static-partition INSERT OVERWRITE — the write touches only that
    * partition, and re-running a RETRY with the same label rewrites the
    * same partition instead of duplicating rows beside it). The banding
    * config comes from the params sidecar — an append CANNOT be called
    * with a mismatched config, whose band keys would silently never
    * collide with the base build's. Segment-label rules are the shared
    * [[graft.sources.Sinks.requireFreshSegment]] contract: retries
    * declare `allowReplace`; distinct ingests collide loudly.
    */
  def appendToMinhashIndex(newDocs: DataFrame, id: Column, text: Column,
                           table: String, segment: String,
                           allowReplace: Boolean = false): Unit = {
    require(segment.nonEmpty && segment != "base" &&
      segment.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"append segment label must be a non-'base' path-safe token, got '$segment'")
    val spark = newDocs.sparkSession
    val p = prepareMinhashIndex(spark, table)
    graft.sources.Sinks.requireFreshSegment(spark,
      s"${p.indexDir}/bands/segment=$segment", segment, allowReplace)
    val bandView = s"__graft_mh_append_bands_${obsId.incrementAndGet()}"
    minhashBandRows(newDocs, id, text, p.shingleN, p.numBands, p.rowsPerBand)
      .createOrReplaceTempView(bandView)
    spark.sql(s"""INSERT OVERWRITE TABLE `$table` PARTITION (segment = '$segment')
                  SELECT band_key, doc_id FROM `$bandView`""")
    val shView = s"__graft_mh_append_sh_${obsId.incrementAndGet()}"
    shingleHashRows(newDocs, id, text, p.shingleN).createOrReplaceTempView(shView)
    spark.sql(s"""INSERT OVERWRITE TABLE `${table}__shingles`
                  PARTITION (segment = '$segment')
                  SELECT doc_id, h FROM `$shView`""")
  }

  /** Retract documents from the served dedup index — tombstones are
    * DATA (`(doc_id)` rows under `tombstones/segment=<label>/`), never
    * an in-place mutation of the bucketed tables; the probe paths mask
    * tombstoned ids at serve time ([[queryMinhashIndex]]'s anti-join —
    * a taken-down page stops being reported as a duplicate source the
    * moment the segment lands) and [[compactMinhashIndex]] later drops
    * their rows physically. Same label rules as every segmented
    * artifact.
    */
  def tombstoneMinhashIndex(deletes: DataFrame, deleteId: Column,
                            table: String, segment: String,
                            allowReplace: Boolean = false): Unit = {
    require(segment.nonEmpty &&
      segment.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"tombstone segment label must be a path-safe token, got '$segment'")
    val spark = deletes.sparkSession
    val p = prepareMinhashIndex(spark, table)
    graft.sources.Sinks.requireFreshSegment(spark,
      s"${p.indexDir}/tombstones/segment=$segment", segment, allowReplace)
    deletes.select(deleteId.cast("long").as("doc_id")).distinct()
      .write.mode("overwrite")
      .parquet(s"${p.indexDir}/tombstones/segment=$segment")
  }

  /** The index's naming in the shared publish (see
    * [[graft.sources.Publish]]): compaction stages `bands` and
    * `shingles` and retires the `tombstones` log.
    */
  private def minhashLayout(indexDir: String) =
    graft.sources.Publish.named(indexDir, "bands", "shingles", "tombstones")

  /** Every maintenance call's prelude: finish an interrupted compaction
    * and, when that moved the tables, rebind the catalog to them (its
    * partitions still name the replaced layout). Returns the params.
    */
  private def prepareMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                                  table: String): MinhashIndexParams = {
    val p = minhashParams(spark, table)
    if (minhashLayout(p.indexDir).repair(spark))
      attachMinhashIndex(spark, table, p.indexDir)
    p
  }

  /** Re-register an existing minhash index artifact in THIS session's
    * catalog — the cross-session serving attach (the building session's
    * catalog entries are in-memory and die with it; the artifact
    * doesn't). The physical spec (bucket count) and banding config are
    * read from the params sidecar, never re-declared by the caller.
    */
  def attachMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, indexDir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `${table}__params`")
    spark.catalog.createTable(s"${table}__params", s"$indexDir/params", "parquet")
    val p = minhashParams(spark, table)
    graft.sources.Sinks.attachBucketedTable(spark, table,
      s"$indexDir/bands", p.nBuckets, Seq("band_key"), Seq("band_key"),
      partitionCols = Seq("segment"))
    graft.sources.Sinks.attachBucketedTable(spark, s"${table}__shingles",
      s"$indexDir/shingles", p.nBuckets, Seq("doc_id"), Seq("doc_id"),
      partitionCols = Seq("segment"))
  }

  /** Fold the tombstones into the index physically: surviving band and
    * shingle rows rewrite into two segments — `base` (survivors of the
    * original build) and `merged` (survivors of every append, merged) —
    * then the old layout is swapped out and the tombstone log dropped.
    * Probe results are identical before and after (masking vs physical
    * drop); compaction buys back the serve-time anti-join, the dead
    * rows' scan cost, and the per-append partition listing. Provenance
    * (base vs appended) survives, mirroring the ANN compactor's rule.
    *
    * Crash safety is the shared publish ([[graft.sources.Publish]]):
    * the new `bands` and `shingles` stage together beside the index,
    * the manifest retires `tombstones` once both have landed, and every
    * maintenance call of the index (append, tombstone, compact)
    * finishes an interrupted publish first, rebinding the catalog.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String): Unit = {
    val p = prepareMinhashIndex(spark, table)
    val layout = minhashLayout(p.indexDir)
    val provenance =
      when(col("segment") === "base", lit("base")).otherwise(lit("merged"))
    val liveBands = graft.sources.Sinks.maskTombstones(
        spark.table(table), "doc_id", p.indexDir)
      .select(col("band_key"), col("doc_id"), provenance.as("segment"))
    val liveShingles = graft.sources.Sinks.maskTombstones(
        spark.table(s"${table}__shingles"), "doc_id", p.indexDir)
      .select(col("doc_id"), col("h"), provenance.as("segment"))
    if (liveBands.limit(1).count() == 0)
      throw new IllegalStateException(
        "compactMinhashIndex: every posting is tombstoned — compaction " +
          "would leave an unreadable empty index; drop the index explicitly")
    graft.sources.Sinks.writeBucketedTable(liveBands, s"${table}__staged",
      p.nBuckets, Seq("band_key"), Seq("band_key"),
      path = Some(s"${layout.staging}/bands"),
      partitionCols = Seq("segment"))
    graft.sources.Sinks.writeBucketedTable(liveShingles,
      s"${table}__shingles_staged",
      p.nBuckets, Seq("doc_id"), Seq("doc_id"),
      path = Some(s"${layout.staging}/shingles"),
      partitionCols = Seq("segment"))
    // the staged catalog entries point at paths the publish moves
    spark.sql(s"DROP TABLE IF EXISTS `${table}__staged`")
    spark.sql(s"DROP TABLE IF EXISTS `${table}__shingles_staged`")
    // tombstones is never staged, so its line retires the log
    layout.publish(spark, Seq("bands", "shingles", "tombstones").map(t => t -> Seq(t)))
    attachMinhashIndex(spark, table, p.indexDir)
  }

  /** Probe a [[buildMinhashIndex]] artifact with a batch of new
    * documents: each query doc's band keys (computed map-side with the
    * SAME [[MinHashSignature]]/[[bandKeyCols]] path the builder used,
    * under the banding config read from the artifact's params sidecar)
    * join the bucketed posting table; any shared band yields a
    * candidate. Output (query_id, candidate_id) distinct, self-matches
    * excluded — exactly [[minhashCandidates]]' pair semantics restricted
    * to pairs touching the query batch (the oracle pins that). Serving
    * cost: one bucketed probe join bounded by the query batch's band
    * collisions — the corpus is never scanned for signatures again.
    */
  def queryMinhashIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                        newDocs: DataFrame, id: Column, text: Column): DataFrame = {
    val p = minhashParams(spark, table)
    val qbands = minhashBandRows(newDocs, id, text, p.shingleN, p.numBands,
        p.rowsPerBand)
      .withColumnRenamed("doc_id", "query_id")
    // tombstone mask on the corpus side — a taken-down page must stop
    // being reported as a duplicate source the moment its segment lands
    graft.sources.Sinks.maskTombstones(spark.table(table), "doc_id", p.indexDir)
      .join(qbands, Seq("band_key"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("candidate_id"))
      .distinct()
  }

  /** [[queryMinhashIndex]] with the verification stage the two-phase
    * dedup contract requires: LSH candidates are recall-oriented, so a
    * frontier acting on them (skip this URL, it's a dup) needs the
    * exact n-gram Jaccard — and the index's shingle-HASH sidecar
    * provides the candidate side WITHOUT re-reading any corpus text.
    * The probe batch computes its own hashes map-side; candidates'
    * hashes come off the bucketed sidecar pruned to candidate ids; the
    * intersection join moves (pair, hash) rows bounded by the
    * candidates' shingle counts. Output: candidates whose exact
    * Jaccard reaches `threshold`, with the score — precision
    * [[ngramJaccard]] semantics at serving cost.
    */
  def queryMinhashIndexVerified(spark: org.apache.spark.sql.SparkSession,
                                table: String, newDocs: DataFrame,
                                id: Column, text: Column,
                                threshold: Double): DataFrame = {
    val cand = queryMinhashIndex(spark, table, newDocs, id, text)
    val shingleN = minhashParams(spark, table).shingleN
    val qsh = TextFunctions.explodedShingles(newDocs, id, text, shingleN)
      .dropDuplicates("doc_id", "sh")
      .select(col("doc_id").as("query_id"), md5(col("sh")).as("h"))
    val qsz = qsh.groupBy(col("query_id")).agg(count(lit(1)).as("n_a"))
    val csh = spark.table(s"${table}__shingles")
      .join(cand.select(col("candidate_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .withColumnRenamed("doc_id", "candidate_id")
    val csz = csh.groupBy(col("candidate_id")).agg(count(lit(1)).as("n_b"))
    val inter = cand.join(qsh, Seq("query_id"))
      .join(csh, Seq("candidate_id", "h"))
      .groupBy(col("query_id"), col("candidate_id"))
      .agg(count(lit(1)).as("n_inter"))
    cand.join(inter, Seq("query_id", "candidate_id"), "left")
      .join(qsz, Seq("query_id"))
      .join(csz, Seq("candidate_id"))
      .na.fill(0L, Seq("n_inter"))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("query_id"), col("candidate_id"), col("n_inter"), col("jaccard"))
  }

  /** SimHash code (16-bit, from md5 nibbles of each token): per bit b, the
    * sign of sum over tokens of (2*bit_b(md5(token)) - 1). Returned as a
    * BIGINT code; equal codes = near-duplicate candidates. Computed
    * map-side by the native [[graft.functions.SimHash]] expression — no per-token rows
    * (see its scaladoc for the scale argument); docs with no tokens drop
    * out, matching the explode+aggregate form.
    */
  def simhash(docs: DataFrame, id: Column, text: Column, bits: Int = 16): DataFrame =
    docs.select(id.as("doc_id"), SimHash(text, bits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** End-to-end fuzzy dedup: MinHash-LSH candidates → exact n-gram
    * Jaccard verification → drop every document dominated by a
    * smaller-id near-duplicate (greedy min-id keeper). Returns the
    * surviving rows of `docs`. The expensive exact comparison runs ONLY
    * on LSH candidates — the standard two-phase shape that keeps fuzzy
    * dedup near-linear at corpus scale.
    *
    * Semantics (deliberate): every `id_b` of a verified pair is dropped,
    * even when its dominating `id_a` was itself dropped — pair-local
    * domination, one pass, no iteration. A chain a–b, b–c therefore
    * keeps only `a` even without a verified a–c pair. When true
    * cluster-granular retention is wanted (keep exactly one doc per
    * connected near-dup cluster, judged over the whole cluster rather
    * than per pair), use [[clusterDedup]].
    */
  def fuzzyDedup(docs: DataFrame, id: Column, text: Column,
                 threshold: Double, shingleN: Int = 3,
                 numBands: Int = 4, rowsPerBand: Int = 2,
                 maxBucket: Option[Int] = None): DataFrame = {
    val cand = minhashCandidates(docs, id, text, shingleN, numBands, rowsPerBand, maxBucket)
    val verified = ngramJaccard(docs, id, text, cand, shingleN)
      .filter(col("jaccard") >= threshold)
    val dropIds = verified.select(col("id_b").as("__drop")).distinct()
    docs.join(dropIds, id === col("__drop"), "left_anti")
  }

  /** Connected components over an undirected edge list `(id_a, id_b)` —
    * min-label propagation as a bounded driver loop: every node starts
    * labeled with its own id; each round every node takes the min of its
    * own and its neighbors' labels; fixpoint = every node carries the min
    * id of its component.
    *
    * Scale shape: each round shuffles only (endpoint, label) pairs — the
    * edge list, never document payloads — and lineage is truncated per
    * round (same bounded-loop pattern as `Retry.fixpoint` /
    * `kmeansCentroids`). Rounds to converge = max component diameter;
    * near-dup clusters are near-cliques (diameter ≤ 2–3), so the loop is
    * constant-round in practice. For adversarial long-chain graphs the
    * log-round large-star/small-star variant drops into the same
    * dataflow. Returns (node, label).
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val sym = edges.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .unionByName(edges.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val nbrMin = sym.join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
      val next = labels.join(nbrMin.select(col("src").as("node"), col("nbr_min")), Seq("node"), "left")
        .select(col("node"), least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        .localCheckpoint()
      // labels only ever decrease, so "any strictly smaller" == "changed"
      changed = next.as("n").join(labels.as("o"), "node")
        .filter(col("n.label") < col("o.label")).count()
      labels = next
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($changed labels still shrinking) — component diameter exceeds " +
          s"maxIters; raise maxIters (rounds needed = max diameter), or use " +
          s"connectedComponentsStar (log-round) for long-chain graphs")
    labels
  }

  /** Connected components via alternating large-star / small-star rounds
    * — the log-round variant for graphs whose diameter makes plain
    * min-label propagation (O(diameter) rounds) too slow. Each round:
    *
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node points its smaller-or-equal neighbors
    *    (and itself) at the minimum among them.
    *
    * Both steps preserve connectivity and monotonically pull edges toward
    * the component minimum; the edge set converges to star graphs
    * (node → component min) in O(log diameter) rounds. Fixpoint is
    * detected with an order-independent (count, xxhash64-xor) signature
    * of the canonical edge set — cheap per round; correctness of the
    * final labels is what the oracle checks, the signature only decides
    * when to stop iterating.
    *
    * Scale shape: each round is two hash shuffles of (endpoint, min)
    * pairs — same footprint as one min-label round, never document
    * payloads — with lineage truncated per round. Returns (node, label)
    * for every node that appears in `edges`, like
    * [[connectedComponents]].
    */
  def connectedComponentsStar(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    // canonical orientation (u > v), self-loops dropped
    def canon(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    var e = canon(edges.select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v")))
      .localCheckpoint()
    val nodes = edges.select(col("id_a").cast("long").as("node"))
      .unionByName(edges.select(col("id_b").cast("long").as("node")))
      .distinct()
      .localCheckpoint()

    // order-independent set signature: count + XOR of per-edge hashes
    // (xor, not sum — ANSI mode faults a sum overflow, xor can't)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("u"), col("v")).as("__h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(__h)"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // large-star: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    // Emitted pairs satisfy v > u ≥ m, so they are already canonical.
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.unionByName(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("__mv"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // small-star (on canonical u > v edges): m = min(N≤(u)); emit (b, m)
    // for every smaller neighbor b plus (u, m). v ≥ m throughout, so
    // after dropping self-loops the pairs are canonical.
    def smallStar(cur: DataFrame): DataFrame = {
      val mins = cur.groupBy(col("u")).agg(min(col("v")).as("m"))
      val rewire = cur.join(mins, "u").select(col("v").as("u"), col("m").as("v"))
      val selfEdge = mins.select(col("u"), col("m").as("v"))
      rewire.unionByName(selfEdge)
        .filter(col("u") =!= col("v")).distinct()
    }

    var sig = signature(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      e = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds — " +
          s"expected O(log diameter); raise maxIters")
    // converged edges are stars (node → component min); roots and
    // isolated-after-self-loop nodes label themselves
    nodes.join(e.select(col("u").as("node"), col("v").as("__l")), Seq("node"), "left")
      .groupBy(col("node"))
      .agg(min(col("__l")).as("__m"))
      .select(col("node"), coalesce(col("__m"), col("node")).as("label"))
  }

  /** Cluster-granular fuzzy dedup: same LSH → exact-verify pipeline as
    * [[fuzzyDedup]], but verified pairs are treated as edges of a
    * near-dup graph, components are resolved with
    * [[connectedComponents]], and exactly the min-id doc of each cluster
    * is kept. Differs from the greedy form on docs that appear only as
    * `id_a`: e.g. edges (1,3),(2,3) — greedy keeps 1 AND 2; clustering
    * puts {1,2,3} in one component and keeps only 1.
    *
    * Returns one row per input doc: (doc_id, keeper_id, kept) — the full
    * cluster assignment, so callers can keep, re-weight, or audit.
    */
  def clusterDedup(docs: DataFrame, id: Column, text: Column,
                   threshold: Double, shingleN: Int = 3,
                   numBands: Int = 4, rowsPerBand: Int = 2,
                   maxBucket: Option[Int] = None, maxIters: Int = 20,
                   starCC: Boolean = false): DataFrame = {
    val cand = minhashCandidates(docs, id, text, shingleN, numBands, rowsPerBand, maxBucket)
    val edges = ngramJaccard(docs, id, text, cand, shingleN)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    // near-dup graphs are near-cliques (diameter ≤ 2–3): min-label
    // converges in that many rounds and shuffles less per round, so it is
    // the default; starCC switches to the log-round variant for corpora
    // whose dup graphs chain (e.g. drifting boilerplate)
    val comp = (if (starCC) connectedComponentsStar(edges, maxIters)
                else connectedComponents(edges, maxIters))
      .select(col("node").as("doc_id"), col("label").as("__keeper"))
    docs.select(id.cast("long").as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__keeper"), col("doc_id")).as("keeper_id"))
      .withColumn("kept", col("keeper_id") === col("doc_id"))
  }

  /** Winnow-candidate near-dup pairs — the plagiarism-detection
    * modality: doc pairs sharing at least `minShared` winnow-SELECTED
    * fingerprints ([[winnowFingerprints]]). Complements MinHash-LSH
    * (p05): LSH finds globally-similar docs, winnowing finds docs
    * sharing VERBATIM PASSAGES (any common run of ≥ window+shingleN-1
    * tokens yields a shared fingerprint) even when overall similarity is
    * low. One fingerprint-keyed self-join moving (fingerprint, doc_id)
    * pairs — never text — then a pair-keyed count. The same hot-key
    * blow-up as LSH bands applies to ubiquitous boilerplate
    * fingerprints: `maxDocFreq` drops any fingerprint appearing in more
    * than that many docs BEFORE the self-join (the m²/2 mitigation,
    * mirroring minhashCandidates' maxBucket) — a fingerprint that
    * common is boilerplate, not evidence of pairwise copying.
    */
  def winnowCandidates(docs: DataFrame, id: Column, text: Column,
                       shingleN: Int = 3, window: Int = 4,
                       minShared: Int = 2,
                       maxDocFreq: Option[Int] = None): DataFrame = {
    val w0 = winnowFingerprints(docs, id, text, shingleN, window)
    val w = maxDocFreq match {
      case Some(m) =>
        val hot = w0.groupBy(col("fingerprint"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > m)
          .select(col("fingerprint"))
        w0.join(hot, Seq("fingerprint"), "left_anti")
      case None => w0
    }
    w.select(col("fingerprint"), col("doc_id").as("id_a"))
      .join(w.select(col("fingerprint"), col("doc_id").as("id_b")), Seq("fingerprint"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus-level chunk dedup — the fixed-granularity form of CCNet /
    * RefinedWeb line-level dedup: every document is cut into consecutive
    * `chunkTokens`-token chunks, each chunk is fingerprinted, and only
    * the FIRST occurrence corpus-wide of each fingerprint is kept
    * (first = smallest (doc_id, chunk_idx), the deterministic
    * keep-earliest rule). Returns one row per input doc:
    * (doc_id, n_chunks, n_kept, dup_chunk_frac, text_dedup) where
    * `text_dedup` is the doc's surviving chunks rejoined in order —
    * boilerplate that repeats across the corpus disappears from every
    * doc but its first.
    *
    * Scale shape: chunking is a map-side HOF projection (no shuffle);
    * first-occurrence election is ONE hash shuffle of (16-byte md5,
    * packed position) with map-side combine; the verdict joins back by
    * fingerprint and reassembly is one doc-keyed aggregate — chunk text
    * moves through the two key joins, never whole documents. The
    * election min runs over a PACKED long `doc_id·2²⁰ + idx` (not a
    * struct, which would demote the aggregate to SortAggregate) —
    * requiring idx < 2²⁰ chunks/doc and 0 ≤ doc_id < 2⁴³, which
    * [[chunkRows]] enforces with a loud per-row error (plain arithmetic
    * would overflow only near the doc_id bound and silently mis-elect
    * otherwise).
    */
  def chunkDedup(docs: DataFrame, id: Column, text: Column,
                 chunkTokens: Int = 8): DataFrame = {
    val base = docs.select(id.cast("long").as("doc_id"))
    val chunks = chunkRows(docs, id, text, chunkTokens)
    val firsts = chunks.groupBy(col("f")).agg(min(col("packed")).as("p"))
    val agg = chunks.join(firsts, Seq("f"))
      .withColumn("kept", col("packed") === col("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("kept").cast("long")).as("n_kept"),
        // collect_list drops nulls, so only kept chunks enter; struct
        // sort orders by idx — same sorted-array-agg trick as q46
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("text_dedup"))
      .withColumn("dup_chunk_frac",
        round(lit(1.0) - col("n_kept").cast("double") / col("n_chunks").cast("double"), 4))
    base.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dup_chunk_frac"), lit(0.0)).as("dup_chunk_frac"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Shared chunk expansion for [[chunkDedup]] and its streaming twin
    * (`StreamingQueries.chunkElection`) — ONE definition so the two
    * executions stay bit-identical by construction. Emits one row per
    * `chunkTokens`-token chunk: (doc_id, idx, chunk, f = md5(chunk),
    * packed = doc_id·2²⁰ + idx). Pure projections (map-side, streaming-
    * safe). The packed-position bounds (idx < 2²⁰, 0 ≤ doc_id < 2⁴³)
    * are ENFORCED with a per-row raise_error — out-of-bounds keys would
    * otherwise alias another document's position and silently corrupt
    * the first-occurrence election.
    */
  private[graft] def chunkRows(docs: DataFrame, id: Column, text: Column,
                               chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val ch = chunkTokens
    docs.select(id.cast("long").as("doc_id"), TextFunctions.tokens(text).as("t"))
      .filter(size(col("t")) >= 1)
      .withColumn("n_ch", expr(s"cast((size(t) + ${ch - 1}) div $ch as int)"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, n_ch), i -> array_join(slice(t, (i - 1) * $ch + 1, $ch), ' '))"))
        .as(Seq("idx", "chunk")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("chunk"),
        md5(col("chunk").cast("binary")).as("f"))
      .withColumn("packed", chunkPackedKey(col("doc_id"), col("idx")))
  }

  /** The packed chunk-position election key `doc_id·2²⁰ + idx` with its
    * loud bounds contract — ONE definition shared by [[chunkRows]] and
    * the ablation report so the two can never desynchronize. Null ids
    * propagate as null (min ignores them — the old arithmetic's
    * behavior); only genuinely out-of-bounds values fail, and the
    * message coalesces so it is never itself null.
    */
  private[graft] def chunkPackedKey(docId: Column, idx: Column): Column =
    when(docId.isNull, lit(null).cast("long"))
      .when(idx < lit(1L << 20) && docId.between(0L, (1L << 43) - 1),
        docId * lit(1L << 20) + idx)
      .otherwise(raise_error(concat(
        lit("chunkRows: packed-position bounds exceeded (doc_id "),
        coalesce(docId.cast("string"), lit("null")),
        lit(", chunk idx "), idx.cast("string"),
        lit(") — need idx < 2^20 and 0 <= doc_id < 2^43")))
        .cast("long"))

  /** CONTENT-DEFINED chunking (CDC) — the boundary-stable complement of
    * the fixed-token chunker ([[chunkRows]]): a chunk boundary falls
    * where the content says so — after any word `shingleN`-gram whose
    * md5 starts with `hexZeros` hex zeros (expected chunk length
    * 16^hexZeros gram starts) — so inserting one token into a document
    * perturbs only the chunk it lands in: boundaries re-align at the
    * next surviving gram and every later chunk keeps its fingerprint
    * (spec-pinned). A fixed-size chunker shifts EVERY downstream chunk
    * on a one-token insertion — the classic miss on shifted
    * boilerplate; content-defined boundaries are how production dedup
    * and every rsync descendant absorb insertion drift.
    *
    * Emits (doc_id, chunk_idx, n_tokens, chunk, f = md5(chunk)); a doc
    * shorter than `shingleN` is one whole-doc chunk; chunk texts
    * concatenate back to the document exactly (spec-pinned). Empty/null
    * docs emit nothing.
    *
    * Scale shape: SHUFFLE-FREE — gram hashing, boundary election, and
    * slicing are higher-order array functions per document row (the
    * p146 rule); per-doc work is O(n·shingleN) hashed bytes. Downstream
    * dedup keys one exchange on `f`, exactly like the fixed chunker's
    * election.
    */
  def cdcChunks(docs: DataFrame, id: Column, text: Column,
                shingleN: Int = 3, hexZeros: Int = 1): DataFrame = {
    require(shingleN >= 1 && shingleN <= 16,
      s"cdcChunks: shingleN must be in [1, 16], got $shingleN")
    require(hexZeros >= 1 && hexZeros <= 8,
      s"cdcChunks: hexZeros must be in [1, 8], got $hexZeros")
    val z = "0" * hexZeros
    val nm1 = shingleN - 1
    docs.select(id.cast("long").as("doc_id"),
        TextFunctions.tokens(text).as("t"))
      .filter(size(col("t")) >= 1)
      .withColumn("bounds", expr(s"""
        concat(array(0),
          CASE WHEN size(t) < $shingleN THEN array()
          ELSE filter(transform(sequence(1, size(t) - $nm1),
            i -> if(startswith(md5(cast(
                      array_join(slice(t, i, $shingleN), ' ') as binary)),
                    '$z') and i + $nm1 < size(t),
                 i + $nm1, null)),
            e -> e is not null) END,
          array(size(t)))"""))
      .select(col("doc_id"), col("t"), explode(expr(
        """transform(sequence(1, size(bounds) - 1),
             j -> named_struct('idx', j - 1,
                               'a', bounds[j - 1], 'b', bounds[j]))"""))
        .as("c"))
      .select(col("doc_id"), col("c.idx").cast("long").as("chunk_idx"),
        (col("c.b") - col("c.a")).cast("long").as("n_tokens"),
        array_join(slice(col("t"), col("c.a") + 1, col("c.b") - col("c.a")),
          " ").as("chunk"))
      .withColumn("f", md5(col("chunk").cast("binary")))
  }

  /** The one-row payoff report over a [[cdcChunks]] inventory (any
    * frame with `f` and `n_tokens` columns — note [[chunkRows]] does
    * NOT emit n_tokens): how much of the corpus duplicates at chunk
    * grain.
    * Occurrence counts fold per fingerprint (chunk texts are identical
    * per f, so the token count is the fold's min), then a one-row
    * finalize — one f-keyed exchange plus a bounded aggregate.
    */
  def chunkDedupStats(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("f"))
      .agg(count(lit(1)).as("__o"), min(col("n_tokens")).as("__nt"))
      .agg(coalesce(sum(col("__o")), lit(0L)).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        coalesce(sum(col("__o") - 1), lit(0L)).as("dup_chunks"),
        coalesce(sum((col("__o") - 1) * col("__nt")), lit(0L))
          .as("dup_tokens"))

  /** Winnowing document fingerprints (rolling-hash selection): hash every
    * word `shingleN`-gram, slide a `window`-wide frame over the hash
    * sequence, keep each full window's minimum — the classic guarantee
    * that any shared run of window+shingleN-1 tokens between two
    * documents yields at least one shared fingerprint. One shuffle: the
    * n-gram window, the selection frame, and the dedup all key on doc_id.
    */
  def winnowFingerprints(docs: DataFrame, id: Column, text: Column,
                         shingleN: Int = 3, window: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(id.as("doc_id"),
      posexplode(TextFunctions.tokens(text)).as(Seq("pos", "tok")))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leadCols = (1 until shingleN).map(j => lead(col("tok"), j).over(wOrd).as(s"__t$j"))
    val sh = tok.select((Seq(col("doc_id"), col("pos"), col("tok")) ++ leadCols): _*)
      .filter(col(s"__t${shingleN - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", (col("tok") +: (1 until shingleN).map(j => col(s"__t$j"))): _*)).as("h"))
    val frame = wOrd.rowsBetween(Window.currentRow, window - 1)
    sh.select(col("doc_id"),
        min(col("h")).over(frame).as("fingerprint"),
        count(lit(1)).over(frame).as("__cnt"))
      .filter(col("__cnt") === window)
      .select(col("doc_id"), col("fingerprint"))
      .distinct()
  }

  /** SimHash near-duplicate candidate pairs: split each `bits`-bit code
    * into `bands` equal bit-bands; docs sharing any band are candidates,
    * kept when true hamming distance <= maxDist. Pigeonhole guarantee:
    * with 4 bands over 16 bits, any pair within hamming 3 shares at least
    * one untouched band, so recall at maxDist <= bands-1 is exact.
    * Same one-shuffle bucket form as [[minhashCandidates]].
    */
  def simhashCandidates(docs: DataFrame, id: Column, text: Column,
                        bits: Int = 48, bands: Int = 4, maxDist: Int = 3,
                        maxBucket: Option[Int] = None): DataFrame = {
    require(bits % bands == 0, s"bits ($bits) must divide evenly into bands ($bands)")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val codes = simhash(docs, id, text, bits)
    val bandKeys = (0 until bands).map { b =>
      concat_ws(":", lit(b.toString),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).cast("string"))
    }
    val banded = codes.select(col("doc_id"), col("simhash"),
      explode(array(bandKeys: _*)).as("band_key"))
    val full = banded.groupBy(col("band_key"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("xs"))
      .filter(size(col("xs")) > 1)
    // same hot-bucket cap as minhashCandidates: keep the maxBucket
    // smallest (doc_id, code) structs per bucket, count what was dropped
    val buckets = maxBucket match {
      case None => full
      case Some(m) =>
        full.select(col("band_key"),
            slice(array_sort(col("xs")), 1, m).as("xs"),
            greatest(size(col("xs")) - m, lit(0)).as("__capped"))
          .observe(s"simhash_lsh_${Dedup.obsId.incrementAndGet()}",
            sum(col("__capped")).as("capped_docs"))
    }
    buckets
      .select(posexplode(col("xs")).as(Seq("i", "x")), col("xs"))
      .select(col("x"), explode(slice(col("xs"), col("i") + lit(2), size(col("xs")))).as("y"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash Hamming-band recall curve — [[lshRecallByBand]]'s sibling
    * for the pigeonhole generator: a labeled pair panel grouped by
    * EXACT Hamming distance between the docs' simhash codes, against
    * what [[simhashCandidates]] (the REAL operator, incl. its maxDist
    * filter and hot-bucket cap) surfaces at each distance. The
    * pigeonhole guarantee is measurable here: every pair with distance
    * < bands MUST appear (some band is untouched), so recall below the
    * band count reads 1.0 or the config is broken; distances past
    * maxDist read 0 by definition — the filter boundary, visible
    * instead of implied. Output: (hamming, n_true, n_found).
    */
  def simhashRecallByDistance(docs: DataFrame, id: Column, text: Column,
                              pairs: DataFrame, bits: Int = 48,
                              bands: Int = 4, maxDist: Int = 3,
                              maxBucket: Option[Int] = None): DataFrame = {
    val codes = simhash(docs, id, text, bits)
    val truth = pairs
      .join(codes.select(col("doc_id").as("id_a"), col("simhash").as("__ca")),
        Seq("id_a"))
      .join(codes.select(col("doc_id").as("id_b"), col("simhash").as("__cb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ca").bitwiseXOR(col("__cb"))).cast("long").as("hamming"))
    val cand = simhashCandidates(docs, id, text, bits, bands, maxDist, maxBucket)
      .select(col("id_a"), col("id_b"), lit(1L).as("__f"))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("__f")), lit(0L)).as("n_found"))
  }

  /** Shared verify core for the pairwise shingle measures: for every
    * candidate pair, (n_inter, n_a, n_b) over distinct shingles. ALL
    * joins preserve the input pairs — a doc with fewer than shingleN
    * tokens has no shingles and no sizes row, and an inner join there
    * would silently swallow the pair (indistinguishable from "not a
    * candidate"); instead such sides surface as n = 0 and the measures
    * built on top return null for them.
    */
  private def pairShingleStats(docs: DataFrame, id: Column, text: Column,
                               pairs: DataFrame, shingleN: Int): DataFrame = {
    val sh = TextFunctions.explodedShingles(docs, id, text, shingleN)
      .dropDuplicates("doc_id", "sh")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("id_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"),
        Seq("id_a"), "left")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"),
        Seq("id_b"), "left")
      .na.fill(0L, Seq("n_inter", "n_a", "n_b"))
  }

  /** Exact n-gram Jaccard for a set of candidate pairs (id_a, id_b):
    * |A ∩ B| / |A ∪ B| over distinct shingles. Used to verify LSH
    * candidates; never run on the full cross product. Pairs are never
    * silently dropped: one empty side (doc shorter than shingleN
    * tokens) yields jaccard 0.0 — the mathematically correct value,
    * since the union is the non-empty side — and only an
    * empty-vs-empty pair (union size 0, Jaccard undefined) carries a
    * null jaccard.
    */
  def ngramJaccard(docs: DataFrame, id: Column, text: Column,
                   pairs: DataFrame, shingleN: Int = 3): DataFrame =
    pairShingleStats(docs, id, text, pairs, shingleN)
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("n_inter") > 0,
          round(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))

  /** Dedup ABLATION table — the report dedup papers publish and a
    * pipeline owner reads before choosing tiers: for each tier run
    * INDEPENDENTLY on the raw corpus (not sequentially — this measures
    * each tier's own reach), how many documents it touches and how
    * many tokens it would remove. Tiers: `exact` (whole-doc
    * fingerprint non-keepers), `url` (canonical-URL non-keepers),
    * `chunk` (non-kept fixed-token chunks), `span` (later occurrences
    * of corpus-repeated n-token spans). Each tier is one aggregate
    * over its existing machinery; the report is 4 fixed rows of
    * integers (the no-silent-caps shape — a tier that removes nothing
    * reports 0).
    */
  def dedupAblation(docs: DataFrame, id: Column, text: Column,
                    canonicalUrl: Column, chunkTokens: Int = 8,
                    spanN: Int = 8): DataFrame = {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.expressions.Window
    // NOTE (r14): snapshotting the input once for the four tier
    // subplans (localCheckpoint) was MEASURED a wash at best — the
    // corpus-sized cache write/read costs what the recomputed scans
    // cost, and it blocks whole-stage pipelining. The r15 restructure
    // shares the pass a different way (and the only one that scales —
    // a 100 TB ablation cannot cache its corpus): every tier's
    // election is "first occurrence by packed key wins within a
    // duplicate group", so ONE unified (tier, key, election-key,
    // weight) frame feeds all four tiers through ONE hash exchange.
    // The old shape ran each tier as its own groupBy + join-back over
    // its own scans — 9 corpus passes (18 scan nodes) for 4 tiers.
    // Here: one doc-grain pass (fingerprint + canonical URL + fixed
    // chunks — the chunkRows expressions inline over one tokens
    // array) unioned with one shingle pass (packedSpanShingles' own
    // window-lead shape), repartitioned by (kind, key) ONCE; a window
    // min over that exchange marks every tier's LOSER rows, and the
    // report is one conditional aggregate over them (exact/url/chunk)
    // plus the span island merge. Loser rows are duplicate-mass-sized,
    // so everything after the one exchange is small.
    val ch = chunkTokens
    val doc = docs.select(id.cast("long").as("doc_id"),
        TextFunctions.fingerprint(text).as("__f"),
        canonicalUrl.as("__cu"), TextFunctions.tokens(text).as("t"))
      .withColumn("__ntok", size(col("t")).cast("long"))
      // per-chunk structs via chunkRows' exact expressions: 1-based
      // sequence index i → 0-based chunk idx (posexplode parity)
      .withColumn("__chunks", when(size(col("t")) >= 1, expr(
        s"""transform(sequence(1, cast((size(t) + ${ch - 1}) div $ch as int)),
            i -> named_struct(
              'key', md5(cast(array_join(slice(t, (i - 1) * $ch + 1, $ch), ' ') as binary)),
              'idx', cast(i - 1 as bigint),
              'w', cast(size(slice(t, (i - 1) * $ch + 1, $ch)) as bigint)))"""))
        .otherwise(expr("array()").cast(
          "array<struct<key:string,idx:bigint,w:bigint>>")))
    // doc-grain rows: one 'e' + one 'u' element per doc, plus chunks.
    // `pos` is NULL on every non-span row — the span branch selects on
    // pos.isNotNull (NOT on kind) because kind is the shared window's
    // partition column: a kind predicate would push below the window
    // and the repartition, specializing each consumer's union branches
    // and killing the exchange reuse this shape exists for.
    val docKeys = doc.select(col("doc_id"), col("__ntok"), explode(concat(
        expr("array(named_struct('kind', 'e', 'key', __f, 'idx', cast(0 as bigint), 'w', __ntok), " +
          "named_struct('kind', 'u', 'key', __cu, 'idx', cast(0 as bigint), 'w', __ntok))"),
        expr("transform(__chunks, c -> named_struct('kind', 'c', 'key', c.key, 'idx', c.idx, 'w', c.w))")))
        .as("kv"))
      .select(col("kv.kind").as("kind"), col("kv.key").as("key"),
        when(col("kv.kind") === "c", chunkPackedKey(col("doc_id"), col("kv.idx")))
          .otherwise(col("doc_id")).as("pk"),
        col("kv.w").as("w"), col("doc_id"),
        lit(null).cast("long").as("pos"))
    // shingle-grain rows: the selfDedupSpans building block unchanged
    val spanKeys = graft.text.CorpusOps
      .packedSpanShingles(docs, id, text, spanN)
      .select(lit("s").as("kind"), col("h").as("key"),
        col("__k").as("pk"), lit(0L).as("w"), col("doc_id"),
        col("pos").cast("long").as("pos"))
    // THE one corpus exchange. Its two consumers (the scalar-tier
    // aggregate and the span island pass) filter only on window
    // outputs / non-partition columns, so both plan the IDENTICAL
    // exchange subtree and ReuseExchange runs the scan+explode once.
    val keyed = docKeys.unionByName(spanKeys)
      .filter(col("pk").isNotNull && col("key").isNotNull)
      .repartition(col("kind"), col("key"))
    val wk = Window.partitionBy(col("kind"), col("key"))
    // one-shot materialization of the LOSER rows for the two consumers
    // below (the scalar aggregate and the span island pass): without
    // it each consumer re-plans the scan+explode+exchange+window, and
    // column pruning specializes the two copies (one needs `pos`, one
    // does not) so even ReuseExchange cannot dedup them. Trade named:
    // the frame is duplicate-OCCURRENCE-sized — bounded by the
    // duplicate mass, which on a heavily-mirrored corpus approaches
    // corpus order (one span row per duplicated-shingle occurrence) —
    // and a localCheckpoint is non-replayable on executor loss. The
    // alternative is a SECOND full scan+explode+shuffle+window pass,
    // which always costs at least as many bytes as the checkpoint
    // holds; recompute-on-loss is the only thing given up.
    val losers = keyed
      .withColumn("__min_pk", min(col("pk")).over(wk))
      .filter(col("pk") =!= col("__min_pk"))
      .localCheckpoint(eager = false)
    // exact / url / chunk in ONE conditional aggregate over all loser
    // rows (span rows fall through every `when`): losers are exactly
    // the old join-back non-keepers — n-1 rows per key, their own w
    val scalarTiers = losers.agg(
        coalesce(sum(when(col("kind") === "e", 1L)), lit(0L)).as("__ed"),
        coalesce(sum(when(col("kind") === "e", col("w"))), lit(0L)).as("__et"),
        coalesce(sum(when(col("kind") === "u", 1L)), lit(0L)).as("__ud"),
        coalesce(sum(when(col("kind") === "u", col("w"))), lit(0L)).as("__ut"),
        coalesce(count_distinct(when(col("kind") === "c", col("doc_id"))),
          lit(0L)).as("__cd"),
        coalesce(sum(when(col("kind") === "c", col("w"))), lit(0L)).as("__ct"))
      .select(explode(expr(
        """array(named_struct('tier', 'exact', 'docs_affected', __ed, 'tokens_removed', __et),
                 named_struct('tier', 'url', 'docs_affected', __ud, 'tokens_removed', __ut),
                 named_struct('tier', 'chunk', 'docs_affected', __cd, 'tokens_removed', __ct))"""))
        .as("r"))
      .select(col("r.tier").as("tier"), col("r.docs_affected"),
        col("r.tokens_removed"))
    // span islands: merged covered extents per doc (scrubSelfHits'
    // exact merge rule), covered-token total = Σ island lengths
    // (islands are disjoint by the pos > prev_end + 1 split rule)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = wd.rowsBetween(Window.unboundedPreceding, -1)
    val islands = losers.filter(col("pos").isNotNull)
      .select(col("doc_id"), col("pos"),
        (col("pos") + lit(spanN - 1)).as("end"))
      .withColumn("__prev_end", max(col("end")).over(wPrev))
      .withColumn("__new_span",
        when(col("__prev_end").isNull || col("pos") > col("__prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("__span_id", sum(col("__new_span")).over(wd))
      .groupBy(col("doc_id"), col("__span_id"))
      .agg((max(col("end")) - min(col("pos")) + 1).as("__len"))
    val span = islands
      .agg(coalesce(count_distinct(col("doc_id")), lit(0L)).as("docs_affected"),
        coalesce(sum(col("__len")), lit(0L)).as("tokens_removed"))
      .select(lit("span").as("tier"), col("docs_affected"),
        col("tokens_removed"))
    scalarTiers.unionByName(span)
  }

  /** LSH recall S-curve — "measure, don't guess" for the DEDUP stack
    * (the [[graft.similarity.SimilaritySearch.recallAtK]] sibling):
    * against a labeled pair panel (all within-source pairs at test SF;
    * any tractable ground-truth panel in production), band every
    * overlapping pair by its EXACT Jaccard — integer banding
    * `(10·|A∩B|) div |A∪B|`, no float at the boundary — and count how
    * many of each band the banded-MinHash candidate generator
    * ([[minhashCandidates]], the REAL operator including its
    * `maxBucket` cap) actually surfaces. The output is the measured
    * S-curve: recall should rise steeply across the threshold band the
    * (numBands, rowsPerBand) config targets, and the LOW bands should
    * stay near zero — selectivity, which is what keeps the verify pass
    * affordable. Run it on a panel before committing an LSH config to
    * a 100 TB pass.
    *
    * Only pairs sharing ≥ 1 shingle enter the curve (disjoint pairs
    * are band 0 by the trillions at scale and carry no information).
    * Output: (band, n_true, n_found), band ascending 0..10.
    */
  def lshRecallByBand(docs: DataFrame, id: Column, text: Column,
                      pairs: DataFrame, shingleN: Int = 3,
                      numBands: Int = 4, rowsPerBand: Int = 2,
                      maxBucket: Option[Int] = None): DataFrame = {
    val banded = pairShingleStats(docs, id, text, pairs, shingleN)
      .filter(col("n_inter") >= 1)
      .withColumn("band",
        expr("(10 * n_inter) div (n_a + n_b - n_inter)"))
    val cand = minhashCandidates(docs, id, text, shingleN, numBands,
        rowsPerBand, maxBucket)
      .select(col("id_a"), col("id_b"), lit(1L).as("__f"))
    banded.join(cand, Seq("id_a", "id_b"), "left")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("__f")), lit(0L)).as("n_found"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, blocked by
    * sign-bucket LSH (per-bucket self-join instead of O(n²)).
    */
  def embeddingNearDups(embs: DataFrame, id: Column, vec: Column,
                        threshold: Double, bucketBits: Int = 4): DataFrame = {
    val e = embs.select(id.as("vec_id"), vec.as("v"),
      VectorFunctions.signBucket(vec, bucketBits).as("bucket"))
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("cos"))
  }

  /** SEMANTIC decontamination — the embedding-space companion to the
    * n-gram gates ([[graft.text.CorpusOps.decontaminate]]): a
    * paraphrased benchmark question shares no 3-gram with its source
    * but sits next to it in embedding space, so the leakage gate a
    * careful pretraining pipeline runs is BOTH. Every training vector
    * reports its nearest EVAL vector (rounded-cosine argmax, smallest
    * eval id on ties — the packed-argmax election rule) and whether
    * that similarity reaches `threshold`. Clean vectors are KEPT in
    * the report with their max cosine (the recallAtK rule: an inner
    * join would drop exactly the rows a reviewer must see).
    *
    * Scale shape: the eval panel is SMALL by construction (the
    * [[graft.text.CorpusOps.bloomDecontaminate]] bound) and arrives
    * broadcast, so the scan is one map-side cross score + one
    * vec-keyed max — no corpus-sized shuffle of vectors. For eval sets
    * too large to broadcast, route through the IVF index
    * ([[graft.similarity.SimilaritySearch]]) instead.
    *
    * Output: (vec_id, eval_id, max_eval_cos, contaminated).
    */
  def semanticDecontam(train: DataFrame, trainId: Column, trainVec: Column,
                       evalDf: DataFrame, evalId: Column, evalVec: Column,
                       threshold: Double): DataFrame = {
    val t = train.select(trainId.cast("long").as("vec_id"), trainVec.as("v"))
    val e = evalDf.select(evalId.cast("long").as("eval_id"), evalVec.as("ev"))
    // an empty eval panel would silently drop EVERY train row through
    // the cross join — a decontam gate that vanishes is worse than one
    // that fails; raise loudly instead (panel is tiny, the probe is
    // one cheap job; the streaming twin enforces the same contract on
    // its collected panel)
    require(!e.isEmpty,
      "semanticDecontam: eval panel is empty — nothing to decontaminate " +
        "against; check the eval slice predicate")
    t.join(broadcast(e))
      .select(col("vec_id"), col("eval_id"),
        round(VectorFunctions.cosine(col("v"), col("ev")), 6).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("eval_id")).as("nid"))).as("m"))
      .select(col("vec_id"), (-col("m.nid")).as("eval_id"),
        col("m.cos").as("max_eval_cos"),
        (col("m.cos") >= threshold).as("contaminated"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * partition the embedding space by nearest centroid, then inside each
    * cluster drop every vector whose cosine to a SMALLER-id cluster-mate
    * reaches `threshold` (min-id keeper, same election rule as the
    * engine's other dedups). Complements [[embeddingNearDups]]: sign-
    * bucket LSH finds near-identical vectors; centroid partitioning
    * groups by meaning, the published recipe for pruning semantically
    * redundant (not byte-near) training data.
    *
    * Returns one row per input vector: (vec_id, centroid_id, kept).
    *
    * Scale shape: assignment is the IVF coarse step
    * ([[graft.similarity.SimilaritySearch.coarseAssign]] — broadcast
    * centroids, packed-long argmax HashAggregate, no struct SortAgg);
    * the pair scan is a self-join co-partitioned on centroid_id, so the
    * quadratic term is per-cluster, never corpus-wide — cluster size is
    * governed by k, exactly how SemDeDup bounds its pairwise pass. A
    * pathological hot cluster is capped by `maxCluster`: only the cap
    * smallest ids act as dominators (deterministic, the [[minhashCandidates]]
    * `maxBucket` rule), bounding the join at m·cap rows. The cap
    * DEFAULTS ON (4096, matching the streaming twin's bounded-state
    * default) because embedding spaces always have a hot centroid and
    * the uncapped O(c²) pass on it is a stragglers' graveyard at scale;
    * pass `maxCluster = None` only when cluster sizes are known small.
    * Semantics under the cap: a vector dominated ONLY by cluster-mates
    * beyond the 4096 smallest ids stays kept — recall decays
    * deterministically, precision never does.
    *
    * `centroids`: (centroid_id, centv) — [[graft.similarity.SimilaritySearch.kmeansCentroids]]
    * output, or any fixed seed set (the oracle-expressible instance p44
    * uses the lowest-id vectors; the trained path is spec-pinned).
    * Cosines compare at `round(cos, 6)` so the boundary is engine-
    * reproducible.
    *
    * Execution shape of the pair scan (round 8 — the 10× scale smoke
    * caught the naive form): the domination test is a LEFT-SEMI join, so
    * a vector stops scanning dominators at its FIRST cosine hit (dense
    * clusters — exactly the expensive ones — short-circuit) and no pair
    * rows or `distinct` re-shuffle ever materialize; and the probe side
    * is salted `saltFactor` ways with dominators replicated per salt, so
    * a k-cluster corpus fans out to k·saltFactor tasks instead of
    * serializing each cluster's quadratic pass on one core (k is small
    * by construction at any SF — the whole point of coarse clustering).
    * Both are plan-level only: the (vec_id, centroid_id, kept) output is
    * unchanged for every (cap, salt) setting.
    */
  def semanticDedup(vectors: DataFrame, id: Column, vec: Column,
                    centroids: DataFrame, threshold: Double,
                    maxCluster: Option[Int] = Some(4096),
                    saltFactor: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(saltFactor >= 1, s"saltFactor must be >= 1, got $saltFactor")
    val e = vectors.select(id.cast("long").as("vec_id"), vec.as("v"))
    val asg = graft.similarity.SimilaritySearch.coarseAssign(
        e.select(col("vec_id").as("neighbor_id"), col("v").as("cv")), centroids)
      .select(col("neighbor_id").as("vec_id"), col("centroid_id"))
    val m = e.join(asg, "vec_id")
    val dominators = maxCluster match {
      case None => m
      case Some(cap) =>
        val w = Window.partitionBy(col("centroid_id")).orderBy(col("vec_id"))
        m.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= cap).drop("__rn")
    }
    // dominators replicate saltFactor× (bounded: ≤ k·cap rows before
    // replication); probes salt by id, so every (probe, dominator)
    // cluster pair meets in exactly one salt slice.
    val domRep = dominators
      .select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("centroid_id").as("b_cid"))
      .withColumn("__bsalt",
        explode(sequence(lit(0), lit(saltFactor - 1))))
    val probe = m.withColumn("__salt",
      pmod(col("vec_id"), lit(saltFactor.toLong)).cast("int"))
    val dups = probe
      .join(domRep,
        col("centroid_id") === col("b_cid") && col("__salt") === col("__bsalt") &&
          col("b_id") < col("vec_id") &&
          round(VectorFunctions.cosine(col("v"), col("bv")), 6) >= threshold,
        "left_semi")
      .select(col("vec_id"))
      .withColumn("__dup", lit(true))
    m.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        not(coalesce(col("__dup"), lit(false))).as("kept"))
  }

  /** Cross-source duplication matrix: for every pair of sources, the
    * number of distinct `shingleN`-gram shingles they share and the
    * overlap coefficient |A∩B| / min(|A|,|B|) — the corpus-provenance
    * diagnostic that tells a curation pipeline which crawl sources are
    * mirroring each other before it decides what to keep.
    *
    * Scale shape: shingles reduce to 16-byte md5 keys map-side, then ONE
    * shuffle builds the per-shingle source list (bucket form — the
    * a.h = b.h self-join would compute and shuffle the shingle scan
    * twice); pairs are generated inside each bucket. A shingle present
    * in m sources yields m·(m-1)/2 pairs — boilerplate present in ALL
    * sources is the hot key, so `maxSourceFreq` drops shingles shared by
    * more than that many sources (they carry no pair-discrimination
    * signal anyway), with the drop count surfaced via `observe`
    * (`source_overlap_N.capped_shingles`) so capping is never silent.
    * Output: (source_a < source_b, n_shared, overlap, share_a, share_b).
    *
    * Scale contract (stated, not hidden): the output matrix — and the
    * per-shingle source set the aggregation buffers — are bounded by
    * the SOURCE UNIVERSE, and the matrix is O(S²) in the worst case.
    * The operator therefore assumes a modest S (≲ 10⁴ crawl sources /
    * domains-of-interest); for web-scale universes, group sources into
    * families first — an S²-sized answer is the wrong question there.
    */
  def sourceOverlap(docs: DataFrame, source: Column, id: Column, text: Column,
                    shingleN: Int = 3,
                    maxSourceFreq: Option[Int] = None): DataFrame = {
    // (h1, h2) is a purely INTERNAL distinct-shingle proxy (never
    // surfaced, unlike the span index's served md5 keys) — two
    // independently-seeded xxhash64 longs keep the one corpus
    // shuffle's key at 16 fixed bytes instead of a 32-char hex string
    // and hash cheaper (the same choice Spark's runtime bloom filters
    // make per long). ONE long is not enough at scale: the proxy
    // feeds a distinct-shingle count, and 64-bit birthday collisions
    // become expected around 2^32 distinct shingles — realistic at
    // 100 TB — each silently undercounting overlap by one. The
    // 128-bit pair puts collisions back at md5's unreachable odds;
    // the oracle counts distinct shingles through its own proxy, so
    // any collision-free-in-practice key agrees.
    val sh = TextFunctions.explodedShingles(
        docs, struct(id.as("i"), source.as("s")), text, shingleN)
      .select(col("doc_id.s").as("source"), xxhash64(col("sh")).as("h1"),
        xxhash64(lit("graft:sourceOverlap:salt"), col("sh")).as("h2"))
    // ONE corpus-sized shuffle: per-shingle DISTINCT source sets
    // (collect_set dedups inside the aggregate — no separate distinct
    // pass). Every downstream branch (per-source sizes, the pair
    // generation) derives from this same aggregation, so the expensive
    // scan+shingle exchange is planned once and REUSED, not recomputed
    // per branch — the derived aggregates shuffle only (source|pair,
    // count) rows.
    val buckets = sh.groupBy(col("h1"), col("h2"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val kept = maxSourceFreq match {
      case None => buckets
      case Some(cap) => buckets
        .observe(s"source_overlap_${Dedup.obsId.incrementAndGet()}",
          sum(when(size(col("srcs")) > cap, lit(1L)).otherwise(lit(0L)))
            .as("capped_shingles"))
        .filter(size(col("srcs")) <= cap)
    }
    val sizes = kept.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = kept.filter(size(col("srcs")) > 1)
      .select(posexplode(col("srcs")).as(Seq("i", "src_x")), col("srcs"))
      .select(col("src_x").as("source_a"),
        explode(slice(col("srcs"), col("i") + lit(2), size(col("srcs")))).as("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("n_shared"))
    // per-source set sizes are bounded by the source universe: broadcast
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("__n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("__n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("__n_a"), col("__n_b")).cast("double"), 6).as("overlap"),
        // directional shares: "90% of A's shingles also appear in B"
        // reads mirroring direction the symmetric coefficient hides
        round(col("n_shared").cast("double") / col("__n_a").cast("double"), 6)
          .as("share_a"),
        round(col("n_shared").cast("double") / col("__n_b").cast("double"), 6)
          .as("share_b"))
  }

  /** 2^40 — the value space of [[sketchHash40]]; shared by the sketch
    * estimators and their oracle SQL.
    */
  val Two40: Long = 1099511627776L

  /** Deterministic 40-bit shingle hash in [1, 2^40]: the first 10 hex
    * chars of md5, +1 so a bucket minimum can never be zero. 40 bits
    * keep every `2^40·k·(k-1)`-style estimator product exactly
    * representable in both engines' BIGINT arithmetic (k=256 →
    * ≈ 7.2·10^16 < 2^63), and the oracle recomputes the hash from the
    * same md5 hex, so sketches agree bit-for-bit. The space bounds
    * usable cardinalities to ≲ 10^10 distinct values per sketched key
    * (hash-collision bias reaches 1% at n ≈ 2·10^10); for a per-source
    * shingle universe beyond that, widen the hash and move the
    * estimator products to DECIMAL.
    */
  def sketchHash40(c: Column): Column = sketchHash40At(c, 0)

  /** [[sketchHash40]] over a different 10-hex-char window of the md5
    * (offset in chars) — independent 40-bit lanes from one digest, for
    * multi-lane fingerprints.
    */
  def sketchHash40At(c: Column, off: Int): Column = {
    require(off >= 0 && off <= 22, s"md5 has 32 hex chars; offset $off leaves no 10-char window")
    (conv(substring(md5(c), off + 1, 10), 16, 10).cast("long") + lit(1L)).as("h")
  }

  /** Per-(source, bucket) minimum-value sketch of the distinct-shingle
    * space — the fixed-size summary behind [[sketchOverlap]], exposed so
    * segments/streams can build sketches independently and merge them
    * (union = elementwise bucket `min`, associative and commutative, so
    * the same aggregate folds in a streaming query or across daily
    * crawl segments without re-reading text).
    *
    * Output: (source, bucket, mh) — at most `k` rows per source.
    */
  def sourceSketch(docs: DataFrame, source: Column, text: Column,
                   shingleN: Int = 3, k: Int = 256): DataFrame =
    docs.select(source.as("source"),
        explode(graft.functions.ShingleHash40(text, shingleN)).as("h"))
      .groupBy(col("source"), (col("h") % lit(k.toLong)).as("bucket"))
      .agg(min(col("h")).as("mh"))

  /** Distinct-count estimate per sketched key from [[sourceSketch]] rows
    * (or any (key, bucket, mh) sketch): with B non-empty buckets and
    * S = Σ_b m_b, est = (2^40·B·(B−1)) div S.
    *
    * Why the SUM of minima and not per-bucket inverses: each bucket
    * minimum is ≈ Exp-distributed with mean 2^40·k/n, so Σ m_b is a
    * Gamma sum and (B−1)/Σ is the standard unbiased inverse-scale
    * estimate (relative error ~1/√B, +1% bias verified by simulation
    * at n/k ≈ 6). A per-bucket 2^40/m_b sum looks natural but E[1/min]
    * DIVERGES — one tiny minimum dominates the whole estimate (observed
    * 11× overestimates before this form). Operating regime: the sketch
    * should be well-filled (n ≳ 2k); in the sparse regime (most buckets
    * holding ≤1 value) the estimate biases high toward 2·(B−1) — at
    * corpus scale the shingle universe is always ≫ k, and the spec pins
    * accuracy at the test scale. Pure integer arithmetic — both engines
    * evaluate identical `div`s, so the estimate is reproducible
    * bit-for-bit, not just close.
    */
  private def sketchEst(sk: DataFrame, keys: Seq[String], as: String): DataFrame =
    sk.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__b"), sum(col("mh")).as("__s"))
      .select(keys.map(col) :+
        expr(s"(${Two40}L * __b * (__b - 1)) div __s").as(as): _*)

  /** Sketch-based cross-source overlap: [[sourceOverlap]]'s triage
    * matrix (which crawl sources mirror each other?) from fixed-size
    * per-source sketches instead of the corpus-sized shingle
    * aggregation — the 100 TB shape for the question.
    *
    * Why this wins at scale:
    *  - ONE aggregation shuffle whose exchange carries at most
    *    partitions × sources × k rows (`min` combines map-side); the
    *    corpus itself never shuffles. Compare [[sourceOverlap]], whose
    *    exchange carries every distinct (shingle-hash, source-set) row.
    *  - mergeable: sketches union by bucket-min, so per-segment /
    *    per-day sketches combine without touching text again (the
    *    streaming twin folds the identical aggregate).
    *  - deterministic: no RNG — the hash is md5-derived, estimates are
    *    integer-only, and the DuckDB oracle reproduces them exactly.
    *
    * Estimates: per-source and per-pair-union cardinalities via
    * [[sketchEst]] (union sketch = bucket-min merge of the two source
    * sketches); intersection by inclusion–exclusion clamped at 0;
    * jaccard_micro = 10⁶·est_inter div est_union. Coarser than the
    * exact matrix (~1/√k ≈ 6% at k=256) — the right trade for ranking
    * source pairs before an exact [[sourceOverlap]] pass on the top
    * candidates.
    *
    * The pair stages are sketch-sized (S²·k rows for S sources) — like
    * [[sourceOverlap]] this assumes a modest source universe; the win
    * here is that S²·k is independent of corpus size.
    *
    * Output: (source_a < source_b, est_a, est_b, est_union, est_inter,
    * jaccard_micro), one row per unordered source pair.
    */
  def sketchOverlap(docs: DataFrame, source: Column, text: Column,
                    shingleN: Int = 3, k: Int = 256): DataFrame =
    sketchOverlapFromSketch(sourceSketch(docs, source, text, shingleN, k))

  /** Persist a [[sourceSketch]] as one crawl-segment artifact under
    * `dir/segment=<label>/`. Sketches are the mergeable summary, so
    * incremental maintenance is pure APPEND: one new segment per crawl
    * day, old segments never rewritten, old text never re-read. A
    * retried write of the same label overwrites its own segment
    * (per-label idempotence); the artifact is sketch-sized (≤ sources
    * × k rows per segment), so there is nothing to compact.
    */
  def writeSketchSegment(sk: DataFrame, dir: String, label: String): Unit =
    sk.coalesce(1).write.mode("overwrite").parquet(s"$dir/segment=$label")

  /** Serve the overlap matrix from a [[writeSketchSegment]] artifact:
    * read every segment, bucket-min merge (the sketch union), run the
    * pair algebra. Equals the one-pass [[sketchOverlap]] over the union
    * of all segments' documents — the merge pin in OperatorsSpec plus
    * p89's shared oracle make that an identity, not an approximation.
    */
  def servedSketchOverlap(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    sketchOverlapFromSketch(
      spark.read.parquet(dir)
        .groupBy(col("source"), col("bucket")).agg(min(col("mh")).as("mh")))

  /** [[sketchOverlap]]'s pair algebra over an already-built (and
    * possibly merged) [[sourceSketch]] — the serving-side half, also the
    * epoch-boundary step of the streaming twin.
    */
  def sketchOverlapFromSketch(sk0: DataFrame): DataFrame = {
    // Materialize the sketch ONCE as a driver-local bounded artifact
    // (≤ sources × k rows by construction) instead of .cache(): the
    // pair algebra references it five times, recomputing the corpus
    // scan each time would be absurd, and a persisted-RDD lifecycle
    // would leak on callers that never unpersist (the round-3 leak
    // class). The limit+require makes the bound loud: one extra row is
    // proof of overflow, not a silent truncation.
    val spark = sk0.sparkSession
    import spark.implicits._
    val cap = 1 << 22 // 4M rows ≈ 16k sources at k=256 — far past the S²-matrix contract
    val rows = sk0.select(col("source").cast("string"), col("bucket").cast("long"),
        col("mh").cast("long"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"sketchOverlapFromSketch: sketch exceeds $cap rows — the S² pair matrix " +
        "is the wrong question at that source universe; group into families first")
    val sk = rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toDF("source", "bucket", "mh")
    val est = sketchEst(sk, Seq("source"), "est")
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    // per-pair union sketch: contributions from both sides, bucket-min
    val contrib = pairs
      .join(sk.select(col("source").as("source_a"), col("bucket"), col("mh")),
        Seq("source_a"))
      .unionByName(pairs
        .join(sk.select(col("source").as("source_b"), col("bucket"), col("mh")),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("bucket"), col("mh")))
    val usk = contrib.groupBy(col("source_a"), col("source_b"), col("bucket"))
      .agg(min(col("mh")).as("mh"))
    val uest = sketchEst(usk, Seq("source_a", "source_b"), "est_union")
    pairs
      .join(broadcast(est.select(col("source").as("source_a"), col("est").as("est_a"))),
        Seq("source_a"))
      .join(broadcast(est.select(col("source").as("source_b"), col("est").as("est_b"))),
        Seq("source_b"))
      .join(uest, Seq("source_a", "source_b"))
      .withColumn("est_inter",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      .withColumn("jaccard_micro",
        when(col("est_union") > 0, expr("(1000000L * est_inter) div est_union"))
          .otherwise(lit(0L)))
      .select(col("source_a"), col("source_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"), col("jaccard_micro"))
  }

  /** Directed n-gram containment for candidate pairs (id_a, id_b):
    * containment_a = |A∩B|/|A| and containment_b = |A∩B|/|B| over
    * distinct shingles. Symmetric Jaccard misses subset duplicates — a
    * short doc fully embedded in a long one has high containment but low
    * Jaccard (|A∩B|/|A∪B| shrinks as the superset grows) — and those
    * quote-embedded / concatenated-page duplicates are common in crawled
    * corpora. Verify-on-candidates-only like [[ngramJaccard]] (same
    * shared core); never run on the full cross product. A side with no
    * shingles keeps its pair row with a null containment.
    */
  def ngramContainment(docs: DataFrame, id: Column, text: Column,
                       pairs: DataFrame, shingleN: Int = 3): DataFrame =
    pairShingleStats(docs, id, text, pairs, shingleN)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        when(col("n_a") > 0, round(col("n_inter").cast("double") /
          col("n_a").cast("double"), 6)).as("containment_a"),
        when(col("n_b") > 0, round(col("n_inter").cast("double") /
          col("n_b").cast("double"), 6)).as("containment_b"))

  /** Containment dedup: candidates → exact containment verify → drop
    * the CONTAINED side (the smaller shingle set — it is the one inside
    * the other; |A| < |B| forces containment_a ≥ containment_b). Equal
    * sizes tie-break to dropping the larger id, so the rule is
    * deterministic. Keeps supersets: dropping the long page that quotes
    * a short doc would lose novel text.
    *
    * Candidates come from WINNOW fingerprints, not MinHash-LSH: in the
    * extreme-subset regime this operator exists for (10 tokens inside a
    * 10k-token page) the pair's Jaccard is ~0, so Jaccard-tuned LSH
    * bands essentially never collide — while winnowing guarantees a
    * shared fingerprint for ANY shared run of ≥ window+shingleN-1
    * tokens regardless of the documents' overall similarity.
    * `minShared` defaults to 1 here (a short contained doc may carry
    * only one selected fingerprint); precision is restored by the exact
    * verify that follows.
    */
  def containmentDedup(docs: DataFrame, id: Column, text: Column,
                       threshold: Double, shingleN: Int = 3,
                       window: Int = 4, minShared: Int = 1,
                       maxDocFreq: Option[Int] = None): DataFrame = {
    val cand = winnowCandidates(docs, id, text, shingleN, window, minShared, maxDocFreq)
      .select(col("id_a"), col("id_b"))
    val drops = ngramContainment(docs, id, text, cand, shingleN)
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(when(col("n_a") < col("n_b"), col("id_a"))
        .when(col("n_b") < col("n_a"), col("id_b"))
        .otherwise(col("id_b")).as("__drop"))
      .distinct()
    docs.join(drops, id === col("__drop"), "left_anti")
  }
}
