package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Aggregators, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - `bruteForceTopK`: exact cosine top-k — the correctness baseline.
  *    Queries are broadcast (they are the small side by construction), so
  *    the scan side never shuffles for scoring.
  *  - `lshTopK`: sign-bucket LSH (see `VectorFunctions.signBucket`) —
  *    candidates only from the query's bucket, turning the 100 TB scan
  *    into a bucket-pruned scan. Recall/bits tradeoff documented at the
  *    call site.
  *  - `ivfTopK`: inverted-file index — coarse-quantize the corpus to
  *    centroids once, probe `nprobe` lists per query. The scale path when
  *    bucket skew or recall targets rule out pure sign-LSH.
  *
  * All tiers rank with a TWO-PHASE top-k ([[Aggregators.TopK]], an
  * ObjectHashAggregate with map-side partial aggregation): each scan
  * partition reduces to a ≤k buffer per query locally, the shuffle moves
  * only those buffers, and the final merge per query touches
  * partitions × k rows — never all scored candidates in one task, which
  * is what a `row_number().over(partitionBy(query_id))` window would do
  * to a query with a huge candidate set.
  */
object SimilaritySearch {

  /** Two-phase per-query top-k rank over a scored candidate set with
    * columns (query_id, neighbor_id, cos). Output adds `rank` (1-based,
    * by cos DESC then neighbor_id ASC) — identical to the window-rank
    * form, minus its one-task-per-query funnel. Public so callers with
    * their own scoring (e.g. multimodal histogram dot products) rank
    * through the same scale-safe path.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new Aggregators.TopK(k))
    scored.groupBy(col("query_id"))
      .agg(topk(col("cos"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk.items")).as(Seq("__p", "__x")))
      .select(col("query_id"), col("__x.neighbor_id").as("neighbor_id"),
        col("__x.cos").as("cos"), (col("__p") + 1).cast("long").as("rank"))
  }

  /** Exact top-k neighbors per query. `queries` must be small (driver
    * broadcasts it). Excludes self-matches. Ranks by rounded cosine
    * (6 dp) with id tiebreak for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
    rankTopK(scored, k)
  }

  /** HARD-NEGATIVE mining — the contrastive-training complement of
    * [[Curation.negativeSamples]]'s random draw: for each query, the
    * k nearest non-positive vectors (ranked AFTER excluding the
    * labeled positive pairs and the query itself), optionally
    * skipping the first `skip` survivors — the standard top-band
    * hedge against unlabeled positives hiding among the very nearest
    * neighbors. Exclusion runs BEFORE ranking, so positives never
    * occupy rank slots and the miner always returns the k hardest
    * true negatives available; output ranks are re-based to 1..k
    * inside the mined band.
    *
    * Scale shape: queries and the labeled-pair list are
    * training-set-sized and BROADCAST (one hash anti-join in the scan
    * stage); ranking is the bounded two-phase TopK over skip+k — no
    * per-query global sort. The scoring pass here is the exact
    * brute-force baseline; swap the scored frame for an IVF/PQ
    * candidate set (the p34 ladder) when the corpus outgrows one
    * pass.
    */
  def hardNegatives(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    queries: DataFrame, queryId: Column, queryVec: Column,
                    positives: DataFrame, posQid: Column, posDocId: Column,
                    k: Int, skip: Int = 0): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1, got $k")
    require(skip >= 0, s"hardNegatives: skip must be >= 0, got $skip")
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val pos = positives.select(posQid.as("__pq"), posDocId.as("__pd"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .join(broadcast(pos), col("query_id") === col("__pq") &&
        col("neighbor_id") === col("__pd"), "left_anti")
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
    rankTopK(scored, skip + k)
      .filter(col("rank") > skip)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        (col("rank") - skip).as("rank"))
  }

  /** IVF-style top-k (inverted-file ANN): a coarse quantizer assigns every
    * corpus vector to its nearest centroid in ONE broadcast pass (argmax
    * is a map-side struct-max aggregate, so the shuffle moves one row per
    * vector); each query probes its `nprobe` nearest centroids and scores
    * only the vectors assigned to them. Centroids here are a deterministic
    * corpus sample (`id % centroidStride == 0`) — the IVF structure is the
    * point, not the quantizer training; swap in k-means centroids without
    * touching the dataflow. At 100 TB the assignment is a single narrow
    * scan and the search touches ~nprobe/nCentroids of the corpus.
    */
  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, centroidStride: Int = 25, nprobe: Int = 2): DataFrame = {
    val cent = corpus.select(corpusId.as("centroid_id"), corpusVec.as("centv"))
      .filter(corpusId % centroidStride === 0)
    ivfTopKWith(corpus, corpusId, corpusVec, queries, queryId, queryVec, cent, k, nprobe)
  }

  /** FILTERED vector search — [[ivfTopK]] under a metadata predicate
    * (the "where label = X" of every production vector store). Two
    * deliberate semantics:
    *
    *  - The QUANTIZER stays full-corpus (the index is one shared
    *    structure serving every filter; per-filter quantizers would
    *    mean per-filter indexes).
    *  - The predicate applies to the CANDIDATE side before scoring —
    *    pre-filtering, so the top-k rank is over matching vectors only
    *    (post-filtering k results and discarding non-matches returns
    *    fewer than k under selective filters — the classic vector-DB
    *    pitfall). Coarse assignment is per-vector, so assigning the
    *    filtered subset equals filtering full assignments; the
    *    predicate lands in the candidate SCAN (plan-pinned: pushed
    *    filter, not a post-rank drop).
    *
    * Recall note: within probed cells the filtered search is exact;
    * like all IVF, vectors whose cell is unprobed are missed — nprobe
    * should scale up under very selective filters (the standard
    * filtered-ANN tuning rule).
    */
  def ivfTopKFiltered(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                      keep: Column,
                      queries: DataFrame, queryId: Column, queryVec: Column,
                      k: Int, centroidStride: Int = 25, nprobe: Int = 2): DataFrame = {
    val cent = corpus.select(corpusId.as("centroid_id"), corpusVec.as("centv"))
      .filter(corpusId % centroidStride === 0)
    ivfTopKWith(corpus.filter(keep), corpusId, corpusVec,
      queries, queryId, queryVec, cent, k, nprobe)
  }

  /** IVF with k-means-trained centroids (see [[kmeansCentroids]]) — the
    * production quantizer; same search dataflow as [[ivfTopK]].
    */
  def ivfTopKTrained(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int, nCentroids: Int, iters: Int = 3, nprobe: Int = 2): DataFrame =
    ivfTopKWith(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      kmeansCentroids(corpus, corpusId, corpusVec, nCentroids, iters), k, nprobe)

  /** Spherical k-means (Lloyd) over an embedding column, all DataFrame
    * ops: assignment is a broadcast pass with the native cosine (argmax
    * via struct-max, one row per vector shuffled); the update step
    * averages UNIT-normalized vectors per cluster (the spherical-k-means
    * mean direction, which makes the cosine objective monotone
    * non-decreasing — pinned in the spec). Deterministic: init = the k
    * lowest-id vectors, ties in assignment break to the smallest
    * centroid id. Bounded driver loop with lineage truncation per
    * iteration, like Retry.fixpoint. Clusters that lose all members drop
    * out (standard Lloyd behavior).
    */
  def kmeansCentroids(corpus: DataFrame, id: Column, vec: Column,
                      k: Int, iters: Int): DataFrame = {
    val e = corpus.select(id.cast("long").as("vid"), vec.as("v"))
    // unit-normalized exploded form, computed once and reused every iter
    val ex = e.select(col("vid"), posexplode(col("v")).as(Seq("pos", "x")))
    val norms = ex.groupBy(col("vid")).agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
    val exn = ex.join(norms, "vid")
      .select(col("vid"), col("pos"), (col("x") / col("nrm")).as("x"))
      .localCheckpoint()
    var cents = e.orderBy(col("vid")).limit(k)
      .select(col("vid").as("centroid_id"), col("v").cast("array<double>").as("centv"))
    for (_ <- 1 to iters) {
      val asg = e.join(broadcast(cents))
        .withColumn("cos", VectorFunctions.cosine(col("v"), col("centv")))
        .groupBy(col("vid"))
        .agg(max(struct(col("cos").as("c"), (lit(0L) - col("centroid_id")).as("nc"))).as("m"))
        .select(col("vid"), (lit(0L) - col("m.nc")).as("cid"))
      cents = exn.join(asg, "vid")
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("mx"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("centv"))
        .select(col("cid").as("centroid_id"), col("centv"))
        .localCheckpoint()
    }
    cents
  }

  /** Coarse IVF assignment: every corpus vector → its nearest centroid.
    * The argmax is a max over a PACKED long — (ccos_u6 + 1e6) << 21 |
    * (2^21-1 - idx) with idx the dense centroid index ordered by
    * centroid_id — so max picks the highest cosine then the SMALLEST
    * centroid_id, matching ORDER BY cos DESC, centroid_id in the oracle.
    * Packing (instead of max(struct) + first(cv)) keeps the aggregate a
    * codegen HashAggregate over NARROW rows: the struct form planned a
    * SortAggregate whose buffer dragged a copy of the vector through
    * every corpus × centroid row; callers rejoin the vector by key.
    * Returns (neighbor_id, centroid_id).
    */
  private[graft] def coarseAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    // k centroid rows by construction (the broadcast-artifact contract):
    // the dense index comes from GlobalIndex's zipWithIndex, NOT a
    // global row_number window — the window form funneled through
    // WindowExec's "moving all data to a single partition" warning on
    // every call (harmless here, but hundreds of copies bury the one
    // warning that matters), and EliminateWindowPartitions strips a
    // literal partition key, so partitionBy(lit) can't silence it.
    val centIdx = graft.operators.GlobalIndex
      .withRowIndex(cent, Seq(col("centroid_id")), "idx")
      .withColumn("idx", col("idx") - 1)
    e.join(broadcast(centIdx))
      .withColumn("ccos", round(VectorFunctions.cosine(col("cv"), col("centv")), 6))
      .select(col("neighbor_id"),
        ((round(col("ccos") * 1e6, 0).cast("long") + lit(1000000L)) * lit(1L << 21) +
          (lit((1L << 21) - 1) - col("idx"))).as("packed"))
      .groupBy(col("neighbor_id"))
      .agg(max(col("packed")).as("m"))
      .withColumn("idx", lit((1L << 21) - 1) - col("m") % lit(1L << 21))
      .join(broadcast(centIdx.select(col("idx"), col("centroid_id"))), Seq("idx"))
      .select(col("neighbor_id"), col("centroid_id"))
  }

  /** Per-query probe lists: the `nprobe` nearest centroids (cos DESC,
    * centroid_id tiebreak). Returns (query_id, qv, centroid_id).
    */
  private def probeCentroids(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    q.join(broadcast(cent))
      .withColumn("ccos", round(VectorFunctions.cosine(col("qv"), col("centv")), 6))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
  }

  private def ivfTopKWith(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                          queries: DataFrame, queryId: Column, queryVec: Column,
                          cent: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val e = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"))
    val asg = e.join(coarseAssign(e, cent), Seq("neighbor_id"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val probes = probeCentroids(q, cent, nprobe)
    val scored = asg.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
    rankTopK(scored, k)
  }

  /** Product-quantization ANN (PQ/ADC — the next compression tier after
    * IVF): split each `dim`-vector into `numSubspaces` subvectors,
    * quantize every subvector to its nearest codeword from a per-subspace
    * codebook, and score query→vector distance as the SUM of precomputed
    * per-subspace query→codeword distances (asymmetric distance
    * computation). Codebooks here are a deterministic corpus sample
    * (`id % codeStride == 0`), like [[ivfTopK]]'s coarse quantizer;
    * [[pqTopKTrained]] swaps in per-subspace k-means codebooks
    * ([[pqTrainCodebooks]]) over the identical dataflow.
    *
    * Scale shape (100 TB): codebooks and the per-query ADC tables are
    * tiny and broadcast; encoding is one narrow shuffle of
    * (vector, subspace, code) rows; after encoding the raw vectors are
    * NEVER touched again — the search side joins `numSubspaces` longs per
    * vector against a broadcast table, which is the whole point of PQ
    * (≈32 bytes/vector instead of 4·dim).
    *
    * Determinism/oracle: distances are exact micro-unit integers —
    * `round(1e6 · ||a−b||²)` with `||a−b||² = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩`
    * over the same left-to-right double fold as DuckDB's
    * `list_dot_product` — so ADC sums are order-independent BIGINT
    * arithmetic in both engines, immune to float merge order. Output:
    * (query_id, neighbor_id, approx_d2_u6, rank), rank by approx distance
    * ASC then neighbor_id, via the same two-phase [[Aggregators.TopK]].
    */
  def pqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             k: Int, dim: Int, numSubspaces: Int = 4, codeStride: Int = 25): DataFrame = {
    val (enc, qt) = pqEncodeAndAdc(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, dim, numSubspaces, codeStride)
    adcRank(enc, qt, k)
  }

  /** [[pqTopK]] with LEARNED per-subspace codebooks
    * ([[pqTrainCodebooks]]) instead of the stride sample — lower
    * quantization error at identical index size and search cost (the
    * search dataflow is byte-for-byte the same; only the broadcast
    * codebook rows differ). Training is index-build time, amortized over
    * every query.
    */
  def pqTopKTrained(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    queries: DataFrame, queryId: Column, queryVec: Column,
                    k: Int, dim: Int, numSubspaces: Int = 4, nCodes: Int = 32,
                    iters: Int = 2): DataFrame = {
    val cb = pqTrainCodebooks(corpus, corpusId, corpusVec, dim, numSubspaces, nCodes, iters)
    val (enc, qt) = pqEncodeAndAdcWith(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, dim, numSubspaces, cb)
    adcRank(enc, qt, k)
  }

  /** Shared ADC scoring + rank: codes ⋈ broadcast ADC table, BIGINT sum
    * per (query, neighbor), two-phase top-k. TopK ranks by cos DESC;
    * distances are negated so the smallest ranks first (micro-unit
    * integers ≤ ~2^40 are exact in double).
    */
  private def adcRank(enc: DataFrame, qt: DataFrame, k: Int): DataFrame = {
    val scored = enc.join(broadcast(qt), Seq("j", "code_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd2")).as("approx"))
      .withColumn("cos", (lit(0L) - col("approx")).cast("double"))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cos")), k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(0.0) - col("cos")).cast("long").as("approx_d2_u6"), col("rank"))
  }

  /** The two PQ index artifacts: `enc` — every corpus vector as
    * `numSubspaces` codebook codes (neighbor_id, j, code_id) — and `qt`
    * — the per-query ADC table (query_id, j, code_id, qd2) holding the
    * micro-unit distance from each query subvector to EVERY codeword.
    * Shared by [[pqTopK]] (scan all codes) and [[ivfPqTopK]] (scan only
    * probed inverted lists).
    */
  private def pqEncodeAndAdc(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                             queries: DataFrame, queryId: Column, queryVec: Column,
                             dim: Int, numSubspaces: Int,
                             codeStride: Int): (DataFrame, DataFrame) = {
    require(dim % numSubspaces == 0,
      s"dim ($dim) must divide evenly into numSubspaces ($numSubspaces)")
    val sub = dim / numSubspaces
    val cb = subvecs(corpus.filter(corpusId % codeStride === 0), corpusId, corpusVec,
        "code_id", numSubspaces, sub)
      .withColumnRenamed("sv", "cw")
    pqEncodeAndAdcWith(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      dim, numSubspaces, cb)
  }

  /** (id, j, sv): subspace-j slice of the vector, widened to double. */
  private def subvecs(df: DataFrame, idC: Column, vecC: Column, idName: String,
                      numSubspaces: Int, sub: Int): DataFrame = {
    val pieces = (0 until numSubspaces).map { j =>
      struct(lit(j).as("j"),
        transform(slice(vecC, j * sub + 1, sub), x => x.cast("double")).as("sv"))
    }
    df.select(idC.as(idName), explode(array(pieces: _*)).as("__s"))
      .select(col(idName), col("__s.j").as("j"), col("__s.sv").as("sv"))
  }

  /** Nearest codeword per (row, subspace) over a codebook (j, code_id,
    * cw): min over a PACKED long — micro-unit L2 (see
    * [[graft.functions.L2SqMicro]]) << 21 | dense idx ordered by
    * code_id — so the argmin is a codegen HashAggregate with the
    * (d2, code_id) tie-break, where min(struct(d2, code_id)) would plan
    * a SortAggregate that sorts the full rows × codebook distance stream
    * (measured 4× slower at sf0.1). The codebook is tiny (it gets
    * broadcast), so the one-task-per-j index window is free. Micro-unit
    * d2 up to 2^42 packs losslessly (unit-scale embeddings are ~2^27).
    * Returns (idName, j, code_id).
    */
  private def assignCodes(subs: DataFrame, cb: DataFrame, idName: String): DataFrame = {
    val wcb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("j")).orderBy(col("code_id"))
    val cbIdx = cb.withColumn("idx", row_number().over(wcb).cast("long") - 1)
    subs.join(broadcast(cbIdx), Seq("j"))
      .withColumn("packed",
        graft.functions.L2SqMicro(col("sv"), col("cw")) * lit(1L << 21) + col("idx"))
      .groupBy(col(idName), col("j"))
      .agg(min(col("packed")).as("m"))
      .withColumn("idx", col("m") % lit(1L << 21))
      .join(broadcast(cbIdx.select(col("j"), col("idx"), col("code_id"))),
        Seq("j", "idx"))
      .select(col(idName), col("j"), col("code_id"))
  }

  /** Per-subspace k-means (Lloyd, L2 — the PQ training objective)
    * codebooks over an embedding column. Returns (j, code_id, cw), the
    * same schema the stride sample produces, so trained codebooks slot
    * into [[pqEncodeAndAdcWith]] unchanged.
    *
    * Deterministic, like [[kmeansCentroids]]: init = the subvectors of
    * the `nCodes` lowest-id corpus vectors (code_id = that vector's id),
    * assignment ties break to the smallest code_id (packed-long argmin in
    * [[assignCodes]] — micro-unit integer distances, so the argmin is
    * bit-stable), update = coordinate mean of assigned subvectors.
    * Codewords that lose all members drop out (standard Lloyd). Bounded
    * driver loop with lineage truncation per iteration; the exploded
    * subvector set is localCheckpoint'd once and reused every iteration,
    * so training scans the corpus once. All shuffles are keyed on
    * (j, code_id, pos) — cardinality numSubspaces × nCodes × sub, never
    * corpus-sized rows wider than one subvector.
    */
  def pqTrainCodebooks(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                       dim: Int, numSubspaces: Int, nCodes: Int,
                       iters: Int): DataFrame = {
    require(dim % numSubspaces == 0,
      s"dim ($dim) must divide evenly into numSubspaces ($numSubspaces)")
    val sub = dim / numSubspaces
    val e = corpus.select(corpusId.cast("long").as("vid"), corpusVec.as("v"))
    val subs = subvecs(e, col("vid"), col("v"), "vid", numSubspaces, sub)
      .localCheckpoint()
    var cb = subvecs(e.orderBy(col("vid")).limit(nCodes), col("vid"), col("v"),
        "code_id", numSubspaces, sub)
      .withColumnRenamed("sv", "cw")
    for (_ <- 1 to iters) {
      val asg = assignCodes(subs, cb, "vid")
      cb = subs.join(asg, Seq("vid", "j"))
        .select(col("j"), col("code_id"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("j"), col("code_id"), col("pos")).agg(avg(col("x")).as("mx"))
        .groupBy(col("j"), col("code_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("cw"))
        .select(col("j"), col("code_id"), col("cw"))
        .localCheckpoint()
    }
    cb
  }

  /** [[pqEncodeAndAdc]] against an explicit codebook (j, code_id, cw) —
    * shared by the stride-sampled and k-means-trained quantizers.
    */
  private def pqEncodeAndAdcWith(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                                 queries: DataFrame, queryId: Column, queryVec: Column,
                                 dim: Int, numSubspaces: Int,
                                 cb: DataFrame): (DataFrame, DataFrame) = {
    require(dim % numSubspaces == 0,
      s"dim ($dim) must divide evenly into numSubspaces ($numSubspaces)")
    val sub = dim / numSubspaces
    val enc = assignCodes(
      subvecs(corpus, corpusId, corpusVec, "neighbor_id", numSubspaces, sub),
      cb, "neighbor_id")
    // ADC table: query → every codeword distance, per subspace —
    // micro-unit L2 via the fused native expression (one codegen loop
    // instead of three CodegenFallback HOF folds)
    val qt = subvecs(queries, queryId, queryVec, "query_id", numSubspaces, sub)
      .join(broadcast(cb), Seq("j"))
      .withColumn("qd2", graft.functions.L2SqMicro(col("sv"), col("cw")))
      .select(col("query_id"), col("j"), col("code_id"), col("qd2"))
    (enc, qt)
  }

  /** IVF-PQ — the production composition of the two index tiers: the
    * coarse quantizer ([[coarseAssign]]) prunes the search to `nprobe`
    * inverted lists per query, and PQ codes ([[pqEncodeAndAdc]]) score
    * the surviving candidates with broadcast ADC lookups. At 100 TB this
    * is the standard billion-vector layout: the scan side carries
    * ~nprobe/nCentroids of the corpus as `numSubspaces` longs per
    * vector — raw vectors are touched only at index build. With `nprobe`
    * ≥ the centroid count the list pruning admits everything and the
    * result equals [[pqTopK]] exactly (pinned in SimilaritySpec). Output
    * matches [[pqTopK]]: (query_id, neighbor_id, approx_d2_u6, rank).
    */
  def ivfPqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                k: Int, dim: Int, numSubspaces: Int = 4, codeStride: Int = 25,
                centroidStride: Int = 25, nprobe: Int = 2): DataFrame = {
    val cent = corpus.select(corpusId.as("centroid_id"), corpusVec.as("centv"))
      .filter(corpusId % centroidStride === 0)
    val (enc, qt) = pqEncodeAndAdc(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, dim, numSubspaces, codeStride)
    ivfPqWith(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      cent, enc, qt, k, nprobe)
  }

  /** [[ivfPqTopK]] with BOTH quantizers learned: spherical-k-means coarse
    * centroids ([[kmeansCentroids]]) for the inverted lists and
    * per-subspace L2-k-means codebooks ([[pqTrainCodebooks]]) for the
    * codes — the reference-grade billion-vector layout. Search dataflow
    * identical to [[ivfPqTopK]]; training is index-build time.
    */
  def ivfPqTopKTrained(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                       queries: DataFrame, queryId: Column, queryVec: Column,
                       k: Int, dim: Int, numSubspaces: Int = 4, nCodes: Int = 32,
                       nCentroids: Int = 16, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val cent = kmeansCentroids(corpus, corpusId, corpusVec, nCentroids, iters)
    val cb = pqTrainCodebooks(corpus, corpusId, corpusVec, dim, numSubspaces, nCodes, iters)
    val (enc, qt) = pqEncodeAndAdcWith(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, dim, numSubspaces, cb)
    ivfPqWith(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      cent, enc, qt, k, nprobe)
  }

  /** Shared IVF-PQ search: codes ⋈ list assignment (key join), pruned by
    * broadcast probes, scored by broadcast ADC rows — the corpus side
    * never shuffles wide.
    */
  private def ivfPqWith(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                        queries: DataFrame, queryId: Column, queryVec: Column,
                        cent: DataFrame, enc: DataFrame, qt: DataFrame,
                        k: Int, nprobe: Int): DataFrame = {
    val e = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"))
    val asgKey = coarseAssign(e, cent)
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val probes = probeCentroids(q, cent, nprobe)
      .select(col("query_id"), col("centroid_id"))
    val scored = enc.join(asgKey, Seq("neighbor_id"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qt), Seq("query_id", "j", "code_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd2")).as("approx"))
      .withColumn("cos", (lit(0L) - col("approx")).cast("double"))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cos")), k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(0.0) - col("cos")).cast("long").as("approx_d2_u6"), col("rank"))
  }

  /** The stride-sampled PQ codebook (j, code_id, cw) [[ivfPqTopK]]
    * uses internally — exposed so [[buildIvfPqIndex]] can materialize
    * the identical artifact.
    */
  def strideCodebook(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     dim: Int, numSubspaces: Int, codeStride: Int): DataFrame = {
    require(dim % numSubspaces == 0,
      s"dim ($dim) must divide evenly into numSubspaces ($numSubspaces)")
    subvecs(corpus.filter(corpusId % codeStride === 0), corpusId, corpusVec,
        "code_id", numSubspaces, dim / numSubspaces)
      .withColumnRenamed("sv", "cw")
  }

  /** MATERIALIZE the IVF-PQ index — build once, serve many. Raw corpus
    * vectors are touched ONLY here; the written artifacts are
    *   `centroids/` (centroid_id, centv)        — broadcast-sized
    *   `codebooks/` (j, code_id, cw)            — broadcast-sized
    *   `postings/segment=S/centroid_id=N/` (neighbor_id, j, code_id)
    * with the code rows PARTITIONED BY ingest segment, then coarse
    * list: a serving scan filtered to the probed lists reads only
    * those directories — IVF pruning at the storage layer, visible as
    * partition pruning in the plan (pruning applies at any partition
    * depth, so the segment level costs nothing). The SEGMENT level is
    * the ingest unit: the base build is `segment=base`, and every
    * [[appendToIvfPqIndex]] delta lands as its own segment directory —
    * which makes an append RE-RUNNABLE (same label ⇒ same path
    * overwritten, not appended beside), the property the streaming
    * append path's exactly-once contract rests on. ~numSubspaces longs
    * per vector; at 100 TB the postings are the only corpus-sized
    * artifact and they never hold a raw vector. `cent`/`cb` choose the
    * quantizers: stride-sampled ([[strideCodebook]] + a stride filter)
    * or trained ([[kmeansCentroids]] + [[pqTrainCodebooks]]).
    */
  def buildIvfPqIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                      cent: DataFrame, cb: DataFrame,
                      dim: Int, numSubspaces: Int, indexDir: String): Unit = {
    require(dim % numSubspaces == 0,
      s"dim ($dim) must divide evenly into numSubspaces ($numSubspaces)")
    val enc = assignCodes(
      subvecs(corpus, corpusId, corpusVec, "neighbor_id", numSubspaces,
        dim / numSubspaces), cb, "neighbor_id")
    val asg = coarseAssign(
      corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv")), cent)
    cent.write.mode("overwrite").parquet(s"$indexDir/centroids")
    cb.write.mode("overwrite").parquet(s"$indexDir/codebooks")
    enc.join(asg, Seq("neighbor_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$indexDir/postings/segment=base")
    // per-list build-time sizes (code rows per coarse list): the frozen
    // baseline [[ivfPqIndexDrift]] compares against — appends grow the
    // lists but never touch this snapshot
    val spark = corpus.sparkSession
    spark.read.parquet(s"$indexDir/postings")
      .groupBy(col("centroid_id").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("n_base"))
      .write.mode("overwrite").parquet(s"$indexDir/list_stats")
  }

  /** Grow the materialized index WITHOUT a rebuild: encode newly
    * arrived vectors against the FROZEN quantizer artifacts
    * (centroids + codebooks read from `indexDir` — never retrained
    * here) and land their code rows as a NEW postings segment
    * (`postings/segment=<segment>/centroid_id=N/` — each coarse list
    * gains a directory under the new segment, nothing existing is
    * rewritten). A live similarity service thus ingests a day's
    * vectors at the cost of encoding the delta, not re-encoding the
    * world; the p65 entry pins that served results over base+appended
    * equal the inline build on the union corpus given the same
    * quantizers — which is exactly what freezing the quantizers
    * promises.
    *
    * The segment label is the IDEMPOTENCE key: with
    * `allowReplace = true` the write OVERWRITES `segment=<segment>` as
    * a whole, so re-running an append with the same label (a
    * crash-replayed micro-batch, a retried ingest job) rewrites the
    * same directory instead of appending duplicate code rows beside
    * it. The default `allowReplace = false` REFUSES a label that
    * already exists: overwrite-as-idempotence is only idempotence when
    * the replayed data is the same, and a second ingest reusing a
    * label (a copy-pasted job config) would otherwise silently erase
    * the first delta from the index. Retry paths opt in; distinct
    * ingests collide loudly.
    *
    * The honest limit: frozen quantizers drift as the vector
    * distribution shifts. That is deliberately NOT hidden behind an
    * auto-retrain — [[ivfPqIndexDrift]] surfaces per-list appended
    * fractions so the operator retrains on evidence (the maxVocab
    * loud-failure rule, monitoring form).
    */
  def appendToIvfPqIndex(newVectors: DataFrame, corpusId: Column, corpusVec: Column,
                         dim: Int, numSubspaces: Int, indexDir: String,
                         segment: String, allowReplace: Boolean = false): Unit = {
    require(dim % numSubspaces == 0,
      s"dim ($dim) must divide evenly into numSubspaces ($numSubspaces)")
    require(segment.nonEmpty && segment != "base" &&
      segment.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"append segment label must be a non-'base' path-safe token, got '$segment'")
    val spark = newVectors.sparkSession
    ivfPqLayout(indexDir).repair(spark)
    graft.sources.Sinks.requireFreshSegment(spark,
      s"$indexDir/postings/segment=$segment", segment, allowReplace)
    val cent = spark.read.parquet(s"$indexDir/centroids")
    val cb = spark.read.parquet(s"$indexDir/codebooks")
    val enc = assignCodes(
      subvecs(newVectors, corpusId, corpusVec, "neighbor_id", numSubspaces,
        dim / numSubspaces), cb, "neighbor_id")
    val asg = coarseAssign(
      newVectors.select(corpusId.as("neighbor_id"), corpusVec.as("cv")), cent)
    enc.join(asg, Seq("neighbor_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$indexDir/postings/segment=$segment")
  }

  /** Retract vectors from the materialized index — the deletion path a
    * live similarity service needs (the p66/p67 rule extended to the
    * ANN family): tombstones are DATA, `(neighbor_id)` rows landed
    * under `tombstones/segment=<segment>/`, never an in-place postings
    * mutation. [[searchIvfPqIndex]] masks tombstoned ids at serve time
    * (an anti-join on the code-row stream — deleted vectors stop
    * surfacing the moment the segment lands), and
    * [[compactIvfPqIndex]] later drops them physically. The segment
    * label rules are [[appendToIvfPqIndex]]'s: a RETRY of the same
    * takedown batch passes `allowReplace = true` and overwrites its
    * own directory; a distinct takedown reusing a label collides
    * loudly (silently replacing an earlier tombstone set would
    * RESURRECT its deletions).
    */
  def tombstoneIvfPqIndex(deletes: DataFrame, deleteId: Column,
                          indexDir: String, segment: String,
                          allowReplace: Boolean = false): Unit = {
    require(segment.nonEmpty &&
      segment.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"tombstone segment label must be a path-safe token, got '$segment'")
    ivfPqLayout(indexDir).repair(deletes.sparkSession)
    graft.sources.Sinks.requireFreshSegment(deletes.sparkSession,
      s"$indexDir/tombstones/segment=$segment", segment, allowReplace)
    deletes.select(deleteId.cast("long").as("neighbor_id")).distinct()
      .write.mode("overwrite").parquet(s"$indexDir/tombstones/segment=$segment")
  }

  /** The index's naming in the shared publish (see
    * [[graft.sources.Publish]]): compaction stages `postings` and
    * `list_stats` and retires the `tombstones` log. Every maintenance
    * call (append, tombstone, compact) runs its repair first.
    */
  private def ivfPqLayout(indexDir: String) =
    graft.sources.Publish.named(indexDir, "postings", "list_stats", "tombstones")

  /** Fold the accumulated tombstones into the postings physically:
    * surviving code rows rewrite into exactly TWO segments —
    * `segment=base` (survivors of the original build) and
    * `segment=merged` (survivors of every append, merged into one) —
    * then the old segments and the tombstone log are dropped. Serve
    * results are IDENTICAL before and after (masking vs physical drop —
    * pinned in SimilaritySpec); what compaction buys is the serve-time
    * anti-join, the dead code rows' scan cost, and the many-small-
    * segments listing cost back.
    *
    * PROVENANCE SURVIVES COMPACTION — that is why the output is two
    * segments, not one: "appended under the frozen quantizers" is what
    * [[ivfPqIndexDrift]] measures, so base and appended rows must stay
    * distinguishable across ANY number of append/tombstone/compact
    * cycles (a single merged segment would misattribute the next
    * cycle's deletions and corrupt the fraction). `list_stats.n_base`
    * is adjusted down by exactly the tombstoned rows that sat in
    * `segment=base`.
    *
    * Crash safety is the shared publish ([[graft.sources.Publish]]):
    * the new `postings` and the adjusted `list_stats` (computed from
    * the pre-publish postings) stage together, the manifest retires
    * `tombstones` once both have landed, and every maintenance call of
    * the index (append, tombstone, compact) finishes an interrupted
    * publish first.
    *
    * A compaction that would leave the index EMPTY (every posting
    * tombstoned) refuses before touching anything — an empty postings
    * directory is unreadable, and "drop the index" should be said
    * explicitly, not reached by cleanup.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val layout = ivfPqLayout(indexDir)
    layout.repair(spark)
    val fs = layout.staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombPath = new Path(s"$indexDir/tombstones")
    val all = spark.read.parquet(s"$indexDir/postings")
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    // one partitioned write stages both provenance sides; a side with
    // no rows writes no directory. If NEITHER has rows the index would
    // be unreadable — refuse before the manifest
    graft.sources.Sinks.maskTombstones(all, "neighbor_id", indexDir)
      .select(col("neighbor_id"), col("j"), col("code_id"),
        when(col("segment") === "base", lit("base")).otherwise(lit("merged"))
          .as("segment"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("segment", "centroid_id")
      .parquet(s"${layout.staging}/postings")
    if (fs.globStatus(new Path(layout.staging, "postings/segment=*")).isEmpty) {
      fs.delete(layout.staging, true)
      throw new IllegalStateException(
        "compactIvfPqIndex: every posting is tombstoned — compaction would " +
          "leave an unreadable empty index; drop the index explicitly instead")
    }
    // adjusted baseline from the PRE-publish postings: n_base minus
    // tombstoned rows that were base rows
    val oldStats = spark.read.parquet(s"$indexDir/list_stats")
      .select(col("centroid_id").cast("long").as("centroid_id"),
        col("n_base").cast("long").as("n_base"))
    val adjStats = if (fs.exists(tombPath)) {
      val deadBase = all.filter(col("segment") === "base")
        .join(spark.read.parquet(tombPath.toString).select(col("neighbor_id")),
          Seq("neighbor_id"), "left_semi")
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_dead"))
      oldStats.join(deadBase, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          (col("n_base") - coalesce(col("n_dead"), lit(0L))).as("n_base"))
    } else oldStats
    adjStats.write.mode("overwrite").parquet(s"${layout.staging}/list_stats")
    // tombstones is never staged, so its line retires the log
    layout.publish(spark, Seq("postings", "list_stats", "tombstones").map(t => t -> Seq(t)))
  }

  /** Recall@k of an approximate ranking against the exact one — the
    * EVALUATION loop every ANN deployment needs ("measure, don't
    * guess"): per query, how many of the exact top-k the approximate
    * tier surfaced. Both inputs are rankTopK-shaped (query_id,
    * neighbor_id, …, rank); output (query_id, n_hits, n_exact,
    * recall), one row per query INCLUDING zero-hit queries (an inner
    * join alone would silently drop exactly the queries an operator
    * must see). Scale shape: both sides are already ≤ queries×k rows —
    * the evaluation joins tiny ranked lists, never corpora; run it on
    * a sampled query panel against any ladder tier to pick nprobe /
    * bands / refine empirically.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_exact"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_exact"), 6).as("recall"))
  }

  /** Publish a new VERSION of an index under `baseDir` — the answer to
    * [[ivfPqIndexDrift]]'s `retrain_advised`: retrain quantizers into
    * the next `v<N>/` directory (the caller's `build` writes a complete
    * index there — nothing serves it yet), then atomically repoint the
    * `CURRENT` marker (write `CURRENT.tmp`, rename over `CURRENT` —
    * readers resolve either the old complete version or the new
    * complete version, never a torn one). The superseded version stays
    * on disk until explicitly dropped: rollback is repointing.
    * Blue/green for index artifacts, the standard serve-continuity
    * answer when quantizer retraining invalidates every code row at
    * once (which is why retrain CANNOT be an in-place append — the
    * codes' meaning changes under the reader).
    */
  def publishIndexVersion(spark: org.apache.spark.sql.SparkSession,
                          baseDir: String)(build: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = if (fs.exists(base))
      fs.listStatus(base).map(_.getPath.getName)
        .filter(_.matches("v[0-9]+")).map(_.drop(1).toInt)
    else Array.empty[Int]
    // RESERVE the version number before building: create-exclusive on a
    // marker file is atomic, so two concurrent publishers (a scheduled
    // retrain racing a manual one) get DIFFERENT directories instead of
    // interleaving two builds under one v<N> and serving a torn mix
    var n = if (existing.isEmpty) 1 else existing.max + 1
    var reserved = false
    while (!reserved) {
      try {
        fs.create(new Path(s"$baseDir/v$n/.reserved"), false).close()
        reserved = true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException if fs.exists(new Path(s"$baseDir/v$n")) =>
          n += 1
      }
    }
    val version = s"v$n"
    build(s"$baseDir/$version")
    // completion marker: a version directory WITHOUT it is a failed
    // build's reservation debris (the build threw after the number was
    // reserved) — never pointed to by CURRENT, and what
    // [[gcIndexVersions]] sweeps first
    fs.create(new Path(s"$baseDir/$version/.complete"), true).close()
    pointCurrent(spark, baseDir, version)
    version
  }

  /** The atomic CURRENT pointer replace shared by publish and rollback:
    * write CURRENT.tmp, FileContext-rename with OVERWRITE (a
    * delete-then-rename would leave a window with NO current).
    */
  private def pointCurrent(spark: org.apache.spark.sql.SparkSession,
                           baseDir: String, version: String): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$baseDir/CURRENT.tmp")
    val cur = new Path(s"$baseDir/CURRENT")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(base.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** ROLLBACK — the operational half of "rollback is repointing":
    * atomically point CURRENT at an existing COMPLETE version. Refuses
    * a version that does not exist or never finished its build (debris
    * cannot serve); refuses nothing else — repointing FORWARD again is
    * the same operation.
    */
  def repointIndexVersion(spark: org.apache.spark.sql.SparkSession,
                          baseDir: String, version: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(version.matches("v[0-9]+"),
      s"repointIndexVersion: '$version' is not a version name")
    val fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(s"$baseDir/$version")),
      s"repointIndexVersion: $version does not exist under $baseDir")
    // debris = reserved but never completed; a directory with NEITHER
    // marker predates the protocol and is trusted (the gcIndexVersions
    // rule — refusing a legacy rollback target would defeat rollback)
    require(fs.exists(new Path(s"$baseDir/$version/.complete")) ||
        !fs.exists(new Path(s"$baseDir/$version/.reserved")),
      s"repointIndexVersion: $version never finished its build " +
        "(failed-build debris cannot serve)")
    pointCurrent(spark, baseDir, version)
  }

  /** Blue/green retrain whose build input is the CURRENT index's own
    * LIVE membership — base + every appended segment − tombstones, the
    * same mask the serve path and the compactor share — joined back to
    * the vector store for the raw vectors (postings hold only code
    * rows; codes are not invertible). The operational point: by the
    * time drift fires retrain_advised, the index IS the corpus
    * definition — appends that arrived since the base build fold in and
    * takedowns stay taken down WITHOUT the caller re-deriving that set
    * from ingest bookkeeping (a retrain that resurrected a tombstoned
    * vector because someone rebuilt "from the corpus" is the deletion
    * bug p66 exists to prevent). Scale shape: ONE left_semi join of the
    * vector store against the distinct live ids (corpus-sized but
    * id-only), then [[buildIvfPqIndex]]'s usual two artifact passes;
    * nothing here is driver-materialized.
    */
  def retrainIndexVersion(spark: org.apache.spark.sql.SparkSession,
                          baseDir: String,
                          vectorSource: DataFrame, id: Column, vec: Column,
                          cent: DataFrame, cb: DataFrame,
                          dim: Int, numSubspaces: Int): String = {
    val liveDir = currentIndexDir(spark, baseDir)
    val liveIds = graft.sources.Sinks.maskTombstones(
        spark.read.parquet(s"$liveDir/postings"), "neighbor_id", liveDir)
      .select(col("neighbor_id")).distinct()
    val src = vectorSource.select(id.cast("long").as("neighbor_id"),
      vec.as("__retrain_vec"))
    val liveVectors = src.join(liveIds, Seq("neighbor_id"), "left_semi")
    publishIndexVersion(spark, baseDir) { dir =>
      buildIvfPqIndex(liveVectors, col("neighbor_id"), col("__retrain_vec"),
        cent, cb, dim, numSubspaces, dir)
    }
  }

  /** Build input for a retrain, derived from the COMPACTED index: the
    * distinct live ids come straight off the physically-live postings
    * segments (compaction already dropped tombstoned rows, so there is
    * NO mask anti-join here — membership is physical), semi-joined
    * into the vector store. The vector store is touched ONLY to fetch
    * the vectors for re-encoding against the new quantizers — it never
    * decides membership, so a rebuild can't resurrect a takedown or
    * re-admit rows the ingest dedup rejected. Exposed for the
    * SimilaritySpec plan pin (LeftSemi present, no tombstones scan).
    */
  private[graft] def liveVectorsFromCompactedIndex(
      spark: org.apache.spark.sql.SparkSession, liveDir: String,
      vectorStore: DataFrame, id: Column, vec: Column): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(liveDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(s"$liveDir/tombstones")),
      s"liveVectorsFromCompactedIndex: $liveDir still has a tombstone log — " +
        "compact first (membership must be physical, not masked)")
    val liveIds = spark.read.parquet(s"$liveDir/postings")
      .select(col("neighbor_id")).distinct()
    vectorStore.select(id.cast("long").as("neighbor_id"),
        vec.as("__retrain_vec"))
      .join(liveIds, Seq("neighbor_id"), "left_semi")
  }

  /** [[retrainIndexVersion]]'s cheaper production sibling: compact the
    * CURRENT version first (folding the tombstone log into the postings
    * physically), then build the next version FROM the index's own
    * compacted segments — live membership is read off the postings
    * (id-only, ~numSubspaces rows per vector, no mask anti-join), and
    * the raw vector store is re-read ONLY for the vectors being
    * re-encoded under the new quantizers. Same blue/green publish +
    * atomic CURRENT swap as [[retrainIndexVersion]]; what this path
    * buys at 100 TB is that the serve index left behind is ALSO
    * compacted (the retrain was going to pay a full postings read
    * anyway — folding the compaction into it makes the old version
    * cheap to keep serving until the swap) and the membership
    * derivation never re-runs ingest bookkeeping against the corpus.
    */
  def retrainFromCompactedIndex(spark: org.apache.spark.sql.SparkSession,
                                baseDir: String,
                                vectorStore: DataFrame, id: Column, vec: Column,
                                cent: DataFrame, cb: DataFrame,
                                dim: Int, numSubspaces: Int): String = {
    val liveDir = currentIndexDir(spark, baseDir)
    compactIvfPqIndex(spark, liveDir)
    val liveVectors = liveVectorsFromCompactedIndex(
      spark, liveDir, vectorStore, id, vec)
    publishIndexVersion(spark, baseDir) { dir =>
      buildIvfPqIndex(liveVectors, col("neighbor_id"), col("__retrain_vec"),
        cent, cb, dim, numSubspaces, dir)
    }
  }

  /** The SQ8 quantizer MODEL: per-dimension (dim, lo, hi) over the
    * build corpus — a dim-sized artifact (the bounded-model rule: 64
    * rows for the embeddings table, collected once per build, never
    * per row). This is the model p210's recall audit measures; here
    * it becomes a SERVING tier artifact the blue/green lifecycle
    * versions alongside the codes it defines (codes are meaningless
    * without the exact model that minted them — the same
    * codes-invalidate-on-retrain rule as [[publishIndexVersion]]
    * documents for PQ).
    */
  def sq8TrainModel(vectors: DataFrame, vec: Column): DataFrame =
    vectors.select(posexplode(vec).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v").cast("double")).as("lo"),
        max(col("v").cast("double")).as("hi"))

  /** The (n_rows, lo[], hi[]) of a vector frame in ONE aggregation pass
    * — [[sq8TrainModel]]'s per-dim min/max plus the build-size snapshot
    * folded into a single map-side HashAggregate over the raw rows,
    * instead of the explode (64× the rows through a shuffle) + a
    * separate count pass the store build originally paid. Values are
    * identical to [[sq8TrainModel]]'s: elementwise min/max of the
    * double-cast components.
    */
  private def sq8ModelOnePass(src: DataFrame,
                              vec: Column): (Long, Array[Double], Array[Double]) = {
    val mm = udaf(Aggregators.VecMinMax)
    val row = src.agg(count(lit(1)).as("n"),
      mm(vec.cast("array<double>")).as("mm")).collect()(0)
    val n = row.getLong(0)
    val m = row.getStruct(1)
    (n, m.getSeq[Double](0).toArray, m.getSeq[Double](1).toArray)
  }

  /** (lo, hi) literal arrays of a stored SQ8 model — the broadcast
    * form every encode/reconstruct projection closes over.
    */
  private def sq8ModelArrays(spark: org.apache.spark.sql.SparkSession,
                             dir: String): (Array[Double], Array[Double]) = {
    val st = spark.read.parquet(s"$dir/model").orderBy(col("dim"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    (st.map(_._1), st.map(_._2))
  }

  /** Quantize-then-reconstruct against a stored model — the double
    * each component serves as: `lo + floor((x−lo)·255/(hi−lo)+0.5)
    * ·(hi−lo)/255` (floor(+0.5), the engine-portable rounding p210
    * pins), a degenerate dimension (hi = lo) serving its constant.
    * Applied SYMMETRICALLY to stored codes and to queries, so the
    * ranking is a pure function of the model — what an SQ8 store
    * computes against.
    */
  private def sq8Dequant(vec: Column, lo: Array[Double],
                         hi: Array[Double]): Column =
    graft.functions.Sq8Codec.roundTrip(vec, lo, hi)

  /** Build a complete SQ8 store under `dir`: `model/` (the per-dim
    * quantizer) + `codes/` (one u8 code per component, PACKED into a
    * BinaryType cell — [[graft.functions.Sq8Codec.encode]] — so the
    * 4 bytes/dim → 1 byte/dim memory knob is physically real on disk
    * and in the scan, the FAISS SQ8 layout; the spec asserts the
    * bytes). Codes are minted against THIS directory's model — the
    * pairing the version directory exists to keep atomic.
    */
  def buildSq8Store(spark: org.apache.spark.sql.SparkSession,
                    vectors: DataFrame, id: Column, vec: Column,
                    dir: String): (Array[Double], Array[Double]) = {
    import spark.implicits._
    val src = vectors.select(id.cast("long").as("vec_id"), vec.as("__v"))
      .localCheckpoint(eager = false)
    // ONE corpus pass computes the model AND the size snapshot (the
    // explode-shuffle train + separate count the build used to pay are
    // folded into a single map-side aggregate); the dim-sized artifacts
    // then write from driver-local frames — no second corpus scan
    val (nBase, lo, hi) = sq8ModelOnePass(src, col("__v"))
    lo.indices.map(i => (i, lo(i), hi(i))).toDF("dim", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    src.select(col("vec_id"),
        sq8EncodePacked(col("__v"), lo, hi, clamp = false).as("codes"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    // the build-time size snapshot the drift monitor reads (the
    // ivfPqIndexDrift convention: one row, written once per build)
    Seq(nBase).toDF("n_base")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    (lo, hi)
  }

  /** The packed-code encode projection against a model's (lo, hi)
    * literal arrays. The BUILD never clamps (the model IS the build
    * corpus's min/max, so nothing is out of range); APPENDS clamp
    * out-of-range components to the boundary code (the FAISS
    * convention — the information loss is the monitored drift
    * signal, never a silent wraparound).
    */
  private def sq8EncodePacked(vec: Column, lo: Array[Double],
                              hi: Array[Double], clamp: Boolean): Column =
    graft.functions.Sq8Codec.encode(vec, lo, hi, clamp)

  /** Append NEW vectors to the CURRENT SQ8 store — the ingest path of
    * the serving tier: codes mint against the FROZEN model (codes are
    * only comparable under one model — the codes-invalidate-on-retrain
    * rule's flip side: an append NEVER retrains), written as new
    * parquet segments into the version's codes dir. Components
    * OUTSIDE the model's [lo, hi] range CLAMP to the boundary code;
    * the clamped-component count returns to the caller so ingest
    * policy can gate on it, and [[sq8StoreDrift]] turns the appended
    * fraction into the retrain-advised flag. An appended id colliding
    * with a stored one RAISES before any write (a double-served
    * vector is a ranking bug, not an append).
    */
  def appendToSq8Store(spark: org.apache.spark.sql.SparkSession,
                       baseDir: String,
                       newVectors: DataFrame, id: Column,
                       vec: Column): Long = {
    val dir = currentIndexDir(spark, baseDir)
    val (lo, hi) = sq8ModelArrays(spark, dir)
    val src = newVectors.select(id.cast("long").as("vec_id"), vec.as("__v"))
      .localCheckpoint(eager = false)
    val collisions = src.join(
      spark.read.parquet(s"$dir/codes").select(col("vec_id")),
      Seq("vec_id"), "left_semi").count()
    require(collisions == 0,
      s"appendToSq8Store: $collisions appended ids already in the store " +
        "— refusing a double-served vector")
    // clamp accounting rides the WRITE pass as an observed metric
    // (exactly-once CollectMetrics semantics) instead of a separate
    // aggregation scan over the appended vectors
    val obs = org.apache.spark.sql.Observation()
    src.observe(obs, coalesce(sum(
          graft.functions.Sq8Codec.outOfRange(col("__v"), lo, hi)), lit(0L))
        .as("n_clamped"))
      .select(col("vec_id"),
        sq8EncodePacked(col("__v"), lo, hi, clamp = true).as("codes"))
      .write.mode("append").parquet(s"$dir/codes")
    obs.get("n_clamped").asInstanceOf[Long]
  }

  /** The SQ8 retrain monitor — [[ivfPqIndexDrift]]'s sibling for the
    * scalar tier: codes now vs the build snapshot, the appended
    * fraction in micro-units, and `retrain_advised` once it reaches
    * `retrainFracMicro` (appends encode through a model that never
    * saw them — recall decays with the appended share, and the
    * answer is a blue/green retrain publish, never an in-place model
    * edit). One driver-sized row.
    */
  def sq8StoreDrift(spark: org.apache.spark.sql.SparkSession,
                    baseDir: String,
                    retrainFracMicro: Long = 200000L): DataFrame = {
    require(retrainFracMicro > 0,
      s"sq8StoreDrift: retrainFracMicro must be positive, got " +
        s"$retrainFracMicro")
    val dir = currentIndexDir(spark, baseDir)
    val nBase = spark.read.parquet(s"$dir/meta")
      .select(col("n_base")).collect()(0).getLong(0)
    require(nBase > 0, "sq8StoreDrift: empty build snapshot")
    spark.read.parquet(s"$dir/codes")
      .agg(count(lit(1)).as("n_now"))
      .select(lit(nBase).as("n_base"), col("n_now"),
        // integer micro-units (the p81 engine-portability rule; `/` on
        // longs would be double division)
        expr(s"(n_now - $nBase) * 1000000 div $nBase")
          .as("appended_frac_micro"))
      .withColumn("retrain_advised",
        col("appended_frac_micro") >= retrainFracMicro)
  }

  /** The RECONSTRUCTED store of an SQ8 version directory — (vec_id,
    * vec) doubles rebuilt from the packed codes: `lo + code·(hi−lo)
    * /255`, bit-equal to [[sq8Dequant]] of the raw vector because the
    * code is exactly the floor the dequant takes (spec-pinned).
    */
  def sq8Reconstructed(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    val (lo, hi) = sq8ModelArrays(spark, dir)
    sq8ReconstructedWith(spark, dir, lo, hi)
  }

  /** [[sq8Reconstructed]] against an already-collected model — the
    * serve paths read the dim-sized model ONCE and thread it here, so
    * one serve costs one model collect, not one per sub-frame.
    */
  private def sq8ReconstructedWith(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, lo: Array[Double],
                                   hi: Array[Double]): DataFrame =
    spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"),
        graft.functions.Sq8Codec.decode(col("codes"), lo, hi).as("vec"))

  /** IVF-SQ8 — the SQ8 codes composed UNDER coarse pruning (FAISS's
    * default production shape, `IVF…,SQ8`): the serve reconstructs
    * the CURRENT version's store from its packed codes, derives the
    * coarse quantizer from the reconstructed store (the same
    * stride-sample rule as [[ivfTopK]] — build and serve see one
    * geometry), and scans only the `nprobe` probed cells per query,
    * with queries passing through the stored model symmetrically.
    * At `nprobe` ≥ the centroid count every cell is probed and the
    * result EQUALS [[sq8TopKCurrent]] row for row (spec-pinned — the
    * p34 composition rule: pruning may only ever remove candidates,
    * never change a score). Scale shape: the store never re-reads
    * raw vectors (codes are 1/4 the bytes), the centroid set is
    * stride-bounded and broadcast, and per-query work is the probed
    * cells' rows — the IVF candidate cut on top of the SQ8 byte cut.
    */
  def ivfSq8TopKCurrent(spark: org.apache.spark.sql.SparkSession,
                        baseDir: String, queries: DataFrame,
                        queryId: Column, queryVec: Column, k: Int,
                        centroidStride: Int = 25,
                        nprobe: Int = 2): DataFrame = {
    val dir = currentIndexDir(spark, baseDir)
    val (lo, hi) = sq8ModelArrays(spark, dir)
    val store = sq8ReconstructedWith(spark, dir, lo, hi)
    val cent = store.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("centroid_id"), col("vec").as("centv"))
    ivfTopKWith(store, col("vec_id"), col("vec"),
      queries, queryId, sq8Dequant(queryVec, lo, hi), cent, k, nprobe)
  }

  /** Serve top-k from the CURRENT SQ8 store version: queries pass
    * through the SAME stored model (quantize-then-reconstruct — the
    * symmetric protocol, so ranking is a pure function of the model
    * artifact) and rank against the reconstructed store. One
    * broadcast of the query panel, the usual bounded TopK — the
    * brute-force scan an SQ8 tier affords at 1/4 the bytes of the
    * full-precision store.
    */
  def sq8TopKCurrent(spark: org.apache.spark.sql.SparkSession,
                     baseDir: String, queries: DataFrame,
                     queryId: Column, queryVec: Column, k: Int): DataFrame = {
    val dir = currentIndexDir(spark, baseDir)
    val (lo, hi) = sq8ModelArrays(spark, dir)
    bruteForceTopK(sq8ReconstructedWith(spark, dir, lo, hi),
      col("vec_id"), col("vec"),
      queries, queryId, sq8Dequant(queryVec, lo, hi), k)
  }

  /** The SCORED serve frame of the CURRENT SQ8 store for an ARRIVING
    * query frame — the streaming-twin half of [[sq8TopKCurrent]]
    * (which broadcasts a bounded panel instead): each query dequants
    * MAP-SIDE through the stored model (literal arrays riding the
    * projection — no join for the model) and scores against the
    * static reconstructed store, so with a streaming `queries` input
    * this is one stream-static join per micro-batch and the bounded
    * per-query TopK the caller ranks with is the ONLY state. Batch
    * and stream inputs share this definition (the chunkRows rule).
    * Scale note: the full-store scan per batch is the brute
    * baseline; a 100 TB store serves through [[ivfSq8TopKCurrent]]'s
    * coarse pruning instead.
    */
  def sq8ServeScored(spark: org.apache.spark.sql.SparkSession,
                     baseDir: String, queries: DataFrame,
                     queryId: Column, queryVec: Column): DataFrame = {
    val dir = currentIndexDir(spark, baseDir)
    val (lo, hi) = sq8ModelArrays(spark, dir)
    val store = sq8ReconstructedWith(spark, dir, lo, hi)
      .select(col("vec_id").as("neighbor_id"), col("vec").as("cv"))
    queries.select(queryId.as("query_id"),
        sq8Dequant(queryVec, lo, hi).as("qv"))
      .crossJoin(store)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
  }

  /** The IVF-SQ8 serve for ARRIVING queries — [[ivfSq8TopKCurrent]]'s
    * streaming-ready half, with the probe computation MAP-SIDE: the
    * stride-bounded centroid set rides the projection as literal
    * arrays (the bounded-model rule — the same artifact-sized collect
    * as the model's lo/hi), each query scores all centroids in one
    * codegen'd HOF pass and keeps its `nprobe` best (cos DESC,
    * centroid_id ASC — [[probeCentroids]]' exact ordering, so batch
    * and stream rank identically), and candidates arrive through ONE
    * stream-static EQUI-join on centroid_id against the store's
    * materialized coarse assignment. This is the scale-right
    * streaming serve: per micro-batch work is the probed cells' rows,
    * never the store (the brute twin's per-batch full scan), and the
    * only state is the caller's bounded per-query TopK.
    */
  def ivfSq8ServeScored(spark: org.apache.spark.sql.SparkSession,
                        baseDir: String, queries: DataFrame,
                        queryId: Column, queryVec: Column,
                        centroidStride: Int = 25,
                        nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"ivfSq8ServeScored: nprobe must be >= 1, got $nprobe")
    val dir = currentIndexDir(spark, baseDir)
    val (lo, hi) = sq8ModelArrays(spark, dir)
    val store = sq8ReconstructedWith(spark, dir, lo, hi)
    val cent = store.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("centroid_id"), col("vec").as("centv"))
    // static side: the store's coarse assignment, materialized once
    // per artifact generation (at 100 TB this is the index build's
    // output, not per-query work)
    val e = store.select(col("vec_id").as("neighbor_id"), col("vec").as("cv"))
    val assigned = e.join(coarseAssign(e, cent), Seq("neighbor_id"))
      .localCheckpoint(eager = false)
    // centroids as literals: stride-bounded (the bounded-model rule)
    val centRows = cent.orderBy(col("centroid_id")).collect()
    val ids = typedlit(centRows.map(_.getLong(0)).toSeq)
    val vecs = typedlit(centRows.map(_.getSeq[Double](1)).toSeq)
    val nCent = centRows.length
    require(nCent >= 1, "ivfSq8ServeScored: store has no centroids")
    val qv = sq8Dequant(queryVec, lo, hi)
    // per-query probe list, pure map-side: score every centroid, sort
    // by (cos, -id) asc, take the tail nprobe, re-reverse — cos DESC
    // with centroid_id ASC tiebreak, probeCentroids' exact order
    val scoredCents = transform(sequence(lit(1), lit(nCent)), i =>
      struct(round(VectorFunctions.cosine(element_at(vecs, i), qv), 6)
          .as("c"),
        (lit(0L) - element_at(ids, i)).as("nid")))
    val probes = transform(
      slice(reverse(array_sort(scoredCents)), 1, math.min(nprobe, nCent)),
      s => lit(0L) - s.getField("nid"))
    queries.select(queryId.as("query_id"), qv.as("qv"),
        explode(probes).as("centroid_id"))
      .join(assigned, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
  }

  /** [[publishSq8Store]] with the recall gate measured through the
    * IVF-SQ8 serve AT ITS OPERATING POINT (the stride/nprobe the tier
    * will actually run) instead of the brute quantized serve: a store
    * whose brute recall clears the floor but whose probed recall does
    * not is exactly the degraded artifact this gate exists to refuse
    * — coarse pruning loses MORE recall when quantization distorts
    * the geometry, and the gate must measure what readers will see.
    * Same blue/green contract: a below-floor build throws before
    * `.complete` lands, CURRENT keeps serving.
    */
  def publishIvfSq8Store(spark: org.apache.spark.sql.SparkSession,
                         baseDir: String,
                         vectors: DataFrame, id: Column, vec: Column,
                         panel: DataFrame, panelId: Column, panelVec: Column,
                         k: Int, recallFloorMicro: Long,
                         centroidStride: Int = 25,
                         nprobe: Int = 2): String = {
    require(recallFloorMicro >= 0 && recallFloorMicro <= 1000000L,
      s"publishIvfSq8Store: recallFloorMicro must be in [0, 1e6], got " +
        s"$recallFloorMicro")
    publishIndexVersion(spark, baseDir) { dir =>
      val (lo, hi) = buildSq8Store(spark, vectors, id, vec, dir)
      val truth = collectPairs(
        bruteForceTopK(vectors, id, vec, panel, panelId, panelVec, k))
      val store = sq8ReconstructedWith(spark, dir, lo, hi)
      val cent = store.filter(col("vec_id") % centroidStride === 0)
        .select(col("vec_id").as("centroid_id"), col("vec").as("centv"))
      val served = collectPairs(
        ivfTopKWith(store, col("vec_id"), col("vec"),
          panel, panelId, sq8Dequant(panelVec, lo, hi), cent, k, nprobe))
      val nHits = served.count(truth.contains)
      val nTruth = truth.size.toLong
      require(nTruth > 0, "publishIvfSq8Store: empty truth panel")
      val recall = nHits * 1000000L / nTruth
      if (recall < recallFloorMicro) throw new IllegalStateException(
        s"publishIvfSq8Store: probed recall@$k ${recall}µ below the " +
          s"${recallFloorMicro}µ floor at nprobe=$nprobe — refusing to " +
          "publish a quantizer degraded at its operating point (CURRENT " +
          "keeps serving the previous version)")
    }
  }

  /** Recall@k of a directory's quantized serve against full-precision
    * truth over a bounded query panel, in integer micro-units —
    * p210's audit run against a STORE ARTIFACT instead of an inline
    * projection (the store round-trip is the point: this is the
    * number the publish gate reads).
    */
  def sq8RecallMicro(spark: org.apache.spark.sql.SparkSession, dir: String,
                     vectors: DataFrame, id: Column, vec: Column,
                     panel: DataFrame, panelId: Column, panelVec: Column,
                     k: Int): Long = {
    val (lo, hi) = sq8ModelArrays(spark, dir)
    sq8RecallMicroWith(spark, dir, lo, hi, vectors, id, vec,
      panel, panelId, panelVec, k)
  }

  /** A ranked top-k frame's (query_id, neighbor_id) pairs, collected —
    * bounded at panel × k rows by contract (the bounded-model rule), so
    * the recall comparison is ONE collect per side and a driver-side
    * set intersection instead of a checkpoint + join + two count jobs.
    */
  private def collectPairs(topk: DataFrame): Set[(Long, Long)] =
    topk.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def sq8RecallMicroWith(spark: org.apache.spark.sql.SparkSession,
                                 dir: String,
                                 lo: Array[Double], hi: Array[Double],
                                 vectors: DataFrame, id: Column, vec: Column,
                                 panel: DataFrame, panelId: Column,
                                 panelVec: Column, k: Int): Long = {
    val truth = collectPairs(
      bruteForceTopK(vectors, id, vec, panel, panelId, panelVec, k))
    val served = collectPairs(
      bruteForceTopK(sq8ReconstructedWith(spark, dir, lo, hi),
        col("vec_id"), col("vec"),
        panel, panelId, sq8Dequant(panelVec, lo, hi), k))
    val nHits = served.count(truth.contains)
    val nTruth = truth.size.toLong
    require(nTruth > 0, "sq8RecallMicro: empty truth panel")
    nHits * 1000000L / nTruth
  }

  /** Blue/green SQ8 publish WITH the recall gate carried through: the
    * next version builds its model + codes, then must prove its
    * quantized serve still reaches `recallFloorMicro` against the
    * full-precision truth on the query panel BEFORE the `.complete`
    * marker lands — a below-floor build throws, leaving reservation
    * debris [[gcIndexVersions]] sweeps, and CURRENT keeps serving the
    * old version (the refusal IS the serve-continuity guarantee: a
    * quantizer degraded by a corrupted or skewed build can never
    * reach readers). Returns the published version name.
    */
  def publishSq8Store(spark: org.apache.spark.sql.SparkSession,
                      baseDir: String,
                      vectors: DataFrame, id: Column, vec: Column,
                      panel: DataFrame, panelId: Column, panelVec: Column,
                      k: Int, recallFloorMicro: Long): String = {
    require(recallFloorMicro >= 0 && recallFloorMicro <= 1000000L,
      s"publishSq8Store: recallFloorMicro must be in [0, 1e6], got " +
        s"$recallFloorMicro")
    publishIndexVersion(spark, baseDir) { dir =>
      val (lo, hi) = buildSq8Store(spark, vectors, id, vec, dir)
      val recall = sq8RecallMicroWith(spark, dir, lo, hi, vectors, id, vec,
        panel, panelId, panelVec, k)
      if (recall < recallFloorMicro) throw new IllegalStateException(
        s"publishSq8Store: recall@$k ${recall}µ below the " +
          s"${recallFloorMicro}µ floor — refusing to publish a degraded " +
          "quantizer (CURRENT keeps serving the previous version)")
    }
  }

  /** Version garbage collection for a [[publishIndexVersion]] base dir:
    * drop failed-build reservation debris — a version carrying the
    * `.reserved` marker but never the `.complete` one (the build threw
    * after reserving its number) — plus superseded complete versions
    * beyond the `keep` most recent, keeping the CURRENT version ALWAYS
    * (GC can never delete what serving resolves, even when an older
    * version was re-pointed current for a rollback). A directory with
    * NEITHER marker predates the marker protocol and is trusted as
    * complete (deleting a pre-protocol rollback target on a marker
    * technicality would be data loss); it ages out through the `keep`
    * window like any complete version. Returns the dropped version
    * names. Refuses a baseDir with no CURRENT marker — "GC an
    * unpublished dir" is a caller bug, not a cleanup. Run GC only
    * while no build is in flight: an ACTIVE build's reservation is
    * indistinguishable from a crashed one's.
    */
  def gcIndexVersions(spark: org.apache.spark.sql.SparkSession,
                      baseDir: String, keep: Int = 1): Seq[String] = {
    require(keep >= 0, s"gcIndexVersions: keep must be >= 0, got $keep")
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = currentIndexDir(spark, baseDir).split('/').last
    val versions = fs.listStatus(base).map(_.getPath.getName)
      .filter(_.matches("v[0-9]+")).sortBy(-_.drop(1).toInt)
    val (debris, complete) = versions.filterNot(_ == current)
      .partition(v => fs.exists(new Path(s"$baseDir/$v/.reserved")) &&
        !fs.exists(new Path(s"$baseDir/$v/.complete")))
    val drop = debris ++ complete.drop(keep)
    drop.foreach(v => fs.delete(new Path(s"$baseDir/$v"), true))
    drop.toSeq
  }

  /** Resolve the directory of the CURRENT published index version. */
  def currentIndexDir(spark: org.apache.spark.sql.SparkSession,
                      baseDir: String): String = {
    import org.apache.hadoop.fs.Path
    val cur = new Path(s"$baseDir/CURRENT")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cur), s"no CURRENT marker under $baseDir — nothing published")
    val in = fs.open(cur)
    val version = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    s"$baseDir/$version"
  }

  /** The retrain monitor for an appended index: per coarse list, code
    * rows at build time (`n_base`, the frozen [[buildIvfPqIndex]]
    * snapshot) vs now, the appended fraction, and a `retrain_advised`
    * flag once that fraction reaches `retrainFrac`. Lists the base
    * build never saw (possible only after a centroid artifact swap)
    * show n_base = 0 — fully appended. Driver-sized output (one row
    * per centroid, the broadcast-artifact contract).
    */
  def ivfPqIndexDrift(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                      retrainFrac: Double = 0.5): DataFrame = {
    val now = spark.read.parquet(s"$indexDir/postings")
      .groupBy(col("centroid_id").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("n_now"))
    val base = spark.read.parquet(s"$indexDir/list_stats")
    now.join(base, Seq("centroid_id"), "left")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("appended_frac",
        round((col("n_now") - col("n_base")).cast("double") / col("n_now"), 4))
      .withColumn("retrain_advised", col("appended_frac") >= retrainFrac)
      .select(col("centroid_id"), col("n_base"), col("n_now"),
        col("appended_frac"), col("retrain_advised"))
  }

  /** Serve ANN queries FROM the materialized index — no corpus access:
    * probes come from the broadcast centroid artifact, the ADC table
    * from the broadcast codebook artifact, and the postings scan is
    * pruned to the probed lists BEFORE it reads (the collected probe-id
    * set is bounded by queries × nprobe — the query side is broadcast-
    * sized by contract, same as every ANN tier). Output and semantics
    * are identical to [[ivfPqTopK]] built from the same quantizers
    * (pinned in SimilaritySpec and by the shared p34 oracle).
    */
  def searchIvfPqIndex(indexDir: String, queries: DataFrame,
                       queryId: Column, queryVec: Column,
                       k: Int, dim: Int, numSubspaces: Int,
                       nprobe: Int): DataFrame = {
    require(dim % numSubspaces == 0,
      s"dim ($dim) must divide evenly into numSubspaces ($numSubspaces)")
    val spark = queries.sparkSession
    val cent = spark.read.parquet(s"$indexDir/centroids")
    val cb = spark.read.parquet(s"$indexDir/codebooks")
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    // the probe table is consumed twice (the collected list-id filter
    // below and the broadcast per-query join in the plan) and is
    // bounded at queries × nprobe rows by contract — collect it ONCE
    // and re-materialize as a driver-local DataFrame, so the probe-
    // scoring subplan runs exactly once and NO cached block outlives
    // the call (a persist() here leaked one block per serve call for
    // the session lifetime)
    val probedPlan = probeCentroids(q, cent, nprobe)
      .select(col("query_id"), col("centroid_id").cast("long").as("centroid_id"))
    val probeRows = probedPlan.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probedPlan.schema)
    val probedIds = probeRows.map(_.getLong(1)).distinct.sorted
    // tombstoned ids are masked on the pruned scan (deletions surface
    // immediately; compaction later makes the mask free)
    val postings = graft.sources.Sinks.maskTombstones(
      spark.read.parquet(s"$indexDir/postings")
        .withColumn("centroid_id", col("centroid_id").cast("long"))
        .filter(col("centroid_id").isin(probedIds: _*)), // partition pruning
      "neighbor_id", indexDir)
    val qt = subvecs(queries, queryId, queryVec, "query_id", numSubspaces,
        dim / numSubspaces)
      .join(broadcast(cb), Seq("j"))
      .withColumn("qd2", graft.functions.L2SqMicro(col("sv"), col("cw")))
      .select(col("query_id"), col("j"), col("code_id"), col("qd2"))
    val scored = postings
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qt), Seq("query_id", "j", "code_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd2")).as("approx"))
      .withColumn("cos", (lit(0L) - col("approx")).cast("double"))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cos")), k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(0.0) - col("cos")).cast("long").as("approx_d2_u6"), col("rank"))
  }

  /** PQ shortlist + exact rerank — the standard two-stage ANN recall
    * fix: [[pqTopK]] produces a `k · refine` candidate shortlist per
    * query from codes alone (cheap at 100 TB), then the exact cosine
    * re-scores ONLY those candidates and keeps the true top-k.
    *
    * Scale shape: the shortlist (queries × k·refine id pairs) is
    * broadcast against the corpus scan, so exact vectors are read for
    * candidates only and nothing large shuffles; final rank is the same
    * two-phase top-k. With `refine` large enough to cover the corpus
    * this degenerates to exact brute force (pinned in SimilaritySpec).
    * Output matches [[bruteForceTopK]]: (query_id, neighbor_id, cos,
    * rank).
    */
  def pqTopKRerank(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                   queries: DataFrame, queryId: Column, queryVec: Column,
                   k: Int, dim: Int, numSubspaces: Int = 4, codeStride: Int = 25,
                   refine: Int = 4): DataFrame = {
    val shortlist = pqTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
        k * refine, dim, numSubspaces, codeStride)
      .select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val scored = c.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cos")), k)
  }

  /** LSH-bucketed top-k: identical output shape, but candidates are only
    * corpus vectors sharing the query's sign bucket.
    */
  def lshTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, bucketBits: Int = 4): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"),
      VectorFunctions.signBucket(corpusVec, bucketBits).as("bucket"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"),
      VectorFunctions.signBucket(queryVec, bucketBits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
    rankTopK(scored, k)
  }
}
