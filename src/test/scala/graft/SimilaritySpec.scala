package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions
import graft.similarity.SimilaritySearch

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def embeddings = Tables.embeddings(spark, TestSpark.sf)

  /** Mean over vectors of the best cosine to any centroid — the spherical
    * k-means objective.
    */
  private def objective(cents: DataFrame): Double =
    embeddings.select(col("vec_id"), col("embedding").as("v"))
      .join(broadcast(cents))
      .withColumn("cos", VectorFunctions.cosine(col("v"), col("centv")))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("best"))
      .agg(avg(col("best"))).as[Double].head()

  test("ivfTopKFiltered: pre-filter ranks matching vectors only; predicate reaches the scan") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val filtered = SimilaritySearch.ivfTopKFiltered(e, col("vec_id"), col("embedding"),
      keep = col("label") < 3,
      e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
      k = 5, centroidStride = 25, nprobe = 2)
    // every returned neighbor satisfies the predicate
    val labels = e.select(col("vec_id").as("neighbor_id"), col("label"))
    assert(filtered.join(labels, "neighbor_id")
      .filter(col("label") >= 3).count() == 0)
    // PRE-filter semantics: ranks are over matching vectors, so a query
    // still gets k results where enough matches exist in its probed
    // cells — post-filtering the unfiltered top-k would return fewer
    // (matching rows beyond the unfiltered top-5 must appear here)
    val unfilteredTop = SimilaritySearch.ivfTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
        k = 5, centroidStride = 25, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"))
    val beyond = filtered.select(col("query_id"), col("neighbor_id"))
      .exceptAll(unfilteredTop).count()
    assert(beyond > 0, "pre-filter should surface matches the unfiltered top-k cuts")
    // the predicate lands in the candidate scan (parquet pushdown)
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(scans.exists(_.contains("LessThan(label,3)")),
      s"label predicate not pushed to a scan: $scans")
  }

  test("kmeansCentroids is deterministic and improves the cosine objective") {
    val init = embeddings.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").cast("array<double>").as("centv"))
    val trained = SimilaritySearch.kmeansCentroids(
      embeddings, col("vec_id"), col("embedding"), k = 8, iters = 3)
    assert(trained.count() <= 8 && trained.count() > 0)
    assert(trained.select(size(col("centv"))).distinct().as[Int].head() == 64)
    // determinism
    val again = SimilaritySearch.kmeansCentroids(
      embeddings, col("vec_id"), col("embedding"), k = 8, iters = 3)
    assert(trained.exceptAll(again).count() == 0)
    // Lloyd on unit-normalized means: objective must not get worse
    assert(objective(trained) >= objective(init) - 1e-9,
      s"objective regressed: ${objective(init)} -> ${objective(trained)}")
  }

  test("pqTopK: exact on codebook members, sane approximation elsewhere") {
    val q = embeddings.filter(col("vec_id") < 5)
    val pq = SimilaritySearch.pqTopK(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, dim = 64)
    val rows = pq.collect()
    assert(rows.length == 5 * 5)
    // contiguous 1..k ranks per query, distances non-decreasing in rank
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to 5L))
      val ds = sorted.map(_.getAs[Long]("approx_d2_u6")).toSeq
      assert(ds == ds.sorted)
    }
    // a codebook vector encodes to itself: its ADC self-distance from a
    // duplicate query vector is ~0, so vec 0's duplicate must rank first.
    // vec_id 0 is a codeword (0 % 25 == 0); query with its exact vector
    // under a different id.
    val dup = embeddings.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val self = SimilaritySearch.pqTopK(embeddings, col("vec_id"), col("embedding"),
      dup, col("vec_id"), col("embedding"), k = 1, dim = 64).collect()
    assert(self.length == 1)
    assert(self.head.getAs[Long]("neighbor_id") == 0L)
    assert(self.head.getAs[Long]("approx_d2_u6") <= 1L)
    // determinism (micro-unit integer arithmetic → bit-stable)
    assert(pq.exceptAll(SimilaritySearch.pqTopK(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 5, dim = 64))
      .count() == 0)
  }

  test("pqTopKRerank with full-corpus refine equals exact brute force") {
    val q = embeddings.filter(col("vec_id") < 5)
    // refine large enough that the shortlist covers the whole corpus →
    // the rerank must reproduce brute force bit-for-bit
    val rr = SimilaritySearch.pqTopKRerank(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, dim = 64, refine = 1000)
    val bf = SimilaritySearch.bruteForceTopK(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3)
    assert(rr.exceptAll(bf).count() == 0 && bf.exceptAll(rr).count() == 0)
    // at practical refine the exact rerank's scores are still bounded by
    // brute force rank-for-rank
    val pr = SimilaritySearch.pqTopKRerank(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, dim = 64, refine = 4)
      .select(col("query_id"), col("rank"), col("cos").as("pq_cos"))
    val j = pr.join(bf.select(col("query_id"), col("rank"), col("cos").as("bf_cos")),
      Seq("query_id", "rank")).collect()
    assert(j.nonEmpty)
    assert(j.forall(r => r.getAs[Double]("pq_cos") <= r.getAs[Double]("bf_cos") + 1e-9))
  }

  test("approximate tiers reach measured recall@10 against brute force") {
    val q = embeddings.filter(col("vec_id") < 30)
    def ids(df: DataFrame): Set[(Long, Long)] = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = ids(SimilaritySearch.bruteForceTopK(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 10))
    def recall(df: DataFrame): Double = ids(df).intersect(bf).size.toDouble / bf.size
    val rLsh = recall(SimilaritySearch.lshTopK(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 10, bucketBits = 4))
    val rIvf = recall(SimilaritySearch.ivfTopK(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 10, nprobe = 2))
    val rPq = recall(SimilaritySearch.pqTopKRerank(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 10, dim = 64,
      refine = 4))
    info(f"recall@10  lsh=$rLsh%.3f ivf=$rIvf%.3f pq+rerank=$rPq%.3f")
    // The synthetic embeddings are uniform random — the WORST case for
    // ANN (no cluster structure to exploit), so these floors are low by
    // design; the ladder lsh < ivf < pq+rerank is the contract.
    assert(rLsh >= 0.10, s"lsh recall $rLsh")
    assert(rIvf >= 0.25, s"ivf recall $rIvf")
    assert(rPq >= 0.28, s"pq recall $rPq")
    assert(rPq >= rLsh, s"rerank tier should dominate plain LSH: $rPq < $rLsh")
  }

  test("randomProjection preserves pairwise cosine structure and feeds ANN") {
    import graft.functions.{RandomProjection, VectorFunctions}
    val proj = embeddings.select(col("vec_id"),
      RandomProjection(col("embedding"), 16, 42L).as("pv"))
    // shape + determinism
    assert(proj.select(size(col("pv"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(16))
    assert(proj.exceptAll(embeddings.select(col("vec_id"),
      RandomProjection(col("embedding"), 16, 42L).as("pv"))).count() == 0)
    // JL property: projected cosines track original cosines (loose bound
    // appropriate for m=16) over sampled pairs
    val orig = embeddings.select(col("vec_id"), col("embedding"))
    val pairs = orig.toDF("ida", "va").join(orig.toDF("idb", "vb"),
        col("ida") + 1 === col("idb"))
      .join(proj.toDF("ida", "pa"), "ida")
      .join(proj.toDF("idb", "pb"), "idb")
      .select(VectorFunctions.cosine(col("va"), col("vb")).as("c0"),
        VectorFunctions.cosine(col("pa"), col("pb")).as("c1"))
      .limit(50).collect()
    val meanAbsErr = pairs.map(r => math.abs(r.getDouble(0) - r.getDouble(1)))
      .sum / pairs.length
    assert(meanAbsErr < 0.35, f"JL cosine drift $meanAbsErr%.3f")
    // projected vectors run through the ANN stack unchanged
    val topk = SimilaritySearch.bruteForceTopK(proj, col("vec_id"), col("pv"),
      proj.filter(col("vec_id") < 3), col("vec_id"), col("pv"), k = 2)
    assert(topk.count() > 0)
    // null element -> null projection (malformed-embedding contract)
    val bad = Seq((1L, Seq[java.lang.Double](1.0, null))).toDF("id", "v")
    assert(bad.select(RandomProjection(col("v"), 4, 1L)).head().isNullAt(0))
  }

  test("ivfTopKTrained returns contiguous ranks bounded by brute force") {
    val q = embeddings.filter(col("vec_id") < 5)
    val ivf = SimilaritySearch.ivfTopKTrained(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, nCentroids = 8, iters = 2)
      .select(col("query_id"), col("rank"), col("cos").as("ivf_cos"))
    val bf = SimilaritySearch.bruteForceTopK(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3)
      .select(col("query_id"), col("rank"), col("cos").as("bf_cos"))
    val j = ivf.join(bf, Seq("query_id", "rank")).collect()
    assert(j.nonEmpty)
    assert(j.forall(r => r.getAs[Double]("ivf_cos") <= r.getAs[Double]("bf_cos") + 1e-9))
    val ranks = ivf.groupBy("query_id").agg(collect_list("rank").as("rs"))
      .select(col("rs")).as[Seq[Long]].collect()
    assert(ranks.forall(rs => rs.sorted == (1L to rs.length)))
  }

  test("trained PQ codebooks dominate the stride sample: quantization error and recall") {
    val q = embeddings.filter(col("vec_id") < 30)
    def ids(df: DataFrame): Set[(Long, Long)] = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = ids(SimilaritySearch.bruteForceTopK(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 10))
    def recall(df: DataFrame): Double = ids(df).intersect(bf).size.toDouble / bf.size
    // nCodes matches the stride sample's codebook size (stride 25 over
    // the sf0.001 corpus) so the comparison is at EQUAL index size
    val nCodes = embeddings.filter(col("vec_id") % 25 === 0).count().toInt
    val rSampled = recall(SimilaritySearch.pqTopK(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 10, dim = 64))
    val rTrained = recall(SimilaritySearch.pqTopKTrained(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 10, dim = 64,
      nCodes = nCodes, iters = 2))
    info(f"recall@10  pq-sampled=$rSampled%.3f pq-trained=$rTrained%.3f (codebook $nCodes)")
    assert(rTrained >= rSampled,
      f"trained codebooks must not lose recall: $rTrained%.3f < $rSampled%.3f")
    // the training objective itself: mean quantization error (micro-unit
    // min L2² to the nearest codeword, per subvector) must not be worse
    // than the stride sample's at equal codebook size
    def subv(df: DataFrame, idName: String): DataFrame = {
      val pieces = (0 until 4).map(j => struct(lit(j).as("j"),
        transform(slice(col("embedding"), j * 16 + 1, 16), x => x.cast("double")).as("sv")))
      df.select(col("vec_id").as(idName), explode(array(pieces: _*)).as("s"))
        .select(col(idName), col("s.j").as("j"), col("s.sv").as("sv"))
    }
    val subs = subv(embeddings, "vid")
    def qerr(cb: DataFrame): Double = subs.join(broadcast(cb), Seq("j"))
      .withColumn("d2", graft.functions.L2SqMicro(col("sv"), col("cw")))
      .groupBy(col("vid"), col("j")).agg(min(col("d2")).as("m"))
      .agg(avg(col("m"))).as[Double].head()
    val eSampled = qerr(subv(embeddings.filter(col("vec_id") % 25 === 0), "code_id")
      .withColumnRenamed("sv", "cw"))
    val eTrained = qerr(SimilaritySearch.pqTrainCodebooks(embeddings, col("vec_id"),
      col("embedding"), dim = 64, numSubspaces = 4, nCodes = nCodes, iters = 2))
    info(f"mean quantization error  sampled=$eSampled%.0f trained=$eTrained%.0f (u6)")
    assert(eTrained <= eSampled,
      f"k-means codebooks must reduce quantization error: $eTrained%.0f > $eSampled%.0f")
    // determinism: identical training runs produce identical codebooks
    val cb1 = SimilaritySearch.pqTrainCodebooks(embeddings, col("vec_id"),
      col("embedding"), dim = 64, numSubspaces = 4, nCodes = 8, iters = 2)
    val cb2 = SimilaritySearch.pqTrainCodebooks(embeddings, col("vec_id"),
      col("embedding"), dim = 64, numSubspaces = 4, nCodes = 8, iters = 2)
    assert(cb1.exceptAll(cb2).count() == 0 && cb2.exceptAll(cb1).count() == 0)
    assert(cb1.select(size(col("cw"))).distinct().as[Int].head() == 16)
  }

  test("ivfPqTopKTrained returns contiguous ranks and matches trained PQ when fully probed") {
    val q = embeddings.filter(col("vec_id") < 5)
    val full = SimilaritySearch.ivfPqTopKTrained(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 5, dim = 64,
      nCodes = 16, nCentroids = 8, iters = 2, nprobe = 1000000)
    val pq = SimilaritySearch.pqTopKTrained(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, dim = 64, nCodes = 16, iters = 2)
    assert(full.exceptAll(pq).count() == 0 && pq.exceptAll(full).count() == 0)
    val pruned = SimilaritySearch.ivfPqTopKTrained(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 5, dim = 64,
      nCodes = 16, nCentroids = 8, iters = 2, nprobe = 2)
    val ranks = pruned.groupBy("query_id").agg(collect_list("rank").as("rs"))
      .select(col("rs")).as[Seq[Long]].collect()
    assert(ranks.nonEmpty && ranks.forall(rs => rs.sorted == (1L to rs.length)))
  }

  test("materialized IVF-PQ index serves identically to the inline build") {
    val q = embeddings.filter(col("vec_id") < 5)
    val dir = graft.sources.Sinks.tempArtifactDir("idx_spec")
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    SimilaritySearch.buildIvfPqIndex(embeddings, col("vec_id"), col("embedding"),
      cent, cb, dim = 64, numSubspaces = 4, indexDir = dir)
    val served = SimilaritySearch.searchIvfPqIndex(dir, q,
      col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
    val inline = SimilaritySearch.ivfPqTopK(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, dim = 64, nprobe = 2)
    assert(served.exceptAll(inline).count() == 0 &&
      inline.exceptAll(served).count() == 0)
    // the postings artifact is laid out segment-first (the ingest
    // unit), then one directory per coarse list, so the probed-list
    // filter prunes at the storage layer at either depth
    val segs = new java.io.File(s"$dir/postings").listFiles
      .filter(_.isDirectory).map(_.getName)
    assert(segs.toSeq == Seq("segment=base"))
    val lists = new java.io.File(s"$dir/postings/segment=base").listFiles
      .filter(_.isDirectory).map(_.getName)
    assert(lists.nonEmpty && lists.forall(_.startsWith("centroid_id=")))
  }

  test("appended index equals full rebuild under frozen quantizers, drift monitor tracks it") {
    val q = embeddings.filter(col("vec_id") < 5)
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    // base = 80% of the corpus, appended = the held-out 20%
    val incDir = graft.sources.Sinks.tempArtifactDir("idx_inc")
    SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 5 =!= 4),
      col("vec_id"), col("embedding"), cent, cb,
      dim = 64, numSubspaces = 4, indexDir = incDir)
    // before the append: zero drift everywhere
    val drift0 = SimilaritySearch.ivfPqIndexDrift(spark, incDir).collect()
    assert(drift0.nonEmpty && drift0.forall(r => r.getDouble(3) == 0.0 && !r.getBoolean(4)))
    SimilaritySearch.appendToIvfPqIndex(embeddings.filter(col("vec_id") % 5 === 4),
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, indexDir = incDir,
      segment = "day1")
    // a RETRIED append (allowReplace) with the same segment label
    // overwrites its own directory — nothing duplicates; WITHOUT the
    // retry declaration the same label collides loudly instead of
    // silently erasing the earlier delta
    intercept[IllegalArgumentException] {
      SimilaritySearch.appendToIvfPqIndex(embeddings.filter(col("vec_id") % 5 === 4),
        col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4,
        indexDir = incDir, segment = "day1")
    }
    SimilaritySearch.appendToIvfPqIndex(embeddings.filter(col("vec_id") % 5 === 4),
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, indexDir = incDir,
      segment = "day1", allowReplace = true)
    // served base+appended == served full rebuild with the same quantizers
    val fullDir = graft.sources.Sinks.tempArtifactDir("idx_full")
    SimilaritySearch.buildIvfPqIndex(embeddings, col("vec_id"), col("embedding"),
      cent, cb, dim = 64, numSubspaces = 4, indexDir = fullDir)
    def serve(dir: String) = SimilaritySearch.searchIvfPqIndex(dir, q,
      col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
    assert(serve(incDir).exceptAll(serve(fullDir)).count() == 0 &&
      serve(fullDir).exceptAll(serve(incDir)).count() == 0)
    // drift guard: lists grew, the ~20% append is visible, totals are
    // exact, and a strict threshold flips the retrain flag
    val drift = SimilaritySearch.ivfPqIndexDrift(spark, incDir).collect()
    assert(drift.forall(r => r.getLong(2) >= r.getLong(1)))
    val nBase = drift.map(_.getLong(1)).sum
    val nNow = drift.map(_.getLong(2)).sum
    val frac = (nNow - nBase).toDouble / nNow
    assert(frac > 0.1 && frac < 0.3, s"appended fraction $frac not ~0.2")
    val strict = SimilaritySearch.ivfPqIndexDrift(spark, incDir, retrainFrac = 0.05)
      .collect()
    assert(strict.exists(_.getBoolean(4)), "strict threshold must advise retrain")
  }

  test("appends are slice-independent: one delta segment == the delta split across segments") {
    // the property the STREAMING append path (q75) rests on: encoding
    // is per-row, so landing a delta as one segment or as several
    // micro-batch segments serves identically
    val q = embeddings.filter(col("vec_id") < 5)
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    val delta = embeddings.filter(col("vec_id") % 5 === 4)
    def buildBase(dir: String): Unit =
      SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 5 =!= 4),
        col("vec_id"), col("embedding"), cent, cb,
        dim = 64, numSubspaces = 4, indexDir = dir)
    val oneDir = graft.sources.Sinks.tempArtifactDir("idx_one")
    buildBase(oneDir)
    SimilaritySearch.appendToIvfPqIndex(delta, col("vec_id"), col("embedding"),
      dim = 64, numSubspaces = 4, indexDir = oneDir, segment = "b0")
    val splitDir = graft.sources.Sinks.tempArtifactDir("idx_split")
    buildBase(splitDir)
    SimilaritySearch.appendToIvfPqIndex(delta.filter(col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"),
      dim = 64, numSubspaces = 4, indexDir = splitDir, segment = "b0")
    SimilaritySearch.appendToIvfPqIndex(delta.filter(col("vec_id") % 2 === 1),
      col("vec_id"), col("embedding"),
      dim = 64, numSubspaces = 4, indexDir = splitDir, segment = "b1")
    def serve(dir: String) = SimilaritySearch.searchIvfPqIndex(dir, q,
      col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
    assert(serve(oneDir).exceptAll(serve(splitDir)).count() == 0 &&
      serve(splitDir).exceptAll(serve(oneDir)).count() == 0)
    // a 'base' or path-unsafe segment label is rejected up front
    intercept[IllegalArgumentException] {
      SimilaritySearch.appendToIvfPqIndex(delta, col("vec_id"), col("embedding"),
        dim = 64, numSubspaces = 4, indexDir = splitDir, segment = "base")
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.appendToIvfPqIndex(delta, col("vec_id"), col("embedding"),
        dim = 64, numSubspaces = 4, indexDir = splitDir, segment = "a/b")
    }
  }

  test("recallAtK counts hits per query and keeps zero-hit queries") {
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L), (2L, 21L, 2L))
      .toDF("query_id", "neighbor_id", "rank")
    val approx = Seq((1L, 10L, 1L), (1L, 99L, 2L), (2L, 98L, 1L), (2L, 97L, 2L))
      .toDF("query_id", "neighbor_id", "rank")
    val out = SimilaritySearch.recallAtK(exact, approx, k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) == ((1L, 2L, 0.5)))
    assert(out(2L) == ((0L, 2L, 0.0))) // zero-hit query must still appear
    // identity: an approximate tier equal to ground truth scores 1.0
    val ident = SimilaritySearch.recallAtK(exact, exact, k = 2).collect()
    assert(ident.length == 2 && ident.forall(_.getDouble(3) == 1.0))
    // rank filter: rows past k on either side are invisible to the score
    val deep = approx.union(Seq((2L, 20L, 3L)).toDF("query_id", "neighbor_id", "rank"))
    val out2 = SimilaritySearch.recallAtK(exact, deep, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2(2L) == 0L, "a rank-3 hit must not count toward recall@2")
  }

  test("index versions publish with an atomic CURRENT pointer; rollback is repointing") {
    val base = graft.sources.Sinks.tempArtifactDir("idx_ver")
    def writeMarker(dir: String, tag: String): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/tag"),
        tag.getBytes("UTF-8"))
    }
    // nothing published yet → loud
    intercept[IllegalArgumentException] {
      SimilaritySearch.currentIndexDir(spark, base)
    }
    val v1 = SimilaritySearch.publishIndexVersion(spark, base)(writeMarker(_, "one"))
    assert(v1 == "v1" && SimilaritySearch.currentIndexDir(spark, base).endsWith("/v1"))
    val v2 = SimilaritySearch.publishIndexVersion(spark, base)(writeMarker(_, "two"))
    assert(v2 == "v2" && SimilaritySearch.currentIndexDir(spark, base).endsWith("/v2"))
    // the superseded version is still on disk — rollback is repointing,
    // and a later publish numbers PAST it (no reuse of v2)
    assert(new java.io.File(s"$base/v1/tag").exists)
    val v3 = SimilaritySearch.publishIndexVersion(spark, base)(writeMarker(_, "three"))
    assert(v3 == "v3")
    // a build that THROWS publishes nothing: CURRENT still points at v3
    intercept[RuntimeException] {
      SimilaritySearch.publishIndexVersion(spark, base)(_ =>
        throw new RuntimeException("retrain failed"))
    }
    assert(SimilaritySearch.currentIndexDir(spark, base).endsWith("/v3"))
    // the failed build left v4 as reservation DEBRIS (number consumed,
    // no .complete marker); the next publish numbers past it
    assert(new java.io.File(s"$base/v4").exists &&
      !new java.io.File(s"$base/v4/.complete").exists)
    val v5 = SimilaritySearch.publishIndexVersion(spark, base)(writeMarker(_, "five"))
    assert(v5 == "v5")
    // GC drops debris first, then complete others beyond `keep`; never
    // touches CURRENT
    assert(SimilaritySearch.gcIndexVersions(spark, base, keep = 1)
      .sorted == Seq("v1", "v2", "v4"))
    assert(new java.io.File(s"$base/v5/tag").exists &&
      new java.io.File(s"$base/v3/tag").exists &&
      !new java.io.File(s"$base/v4").exists &&
      !new java.io.File(s"$base/v2").exists &&
      !new java.io.File(s"$base/v1").exists)
    // rollback API: repoint CURRENT to v3, then gc keep=0 — v3 survives
    // BECAUSE it is current; only v5 drops. Repointing at debris refuses.
    SimilaritySearch.repointIndexVersion(spark, base, "v3")
    intercept[IllegalArgumentException] {
      SimilaritySearch.repointIndexVersion(spark, base, "v99")
    }
    assert(SimilaritySearch.gcIndexVersions(spark, base, keep = 0) == Seq("v5"))
    assert(new java.io.File(s"$base/v3/tag").exists &&
      SimilaritySearch.currentIndexDir(spark, base).endsWith("/v3"))
    // LEGACY version dirs (published before the marker protocol: no
    // .reserved, no .complete) are trusted as complete — GC must not
    // sweep them as debris, and rollback must accept them; only a
    // reserved-but-never-completed dir is debris
    writeMarker(s"$base/v6", "legacy")
    new java.io.File(s"$base/v7").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/v7/.reserved"),
      Array.empty[Byte])
    assert(SimilaritySearch.gcIndexVersions(spark, base, keep = 1) == Seq("v7"))
    assert(new java.io.File(s"$base/v6/tag").exists)
    SimilaritySearch.repointIndexVersion(spark, base, "v6")
    assert(SimilaritySearch.currentIndexDir(spark, base).endsWith("/v6"))
    SimilaritySearch.repointIndexVersion(spark, base, "v3")
  }

  test("retrainIndexVersion rebuilds from the index's live membership: appends fold in, tombstones stay dead") {
    val q = embeddings.filter(col("vec_id") < 5)
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    val base = graft.sources.Sinks.tempArtifactDir("idx_retrain")
    // the lifecycle that fires a retrain: v1 on 80%, the held-out 20%
    // appended under frozen quantizers, a takedown tombstoned
    SimilaritySearch.publishIndexVersion(spark, base) { dir =>
      SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 5 =!= 4),
        col("vec_id"), col("embedding"), cent, cb,
        dim = 64, numSubspaces = 4, indexDir = dir)
    }
    val v1Dir = SimilaritySearch.currentIndexDir(spark, base)
    SimilaritySearch.appendToIvfPqIndex(embeddings.filter(col("vec_id") % 5 === 4),
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4,
      indexDir = v1Dir, segment = "day1")
    SimilaritySearch.tombstoneIvfPqIndex(embeddings.filter(col("vec_id") % 7 === 3),
      col("vec_id"), v1Dir, segment = "t0")
    val v = SimilaritySearch.retrainIndexVersion(spark, base, embeddings,
      col("vec_id"), col("embedding"), cent, cb, dim = 64, numSubspaces = 4)
    assert(v == "v2" && SimilaritySearch.currentIndexDir(spark, base).endsWith("/v2"))
    // serving CURRENT == inline build on exactly the live membership
    // (appended ids present, tombstoned ids NOT resurrected — the
    // rebuilt-"from the corpus" deletion bug this API exists to prevent)
    val survivorsDir = graft.sources.Sinks.tempArtifactDir("idx_retrain_oracle")
    SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 7 =!= 3),
      col("vec_id"), col("embedding"), cent, cb,
      dim = 64, numSubspaces = 4, indexDir = survivorsDir)
    def serve(dir: String) = SimilaritySearch.searchIvfPqIndex(dir, q,
      col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
    val served = serve(SimilaritySearch.currentIndexDir(spark, base))
    val oracle = serve(survivorsDir)
    assert(served.exceptAll(oracle).count() == 0 &&
      oracle.exceptAll(served).count() == 0)
    // the new version is a COMPLETE fresh build: one base segment, no
    // tombstone log carried over, and a fresh drift baseline (zero
    // appended fraction everywhere)
    val v2Dir = SimilaritySearch.currentIndexDir(spark, base)
    val segs = new java.io.File(s"$v2Dir/postings").listFiles
      .filter(_.isDirectory).map(_.getName)
    assert(segs.toSeq == Seq("segment=base"))
    assert(!new java.io.File(s"$v2Dir/tombstones").exists)
    val drift = SimilaritySearch.ivfPqIndexDrift(spark, v2Dir).collect()
    assert(drift.nonEmpty && drift.forall(r => r.getDouble(3) == 0.0))
  }

  test("retrainFromCompactedIndex: membership from compacted segments; corpus read only under the semi-join") {
    val q = embeddings.filter(col("vec_id") < 5)
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    val base = graft.sources.Sinks.tempArtifactDir("idx_cretrain")
    SimilaritySearch.publishIndexVersion(spark, base) { dir =>
      SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 5 =!= 4),
        col("vec_id"), col("embedding"), cent, cb,
        dim = 64, numSubspaces = 4, indexDir = dir)
    }
    val v1Dir = SimilaritySearch.currentIndexDir(spark, base)
    SimilaritySearch.appendToIvfPqIndex(embeddings.filter(col("vec_id") % 5 === 4),
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4,
      indexDir = v1Dir, segment = "day1")
    SimilaritySearch.tombstoneIvfPqIndex(embeddings.filter(col("vec_id") % 7 === 3),
      col("vec_id"), v1Dir, segment = "t0")
    val v = SimilaritySearch.retrainFromCompactedIndex(spark, base, embeddings,
      col("vec_id"), col("embedding"), cent, cb, dim = 64, numSubspaces = 4)
    assert(v == "v2" && SimilaritySearch.currentIndexDir(spark, base).endsWith("/v2"))
    // the superseded version was compacted IN PLACE before the rebuild:
    // tombstone log gone, takedown ids physically absent from postings
    assert(!new java.io.File(s"$v1Dir/tombstones").exists)
    assert(spark.read.parquet(s"$v1Dir/postings")
      .filter(col("neighbor_id") % 7 === 3).count() == 0)
    // serving CURRENT == inline build on exactly the survivors (appends
    // folded in, takedowns stay dead without consulting any ledger)
    val survivorsDir = graft.sources.Sinks.tempArtifactDir("idx_cretrain_oracle")
    SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 7 =!= 3),
      col("vec_id"), col("embedding"), cent, cb,
      dim = 64, numSubspaces = 4, indexDir = survivorsDir)
    def serve(dir: String) = SimilaritySearch.searchIvfPqIndex(dir, q,
      col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
    val served = serve(SimilaritySearch.currentIndexDir(spark, base))
    val oracle = serve(survivorsDir)
    assert(served.exceptAll(oracle).count() == 0 &&
      oracle.exceptAll(served).count() == 0)
    // PLAN PIN — the build input: membership comes from the compacted
    // postings alone (no tombstones relation anywhere in the plan) and
    // the vector store appears only under the LeftSemi re-encode join
    val lv = SimilaritySearch.liveVectorsFromCompactedIndex(spark, v1Dir,
      embeddings, col("vec_id"), col("embedding"))
    val plan = lv.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected LeftSemi membership join:\n$plan")
    val scanPaths = lv.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString).mkString(",")
    }
    assert(scanPaths.exists(_.contains("postings")),
      s"expected postings membership scan, got: $scanPaths")
    assert(!scanPaths.exists(_.toLowerCase.contains("tombstone")),
      s"compacted membership must not consult a tombstone log: $scanPaths")
    assert(lv.select(col("neighbor_id")).distinct().count() ==
      embeddings.filter(col("vec_id") % 7 =!= 3).count())
    // and a still-masked (uncompacted) index is refused loudly —
    // physical membership is the contract, not an optimization
    val v2Dir = SimilaritySearch.currentIndexDir(spark, base)
    SimilaritySearch.tombstoneIvfPqIndex(embeddings.filter(col("vec_id") === 1),
      col("vec_id"), v2Dir, segment = "t1")
    val err = intercept[IllegalArgumentException] {
      SimilaritySearch.liveVectorsFromCompactedIndex(spark, v2Dir,
        embeddings, col("vec_id"), col("embedding"))
    }
    assert(err.getMessage.contains("compact first"))
  }

  test("compaction preserves the drift baseline through a takedown cleanup") {
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    val dir = graft.sources.Sinks.tempArtifactDir("idx_dc")
    SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 5 =!= 4),
      col("vec_id"), col("embedding"), cent, cb,
      dim = 64, numSubspaces = 4, indexDir = dir)
    SimilaritySearch.appendToIvfPqIndex(embeddings.filter(col("vec_id") % 5 === 4),
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, indexDir = dir,
      segment = "day1")
    SimilaritySearch.tombstoneIvfPqIndex(embeddings.filter(col("vec_id") % 7 === 3),
      col("vec_id"), dir, segment = "t0")
    SimilaritySearch.compactIvfPqIndex(spark, dir)
    // the appended fraction must SURVIVE the cleanup (n_base was
    // adjusted by dead base rows only) — a deletion must not disarm
    // the retrain tripwire
    val drift = SimilaritySearch.ivfPqIndexDrift(spark, dir).collect()
    val nBase = drift.map(_.getLong(1)).sum
    val nNow = drift.map(_.getLong(2)).sum
    val liveAll = embeddings.filter(col("vec_id") % 7 =!= 3)
    val expApp = liveAll.filter(col("vec_id") % 5 === 4).count().toDouble
    val expAll = liveAll.count().toDouble
    assert(math.abs((nNow - nBase).toDouble / nNow - expApp / expAll) < 1e-9,
      s"appended fraction lost by compaction: base=$nBase now=$nNow")
    // compaction kept base/appended PROVENANCE as two physical segments
    val segNames = new java.io.File(s"$dir/postings").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(segNames == Set("segment=base", "segment=merged"), s"got $segNames")
    // SECOND deletion cycle, targeting formerly-APPENDED rows: only the
    // surviving provenance makes the baseline adjust by ZERO here — a
    // single merged segment would misattribute these deaths to the
    // build baseline and corrupt the fraction
    val dead2 = embeddings.filter(col("vec_id") % 7 =!= 3)
      .filter(col("vec_id") % 5 === 4).filter(col("vec_id") % 3 === 0)
    assert(dead2.count() > 0)
    SimilaritySearch.tombstoneIvfPqIndex(dead2, col("vec_id"), dir, segment = "t1")
    SimilaritySearch.compactIvfPqIndex(spark, dir)
    val drift2 = SimilaritySearch.ivfPqIndexDrift(spark, dir).collect()
    val nBase2 = drift2.map(_.getLong(1)).sum
    val nNow2 = drift2.map(_.getLong(2)).sum
    val live2 = liveAll.filter(!(col("vec_id") % 5 === 4 && col("vec_id") % 3 === 0))
    val expApp2 = live2.filter(col("vec_id") % 5 === 4).count().toDouble
    val expAll2 = live2.count().toDouble
    assert(nBase2 == nBase, "appended-row deaths must not touch the build baseline")
    assert(math.abs((nNow2 - nBase2).toDouble / nNow2 - expApp2 / expAll2) < 1e-9,
      s"fraction corrupted by second cycle: base=$nBase2 now=$nNow2")
  }

  test("tombstoned ids are masked at serve time and dropped physically by compaction") {
    val q = embeddings.filter(col("vec_id") < 5)
    val dir = graft.sources.Sinks.tempArtifactDir("idx_del")
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    SimilaritySearch.buildIvfPqIndex(embeddings, col("vec_id"), col("embedding"),
      cent, cb, dim = 64, numSubspaces = 4, indexDir = dir)
    def serve() = SimilaritySearch.searchIvfPqIndex(dir, q,
      col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
    val deleted = embeddings.filter(col("vec_id") % 7 === 3)
    SimilaritySearch.tombstoneIvfPqIndex(deleted, col("vec_id"), dir, segment = "t0")
    val masked = serve().collect()
    val deadIds = deleted.select("vec_id").as[Long].collect().toSet
    assert(masked.nonEmpty && masked.forall(r => !deadIds.contains(r.getLong(1))),
      "no tombstoned id may surface as a neighbor")
    // physical compaction: identical serve results, tombstone log gone.
    // This index never saw an append, so survivors are all base rows:
    // exactly one segment remains and drift stays 0.0 (n_base adjusted
    // by the dead base rows — the baseline tracks survivors, it is not
    // blindly reset)
    SimilaritySearch.compactIvfPqIndex(spark, dir)
    val compacted = serve().collect()
    assert(masked.toSeq == compacted.toSeq,
      "masking and physical drop must serve identically")
    assert(!new java.io.File(s"$dir/tombstones").exists)
    assert(!new java.io.File(s"$dir.publish-tmp").exists)
    assert(new java.io.File(s"$dir/postings").listFiles
      .filter(_.isDirectory).map(_.getName).toSeq == Seq("segment=base"))
    val drift = SimilaritySearch.ivfPqIndexDrift(spark, dir).collect()
    assert(drift.nonEmpty && drift.forall(r => r.getDouble(3) == 0.0))
  }

  test("an interrupted IVF-PQ compaction publish (postings moved in, list_stats still staged, tombstones present) is finished by the next maintenance call") {
    import org.apache.commons.io.FileUtils
    val cent = embeddings.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cb = SimilaritySearch.strideCodebook(embeddings,
      col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, codeStride = 25)
    // two identical indexes: `done` compacts uninterrupted, `cut` is
    // left where a compaction dies after moving its postings in and
    // before moving its stats (manifest landed, tombstones present)
    val Seq(done, cut) = Seq("idx_pub_done", "idx_pub_cut").map { name =>
      val dir = graft.sources.Sinks.tempArtifactDir(name)
      SimilaritySearch.buildIvfPqIndex(embeddings.filter(col("vec_id") % 5 =!= 4),
        col("vec_id"), col("embedding"), cent, cb,
        dim = 64, numSubspaces = 4, indexDir = dir)
      SimilaritySearch.appendToIvfPqIndex(embeddings.filter(col("vec_id") % 5 === 4),
        col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4,
        indexDir = dir, segment = "day1")
      SimilaritySearch.tombstoneIvfPqIndex(embeddings.filter(col("vec_id") % 7 === 3),
        col("vec_id"), dir, segment = "t0")
      dir
    }
    SimilaritySearch.compactIvfPqIndex(spark, done)
    FileUtils.deleteDirectory(new java.io.File(s"$cut/postings"))
    FileUtils.copyDirectory(new java.io.File(s"$done/postings"),
      new java.io.File(s"$cut/postings"))
    FileUtils.copyDirectory(new java.io.File(s"$done/list_stats"),
      new java.io.File(s"$cut.publish-tmp/list_stats"))
    java.nio.file.Files.write(java.nio.file.Paths.get(cut, "_coalesce_manifest"),
      "postings:postings\nlist_stats:list_stats\n-:tombstones".getBytes("UTF-8"))
    // the next maintenance call on each index: a second takedown
    Seq(done, cut).foreach(d => SimilaritySearch.tombstoneIvfPqIndex(
      embeddings.filter(col("vec_id") % 11 === 2), col("vec_id"), d, segment = "t1"))
    def drift(d: String) = SimilaritySearch.ivfPqIndexDrift(spark, d)
      .orderBy(col("centroid_id")).collect().toSeq
    assert(drift(cut) == drift(done))
    val q = embeddings.filter(col("vec_id") < 5)
    def serve(d: String) = SimilaritySearch.searchIvfPqIndex(d, q,
      col("vec_id"), col("embedding"), k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(serve(done).nonEmpty && serve(cut) == serve(done))
    assert(!new java.io.File(s"$cut/_coalesce_manifest").exists)
    assert(!new java.io.File(s"$cut.publish-tmp").exists)
    assert(new java.io.File(s"$cut/tombstones").list()
      .filterNot(_.startsWith(".")).toSeq == Seq("segment=t1"))
  }

  test("ivfPqTopK degenerates to pqTopK when every list is probed") {
    val q = embeddings.filter(col("vec_id") < 5)
    // nprobe ≥ centroid count → coarse pruning admits the whole corpus,
    // so the composed index must equal plain PQ exactly
    val full = SimilaritySearch.ivfPqTopK(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, dim = 64, nprobe = 1000000)
    val pq = SimilaritySearch.pqTopK(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, dim = 64)
    assert(full.exceptAll(pq).count() == 0 && pq.exceptAll(full).count() == 0)
    // the pruned form returns contiguous ranks and a subset of some list
    val pruned = SimilaritySearch.ivfPqTopK(embeddings, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 5, dim = 64, nprobe = 2)
    val ranks = pruned.groupBy("query_id").agg(collect_list("rank").as("rs"))
      .select(col("rs")).as[Seq[Long]].collect()
    assert(ranks.nonEmpty && ranks.forall(rs => rs.sorted == (1L to rs.length)))
  }

  test("covarianceNumerators matches a local brute-force recompute exactly") {
    import graft.similarity.EmbeddingStats
    val out = EmbeddingStats.covarianceNumerators(
        embeddings, col("embedding"), dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // independent local recompute from the raw vectors
    val vecs = embeddings.select(col("embedding")).as[Seq[Float]].collect()
      .map(_.map(x => math.round(x.toDouble * 1000000L)).toArray)
    val n = vecs.length.toLong
    val d = 64
    val sums = Array.ofDim[Long](d)
    vecs.foreach(v => (0 until d).foreach(i => sums(i) += v(i)))
    var checked = 0
    for (i <- 0 until d; j <- i until d) {
      var sxy = 0L
      vecs.foreach(v => sxy += v(i) * v(j))
      val expected = n * sxy - sums(i) * sums(j)
      assert(out((i + 1).toLong, (j + 1).toLong) == expected,
        s"cov($i,$j) mismatch")
      checked += 1
    }
    assert(checked == d * (d + 1) / 2 && out.size == checked)
  }

  test("dominantComponent is a converged, deterministic, sign-canonical eigenvector") {
    import graft.similarity.EmbeddingStats
    val covDf = EmbeddingStats.covarianceNumerators(
      embeddings, col("embedding"), dim = 64)
    val cov = covDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (v, lambda) = EmbeddingStats.dominantComponent(cov, dim = 64)
    // unit norm
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    // eigen residual: ‖Cv − λv‖ / λ small
    val m = Array.ofDim[Double](64, 64)
    cov.foreach { case (i, j, c) =>
      m(i.toInt - 1)(j.toInt - 1) = c.toDouble; m(j.toInt - 1)(i.toInt - 1) = c.toDouble
    }
    val cv = Array.tabulate(64)(i => (0 until 64).map(j => m(i)(j) * v(j)).sum)
    val resid = math.sqrt(cv.zip(v).map { case (a, b) => (a - lambda * b) * (a - lambda * b) }.sum) / lambda
    assert(resid < 1e-6, s"eigen residual $resid")
    // dominant: Rayleigh bound λ1 ≥ every diagonal entry
    val maxDiag = cov.collect { case (i, j, c) if i == j => c.toDouble }.max
    assert(lambda >= maxDiag - 1e-6 * lambda)
    // deterministic across runs
    val (v2, _) = EmbeddingStats.dominantComponent(cov, dim = 64)
    assert(v.sameElements(v2))
    // sign canon: first nonzero coordinate positive
    assert(v.find(math.abs(_) > 1e-12).forall(_ > 0))
  }

  test("project: map-side dot product captures at least any single axis's variance") {
    import graft.similarity.EmbeddingStats
    val cov = EmbeddingStats.covarianceNumerators(
        embeddings, col("embedding"), dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (comp, _) = EmbeddingStats.dominantComponent(cov, dim = 64)
    val coords = embeddings.select(
        EmbeddingStats.project(col("embedding"), comp).as("c"))
      .as[Double].collect()
    val n = coords.length.toDouble
    val mean = coords.sum / n
    val varProj = coords.map(x => (x - mean) * (x - mean)).sum / n
    // per-axis variance from the exact integer numerators: cov_num/(n²·scale²)
    val nL = n
    val maxAxisVar = cov.collect { case (i, j, c) if i == j =>
      c.toDouble / (nL * nL * 1e12)
    }.max
    assert(varProj >= maxAxisVar * 0.999,
      s"projection variance $varProj < best axis $maxAxisVar")
  }

  test("hardNegatives: exclusion before ranking, skip band, brute-force relation") {
    val q = embeddings.filter(col("vec_id") < 5)
    val bf = SimilaritySearch.bruteForceTopK(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 5)
    val none = spark.emptyDataFrame
      .sparkSession.createDataFrame(Seq.empty[(Long, Long)])
      .toDF("query_id", "neighbor_id")
    // no positives, no skip -> exactly brute force
    val hn0 = SimilaritySearch.hardNegatives(embeddings, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"),
      none, col("query_id"), col("neighbor_id"), k = 5)
    assert(hn0.exceptAll(bf).count() == 0 && bf.exceptAll(hn0).count() == 0)
    // positives = brute top-1 -> the miner returns brute ranks 2..4
    // re-based to 1..3: exclusion runs BEFORE ranking, so the positive
    // never consumes a slot
    val pos = bf.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
    val hn = SimilaritySearch.hardNegatives(embeddings, col("vec_id"),
        col("embedding"), q, col("vec_id"), col("embedding"),
        pos, col("query_id"), col("neighbor_id"), k = 3)
      .select(col("query_id"), col("neighbor_id"), (col("rank") + 1).as("rank"))
    val expect = bf.filter(col("rank").between(2, 4))
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    assert(hn.exceptAll(expect).count() == 0 && expect.exceptAll(hn).count() == 0)
    // skip=1 drops the nearest SURVIVOR: brute ranks 3..4 re-based
    val hs = SimilaritySearch.hardNegatives(embeddings, col("vec_id"),
        col("embedding"), q, col("vec_id"), col("embedding"),
        pos, col("query_id"), col("neighbor_id"), k = 2, skip = 1)
      .select(col("query_id"), col("neighbor_id"), (col("rank") + 2).as("rank"))
    val expect2 = bf.filter(col("rank").between(3, 4))
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    assert(hs.exceptAll(expect2).count() == 0 && expect2.exceptAll(hs).count() == 0)
    intercept[IllegalArgumentException] {
      SimilaritySearch.hardNegatives(embeddings, col("vec_id"),
        col("embedding"), q, col("vec_id"), col("embedding"),
        pos, col("query_id"), col("neighbor_id"), k = 0)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.hardNegatives(embeddings, col("vec_id"),
        col("embedding"), q, col("vec_id"), col("embedding"),
        pos, col("query_id"), col("neighbor_id"), k = 1, skip = -1)
    }
  }

  test("SQ8 store: reconstruction is bit-equal to direct dequant; recall floor holds at the fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8").toString
    try {
      val e = embeddings.filter(col("vec_id") < 120).localCheckpoint()
      SimilaritySearch.buildSq8Store(spark, e, col("vec_id"),
        col("embedding"), dir)
      // store round-trip (codes → lo + code·(hi−lo)/255) must equal
      // the inline quantize-reconstruct of the raw vectors: the code
      // IS the floor the dequant takes, so the doubles are identical
      val recon = SimilaritySearch.sq8Reconstructed(spark, dir)
      val model = spark.read.parquet(s"$dir/model").orderBy(col("dim"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2)))
      assert(model.length == 64)
      val lo = typedlit(model.map(_._1).toSeq)
      val hi = typedlit(model.map(_._2).toSeq)
      val direct = e.select(col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), (x, i) => {
          val l = element_at(lo, i + 1)
          val h = element_at(hi, i + 1)
          when(h === l, l).otherwise(
            l + floor((x.cast("double") - l) * lit(255.0) / (h - l)
              + lit(0.5)) * (h - l) / lit(255.0))
        }).as("vec"))
      assert(recon.exceptAll(direct).isEmpty &&
        direct.exceptAll(recon).isEmpty)
      // the fixture's quantized serve clears the lifecycle floor
      val recall = SimilaritySearch.sq8RecallMicro(spark, dir,
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 5)
      assert(recall >= 500000L, s"recall@5 $recall below the 500000 floor")
      // BYTES ON DISK: the codes column is BinaryType and each cell is
      // exactly dims bytes — the 4 -> 1 bytes/dim knob is physical,
      // not an int array wearing a quantized name
      val codes = spark.read.parquet(s"$dir/codes")
      assert(codes.schema("codes").dataType ==
        org.apache.spark.sql.types.BinaryType, codes.schema.treeString)
      val lens = codes.select(length(col("codes"))).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(lens == Seq(64), s"packed code lengths: $lens")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF-SQ8: full-nprobe equals the brute SQ8 serve; pruned serve only removes candidates") {
    val base = java.nio.file.Files.createTempDirectory("graft_ivfsq8").toString
    try {
      val e = embeddings.filter(col("vec_id") < 120).localCheckpoint()
      val panel = e.filter(col("vec_id") < 10).localCheckpoint()
      SimilaritySearch.publishSq8Store(spark, base,
        e, col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 5,
        recallFloorMicro = 500000L)
      // stride 25 over 120 ids -> 5 centroids; nprobe 5 probes all of
      // them, so pruning removes nothing and the ranking must equal
      // the brute quantized serve row for row (the p34 rule)
      val full = SimilaritySearch.ivfSq8TopKCurrent(spark, base, panel,
        col("vec_id"), col("embedding"), k = 5, centroidStride = 25,
        nprobe = 5)
      val brute = SimilaritySearch.sq8TopKCurrent(spark, base, panel,
        col("vec_id"), col("embedding"), k = 5)
      assert(full.exceptAll(brute).isEmpty && brute.exceptAll(full).isEmpty)
      // a pruned serve still fills k rows per query, and pruning can
      // only ever REMOVE candidates: every (query, neighbor, cos) it
      // serves must appear in the all-candidates quantized scoring
      // (k = store size, so nothing is cut by rank)
      val pruned = SimilaritySearch.ivfSq8TopKCurrent(spark, base, panel,
        col("vec_id"), col("embedding"), k = 5, centroidStride = 25,
        nprobe = 1)
      assert(pruned.count() == 10 * 5)
      val allScores = SimilaritySearch.ivfSq8TopKCurrent(spark, base,
          panel, col("vec_id"), col("embedding"), k = 120,
          centroidStride = 25, nprobe = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"))
      assert(pruned.select(col("query_id"), col("neighbor_id"), col("cos"))
        .exceptAll(allScores).isEmpty)
      // the map-side-probe serve (the streaming twin's shared half)
      // ranks IDENTICALLY to the batch probe at the same operating
      // point — batch-identical by shared definition, pinned
      val viaServe = SimilaritySearch.rankTopK(
        SimilaritySearch.ivfSq8ServeScored(spark, base, panel,
          col("vec_id"), col("embedding"), centroidStride = 25,
          nprobe = 2), 5)
      val viaBatch = SimilaritySearch.ivfSq8TopKCurrent(spark, base, panel,
        col("vec_id"), col("embedding"), k = 5, centroidStride = 25,
        nprobe = 2)
      assert(viaServe.exceptAll(viaBatch).isEmpty &&
        viaBatch.exceptAll(viaServe).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("Sq8Codec: a NaN or ±Inf model refuses at build time; an unclamped NaN refuses at a degenerate dim too") {
    import graft.functions.Sq8Codec
    val ok = Array(0.0, 2.0)
    // every refusal runs quietly, and the one a failed query makes waits
    // for the listener bus inside the quiet window: Spark's observation
    // listener logs the failed query's trace asynchronously
    def refused[E <: AnyRef](body: => Any)(implicit ct: scala.reflect.ClassTag[E]): E =
      TestSpark.quietly {
        try intercept[E](body)
        finally org.apache.spark.graft.BusBridge.drain(spark.sparkContext)
      }
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { bad =>
      val e1 = refused[IllegalArgumentException](
        Sq8Codec.roundTrip(col("v"), Array(0.0, bad), Array(10.0, 2.0)))
      assert(e1.getMessage.contains("model lo has"), e1.getMessage)
      val e2 = refused[IllegalArgumentException](
        Sq8Codec.encode(col("v"), ok, Array(bad, 2.0), clamp = false))
      assert(e2.getMessage.contains("model hi has"), e2.getMessage)
    }
    // dim 1 is degenerate (lo == hi): a finite component mints code 0,
    // a NaN one refuses like it does at any ranged dim
    val hi = Array(10.0, 2.0)
    def codes(v: Array[Float]): Array[Byte] =
      Seq(Tuple1(v)).toDF("v")
        .select(Sq8Codec.encode(col("v"), ok, hi, clamp = false))
        .as[Array[Byte]].head()
    assert(codes(Array(10f, 2f)).toSeq == Seq(255.toByte, 0.toByte))
    val e3 = refused[Exception](codes(Array(10f, Float.NaN)))
    assert(Iterator.iterate[Throwable](e3)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("NaN component at dim 1"))),
      e3.toString)
  }

  test("appendToSq8Store: frozen-model clamp counted, id collisions refuse, drift flags at the threshold") {
    val base = java.nio.file.Files.createTempDirectory("graft_sq8_app").toString
    try {
      // model from a [0, 10]-ish corpus; appends stray outside it
      val build = (0L until 20L).map(i =>
        (i, Array.tabulate(4)(j => ((i + j) % 11).toFloat)))
        .toDF("vec_id", "embedding")
      val panel = build.filter(col("vec_id") < 5)
      SimilaritySearch.publishSq8Store(spark, base,
        build, col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 3,
        recallFloorMicro = 500000L)
      // two appended vectors: one fully in range (0 clamps), one with
      // exactly two out-of-range components (-5 and 99)
      val appended = Seq(
        (100L, Array(1f, 2f, 3f, 4f)),
        (101L, Array(-5f, 2f, 99f, 4f)))
        .toDF("vec_id", "embedding")
      val nClamped = SimilaritySearch.appendToSq8Store(spark, base,
        appended, col("vec_id"), col("embedding"))
      assert(nClamped == 2L, s"clamped count $nClamped")
      // the clamped vector serves at the BOUNDARY reconstruction: its
      // stored code row exists and reconstructs inside [lo, hi]
      val dir = SimilaritySearch.currentIndexDir(spark, base)
      val rec = SimilaritySearch.sq8Reconstructed(spark, dir)
        .filter(col("vec_id") === 101L)
        .select(col("vec")).as[Seq[Double]].collect().head
      assert(rec(0) == 0.0 && rec(2) == 10.0, rec.toString)
      // drift: 2 appended over 20 base = 100000µ — flags at a 100000µ
      // threshold, not below it
      val drift = SimilaritySearch.sq8StoreDrift(spark, base,
        retrainFracMicro = 100000L).collect().head
      assert(drift.getLong(0) == 20L && drift.getLong(1) == 22L)
      assert(drift.getLong(2) == 100000L && drift.getBoolean(3))
      assert(!SimilaritySearch.sq8StoreDrift(spark, base,
        retrainFracMicro = 100001L).collect().head.getBoolean(3))
      // a colliding id refuses BEFORE any write
      val e = intercept[IllegalArgumentException](
        SimilaritySearch.appendToSq8Store(spark, base,
          Seq((100L, Array(1f, 1f, 1f, 1f))).toDF("vec_id", "embedding"),
          col("vec_id"), col("embedding")))
      assert(e.getMessage.contains("double-served"), e.getMessage)
      assert(SimilaritySearch.sq8Reconstructed(spark, dir).count() == 22L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("publishIvfSq8Store: the recall gate measures the PROBED serve; a store degraded at its operating point refuses") {
    val base = java.nio.file.Files.createTempDirectory("graft_ivfsq8_pub").toString
    try {
      val good = (0L until 40L).map(i =>
        (i, Array.tabulate(4)(j => (math.sin(i * 3 + j) * 10).toFloat)))
        .toDF("vec_id", "embedding")
      val panel = good.filter(col("vec_id") < 8)
      // generous floor at full probing: publishes
      val v1 = SimilaritySearch.publishIvfSq8Store(spark, base,
        good, col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 3,
        recallFloorMicro = 500000L, centroidStride = 10, nprobe = 4)
      assert(v1 == "v1")
      // a poisoned corpus that collapses quantized geometry must
      // refuse at a perfect-recall floor measured through the probes
      val poisoned = ((0L until 40L).map(i =>
        (i, Array.tabulate(4)(j => (math.sin(i * 3 + j) * 0.001).toFloat)))
        :+ ((99L, Array.tabulate(4)(j => 50000f * (j + 1)))))
        .toDF("vec_id", "embedding")
      val e = intercept[IllegalStateException] {
        SimilaritySearch.publishIvfSq8Store(spark, base,
          poisoned, col("vec_id"), col("embedding"),
          poisoned.filter(col("vec_id") < 8), col("vec_id"),
          col("embedding"), k = 3, recallFloorMicro = 1000000L,
          centroidStride = 10, nprobe = 1)
      }
      assert(e.getMessage.contains("probed recall"), e.getMessage)
      assert(SimilaritySearch.currentIndexDir(spark, base).endsWith("v1"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("publishSq8Store: a below-floor quantizer never reaches CURRENT; the old version keeps serving") {
    val base = java.nio.file.Files.createTempDirectory("graft_sq8_bg").toString
    try {
      // well-conditioned corpus: v1 publishes
      val good = (0L until 40L).map(i =>
        (i, Array.tabulate(4)(j => (math.sin(i * 3 + j) * 10).toFloat)))
        .toDF("vec_id", "embedding")
      val panel = good.filter(col("vec_id") < 8)
      val v1 = SimilaritySearch.publishSq8Store(spark, base,
        good, col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 3,
        recallFloorMicro = 500000L)
      assert(v1 == "v1")
      val served1 = SimilaritySearch.sq8TopKCurrent(spark, base, panel,
        col("vec_id"), col("embedding"), k = 3).count()
      assert(served1 == 8 * 3)
      // adversarial corpus: one huge outlier stretches every dim's
      // range so the near-cluster collapses to one code point —
      // quantized ranking degenerates to id order, recall < 1.0 —
      // and a floor of 1.0 must REFUSE the publish
      val poisoned = ((0L until 40L).map(i =>
        (i, Array.tabulate(4)(j => (math.sin(i * 3 + j) * 0.001).toFloat)))
        :+ ((99L, Array.tabulate(4)(j => 50000f * (j + 1)))))
        .toDF("vec_id", "embedding")
      val e = intercept[IllegalStateException] {
        SimilaritySearch.publishSq8Store(spark, base,
          poisoned, col("vec_id"), col("embedding"),
          poisoned.filter(col("vec_id") < 8), col("vec_id"),
          col("embedding"), k = 3, recallFloorMicro = 1000000L)
      }
      assert(e.getMessage.contains("below the"))
      // CURRENT still points at v1 and still serves; the failed
      // build's debris is reservation-only and GC sweeps it
      assert(SimilaritySearch.currentIndexDir(spark, base).endsWith("v1"))
      assert(SimilaritySearch.sq8TopKCurrent(spark, base, panel,
        col("vec_id"), col("embedding"), k = 3).count() == 8 * 3)
      val dropped = SimilaritySearch.gcIndexVersions(spark, base, keep = 1)
      assert(dropped == Seq("v2"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }
}
