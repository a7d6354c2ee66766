package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Extension-method DSL — the engine's operator vocabulary on
  * `DataFrame`, mirroring the reference's implicit-class pattern
  * (`Implicits.scala:19-95` in akka/akka-stream-contrib attaches
  * `timed`/`measureLatency` to Source/Flow the same way).
  *
  * {{{
  *   import graft.operators.Implicits._
  *   events.sampleEveryNth(100, Seq($"event_id"))
  *         .runningSum(Seq($"user_id"), Seq($"ts"), $"value")
  * }}}
  */
object Implicits {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    def withRowIndex(orderCols: Seq[Column], name: String = "row_idx"): DataFrame =
      GlobalIndex.withRowIndex(df, orderCols, name)

    def sampleEveryNth(n: Int, orderCols: Seq[Column]): DataFrame =
      Sample.everyNth(df, n, orderCols)

    def sampleFraction(fraction: Double, seed: Long = 42L): DataFrame =
      Sample.random(df, fraction, seed)

    def runningSum(partitionCols: Seq[Column], orderCols: Seq[Column],
                   value: Column, name: String = "running_sum"): DataFrame =
      Accumulate.runningSum(df, partitionCols, orderCols, value, name)

    def accumulate(partitionCols: Seq[Column], orderCols: Seq[Column],
                   aggExpr: Column, name: String): DataFrame =
      Accumulate.running(df, partitionCols, orderCols, aggExpr, name)

    def changeGroups(partitionCols: Seq[Column], orderCols: Seq[Column],
                     property: Column, name: String = "group_id"): DataFrame =
      AccumulateWhileUnchanged.changeGroups(df, partitionCols, orderCols, property, name)

    def sessionize(keys: Seq[Column], ts: Column, tiebreak: Column,
                   gapMicros: Long): DataFrame =
      Sessionize.byGap(df, keys, ts, tiebreak, gapMicros)

    def mergeByIndex(others: Seq[DataFrame], idx: Column): DataFrame =
      MergeByIndex(df +: others, idx)

    def partitionWith(isLeft: Column, leftProj: Column, rightProj: Column): DataFrame =
      Routing.partitionWith(df, isLeft, leftProj, rightProj)

    def passThrough(out: Column, name: String = "out"): DataFrame =
      Routing.passThrough(df, out, name)

    def lastElementPerKey(keys: Seq[Column], orderCols: Seq[Column],
                          payload: Seq[(String, Column)]): DataFrame =
      LastElement.perKey(df, keys, orderCols, payload)

    def pulse(ts: Column, duration: String, keys: Seq[Column], tiebreak: Column,
              payload: Seq[(String, Column)]): DataFrame =
      TimeWindow.pulse(df, ts, duration, keys, tiebreak, payload)

    def gapFill(keys: Seq[String], ts: Column, stepSeconds: Int,
                aggs: Seq[(String, Column)], fill: Map[String, Any]): DataFrame =
      KeepAlive.gapFill(df, keys, ts, stepSeconds, aggs, fill)

    def intervalBetween(predicate: Column, keys: Seq[Column], ts: Column,
                        orderCols: Seq[Column]): DataFrame =
      Timed.intervalBetween(df, predicate, keys, ts, orderCols)

    def asOfLookup(keys: Seq[Column], orderCols: Seq[Column], matches: Column,
                   value: Column, name: String): DataFrame =
      AsOf.lastMatchingInStream(df, keys, orderCols, matches, value, name)

    def observed(name: String, metrics: Column*): DataFrame =
      Timed.observed(df, name, metrics)

    // — skew mitigation —

    def saltedJoin(build: DataFrame, keys: Seq[String], salts: Int,
                   joinType: String = "inner"): DataFrame =
      Skew.saltedJoin(df, build, keys, salts, joinType)

    def saltedAgg(keys: Seq[String], salts: Int,
                  aggs: Seq[Skew.SaltedAgg]): DataFrame =
      Skew.saltedAgg(df, keys, salts, aggs)

    // — training-data pipeline vocabulary —

    def dropExactDuplicates(id: Column, text: Column): DataFrame =
      graft.dedup.Dedup.dropExactDuplicates(df, id, text)

    def minhashCandidates(id: Column, text: Column, shingleN: Int = 3,
                          numBands: Int = 4, rowsPerBand: Int = 2): DataFrame =
      graft.dedup.Dedup.minhashCandidates(df, id, text, shingleN, numBands, rowsPerBand)

    def simhashCandidates(id: Column, text: Column, bits: Int = 16,
                          bands: Int = 4, maxDist: Int = 3): DataFrame =
      graft.dedup.Dedup.simhashCandidates(df, id, text, bits, bands, maxDist)

    def winnowFingerprints(id: Column, text: Column, shingleN: Int = 3,
                           window: Int = 4): DataFrame =
      graft.dedup.Dedup.winnowFingerprints(df, id, text, shingleN, window)

    def extractMediaFeatures(id: Column, payload: Column, dim: Int = 16): DataFrame =
      graft.multimodal.Multimodal.extractFeatures(df, id, payload, dim)

    def chunkDedup(id: Column, text: Column, chunkTokens: Int = 8): DataFrame =
      graft.dedup.Dedup.chunkDedup(df, id, text, chunkTokens)

    def clusterDedup(id: Column, text: Column, threshold: Double,
                     starCC: Boolean = false): DataFrame =
      graft.dedup.Dedup.clusterDedup(df, id, text, threshold, starCC = starCC)

    def winnowCandidates(id: Column, text: Column, minShared: Int = 2,
                         maxDocFreq: Option[Int] = None): DataFrame =
      graft.dedup.Dedup.winnowCandidates(df, id, text,
        minShared = minShared, maxDocFreq = maxDocFreq)

    def packSequences(group: Column, order: Column, tokens: Column,
                      seqLen: Long): DataFrame =
      graft.curation.Curation.packSequences(df, group, order, tokens, seqLen)

    def temperatureMixSqrt(group: Column, key: Column, targetTotal: Long): DataFrame =
      graft.curation.Curation.temperatureMixSqrt(df, group, key, targetTotal)

    def tokenBudgetPerGroup(group: Column, order: Column, tokens: Column,
                            budget: Long): DataFrame =
      graft.curation.Curation.tokenBudgetPerGroup(df, group, order, tokens, budget)

    def asOfJoin(right: DataFrame, key: String, tsName: String,
                 rightValName: String, tolerance: Option[Column] = None): DataFrame =
      AsOf.join(df, right, key, tsName, rightValName, tolerance)

    def semanticDedup(id: Column, vec: Column, centroids: DataFrame,
                      threshold: Double,
                      // same default as Dedup.semanticDedup — the two
                      // entry points must not diverge on the hot-cluster cap
                      maxCluster: Option[Int] = Some(4096)): DataFrame =
      graft.dedup.Dedup.semanticDedup(df, id, vec, centroids, threshold, maxCluster)

    def bigramPerplexity(id: Column, text: Column): DataFrame =
      graft.text.CorpusOps.bigramPerplexity(df, id, text)

    def kneserNeyPerplexity(id: Column, text: Column,
                            discount: Double = 0.75): DataFrame =
      graft.text.CorpusOps.kneserNeyPerplexity(df, id, text, 2, discount)

    def kneserNey3Perplexity(id: Column, text: Column,
                             discount: Double = 0.75): DataFrame =
      graft.text.CorpusOps.kneserNeyPerplexity(df, id, text, 3, discount)

    def qualityLrScore(id: Column, text: Column, weights: DataFrame,
                       dim: Int): DataFrame =
      graft.text.QualityLr.scoreLr(df, id, text, weights, dim)

    def sampleExactPerGroup(group: Column, key: Column, k: Int): DataFrame =
      graft.curation.Curation.sampleExactPerGroup(df, group, key, k)

    def sampleWeightedPerGroup(group: Column, key: Column, weight: Column,
                               k: Int): DataFrame =
      graft.curation.Curation.sampleWeightedPerGroup(df, group, key, weight, k)

    def hllDistinctPerGroup(group: Column, key: Column, p: Int = 6): DataFrame =
      graft.functions.Hll.distinctPerGroup(df, group, key, p)

    def bm25TopK(id: Column, text: Column,
                 queries: Seq[(String, Seq[String])], k: Int = 10): DataFrame =
      graft.text.CorpusOps.bm25TopK(df, id, text, queries, k)

    def histQuantilesPerGroup(group: Column, value: Column,
                              quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                              lo: Double = 0.0, hi: Double = 512.0,
                              bins: Int = 64): DataFrame =
      graft.functions.Histogram.quantilesPerGroup(df, group, value,
        quantiles, lo, hi, bins)
  }
}
