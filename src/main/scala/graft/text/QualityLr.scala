package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Trained quality CLASSIFIER — full-batch logistic regression over
  * hashed token-count features (the fastText-style quality-filter
  * training step of the GPT-3/LLaMA-family data pipelines, where
  * [[CorpusOps.logOddsModel]] is the closed-form Naive-Bayes-ish
  * baseline): a caller predicate labels the reference slice, features
  * are token counts hashed into `dim` buckets, and gradient descent
  * runs as a bounded driver loop of DISTRIBUTED passes — one feature
  * join per iteration, driver state = the dim-sized weight vector
  * (the [[UnigramLm.unigramTrain]] shape).
  *
  * Determinism discipline (the p45 micro-unit rule, applied to every
  * float in the loop so training is bit-identical on any engine and
  * any partitioning — and therefore ORACLE-GATABLE, which no
  * float-accumulating SGD is):
  *   - weights and bias live as integer MICRO-units;
  *   - the margin is an exact integer dot product (Σ w_micro·x over
  *     Long — order-independent);
  *   - the per-doc residual (σ(margin)−y) truncates ONCE to micro
  *     units via SQL `round` (half away from zero on Spark AND
  *     DuckDB) before the gradient sum, so the gradient is an exact
  *     integer aggregate;
  *   - the weight update rounds ONCE per iteration, in SQL.
  * Iteration 1 is closed-form (w₀ = 0 ⇒ σ = ½ ⇒ residual =
  * ±500000 exactly), which is what p202's chained-CTE oracle seeds
  * from.
  *
  * Scale shape: the feature frame is (doc, bucket, count) — corpus-
  * sized but never collected; each iteration shuffles only to
  * doc-sized margins and dim-sized gradients (map-side combinable
  * integer sums); the weight table broadcasts both directions. At
  * 100 TB the cost is `iters` corpus scans of an already-tokenized
  * projection — the full-batch trade that buys determinism.
  */
object QualityLr {

  /** Hashed token-count features: (doc_id, bucket, x) with
    * bucket = hash40(token) mod dim — [[graft.dedup.Dedup.sketchHash40]]
    * is the engine's one md5-backed portable hash, so the bucketing
    * recomputes exactly in the oracle. SHARED by trainer, scorer, and
    * the streaming twin (the chunkRows rule).
    */
  def featureRows(docs: DataFrame, id: Column, text: Column,
                  dim: Int): DataFrame =
    tokenBucketRows(docs, id, text, dim)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("x"))

  /** One row per TOKEN with its hashed bucket — the pre-aggregation
    * form [[featureRows]] counts up and [[scoreTokens]] scores
    * directly (Σ_tokens w[bucket] ≡ Σ_buckets w·x exactly, both
    * integer sums — and the token form keeps a STREAMING score to one
    * stateful aggregate, where counting first would chain two).
    */
  def tokenBucketRows(docs: DataFrame, id: Column, text: Column,
                      dim: Int): DataFrame = {
    require(dim >= 2 && dim <= (1 << 16),
      s"qualityLr: dim must be in [2, ${1 << 16}], got $dim — the weight " +
        "vector is driver state and a broadcast artifact, keep it bounded")
    docs.select(id.as("doc_id"), explode(TextFunctions.tokens(text)).as("tok"))
      .select(col("doc_id"),
        (graft.dedup.Dedup.sketchHash40(col("tok")) % dim).as("bucket"))
  }

  /** Labels: the caller predicate as 1/0, null counting as
    * non-reference (the [[CorpusOps.logOddsModel]] convention).
    */
  private def labelRows(docs: DataFrame, id: Column, isGood: Column): DataFrame =
    docs.select(id.as("doc_id"),
      when(isGood, lit(1)).otherwise(lit(0)).as("y"))

  /** Per-doc integer margins under a frozen weight table: bias +
    * Σ w_micro·x, exact Long arithmetic; docs with no feature rows
    * ride at the bias (LEFT join + 0-coalesce).
    */
  private def margins(feat: DataFrame, lab: DataFrame, wDf: DataFrame,
                      biasMicro: Long): DataFrame = {
    val dots = feat.join(broadcast(wDf), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w_micro") * col("x")).as("s"))
    lab.join(dots, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"),
        (lit(biasMicro) + coalesce(col("s"), lit(0L))).as("m_micro"))
  }

  /** σ(m_micro/1e6) as the one shared expression — ordering matters
    * for bit-identical duals, so there is exactly one spelling.
    */
  private def sigmoid(m: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-(m / lit(1e6))))

  /** Train `iters` full-batch GD iterations. Returns the weight table
    * (bucket, w_micro) with the bias as bucket −1, sorted by bucket —
    * the bounded model artifact a scorer broadcast-joins against.
    * Buckets are the feature frame's own (a bucket no corpus token
    * hashes to carries no weight, exactly as in the oracle's CTE
    * chain).
    */
  def trainLr(docs: DataFrame, id: Column, text: Column, isGood: Column,
              dim: Int = 16, iters: Int = 2, lr: Double = 0.5): DataFrame = {
    require(iters >= 1 && iters <= 64,
      s"qualityLr: iters must be in [1, 64], got $iters — GD is a bounded driver loop")
    require(lr > 0.0 && lr <= 10.0,
      s"qualityLr: lr must be in (0, 10], got $lr")
    val spark = docs.sparkSession
    import spark.implicits._
    val feat = featureRows(docs, id, text, dim).localCheckpoint()
    val lab = labelRows(docs, id, isGood).localCheckpoint()
    val nDf = lab.agg(count(lit(1)).as("n"))
    var w: Map[Long, Long] = graft.operators.DriverCollect
      .distinctValues[Long](feat, col("bucket")).map(_ -> 0L).toMap
    var bias = 0L
    var it = 0
    while (it < iters) {
      val wDf = w.toSeq.toDF("bucket", "w_micro")
      val r = margins(feat, lab, wDf, bias)
        .select(col("doc_id"),
          round((sigmoid(col("m_micro")) - col("y")) * 1e6, 0)
            .cast("long").as("r"))
        .localCheckpoint()
      val grads = feat.join(r, Seq("doc_id"))
        .groupBy(col("bucket")).agg(sum(col("r") * col("x")).as("g"))
      val updated = broadcast(wDf).join(grads, Seq("bucket"))
        .crossJoin(broadcast(nDf))
        .select(col("bucket"),
          (col("w_micro") - round(lit(lr) * col("g") / col("n"), 0)
            .cast("long")).as("w_micro"))
        .collect().map(row => row.getLong(0) -> row.getLong(1))
      w = w ++ updated
      val biasUpd = r.agg(sum(col("r")).as("g")).crossJoin(broadcast(nDf))
        .select(round(lit(lr) * col("g") / col("n"), 0).cast("long"))
        .head().getLong(0)
      bias -= biasUpd
      it += 1
    }
    ((-1L, bias) +: w.toSeq.sortBy(_._1)).toDF("bucket", "w_micro")
      .orderBy(col("bucket"))
  }

  /** Per-doc margins of a TOKEN-bucket frame against a frozen weight
    * table (bias at bucket −1 folded in) plus the probability/
    * decision projection — the ONE scoring path batch and streaming
    * share (the chunkRows rule): (doc_id, m_micro, p_r6, good_pred),
    * one broadcast join + one integer-sum aggregate. Docs with no
    * token rows are absent here; [[scoreLr]] rides them at the bare
    * bias.
    */
  def scoreTokens(toks: DataFrame, weights: DataFrame): DataFrame =
    decorate(tokenMargins(toks, weights, readBias(weights)))

  /** The one bias read a scoring call pays (bucket −1 of the
    * [[trainLr]] artifact).
    */
  private def readBias(weights: DataFrame): Long =
    weights.filter(col("bucket") === -1L)
      .select(col("w_micro")).head().getLong(0)

  private def tokenMargins(toks: DataFrame, weights: DataFrame,
                           bias: Long): DataFrame =
    toks.join(broadcast(weights.filter(col("bucket") =!= -1L)),
        Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg((lit(bias) + sum(col("w_micro"))).as("m_micro"))

  private def decorate(marginsDf: DataFrame): DataFrame =
    marginsDf.select(col("doc_id"), col("m_micro"),
      round(sigmoid(col("m_micro")), 6).as("p_r6"),
      (col("m_micro") > 0L).as("good_pred"))

  /** Score documents against a frozen weight table: the exact integer
    * margin, the 6-decimal probability, and the sign decision. Works
    * batch-side or stream-static (the [[CorpusOps.scoreBigrams]]
    * deployment shape); the weight table is the [[trainLr]] artifact
    * (bias at bucket −1). Documents with no feature rows (empty text)
    * score at the bare bias.
    */
  def scoreLr(docs: DataFrame, id: Column, text: Column,
              weights: DataFrame, dim: Int): DataFrame = {
    val bias = readBias(weights)
    val margins = tokenMargins(tokenBucketRows(docs, id, text, dim),
      weights, bias)
    decorate(docs.select(id.as("doc_id"))
      .join(margins, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m_micro"), lit(bias)).as("m_micro")))
  }

  /** Mean log-loss of a weight table on labeled docs — the training
    * diagnostic the spec's monotonicity contract measures (micro-nat
    * truncation per doc, the p45 discipline, so the mean is exact).
    */
  def logLoss(docs: DataFrame, id: Column, text: Column, isGood: Column,
              weights: DataFrame, dim: Int): Double = {
    val scored = scoreLr(docs, id, text, weights, dim)
    val lab = labelRows(docs, id, isGood)
    scored.join(lab, Seq("doc_id"))
      // the probability clamps to the smallest positive double before
      // the log: a margin past ~±37e6 saturates the sigmoid to exactly
      // 0.0, whose -log is null — and avg() would silently DROP the
      // saturated doc from the mean instead of charging it a large loss
      .select(round(-log(greatest(
          when(col("y") === 1, sigmoid(col("m_micro")))
            .otherwise(lit(1.0) - sigmoid(col("m_micro"))),
          lit(java.lang.Double.MIN_VALUE))) * 1e6, 0)
        .cast("long").as("nll"))
      .agg(avg(col("nll") / 1e6)).head().getDouble(0)
  }
}
