package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: deterministic
  * sampling and budget capping. Both are pure column programs — no
  * `rand()`, no driver state — so runs are exactly reproducible across
  * clusters, retries, and engines (the property that matters when a
  * sample defines a training set).
  */
object Curation {

  /** Uniform hash of `key` into [0, 10000): the first 6 hex nibbles of
    * md5, mod 10⁴ — the standard deterministic "dice roll" for
    * reproducible sampling (same key → same decision everywhere).
    */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 6), 16, 10).cast("long") % 10000

  /** Release manifest — the data card + integrity checksum a corpus
    * release ships with: per (source, lang), per source, and TOTAL in
    * ONE pass (grouping sets over a single scan): document count, token
    * and char totals, and an ORDER-INDEPENDENT content fingerprint
    * (bit_xor of two independent 40-bit md5 lanes per document —
    * [[graft.dedup.Dedup.sketchHash40At]] — 80 bits total; widen lanes
    * for release-grade collision margins). Any consumer can recompute
    * the manifest from the delivered files and verify both the counts
    * and the fingerprints without coordinating row order — xor commutes,
    * so shard-parallel recomputation needs no sort.
    *
    * `lvl` = grouping(source)·2 + grouping(lang) disambiguates rollup
    * rows from data that happens to be NULL (0 = leaf, 1 = per-source,
    * 3 = grand total).
    *
    * Scale shape: one partial-aggregated shuffle; grouping sets expand
    * map-side. Output is bounded by the (source × lang) universe.
    */
  def releaseManifest(corpus: DataFrame, source: Column, lang: Column,
                      text: Column): DataFrame =
    releaseManifestFromStats(manifestStats(corpus, source, lang, text))

  /** The per-document stats row [[releaseManifest]] aggregates —
    * exposed so a streaming election can carry THESE through state
    * instead of text (the stats are a pure function of the row, so
    * they compute in the scan stage).
    */
  def manifestStats(corpus: DataFrame, source: Column, lang: Column,
                    text: Column, extra: Column*): DataFrame = {
    import graft.dedup.Dedup
    import graft.functions.TextFunctions
    corpus.select(extra ++ Seq(source.as("source"), lang.as("lang"),
      TextFunctions.tokenCount(text).as("__nt"),
      length(text).cast("long").as("__nc"),
      Dedup.sketchHash40At(text, 0).as("__h_lo"),
      Dedup.sketchHash40At(text, 10).as("__h_hi")): _*)
  }

  /** Release-to-release manifest DIFF — the audit a consumer runs when
    * a new corpus version ships: per (source, lang) leaf, how many
    * documents and tokens moved, and whether CONTENT changed at all
    * (the xor fingerprints differ) — which catches silent edits that
    * leave counts identical. Operates on two [[releaseManifest]]
    * outputs (manifest-sized inputs — no corpus access), so version
    * diffs cost nothing at 100 TB.
    *
    * `status`: added (leaf only in new) / removed (only in old) /
    * changed (both, fingerprints differ) / unchanged.
    */
  def manifestDiff(oldM: DataFrame, newM: DataFrame): DataFrame = {
    def leaf(m: DataFrame, p: String) = m.filter(col("lvl") === 0)
      .select(col("source"), col("lang"), col("n_docs").as(s"__${p}d"),
        col("n_tokens").as(s"__${p}t"), col("fp_lo").as(s"__${p}l"),
        col("fp_hi").as(s"__${p}h"))
    leaf(oldM, "o").join(leaf(newM, "n"), Seq("source", "lang"), "full_outer")
      .select(col("source"), col("lang"),
        (coalesce(col("__nd"), lit(0L)) - coalesce(col("__od"), lit(0L)))
          .as("n_docs_delta"),
        (coalesce(col("__nt"), lit(0L)) - coalesce(col("__ot"), lit(0L)))
          .as("n_tokens_delta"),
        when(col("__od").isNull, lit("added"))
          .when(col("__nd").isNull, lit("removed"))
          .when(col("__ol") === col("__nl") && col("__oh") === col("__nh"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** [[releaseManifest]]'s grouping-sets pass over precomputed
    * [[manifestStats]] rows — the half shared by the batch entry and
    * the streaming twin's epoch-boundary rollup.
    */
  def releaseManifestFromStats(stats: DataFrame): DataFrame =
    stats
      .groupingSets(
        Seq(Seq(col("source"), col("lang")), Seq(col("source")), Seq()),
        col("source"), col("lang"))
      .agg(
        (grouping(col("source")) * 2 + grouping(col("lang"))).cast("long").as("lvl"),
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__nc")).as("n_chars"),
        bit_xor(col("__h_lo")).as("fp_lo"),
        bit_xor(col("__h_hi")).as("fp_hi"))
      .select(col("lvl"), col("source"), col("lang"), col("n_docs"),
        col("n_tokens"), col("n_chars"), col("fp_lo"), col("fp_hi"))

  /** Calibrate a per-group quality cutoff to hit a target keep rate,
    * EXACTLY and without a global sort — "keep the best 50% per
    * language" with a reproducible, engine-independent boundary.
    *
    * Given integer scores (micro-unit convention — p45 perplexity /
    * p81 log-odds outputs plug in directly), for each group the cutoff
    * is the smallest score s* whose cumulative count reaches
    * k = ⌈rate·n⌉ (keepLowest; mirrored for keep-highest), and a row is
    * kept iff score ≤ s* — ties at the boundary all keep, so
    * n_kept ≥ k minimally (the deterministic tie policy; a hash
    * tiebreak would keep exactly k but make the boundary depend on
    * ids, not quality).
    *
    * Scale shape — the exact-quantile-per-group recipe that avoids
    * sorting documents: (1) ONE corpus aggregation to the per-(group,
    * score) histogram (map-side combine; exchange carries distinct
    * value counts, not rows); (2) cumulative counts via a window over
    * the HISTOGRAM (bounded by distinct score values per group, ≪
    * rows); (3) cutoffs per group (group-universe-sized, broadcast
    * back); (4) a map-side flag join. k is computed in pure integer
    * arithmetic: k = (n·rateMicro + 10⁶−1) div 10⁶.
    *
    * Output: one row per input row — (doc_id, group, score, cutoff,
    * kept).
    */
  def calibrateKeepRate(df: DataFrame, id: Column, group: Column, score: Column,
                        rateMicro: Long, keepLowest: Boolean = true): DataFrame = {
    val rows = scoreRows(df, id, group, score)
    calibrateFromHist(scoreHist(rows), rows, rateMicro, keepLowest)
  }

  /** The (doc_id, group, score) rows [[calibrateKeepRate]] flags. */
  private[graft] def scoreRows(df: DataFrame, id: Column, group: Column,
                               score: Column): DataFrame =
    df.select(id.as("doc_id"), group.as("group"), score.cast("long").as("score"))

  /** The per-(group, score) histogram of [[scoreRows]] — the
    * associative half of [[calibrateKeepRate]] (counts sum, so a stream
    * folds it with state bounded by distinct (group, score) pairs).
    */
  private[graft] def scoreHist(rows: DataFrame): DataFrame =
    rows.groupBy(col("group"), col("score")).agg(count(lit(1)).as("__c"))

  /** [[calibrateKeepRate]]'s cutoff + flag pass over a precomputed
    * per-(group, score) histogram — the half the streaming twin reuses:
    * the histogram is the associative part (counts sum), so a streaming
    * aggregation folds it with state bounded by distinct (group, score)
    * pairs, and THIS runs batch-side at the epoch boundary.
    */
  def calibrateFromHist(hist: DataFrame, rows: DataFrame,
                        rateMicro: Long, keepLowest: Boolean = true): DataFrame = {
    require(rateMicro >= 0 && rateMicro <= 1000000L,
      s"rateMicro must be in [0, 1e6], got $rateMicro")
    val ord = if (keepLowest) col("score").asc else col("score").desc
    val wCum = Window.partitionBy(col("group")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(wCum))
    // renamed join key: cum and totals share lineage (one histogram),
    // and a same-attribute self-join fails analysis when the histogram
    // is a materialized table (the streaming twin's memory sink)
    val totals = hist.groupBy(col("group")).agg(sum(col("__c")).as("__n"))
      .select(col("group").as("__g"), col("__n"))
    val cutoffs = cum.join(totals, col("group") === col("__g")).drop("__g")
      .withColumn("__k", expr(s"(__n * ${rateMicro}L + 999999L) div 1000000L"))
      // k = 0 (rate 0) keeps nothing: no cutoff row → kept = false
      .filter(col("__k") > 0 && col("__cum") >= col("__k"))
      .groupBy(col("group"))
      .agg((if (keepLowest) min(col("score")) else max(col("score"))).as("cutoff"))
    val keptCond =
      if (keepLowest) col("score") <= col("cutoff") else col("score") >= col("cutoff")
    rows.join(broadcast(cutoffs), Seq("group"), "left")
      .select(col("doc_id"), col("group"), col("score"),
        col("cutoff"), coalesce(keptCond, lit(false)).as("kept"))
  }

  /** Deterministic stratified sampling: keep a row iff its hash bucket
    * falls under its stratum's rate (in 1e-4 granularity). Strata whose
    * value is absent from `rates` get `defaultRate`.
    *
    * Scale shape: a map-side filter — no shuffle, no sampleBy/rand
    * non-determinism, pushdown-friendly. This is how a 100 TB corpus is
    * down/up-weighted per domain reproducibly: the decision is a pure
    * function of (key, stratum), so re-runs and late-arriving partitions
    * agree.
    */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0): DataFrame = {
    val threshold = rates.foldLeft(lit((defaultRate * 10000).toInt)) {
      case (acc, (s, r)) => when(stratum === s, lit((r * 10000).toInt)).otherwise(acc)
    }
    df.filter(hashBucket(key) < threshold)
  }

  /** Cap each group (source, domain, language …) at a token budget:
    * rows are admitted in `order` until the group's cumulative `tokens`
    * exceeds `budget`; the first over-budget row and everything after it
    * are dropped. Output adds `cum_tokens` (the running total including
    * the row itself).
    *
    * Scale shape: one hash shuffle on the group key, then a running-sum
    * window WITHIN each group partition — no global window. Skewed
    * groups are bounded by the budget itself on the output side; the
    * window scan of a huge input group is the inherent cost of exact
    * sequential capping (for approximate capping, stratifiedSample the
    * group to ~budget first).
    *
    * The frame is ROWS-based, so each row carries its own running total
    * even when `order` has ties (the default RANGE frame would admit or
    * drop tied rows as a block). `(order, tiebreak*)` should form a
    * unique key per group for a deterministic admission sequence;
    * without one, tied rows are admitted in an arbitrary but
    * budget-respecting order.
    */
  def tokenBudgetPerGroup(df: DataFrame, group: Column, order: Column,
                          tokens: Column, budget: Long,
                          tiebreak: Column*): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order +: tiebreak: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(tokens).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Concat-and-chunk sequence packing — the standard LLM-pretraining
    * layout: within each group (source, shard …), documents are laid
    * end-to-end in `order` into one virtual token stream, and that
    * stream is cut into fixed `seqLen` training sequences; documents may
    * straddle a cut. Adds, per row:
    *
    *  - `seq_id`     first training sequence the doc lands in
    *  - `seq_offset` token offset of the doc inside that sequence
    *  - `n_seqs`     how many sequences the doc spans (0 for an empty doc)
    *
    * Exact integer arithmetic throughout (`div`, `%`) so results are
    * reproducible bit-for-bit across engines and reruns.
    *
    * Scale shape: identical to [[tokenBudgetPerGroup]] — one hash
    * shuffle on the group key, a ROWS running sum within each group
    * partition, then pure per-row projection; nothing global. `(order,
    * tiebreak*)` must be a unique key per group (same contract as
    * tokenBudgetPerGroup).
    */
  def packSequences(df: DataFrame, group: Column, order: Column,
                    tokens: Column, seqLen: Long,
                    tiebreak: Column*): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = Window.partitionBy(group).orderBy(order +: tiebreak: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__n", tokens.cast("long"))
      .withColumn("__cp", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"__cp div ${seqLen}L"))
      .withColumn("seq_offset", col("__cp") % seqLen)
      .withColumn("n_seqs",
        when(col("__n") === 0, lit(0L))
          .otherwise(expr(s"(__cp + __n - 1) div ${seqLen}L") - col("seq_id") + 1))
      .drop("__n", "__cp")
  }

  /** Packing-efficiency report over a [[packSequences]] layout — the
    * dataloader observability sibling of [[packManifest]]: per group,
    * how many training sequences the layout yields (the last one
    * padded), how many tokens that padding wastes, the efficiency in
    * integer permille, and how many documents SPAN a sequence boundary
    * (each spanning doc is an attention-mask cut — the number a
    * sequence-length sweep trades against padding waste). Pure integer
    * arithmetic on the pack columns; the only shuffle is the group
    * aggregation riding [[packSequences]]' own exchange.
    *
    * Output: (group, n_docs, total_tokens, n_spanning, n_seqs,
    * pad_tokens, efficiency_permille); an all-empty group reports 0
    * efficiency, not a division error.
    */
  def packingEfficiency(df: DataFrame, group: Column, order: Column,
                        tokens: Column, seqLen: Long,
                        tiebreak: Column*): DataFrame = {
    val packed = packSequences(df.withColumn("__pe_tok", tokens.cast("long")),
      group, order, col("__pe_tok"), seqLen, tiebreak: _*)
    packed
      .groupBy(group.as("group"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__pe_tok")), lit(0L)).as("total_tokens"),
        coalesce(sum(when(col("n_seqs") > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_spanning"))
      .withColumn("n_seqs",
        expr(s"(total_tokens + ${seqLen - 1}L) div ${seqLen}L"))
      .withColumn("pad_tokens",
        col("n_seqs") * seqLen - col("total_tokens"))
      .withColumn("efficiency_permille",
        when(col("n_seqs") > 0,
          expr(s"(total_tokens * 1000) div (n_seqs * ${seqLen}L)"))
          .otherwise(lit(0L)))
  }

  /** The DATALOADER's view of a [[packSequences]] layout: one row per
    * (training sequence, document span) — for each sequence, which
    * documents fill it, where each span starts inside the sequence
    * (`seq_pos`), where it starts inside the document (`doc_pos`), and
    * its length (`n_span`). This is the manifest a training job
    * actually consumes (to cut attention masks at document boundaries
    * and to map a loss spike back to its source document); emitting it
    * beside the pack columns costs a map-side explode of each doc's
    * covered-sequence range — pure integer arithmetic on the already-
    * computed cumulative position, NO further shuffle beyond the one
    * [[packSequences]] already paid. Within a sequence the spans tile
    * it exactly (disjoint, gap-free — every full sequence's spans sum
    * to `seqLen`; spec-pinned), because consecutive documents' global
    * intervals are adjacent by construction.
    */
  def packManifest(packed: DataFrame, id: Column, tokens: Column,
                   seqLen: Long, passthrough: Column*): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    packed.filter(col("n_seqs") > 0)
      .withColumn("__n", tokens.cast("long"))
      .withColumn("__cp", col("seq_id") * seqLen + col("seq_offset"))
      .withColumn("seq",
        explode(sequence(col("seq_id"), col("seq_id") + col("n_seqs") - 1)))
      .withColumn("__ss", greatest(col("__cp"), col("seq") * seqLen))
      .withColumn("__se",
        least(col("__cp") + col("__n"), (col("seq") + lit(1L)) * seqLen))
      .select(id.as("doc_id") +: col("seq") +:
        (col("__ss") - col("seq") * seqLen).as("seq_pos") +:
        (col("__ss") - col("__cp")).as("doc_pos") +:
        (col("__se") - col("__ss")).as("n_span") +: passthrough: _*)
  }

  /** The takedown BLAST RADIUS on the training side — [[packManifest]]
    * run in reverse: given a [[packSequences]] layout and a bad-doc id
    * list (a takedown, a discovered contamination), which training
    * sequences did those documents reach, and how many of each
    * sequence's tokens are theirs. This is the number a retrain
    * decision needs (re-pack everything vs drop N sequences) and the
    * provenance a data card must state; the span-index serve (p124)
    * answers the SERVING side of the same takedown.
    *
    * Output: one row per (group…, contaminated seq): n_bad_docs,
    * bad_tokens. A sequence no bad doc touches has no row; a bad doc
    * with zero tokens touches nothing.
    *
    * Scale shape: the id list is takedown-sized and BROADCAST, and the
    * semi-join runs BEFORE the covered-sequence explode, so the
    * manifest arithmetic and the per-seq rollup touch contaminated
    * docs only — the corpus-sized manifest is never materialized. The
    * only exchange is the rollup over contaminated spans.
    */
  def packBlastRadius(packed: DataFrame, id: Column, tokens: Column,
                      badIds: DataFrame, badId: Column, seqLen: Long,
                      group: Column*): DataFrame = {
    val bad = packed.join(broadcast(badIds.select(badId.as("__bad"))),
      id === col("__bad"), "left_semi")
    packManifest(bad, id, tokens, seqLen, group: _*)
      .groupBy(group :+ col("seq"): _*)
      .agg(count(lit(1)).as("n_bad_docs"),
        sum(col("n_span")).as("bad_tokens"))
  }

  /** Square-root temperature mixing (α = 0.5): re-balance a corpus so
    * over-represented groups are down-sampled toward weights
    * ∝ √(group size) — the standard flattening between proportional
    * (α = 1) and uniform (α = 0) used for multi-source / multilingual
    * training mixes. Each group's admission rate is
    * `min(1, target_g / n_g)` with `target_g = targetTotal·w_g / Σw`,
    * `w_g = ⌊√n_g⌋`, evaluated in INTEGER arithmetic (floor sqrt, floor
    * divisions, 1e-4 rate granularity) so Spark and any oracle compute
    * bit-identical thresholds; admission itself is the deterministic
    * [[hashBucket]] dice roll per key.
    *
    * The group histogram is collected to the driver: mixture domains
    * (source, language) are low-cardinality BY DEFINITION of a mixing
    * policy — this is config-sized data, not a data-sized collect. The
    * filter itself stays a map-side column program: one small agg job to
    * build the CASE thresholds, then a shuffle-free scan. Rows whose
    * group value is null match no threshold and are dropped.
    *
    * `maxGroups` guards that contract: a miskeyed call (`group` set to a
    * document id) would otherwise silently collect the corpus to the
    * driver. The histogram collect is capped at `maxGroups + 1` rows —
    * one extra row is proof of violation — and fails loudly, like every
    * other contract check in the engine (chunkRows, writeZOrdered).
    */
  def temperatureMixSqrt(df: DataFrame, group: Column, key: Column,
                         targetTotal: Long, maxGroups: Int = 100000): DataFrame = {
    val counts = df.groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
      .limit(maxGroups + 1)
      .collect().map(r => (r.get(0), r.getLong(1)))
    require(counts.length <= maxGroups,
      s"temperatureMixSqrt: group column has more than $maxGroups distinct values — " +
        "this is a per-source mixing policy, not a per-row one; check the group key " +
        "or raise maxGroups explicitly")
    val weights = counts.map { case (g, n) => (g, n, math.sqrt(n.toDouble).toLong) }
    val sumW = weights.map(_._3).sum
    val thresholds = weights.map { case (g, n, wgt) =>
      val target = targetTotal * wgt / math.max(1L, sumW)
      (g, math.min(10000L, 10000L * target / n))
    }
    val threshold = thresholds.foldLeft(lit(0L)) {
      case (acc, (g, t)) => when(group === lit(g), lit(t)).otherwise(acc)
    }
    df.filter(hashBucket(key) < threshold)
  }

  /** Deterministic weighted interleave tag: assigns each row a mixture
    * bucket from its key hash, e.g. weights Seq("web" -> 0.8,
    * "code" -> 0.2) tag ~80% of rows "web". The dual of
    * [[stratifiedSample]]: sampling drops rows, interleaving routes
    * them. Weights must sum to ≤ 1; the remainder tags NULL (dropped by
    * a downstream filter if unwanted).
    */
  def interleaveTag(key: Column, weights: Seq[(String, Double)]): Column = {
    val b = hashBucket(key)
    val (expr, _) = weights.foldLeft((lit(null).cast("string"), 0L)) {
      case ((acc, lo), (tag, w)) =>
        val hi = lo + (w * 10000).toLong
        (when(b >= lo && b < hi, lit(tag)).otherwise(acc), hi)
    }
    expr
  }

  /** Exactly-k deterministic sample per group — the distributed
    * reservoir: keep each group's `k` smallest md5 dice rolls.
    * Complements [[stratifiedSample]] (rate-based, count varies with
    * group size) when the contract is a fixed quota per stratum — eval
    * set carving, per-language probe sets, balanced audits.
    *
    * Scale shape: ranking reuses the ANN ladder's two-phase bounded
    * top-k ([[graft.similarity.SimilaritySearch.rankTopK]] /
    * `Aggregators.TopK`): every scan partition reduces to a ≤k buffer
    * per group map-side and the shuffle moves one bounded buffer per
    * (group, partition) — NO per-group global sort, so a group with a
    * billion rows costs the same shuffle as one with a thousand. A
    * `row_number` window form would funnel each group into one task.
    *
    * Determinism across engines: the roll is the first 13 hex chars of
    * `md5(key)` read as a 52-bit integer — exactly representable in the
    * aggregator's double score, so Spark's (score, id) order is
    * bit-identical to SQL `ORDER BY substr(md5(key), 1, 13), key`.
    *
    * Output: (group, key, rank) with rank 1..k by roll order.
    */
  def sampleExactPerGroup(df: DataFrame, group: Column, key: Column,
                          k: Int): DataFrame = {
    val roll = conv(substring(md5(key.cast("long").cast("string")), 1, 13),
      16, 10).cast("double")
    val scored = df.select(group.as("query_id"),
      key.cast("long").as("neighbor_id"), (lit(0d) - roll).as("cos"))
    graft.similarity.SimilaritySearch.rankTopK(scored, k)
      .select(col("query_id").as("group"), col("neighbor_id").as("key"),
        col("rank"))
  }

  /** Exactly-k WEIGHTED sample per group without replacement —
    * Efraimidis & Spirakis's A-ES reservoir ("Weighted random sampling
    * with a reservoir", IPL 2006): each row draws the deterministic
    * 52-bit md5 roll as its uniform u ∈ (0, 1] and ranks by
    * `ln(u) / weight` DESC — the classic u^(1/w) reservoir key in LOG
    * space, deliberately: `pow`'s libm implementations differ across
    * engines, while ln and division are bit-reproducible (the p45
    * rule). Inclusion probability rises with weight (w → ∞ drives the
    * key toward its 0⁻ maximum), giving quality-weighted corpus
    * sampling (weight = quality score, token count, dedup priority…)
    * that is reproducible across engines and reruns.
    *
    * Scale shape: the key is a map-side projection; the top-k per
    * group rides the shared two-phase bounded TopK
    * ([[graft.similarity.SimilaritySearch.rankTopK]]) — no per-group
    * global sort, ≤ k rows per (group, partition) shuffle. Weights
    * must be > 0: non-positive weights fail loudly (the engine's loud-
    * contract rule), because silently dropping them would bias the
    * sample.
    */
  def sampleWeightedPerGroup(df: DataFrame, group: Column, key: Column,
                             weight: Column, k: Int): DataFrame = {
    val scored = df.select(group.as("query_id"),
      key.cast("long").as("neighbor_id"), aesKey(key, weight).as("cos"))
    graft.similarity.SimilaritySearch.rankTopK(scored, k)
      .select(col("query_id").as("group"), col("neighbor_id").as("key"),
        col("rank"))
  }

  /** Leakage-safe train/validation split: the split decision hashes the
    * document's CONTENT fingerprint ([[graft.functions.TextFunctions
    * .fingerprint]] — md5 of whitespace-normalized lowercase text), not
    * its id, so every exact duplicate of a document lands in the SAME
    * split by construction. Splitting on doc_id leaks: a page crawled
    * twice trains on one copy and validates on the other, and the val
    * loss silently measures memorization. `trainPermille` of the 10⁴
    * [[hashBucket]] space goes to 'train', the rest to 'val'.
    *
    * Scale shape: fingerprint + bucket + split are all map-side column
    * programs — ZERO shuffles, the assignment rides the scan stage, and
    * the same rows always get the same split on any cluster, any retry,
    * any engine (the reproducibility contract a dataset split must
    * honor). For NEAR-dup safety, pass the near-dup cluster keeper's
    * fingerprint as `text` instead — any deterministic cluster key
    * slots in unchanged.
    */
  /** Loud contract: these operators APPEND fixed-name output columns;
    * silently clobbering a caller's same-named column would corrupt its
    * data with no signal (the repo's contract style — fail loudly).
    */
  private def requireAbsent(df: DataFrame, op: String, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op: input already has reserved output column(s) " +
        s"${clash.mkString(", ")} — rename or drop them first")
  }

  def leakageSafeSplit(docs: DataFrame, text: Column,
                       trainPermille: Int = 9000): DataFrame = {
    require(trainPermille > 0 && trainPermille < 10000,
      s"leakageSafeSplit: trainPermille must be in (0, 10000), got $trainPermille")
    requireAbsent(docs, "leakageSafeSplit", "fingerprint", "split")
    val fp = graft.functions.TextFunctions.fingerprint(text)
    docs.withColumn("fingerprint", fp)
      .withColumn("split",
        when(hashBucket(col("fingerprint")) < trainPermille, lit("train"))
          .otherwise(lit("val")))
  }

  /** Deterministic epoch shuffle: a seeded, reproducible GLOBAL ordering
    * of the corpus (`pos` = 1-based position in md5(seed:id) order) —
    * what "shuffle the training data for epoch N" means when the run
    * must be bit-reproducible across clusters and retries. No `rand()`,
    * no `zipWithIndex`, no driver-side ordering.
    *
    * Scale shape — a total order WITHOUT a single-partition window:
    * the shuffle key's first two hex nibbles form 256 lexicographically
    * ORDERED buckets (hex strings sort like their values), so global
    * position = (exclusive prefix count of earlier buckets) + (rank
    * within bucket). Phase 1 counts rows per bucket (one map-combined
    * aggregation collapsing to ≤256 rows — a bounded artifact, collected
    * and turned into a broadcast offset table). Phase 2 ranks within
    * each bucket (one hash exchange on the bucket, in-partition
    * row_number). At 100 TB each bucket holds ~1/256 of the corpus and
    * the plan never moves all data to one task — the distributed
    * zipWithIndex-in-key-order pattern.
    */
  def epochShuffle(df: DataFrame, id: Column, seed: Long): DataFrame =
    shuffleByBucket(df, id, seed, tier = None)

  /** Curriculum variant of [[epochShuffle]]: a TIERED global order —
    * all of tier 0 before all of tier 1, seeded-random WITHIN each tier
    * (easy→hard curriculum ordering with per-epoch reshuffling inside
    * each difficulty band). Same machinery: the composite bucket
    * `tier:hexprefix` still sorts lexicographically in global-order
    * sequence (tier labels must be single-digit, enforced loudly), so
    * the prefix-offset trick carries over unchanged.
    */
  def curriculumShuffle(df: DataFrame, id: Column, tier: Column,
                        seed: Long): DataFrame =
    shuffleByBucket(df, id, seed, Some(tier))

  private def shuffleByBucket(df: DataFrame, id: Column, seed: Long,
                              tier: Option[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireAbsent(df,
      if (tier.isDefined) "curriculumShuffle" else "epochShuffle",
      "shuffle_key", "bucket", "pos")
    val hexBucket = substring(col("shuffle_key"), 1, 2)
    val bucketCol = tier match {
      case None => hexBucket
      case Some(t) =>
        val tc = t.cast("long")
        val guarded = when(tc.between(0L, 9L), tc.cast("string"))
          .otherwise(raise_error(concat(
            lit("curriculumShuffle: tier must be a single digit 0-9, got "),
            coalesce(t.cast("string"), lit("null")))))
        concat(guarded, lit(":"), hexBucket)
    }
    val keyed = df.withColumn("shuffle_key",
        md5(concat(lit(seed.toString), lit(":"), id.cast("string"))))
      .withColumn("bucket", bucketCol)
    val counts = keyed.groupBy(col("bucket")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    // exclusive prefix sum in bucket order → each bucket's global offset
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val offsetDf = broadcast(offsets.toDF("bucket", "bucket_offset"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("shuffle_key"), id)
    // `bucket` stays in the output ON PURPOSE: a downstream per-bucket
    // window (e.g. the sequence packer) that partitions on this SAME
    // attribute inherits the exchange — one shuffle serves the whole
    // shuffle→pack pipeline (plan-pinned in PlanSpec). Recomputing the
    // substring downstream would be a fresh attribute Catalyst cannot
    // prove co-partitioned, and it would pay a second exchange.
    keyed.join(offsetDf, "bucket")
      .withColumn("pos", col("bucket_offset") + row_number().over(w))
      .drop("bucket_offset")
  }

  /** Leakage-aware deterministic negative sampling for contrastive
    * pairs: for each query document, `k` negatives drawn from the
    * candidate corpus by the md5(qid:docid) dice roll — deterministic
    * (same corpus → same negatives on any cluster/retry/engine, no
    * rand()), and LEAKAGE-AWARE: a candidate whose content fingerprint
    * equals the query's is excluded, so an exact duplicate of the
    * query can never be served as its own "negative" (the
    * [[leakageSafeSplit]] rule applied to pair construction).
    *
    * Scale shape: queries broadcast (an eval slice is config-sized by
    * definition); the per-pair hash + bucket threshold prune
    * candidates MAP-SIDE to ~poolPermille/10⁴ of the corpus per query
    * BEFORE the rank exchange — the threshold is the knob bounding
    * per-query work; the rank is one exchange on qid.
    *
    * UNDER-DELIVERY contract: a query may receive FEWER than `k`
    * negatives (even zero) when the candidate pool after the
    * fingerprint exclusion and the poolPermille threshold is thin — a
    * small corpus or a low permille. The default mode emits whatever
    * survives (rank ≤ actual count); pass `strict = true` to instead
    * raise naming the first under-delivered query, for training-pair
    * builds where a silent shortfall would skew the pair distribution.
    */
  def negativeSamples(corpus: DataFrame, id: Column, fingerprint: Column,
                      queries: DataFrame, qid: Column, qFingerprint: Column,
                      poolPermille: Int, k: Int,
                      strict: Boolean = false): DataFrame = {
    require(poolPermille > 0 && poolPermille <= 10000,
      s"negativeSamples: poolPermille must be in (0, 10000], got $poolPermille")
    require(k >= 1, s"negativeSamples: k must be >= 1, got $k")
    val q = queries.select(qid.as("qid"), qFingerprint.as("qfp"))
    val cand = corpus.select(id.as("doc_id"), fingerprint.as("fp"))
      .crossJoin(broadcast(q))
      .filter(col("fp") =!= col("qfp"))
      .withColumn("m", md5(concat(col("qid").cast("string"), lit(":"),
        col("doc_id").cast("string"))))
      .filter(conv(substring(col("m"), 1, 6), 16, 10).cast("long") % 10000 <
        poolPermille)
    val w = Window.partitionBy(col("qid")).orderBy(col("m"), col("doc_id"))
    val ranked = cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank"))
    if (!strict) ranked
    else {
      // The guard must see queries with ZERO surviving candidates too
      // (they have no ranked rows), so it left-joins from the
      // (config-sized) query slice to the per-query counts and raises
      // on any shortfall; the returned plan joins through the guard so
      // the check cannot be optimized away unevaluated.
      val perQ = ranked.groupBy(col("qid")).agg(count(lit(1)).as("n_neg"))
      val checked = q.select(col("qid")).join(perQ, Seq("qid"), "left")
        .select(col("qid"),
          when(coalesce(col("n_neg"), lit(0L)) >= k, lit(true))
            .otherwise(raise_error(concat(
              lit("negativeSamples: query "), col("qid").cast("string"),
              lit(" has only "),
              coalesce(col("n_neg"), lit(0L)).cast("string"),
              lit(s" of $k requested negatives (thin pool after the " +
                "fingerprint exclusion / poolPermille threshold)"))))
            .as("ok"))
      ranked.join(broadcast(checked.filter(col("ok")).select(col("qid"))),
        Seq("qid"))
    }
  }

  /** Dataset-mixture plan — the data-mixing table a pretraining run is
    * configured from (the Pile/LLaMA-style source weighting): given
    * per-group token counts `T_g`, target weights in permille, a total
    * token budget `B`, and a repetition cap (milli-epochs: 2000 = at
    * most 2 passes over a group), plan each group's token draw:
    *
    *   ideal_g = permille_g·B div 1000      (the target share)
    *   cap_g   = capMilliEpochs·T_g div 1000 (repetition-capped supply)
    *   take_g  = least(ideal_g, cap_g)
    *
    * then redistribute the shortfall `D = B − Σtake` across groups with
    * headroom, proportional to headroom, in ONE integer-exact pass
    * (`extra_g = D·head_g div Σhead` — never exceeds headroom because a
    * budget with `D > Σhead` is INFEASIBLE at this cap and raises
    * loudly instead of silently over-repeating data). The division
    * remainder (< number of groups with headroom) is emitted as an
    * explicit `__UNASSIGNED` row — the no-silent-caps rule: a plan that
    * quietly planned B−r tokens would read as "budget met".
    *
    * Weights and data groups must match EXACTLY — a weight naming an
    * absent group, or a group with no weight, raises (a typo'd source
    * name silently dropping a corpus slice is the mixing bug this
    * table exists to prevent).
    *
    * Output: (group, n_tokens, target_permille, planned_tokens,
    * milli_epochs = planned·1000 div T, capped), plus the
    * `__UNASSIGNED` row. All integer arithmetic (nonneg `div`, the
    * cross-engine rule). Scale shape: one token aggregation exchange;
    * everything after operates on the groups table (config-sized by
    * definition — a mixture has as many rows as sources).
    */
  def mixturePlan(df: DataFrame, group: Column, tokens: Column,
                  weightsPermille: Seq[(String, Int)], budget: Long,
                  capMilliEpochs: Long): DataFrame = {
    require(weightsPermille.map(_._2).sum == 1000,
      s"mixturePlan: weights must sum to 1000 permille, got " +
        s"${weightsPermille.map(_._2).sum}")
    require(weightsPermille.forall(_._2 > 0),
      "mixturePlan: every weight must be positive (drop the group instead)")
    require(budget > 0 && capMilliEpochs > 0,
      "mixturePlan: budget and capMilliEpochs must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val t = df.groupBy(group.as("group")).agg(sum(tokens).as("n_tokens"))
    val w = weightsPermille.toDF("group", "target_permille")
    val g = t.join(w, Seq("group"), "full_outer")
      .withColumn("n_tokens", when(col("n_tokens").isNotNull, col("n_tokens"))
        .otherwise(raise_error(concat(
          lit("mixturePlan: weight names absent group '"), col("group"),
          lit("'")))))
      .withColumn("target_permille",
        when(col("target_permille").isNotNull,
          col("target_permille").cast("long"))
          .otherwise(raise_error(concat(
            lit("mixturePlan: no weight for group '"), col("group"),
            lit("'")))))
      .withColumn("ideal", expr(s"target_permille * ${budget}L div 1000L"))
      .withColumn("cap", expr(s"${capMilliEpochs}L * n_tokens div 1000L"))
      .withColumn("take1", least(col("ideal"), col("cap")))
      .withColumn("head", col("cap") - col("take1"))
    val tot = g.agg(sum(col("take1")).as("sum_take"),
      sum(col("head")).as("sum_head"))
    val planned = g.join(broadcast(tot))
      .withColumn("deficit", lit(budget) - col("sum_take"))
      .withColumn("sum_head_ok",
        when(col("deficit") <= col("sum_head"), col("sum_head"))
          .otherwise(raise_error(concat(
            lit("mixturePlan: budget infeasible at the repetition cap — " +
              "deficit "), col("deficit").cast("string"),
            lit(" tokens exceeds total headroom "),
            col("sum_head").cast("string")))))
      .withColumn("extra", when(col("sum_head_ok") > 0,
        expr("deficit * head div sum_head_ok")).otherwise(lit(0L)))
      .withColumn("planned_tokens", col("take1") + col("extra"))
    val rows = planned.select(col("group"), col("n_tokens"),
      col("target_permille"), col("planned_tokens"),
      // a weighted group with ZERO tokens would divide by zero — which
      // non-ANSI div turns into a silent NULL in an all-integer plan
      // table; it is a config/data bug (weight on an empty source), so
      // it raises like the other mixturePlan contracts
      when(col("n_tokens") > 0,
        expr("planned_tokens * 1000L div n_tokens"))
        .otherwise(raise_error(concat(
          lit("mixturePlan: weighted group '"), col("group"),
          lit("' has zero tokens — drop the weight or fix the source"))))
        .as("milli_epochs"),
      (col("ideal") > col("cap")).as("capped"))
    val un = planned
      .agg((lit(budget) - sum(col("planned_tokens"))).as("p"))
      .select(lit("__UNASSIGNED").as("group"), lit(0L).as("n_tokens"),
        lit(0L).as("target_permille"), col("p").as("planned_tokens"),
        lit(0L).as("milli_epochs"), lit(false).as("capped"))
    rows.unionByName(un)
  }

  /** Small-group SUPPRESSION over a release stats table — the privacy
    * floor every public data card applies before shipping (k-anonymity
    * at the aggregate level): a per-group row whose population is
    * under `k` can identify its members by intersection, so all such
    * groups collapse into ONE `__SUPPRESSED` row whose numeric columns
    * are the summed remainder — totals stay exact, small groups stay
    * invisible, and the row is ALWAYS present (zeros when no group is
    * small: the report's shape never depends on the data, the
    * data-quality-rules convention).
    *
    * `stats` is an already-aggregated release table (p88's
    * manifestStats shape): `keyCols` identify the group (strings),
    * every OTHER column must be a summable count, and `nCol` (one of
    * them) is the population the floor applies to. The suppressed
    * row's first key is `__SUPPRESSED`, the rest `''` — absence is a
    * value. Scale shape: the input is group-cardinality (never the
    * corpus); one filter + one one-row aggregate over it, computed
    * once via persist-backed lineage truncation.
    */
  def suppressSmallGroups(stats: DataFrame, keyCols: Seq[String],
                          nCol: String, k: Long): DataFrame = {
    require(keyCols.nonEmpty, "suppressSmallGroups: keyCols is empty")
    require(keyCols.contains(nCol) == false &&
      stats.columns.contains(nCol),
      s"suppressSmallGroups: nCol '$nCol' must be a non-key column")
    require(k >= 1, s"suppressSmallGroups: k must be >= 1, got $k")
    val numCols = stats.columns.filterNot(keyCols.contains).toSeq
    val s = stats.localCheckpoint(eager = false)
    val kept = s.filter(col(nCol) >= k)
    val suppressed = s.filter(col(nCol) < k)
      .agg(sum(col(numCols.head)).as(numCols.head),
        numCols.tail.map(c => sum(col(c)).as(c)): _*)
      .select(keyCols.zipWithIndex.map { case (kc, i) =>
        (if (i == 0) lit("__SUPPRESSED") else lit("")).as(kc)
      } ++ numCols.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    kept.select(stats.columns.map(col).toSeq: _*)
      .unionByName(suppressed.select(stats.columns.map(col).toSeq: _*))
  }

  /** The A-ES reservoir key `ln(u)/weight` with its loud weight guard —
    * SHARED by the batch sampler and the streaming twin so their
    * sampling decisions cannot drift (the chunkRows rule).
    */
  private[graft] def aesKey(key: Column, weight: Column): Column = {
    val roll = conv(substring(md5(key.cast("long").cast("string")), 1, 13),
      16, 10).cast("long")
    val u = (roll + 1).cast("double") / lit(4503599627370496.0) // 2^52
    when(weight > 0, log(u) / weight.cast("double"))
      .otherwise(raise_error(concat(
        lit("sampleWeightedPerGroup: weight must be > 0, got "),
        weight.cast("string"))))
  }
}
