package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-hygiene operators for training-data pipelines: repetition
  * filtering, eval-set decontamination, vocabulary statistics, and
  * pattern scrubbing. These are the standard pre-training gates applied
  * after dedup (see [[graft.dedup.Dedup]]) and before mixing (see
  * [[graft.curation.Curation]]).
  *
  * Scale design:
  *  - repetitionStats: both statistics are computed in ROW form from
  *    codegen'd explodes ([[TextFunctions.explodedShingles]] for the
  *    duplicate-n-gram fraction, a token explode for the mode) feeding
  *    two-level aggregates with map-side combine — shuffles move
  *    (doc_id, token/shingle) counts, never text. The array-form
  *    `shingles`/`array_distinct` composition would be interpreted
  *    (HOFs are CodegenFallback) and re-evaluated per reference —
  *    measured 10× slower at sf0.1.
  *  - decontaminate: training shingles are hashed and joined against the
  *    DISTINCT eval-set shingle hashes — the eval side is tiny by
  *    construction (benchmarks are MBs, corpora are TBs), so Spark
  *    broadcasts it; the training side pays ONE doc-keyed shuffle (the
  *    shingle window), which Catalyst reuses for the per-doc distinct —
  *    no all-pairs join, no second exchange (pinned in PlanSpec).
  *  - vocabTopK: two-level hash aggregate (token, doc) → token with
  *    partial combine, then a TakeOrderedAndProject for the global
  *    top-k — no full sort.
  *  - scrub: a pure per-row projection (regexp_replace/regexp_count),
  *    fully codegen'd, zero shuffles.
  */
object CorpusOps {

  /** Per-document repetition statistics (the Gopher-style repetition
    * gates): fraction of duplicate `n`-gram shingles and the most
    * frequent token's share of all tokens. Documents with no tokens
    * report 0.0 for both.
    *
    * Output: (doc_id, dup_ngram_frac, top_tok_frac, repetitive) where
    * `repetitive` = dup_ngram_frac > `maxDupNgramFrac` OR
    * top_tok_frac > `maxTopTokFrac`.
    */
  def repetitionStats(docs: DataFrame, id: Column, text: Column, n: Int = 2,
                      maxDupNgramFrac: Double = 0.2,
                      maxTopTokFrac: Double = 0.1): DataFrame =
    repetitionRawFracs(docs, id, text, n)
      .select(col("doc_id"),
        round(col("__dup_raw"), 4).as("dup_ngram_frac"),
        round(col("__top_raw"), 4).as("top_tok_frac"))
      .withColumn("repetitive",
        col("dup_ngram_frac") > maxDupNgramFrac || col("top_tok_frac") > maxTopTokFrac)

  /** [[repetitionStats]]'s fractions UNROUNDED — one exact IEEE
    * division each, so a THRESHOLD comparison on them is engine-portable
    * ([[filterFunnel]] gates here; display rounding at the output
    * boundary is where engines can disagree on tie-looking values — the
    * p81 lesson).
    */
  private[graft] def repetitionRawFracs(docs: DataFrame, id: Column,
                                        text: Column, n: Int): DataFrame = {
    // duplicate-fraction from shingle rows: (doc, sh) counts, then
    // per-doc (total, distinct); docs with no shingles surface as NULL
    // and coalesce to 0.0 below
    val dup = TextFunctions.explodedShingles(docs, id, text, n)
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("nd"))
      .select(col("doc_id"),
        ((col("total") - col("nd")).cast("double") /
          col("total").cast("double")).as("__dup_raw"))
    // token mode: two-level aggregate, (doc, tok) counts then per-doc max
    val mode = docs
      .select(id.as("doc_id"), explode(TextFunctions.tokens(text)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_tok"))
      .select(col("doc_id"),
        (col("top_c").cast("double") / col("n_tok").cast("double"))
          .as("__top_raw"))
    docs.select(id.as("doc_id"))
      .join(dup, Seq("doc_id"), "left").join(mode, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__dup_raw"), lit(0.0)).as("__dup_raw"),
        coalesce(col("__top_raw"), lit(0.0)).as("__top_raw"))
  }

  /** Eval-set decontamination: flag training documents sharing any
    * `n`-gram shingle with the evaluation corpus — the standard
    * benchmark-leakage gate before pre-training. Shingles are compared
    * by md5 so only 16-byte hashes move, never text; `evalDocs` is
    * distinct-reduced and broadcast (eval sets are small by
    * construction).
    *
    * Output: one row per training document — (doc_id, n_hits,
    * contaminated) with n_hits = number of DISTINCT leaked shingles
    * (0 / false for clean documents).
    */
  def decontaminate(train: DataFrame, trainId: Column, trainText: Column,
                    evalDocs: DataFrame, evalText: Column, n: Int = 3): DataFrame = {
    val trainSh = TextFunctions
      .explodedShingles(train, trainId, trainText, n)
      .select(col("doc_id"), md5(col("sh")).as("h")).distinct()
    val evalSh = evalDocs.select(explode(TextFunctions.shingles(evalText, n)).as("sh"))
      .select(md5(col("sh")).as("h")).distinct()
    val hits = trainSh.join(broadcast(evalSh), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    train.select(trainId.as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Bloom-prefiltered decontamination: [[decontaminate]]'s exact gate
    * with a broadcast Bloom filter of the eval shingle hashes pruning
    * the training side IN THE SCAN STAGE, before any exchange.
    *
    * Why: [[decontaminate]]'s first exchange (the per-doc distinct)
    * carries every training shingle hash — at 100 TB that is the whole
    * corpus' n-gram stream crossing the network to answer a question
    * whose true answer is "almost nothing matches". Here the shingles
    * are generated map-side (array-form [[TextFunctions.shingles]] —
    * interpreted HOF lambdas, the deliberate trade: per-row compute in
    * the scan stage instead of a corpus-sized shuffle) and tested
    * against the Bloom sketch in the same stage, so the exchange
    * carries only true hits plus an `fpp` fraction of false positives.
    *
    * Exactness is NOT traded away: Bloom filters have no false
    * negatives, and the survivors still verify against the exact
    * broadcast eval set — false positives die there, so the output is
    * row-for-row identical to [[decontaminate]] (spec-pinned, and the
    * oracle is the exact computation). The sketch is sized from the
    * eval side's own count — eval sets are small by construction, and
    * at 1% fpp the filter costs ~1.2 MB per million eval shingles.
    */
  def bloomDecontaminate(train: DataFrame, trainId: Column, trainText: Column,
                         evalDocs: DataFrame, evalText: Column, n: Int = 3,
                         fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    // the eval subtree runs three times (count job, sketch job, the
    // broadcast build of the verify side) — each pass is bounded by the
    // small eval set, and NOT caching it means no persisted-RDD
    // lifecycle for callers to manage (the round-3 leak class)
    val evalSh = evalDocs
      .select(explode(graft.functions.ShingleMd5(evalText, n)).as("h"))
      .distinct()
    val bf = evalSh.stat.bloomFilter("h", math.max(evalSh.count(), 1L), fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((h: String) => h != null && bfB.value.mightContainString(h))
    val trainSh = train
      .select(trainId.as("doc_id"),
        explode(graft.functions.ShingleMd5(trainText, n)).as("h"))
      .filter(mightContain(col("h"))) // map-side: prunes before the exchange
      .distinct()
    val hits = trainSh.join(broadcast(evalSh), Seq("h")) // exact verify: FPs die
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    train.select(trainId.as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Span-level decontamination: where [[decontaminate]] flags whole
    * documents, this reports the MAXIMAL contaminated token spans — the
    * shape surgical scrubbing needs (a 100-page document with one
    * leaked benchmark paragraph loses the paragraph, not the document;
    * at 100 TB, whole-doc dropping on any shared 3-gram costs real
    * yield).
    *
    * A hit at token position p (0-based) covers tokens [p, p+n-1];
    * overlapping or ADJACENT coverage merges (gaps-and-islands over the
    * hit positions: a new span starts when pos > previous running max
    * end + 1 — two abutting n-grams are one contiguous leaked passage).
    *
    * Plan shape: positional shingles ride
    * [[TextFunctions.explodedShinglesPos]]'s doc_id window shuffle; the
    * eval set is distinct-reduced and broadcast (hashes only); the
    * island windows and the final span aggregation are all per-doc on
    * the SAME doc_id partitioning — one corpus-sized shuffle total.
    *
    * Output: (doc_id, span_start, span_end, n_grams) per maximal span,
    * token positions inclusive; clean documents produce no rows.
    */
  def decontaminateSpans(train: DataFrame, trainId: Column, trainText: Column,
                         evalDocs: DataFrame, evalText: Column,
                         n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trainSh = TextFunctions
      .explodedShinglesPos(train, trainId, trainText, n)
      .select(col("doc_id"), col("pos"), md5(col("sh")).as("h"))
    val evalSh = evalDocs
      .select(explode(TextFunctions.shingles(evalText, n)).as("sh"))
      .select(md5(col("sh")).as("h")).distinct()
    val hits = trainSh.join(broadcast(evalSh), Seq("h"))
      .select(col("doc_id"), col("pos"), (col("pos") + lit(n - 1)).as("end"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("__prev_end", max(col("end")).over(wPrev))
      .withColumn("__new_span",
        when(col("__prev_end").isNull || col("pos") > col("__prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("__span_id", sum(col("__new_span")).over(w))
      .groupBy(col("doc_id"), col("__span_id"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Surgical scrubbing: re-emit every training document with its
    * [[decontaminateSpans]] passages REMOVED — the remediation step
    * span-level decontamination exists for. Tokens inside any
    * contaminated span are dropped; the survivors rejoin with single
    * spaces in original order. Clean documents pass through with
    * whitespace normalized the same way (`scrubbed` = tokens joined),
    * so the output column is uniformly defined.
    *
    * Plan shape: spans per doc are FEW (bounded by hits, already
    * aggregated); the token stream joins them per-doc on the same
    * doc_id partitioning the tokenization window built, the in-span
    * test is a range predicate against the doc's collected span list
    * (collected per-doc — bounded), and reassembly is one ordered
    * per-doc aggregation. One corpus-sized shuffle, reused end to end.
    *
    * Caveat (inherent to span removal, not this implementation): tokens
    * that were far apart become adjacent after a cut, so scrubbing can
    * in principle SYNTHESIZE a new eval n-gram across the seam. Callers
    * needing a hard guarantee run [[scrubSpansFixpoint]] (scrub →
    * re-probe the cut docs only, to convergence), re-run the
    * [[decontaminate]] gate on the output (cheap:
    * [[bloomDecontaminate]] prunes map-side), or insert a boundary
    * marker token at each seam.
    *
    * Output: (doc_id, n_dropped, scrubbed).
    */
  def scrubSpans(train: DataFrame, trainId: Column, trainText: Column,
                 evalDocs: DataFrame, evalText: Column,
                 n: Int = 3): DataFrame = {
    val spans = decontaminateSpans(train, trainId, trainText, evalDocs, evalText, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = train.select(trainId.as("doc_id"),
      posexplode(TextFunctions.tokens(trainText)).as(Seq("pos", "tok")))
    toks.join(spans, Seq("doc_id"), "left")
      .withColumn("__dropped",
        coalesce(exists(col("__spans"),
          sp => col("pos") >= sp("span_start") && col("pos") <= sp("span_end")),
          lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("__dropped"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
          when(not(col("__dropped")), struct(col("pos"), col("tok"))))),
          s => s("tok")), " ").as("scrubbed"))
  }

  /** Collect the eval set's distinct shingle hashes for broadcast —
    * [[scrubSpansMapSide]]'s static side. The collect is bounded by the
    * eval corpus (small by construction — the same bound
    * [[bloomDecontaminate]]'s sketch build relies on); for eval sets
    * too large to broadcast exactly, fall back to the shuffle-side
    * [[scrubSpans]].
    */
  def evalShingleHashes(evalDocs: DataFrame, evalText: Column,
                        n: Int = 3): Set[String] =
    graft.operators.DriverCollect.distinctValues[String](evalDocs,
      explode(graft.functions.ShingleMd5(evalText, n))).toSet

  /** [[scrubSpans]] as a PURE MAP-SIDE transform: the eval set arrives
    * as a broadcast exact hash set and every document scrubs itself in
    * the scan stage — no shuffle at all, the shape for applying the
    * scrub DURING ingest (the streaming twin runs this stateless, in
    * append mode).
    *
    * Equivalence with the span form: a token at index i drops iff some
    * hit starts in [i−n+1, i] — membership in the union of covered
    * intervals, so island merging is irrelevant to coverage and the two
    * forms agree row for row (spec-pinned).
    *
    * The membership probe is the one Scala UDF here (an exact-set probe
    * has no `functions._` equivalent); shingle construction, coverage,
    * and reassembly stay in column space.
    */
  def scrubSpansMapSide(train: DataFrame, trainId: Column, trainText: Column,
                        evalHashes: Set[String], n: Int,
                        extra: Column*): DataFrame = {
    val spark = train.sparkSession
    val hs = spark.sparkContext.broadcast(evalHashes)
    val member = udf((h: String) => h != null && hs.value.contains(h))
    // kernel tokenization is the exact tokens() dual, so __md5s
    // positions align with __t indexes (0-based); `extra` columns
    // evaluate against the input row and pass through (the streaming
    // release pipeline carries source/lang/fingerprint this way)
    val withToks = train.select((Seq(trainId.as("doc_id"),
        TextFunctions.tokens(trainText).as("__t"),
        graft.functions.ShingleMd5(trainText, n).as("__md5s")) ++ extra): _*)
      .filter(size(col("__t")) >= 1) // zero-token docs: same domain as scrubSpans
    withToks
      .withColumn("__hits",
        when(size(col("__t")) >= n,
          filter(sequence(lit(0), size(col("__t")) - n),
            p => member(element_at(col("__md5s"), p + lit(1)))))
          .otherwise(array().cast("array<int>")))
      .withColumn("__kept",
        filter(col("__t"), (t, i) =>
          !exists(col("__hits"), p => p <= i && p >= i - (n - 1))))
      .withColumn("n_dropped",
        (size(col("__t")) - size(col("__kept"))).cast("long"))
      .withColumn("scrubbed", array_join(col("__kept"), " "))
      .drop("__t", "__md5s", "__hits", "__kept")
  }

  /** The seam re-gate [[scrubSpans]]'s caveat documents, as code: a
    * scrub cut makes far-apart tokens adjacent, which can SYNTHESIZE a
    * new eval n-gram across the seam ("a b [cut] c" where the eval set
    * contains "a b c"). This runs the map-side scrub to a FIXPOINT:
    * after each pass, only documents that pass actually CUT (n_dropped
    * grew) are re-probed — an untouched document has no new seams, so
    * the re-probe set shrinks monotonically and each dirty document
    * loses ≥ 1 token per round (termination is structural; `maxRounds`
    * is a loud-failure guard against a pathological eval set, the
    * maxVocab rule). The guard is a CERTIFICATION bound, deliberately:
    * convergence is only proven by a pass that cuts nothing, so if the
    * last permitted pass still cut, the function raises even though
    * the output MIGHT already be clean — an unverified "probably fine"
    * is exactly what the hard guarantee exists to exclude (set
    * maxRounds ≥ 2; 1 can never certify a corpus that needed any cut). Output matches [[scrubSpansMapSide]] (doc_id,
    * n_dropped, scrubbed) with n_dropped accumulated across rounds, and
    * the guarantee is HARD: no output document contains any eval
    * n-gram, seam-synthesized or not.
    */
  def scrubSpansFixpoint(train: DataFrame, trainId: Column, trainText: Column,
                         evalHashes: Set[String], n: Int,
                         maxRounds: Int = 8): DataFrame = {
    require(maxRounds >= 1, s"scrubSpansFixpoint: maxRounds must be >= 1")
    var cur = scrubSpansMapSide(train, trainId, trainText, evalHashes, n)
      .select(col("doc_id"), col("n_dropped"), col("scrubbed"))
      .localCheckpoint()
    // seams exist only where a cut happened: re-probe exactly the docs
    // the LAST pass cut, until a pass cuts nothing
    var dirty = cur.filter(col("n_dropped") > 0)
    var round = 1
    while (round < maxRounds && !dirty.isEmpty) {
      val rescrub = scrubSpansMapSide(
          dirty.select(col("doc_id"), col("n_dropped").as("__n0"),
            col("scrubbed").as("__text")),
          col("doc_id"), col("__text"), evalHashes, n, col("__n0"))
        .select(col("doc_id"), col("__n0"), col("n_dropped").as("__d"),
          col("scrubbed"))
        .localCheckpoint()
      val merged = rescrub.select(col("doc_id"),
        (col("__n0") + col("__d")).as("n_dropped"), col("scrubbed"))
      cur = cur.join(rescrub.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(merged).localCheckpoint()
      dirty = merged.join(rescrub.filter(col("__d") > 0).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      round += 1
    }
    require(dirty.isEmpty,
      s"scrubSpansFixpoint: still cutting after $maxRounds rounds — " +
        "pathological eval set; raise maxRounds explicitly")
    cur
  }

  /** Alignment-free corpus SELF-deduplication at span granularity (the
    * ExactSubstr idea: repeated PASSAGES hurt LM training beyond
    * repeated documents, and document-level near-dup filters miss a
    * boilerplate block pasted into otherwise-distinct documents). Every
    * n-token span that occurs more than once ANYWHERE in the corpus
    * keeps exactly its globally-first occurrence — total order
    * (doc_id, pos) — and every later occurrence becomes a scrub hit;
    * hit intervals union per document ([[scrubSpans]]'s coverage rule),
    * covered tokens drop, survivors rejoin in order. A document
    * duplicated wholesale survives only as its lowest-id copy; a header
    * repeated across 10k documents survives only where it first
    * appeared.
    *
    * Reference analogue: none (the reference dedups stream elements,
    * not passages) — this is the LLM-pipeline extension the span
    * machinery exists for.
    *
    * Plan shape: positional shingles ride the one doc_id window
    * shuffle; the first-occurrence election is ONE hash-keyed
    * aggregation of a packed BIGINT key (min/count are map-side
    * combinable, so a boilerplate span repeated 10M times moves
    * O(partitions) pre-aggregated rows through the exchange, not 10M);
    * only multi-occurrence hashes (the duplicated sliver) come back
    * through the hash-keyed hit join; islands and reassembly reuse the
    * doc_id partitioning. The packed key is doc_id·2^20 + pos with a
    * loud per-row contract — documents beyond 2^20 tokens must chunk
    * first ([[chunkForRag]]), ids must be non-negative (and < 2^43, or
    * the shift itself would wrap).
    *
    * Choose n as the smallest span WORTH deduplicating (ExactSubstr
    * uses 50 tokens; the default 8 suits short test documents) — at
    * n=3 common trigrams would shred natural text.
    *
    * Output: (doc_id, n_dropped, deduped), one row per input document
    * with ≥ 1 token (the [[scrubSpans]] domain rule).
    */
  def selfDedupSpans(docs: DataFrame, id: Column, text: Column,
                     n: Int = 8): DataFrame = {
    require(n >= 2, s"selfDedupSpans: n must be >= 2, got $n")
    // NOTE (r14): materializing the shingle frame once for its two
    // consumers (localCheckpoint) was MEASURED SLOWER than recomputing
    // the tokenize+hash pass — the cache write/read of the wide
    // (doc_id, pos, h, __k) rows costs more than the codegen'd
    // recompute, and the checkpoint boundary blocks whole-stage
    // pipelining. r15: the second consumer is gone instead — the
    // election and the hit selection fold into ONE window min over a
    // single h-keyed exchange (a non-winning occurrence is exactly a
    // row whose __k is not its hash's minimum; packed keys are unique,
    // so "duplicated hash" needs no separate count), so the
    // tokenize+hash pass runs once with no cache at all. The join form
    // stays in [[scrubSelfHits]] for the streaming twin, whose firsts
    // come from a state table, not this frame.
    val sh = packedSpanShingles(docs, id, text, n)
    val hits = sh
      .withColumn("__w", min(col("__k")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("__k") =!= col("__w"))
      .select(col("doc_id"), col("pos"), (col("pos") + lit(n - 1)).as("end"))
    scrubFromHits(hits, docs, id, text)
  }

  /** Positional n-gram shingles of `docs` with the packed
    * doc_id·2^20+pos election key — [[selfDedupSpans]]'s shared
    * building block (its streaming twin folds the same rows as state).
    * Loud per-row pack-bound contract; see [[selfDedupSpans]].
    */
  private[graft] def packedSpanShingles(docs: DataFrame, id: Column,
                                        text: Column, n: Int): DataFrame =
    withPackedSpanKey(TextFunctions.explodedShinglesPos(docs, id, text, n)
      .select(col("doc_id"), col("pos"), md5(col("sh")).as("h")))

  /** Adds the guarded packed key `__k` to a (doc_id, pos, h) frame —
    * factored so the streaming twin's stateless HOF shingle expansion
    * (window `lead` is batch-only) packs under the SAME contract.
    */
  private[graft] def withPackedSpanKey(sh: DataFrame): DataFrame = {
    val posBits = 20
    // long multiply, NOT shiftleft: shiftleft keeps the input's integer
    // type, so an IntegerType id column would wrap at 2^11 with the
    // guard still green (the chunkRows rule)
    sh.withColumn("__k",
      when(col("pos") < (1L << posBits) && col("doc_id").between(0L, (1L << 43) - 1),
        col("doc_id").cast("long") * lit(1L << posBits) + col("pos"))
        .otherwise(raise_error(concat(
          lit("selfDedupSpans: pack bound exceeded (0 <= doc_id < 2^43, " +
            s"pos < 2^$posBits required; chunk oversized docs first) at doc_id="),
          col("doc_id"), lit(" pos="), col("pos")))))
  }

  /** [[selfDedupSpans]]'s scrub half: `firsts` = (h, __w) — the packed
    * first-occurrence key per DUPLICATED shingle hash (however elected:
    * the batch aggregation or the streaming twin's state table). Every
    * non-winning occurrence becomes a hit; islands + ordered reassembly
    * ride the doc_id partitioning ([[scrubSpans]]'s exact shape).
    */
  private[graft] def scrubSelfHits(docs: DataFrame, id: Column, text: Column,
                                   firsts: DataFrame, n: Int): DataFrame =
    scrubSelfHitsFrom(packedSpanShingles(docs, id, text, n),
      docs, id, text, firsts, n)

  /** [[scrubSelfHits]] over an already-built shingle frame — so a
    * caller that ALSO elected from that frame shares one pass.
    */
  private def scrubSelfHitsFrom(sh: DataFrame,
                                docs: DataFrame, id: Column, text: Column,
                                firsts: DataFrame, n: Int): DataFrame =
    scrubFromHits(
      sh.join(firsts, Seq("h"))
        .filter(col("__k") =!= col("__w"))
        .select(col("doc_id"), col("pos"), (col("pos") + lit(n - 1)).as("end")),
      docs, id, text)

  /** The island-merge + ordered-reassembly tail shared by the batch
    * window election and the firsts-join form: `hits` is
    * (doc_id, pos, end) non-winning span occurrences.
    */
  private def scrubFromHits(hits: DataFrame,
                            docs: DataFrame, id: Column,
                            text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // islands + scrub: scrubSpans' exact shape over the self-hits
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val spans = hits
      .withColumn("__prev_end", max(col("end")).over(wPrev))
      .withColumn("__new_span",
        when(col("__prev_end").isNull || col("pos") > col("__prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("__span_id", sum(col("__new_span")).over(w))
      .groupBy(col("doc_id"), col("__span_id"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = docs.select(id.as("doc_id"),
      posexplode(TextFunctions.tokens(text)).as(Seq("pos", "tok")))
    toks.join(spans, Seq("doc_id"), "left")
      .withColumn("__dropped",
        coalesce(exists(col("__spans"),
          sp => col("pos") >= sp("span_start") && col("pos") <= sp("span_end")),
          lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("__dropped"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
          when(not(col("__dropped")), struct(col("pos"), col("tok"))))),
          s => s("tok")), " ").as("deduped"))
  }

  /** Materialize the span first-occurrence INDEX — [[selfDedupSpans]]'s
    * election as a served artifact, the production ExactSubstr shape:
    * a 100 TB corpus is deduplicated ONCE, and each day's crawl batch
    * then dedups against the frozen index without ever re-reading the
    * corpus. One row per DISTINCT corpus shingle — (h, w, c) with w
    * the packed first-occurrence key — vocabulary-of-shingles-sized,
    * the inverted-index storage rule.
    */
  def buildSpanIndex(docs: DataFrame, id: Column, text: Column,
                     n: Int, dir: String): Unit =
    packedSpanShingles(docs, id, text, n)
      .groupBy(col("h"))
      .agg(min(col("__k")).as("w"), count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(dir)

  /** Log-structured [[buildSpanIndex]]: each crawl batch lands its OWN
    * election — (h, w, c) over just that batch — as a `segment=<label>`
    * partition, append-only (the bm25IndexSegment shape). The combined
    * election is derivable at serve time because min and sum are
    * associative across segments; no segment ever rewrites another.
    */
  def appendSpanSegment(docs: DataFrame, id: Column, text: Column,
                        n: Int, dir: String, segment: String): Unit =
    spanSegment(docs, id, text, n)
      .write.mode("overwrite").parquet(s"$dir/segment=$segment")

  /** One batch's span-election segment — (h, w, w2, c) over just that
    * batch, where `w2` is the IN-SEGMENT runner-up key (null when the
    * segment holds one occurrence). SHARED by the batch appender and
    * the streaming log twin (the chunkRows rule). The runner-up is
    * what makes TAKEDOWNS repairable at serve time
    * ([[serveSpanIndexWithTombstones]]): the global top-2 of all
    * occurrences is always contained in the union of segment top-2s,
    * so a tombstoned winner promotes exactly without re-reading any
    * corpus. Cost: one extra aggregation sharing the h partitioning
    * (exact integer keys — a double-scored bounded buffer would
    * corrupt packed keys above 2^52).
    */
  private[graft] def spanSegment(docs: DataFrame, id: Column, text: Column,
                                 n: Int): DataFrame = {
    val p = packedSpanShingles(docs, id, text, n)
    val m1 = p.groupBy(col("h"))
      .agg(min(col("__k")).as("w"), count(lit(1)).as("c"))
    val m2 = p.join(m1.select(col("h"), col("w")), Seq("h"))
      .filter(col("__k") > col("w"))
      .groupBy(col("h")).agg(min(col("__k")).as("w2"))
    m1.join(m2, Seq("h"), "left")
      .select(col("h"), col("w"), col("w2"), col("c"))
  }

  /** Compact a segmented span index: N segments' (h, w, w2, c) rows
    * fold into ONE segment-equivalent table — w/c by min/sum, the
    * runner-up by two-smallest-of-the-candidate-union (exact: the
    * global top-2 is always contained in the union of segment top-2s).
    * Plain serving over the compacted table is IDENTICAL to serving
    * the segments ([[mergeSpanSegments]] is the same fold — spec- and
    * oracle-pinned). Takedown serving stays CORRECT but narrows:
    * candidates beyond the global top-2 are gone, so a shingle whose
    * two smallest occurrences are both tombstoned goes DIRTY where the
    * uncompacted segments might still have repaired from a third
    * candidate (conservativeness spec-pinned — a compacted answer is
    * never a wrong promotion). Operational rule: apply takedowns
    * BEFORE compacting, or keep segments while a takedown feed is
    * live.
    */
  def compactSpanSegments(segs: DataFrame): DataFrame = {
    val f1 = segs.groupBy(col("h"))
      .agg(min(col("w")).as("w"), sum(col("c")).as("c"))
    val f2 = segmentCandidates(segs)
      .join(f1.select(col("h"), col("w").as("__w1")), Seq("h"))
      .filter(col("k") > col("__w1"))
      .groupBy(col("h")).agg(min(col("k")).as("w2"))
    f1.join(f2, Seq("h"), "left")
      .select(col("h"), col("w"), col("w2"), col("c"))
  }

  /** The candidate-key union of a segment table — every stored winner
    * and runner-up as (h, k) rows. ONE definition shared by the
    * compactor and the takedown server, because "which keys are
    * recoverable" is the contract both rest on: an edit here changes
    * both together or neither.
    */
  private def segmentCandidates(segs: DataFrame): DataFrame =
    segs.select(col("h"), col("w").as("k"))
      .unionByName(segs.filter(col("w2").isNotNull)
        .select(col("h"), col("w2").as("k")))

  /** Serve the merged election UNDER a takedown feed — the span
    * index's tombstone story ([[graft.similarity.SimilaritySearch]]'s
    * ANN index and the BM25 segments have theirs; passage dedup needs
    * one too, because a removed document must stop being the canonical
    * copy). Per duplicated shingle the answer is the smallest SURVIVING
    * candidate key, candidates = every segment's stored top-2 — which
    * is EXACT unless some segment could hide a smaller survivor: a
    * segment holding ≥3 occurrences whose two known smallest are BOTH
    * tombstoned has unstored occurrences anywhere above its runner-up,
    * so if that runner-up sits below the answer the row is DIRTY
    * (emitted explicitly with keeper −1, never silently dropped — the
    * no-silent-caps rule; remediation = re-append those docs'
    * segment). Exactness of the clean rows is structural: any true
    * survivor smaller than the answer would either be a stored
    * candidate (contradicting minimality) or force its segment into
    * the dirty rule. `n_instances` stays the PRE-takedown count
    * (per-doc occurrence counts are not stored; documented upper
    * bound). `repaired` = the pre-takedown winner lost its document
    * and a survivor was promoted.
    */
  def serveSpanIndexWithTombstones(spark: org.apache.spark.sql.SparkSession,
                                   dir: String,
                                   tombstones: DataFrame): DataFrame = {
    val posBits = 20
    val segs = spark.read.parquet(dir)
    require(segs.columns.contains("w2"),
      "serveSpanIndexWithTombstones: index at " + dir + " has no 'w2' " +
        "column — takedown repair needs segment top-2s " +
        "(appendSpanSegment/compactSpanSegments layouts); buildSpanIndex's " +
        "flat index stores only winners and cannot serve takedowns")
    val t = tombstones.select(col("doc_id").cast("long").as("td")).distinct()
    val f1 = segs.groupBy(col("h"))
      .agg(min(col("w")).as("w1"), sum(col("c")).as("n_instances"))
      .filter(col("n_instances") > 1)
    val surv = segmentCandidates(segs)
      .join(t, expr(s"k div ${1L << posBits}L") === col("td"), "left_anti")
      .groupBy(col("h")).agg(min(col("k")).as("__ans"))
    val risk = segs.filter(col("c") > 2)
      .join(t.select(col("td").as("__t1")),
        expr(s"w div ${1L << posBits}L") === col("__t1"), "left_semi")
      .join(t.select(col("td").as("__t2")),
        expr(s"w2 div ${1L << posBits}L") === col("__t2"), "left_semi")
      .groupBy(col("h")).agg(min(col("w2")).as("__rmin"))
    f1.join(surv, Seq("h"), "left")
      .join(risk, Seq("h"), "left")
      .withColumn("__dirty", col("__ans").isNull ||
        (col("__rmin").isNotNull && col("__rmin") < col("__ans")))
      .select(col("h"),
        when(col("__dirty"), lit(-1L))
          .otherwise(expr(s"__ans div ${1L << posBits}L")).as("keeper_doc"),
        when(col("__dirty"), lit(-1L))
          .otherwise(col("__ans") % lit(1L << posBits)).as("keeper_idx"),
        col("n_instances"),
        (!col("__dirty") && col("__ans") =!= col("w1")).as("repaired"),
        col("__dirty").as("dirty"))
  }

  /** Serve the merged election from a segmented span index: one
    * h-keyed aggregation over the segment rows (min/sum — associative,
    * so segment count never changes the answer), duplicated shingles
    * only, winners unpacked. Identical to [[selfDedupSpans]]'s election
    * over the union of all appended batches — oracle-pinned. Segment
    * rows, not corpus tokens, are what moves: the serve cost scales
    * with index size, the corpus is never re-read.
    */
  def serveSpanIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    mergeSpanSegments(spark.read.parquet(dir))

  /** The segment merge itself — shared by the disk-layout server and
    * the streaming log twin.
    */
  private[graft] def mergeSpanSegments(segs: DataFrame): DataFrame =
    segs
      .groupBy(col("h"))
      .agg(min(col("w")).as("__w"), sum(col("c")).as("n_instances"))
      .filter(col("n_instances") > 1)
      .select(col("h"),
        expr(s"__w div ${1L << 20}L").as("keeper_doc"),
        (col("__w") % lit(1L << 20)).as("keeper_idx"),
        col("n_instances"))

  /** Incremental span self-dedup of a NEW crawl batch against a frozen
    * [[buildSpanIndex]] artifact — the corpus is never re-read. The
    * combined election is derivable locally: a batch occurrence of an
    * INDEXED shingle always loses (the crawl-order contract below), a
    * shingle new to the index elects within the batch, and a shingle
    * seen once in the batch and never before stays unique. Output
    * equals [[selfDedupSpans]] over (corpus ∪ batch) restricted to the
    * batch — oracle-pinned.
    *
    * Crawl-order contract (loud, per-row): every batch id must follow
    * every indexed id in the (doc_id, pos) total order — an id reused
    * or interleaved with the index would silently flip elections, so
    * it raises instead.
    */
  def selfDedupIncremental(batch: DataFrame, id: Column, text: Column,
                           indexDf: DataFrame, n: Int = 8): DataFrame = {
    val be = packedSpanShingles(batch, id, text, n)
      .groupBy(col("h"))
      .agg(min(col("__k")).as("__bw"), count(lit(1)).as("__bc"))
    val firsts = be
      .join(indexDf.select(col("h"), col("w").as("__iw")), Seq("h"), "left")
      .filter(col("__iw").isNotNull || col("__bc") > 1)
      .select(col("h"),
        when(col("__iw").isNull || col("__iw") <= col("__bw"),
          coalesce(col("__iw"), col("__bw")))
          .otherwise(raise_error(concat(
            lit("selfDedupIncremental: crawl-order contract violated — " +
              "a batch id precedes the indexed winner for shingle "),
            col("h")))).as("__w"))
    scrubSelfHits(batch, id, text, firsts, n)
  }

  /** Winnow-probed decontamination: [[decontaminate]]'s gate, but both
    * sides probe winnow-SELECTED fingerprints
    * ([[graft.dedup.Dedup.winnowFingerprints]]) instead of every n-gram
    * — ~1/window the fingerprints moved and broadcast, at the cost of a
    * coarser guarantee: a shared run of ≥ window+n-1 tokens is always
    * caught (the winnowing guarantee — both docs select a common
    * minimum in the shared window), but a single isolated shared n-gram
    * may not be. The right trade at 100 TB when the contamination
    * definition is "a meaningful shared passage", not "any 3 words".
    */
  def decontaminateWinnow(train: DataFrame, trainId: Column, trainText: Column,
                          evalDocs: DataFrame, evalId: Column, evalText: Column,
                          n: Int = 3, window: Int = 4): DataFrame = {
    import graft.dedup.Dedup
    val trainFp = Dedup.winnowFingerprints(train, trainId, trainText, n, window)
    val evalFp = Dedup.winnowFingerprints(evalDocs, evalId, evalText, n, window)
      .select(col("fingerprint")).distinct()
    val hits = trainFp.join(broadcast(evalFp), Seq("fingerprint"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    train.select(trainId.as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Corpus vocabulary top-k: the `k` most frequent whitespace tokens
    * with total term frequency and document frequency — the input to
    * tokenizer-vocabulary construction and frequency-based filtering.
    * Rank breaks ties by token (ascending) for determinism.
    *
    * Output: (rank, token, tf, df_docs), rank 1-based by tf DESC.
    */
  def vocabTopK(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(TextFunctions.tokens(text)).as("token"))
    val stats = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df_docs"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k) // TakeOrderedAndProject — no global sort
    // k rows post-limit: rank via GlobalIndex's zipWithIndex (no window
    // at all) — a global row_number window warned "moving all data to a
    // single partition" on every call, and EliminateWindowPartitions
    // strips a literal partition key, so partitionBy(lit) can't
    // silence it.
    graft.operators.GlobalIndex
      .withRowIndex(stats, Seq(col("tf").desc, col("token").asc), "rank")
      .select(col("rank"), col("token"), col("tf"), col("df_docs"))
  }

  /** Cumulative VOCAB-COVERAGE curve — the Zipf observable a tokenizer
    * vocabulary or stopword budget is sized against: at each checkpoint
    * k, the fraction of ALL corpus tokens covered by the k most
    * frequent types, in integer micro-units. Output one row per
    * checkpoint: (k, covered_tokens, total_tokens, share_micro); a
    * checkpoint beyond the vocabulary simply covers everything, and an
    * empty corpus reports 0 shares, not a division error.
    *
    * Scale shape: rides [[vocabTopK]]'s bounded top-k (two-level hash
    * aggregate + TakeOrdered — no global sort, no global window); the
    * checkpoints are config-sized literals range-joined against the
    * ≤max(k)-row artifact (a tiny broadcast nested loop, the accepted
    * one-row-stats shape); the denominator is ONE map-side token-count
    * sum.
    */
  def vocabCoverage(docs: DataFrame, id: Column, text: Column,
                    ks: Seq[Long]): DataFrame =
    vocabCoverageFromTf(tokenCounts(docs, text, "token", "tf"), ks)

  /** The vocabulary fold: one (`tok`, `cnt`) row per distinct token of
    * `text`. Counts sum, so a stream folds it with state bounded by the
    * vocabulary; [[vocabCoverage]], [[bpeTrainMerges]] and
    * [[prefixIndex]] finalize it.
    */
  private[graft] def tokenCounts(docs: DataFrame, text: Column,
                                 tok: String, cnt: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(text)).as(tok))
      .groupBy(col(tok)).agg(count(lit(1)).as(cnt))

  /** The finalize half of [[vocabCoverage]] over an ALREADY-folded
    * (token, tf) frequency table — shared with the streaming twin,
    * whose cross-batch state IS that table (the q119 finest-grain-fold
    * rule). The denominator is the table's own tf sum (≡ total corpus
    * tokens), so one input drives both the curve and its base.
    */
  def vocabCoverageFromTf(tf: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      "vocabCoverage: checkpoints must be >= 1")
    require(ks.distinct.size == ks.size,
      "vocabCoverage: duplicate checkpoints")
    require(ks.max <= 100000,
      s"vocabCoverage: checkpoints above 1e5 break the bounded-artifact " +
        s"contract, got ${ks.max}")
    val spark = tf.sparkSession
    import spark.implicits._
    val top = graft.operators.GlobalIndex.withRowIndex(
      tf.select(col("token"), col("tf"))
        .orderBy(col("tf").desc, col("token").asc).limit(ks.max.toInt),
      Seq(col("tf").desc, col("token").asc), "rank")
    val total = tf.agg(coalesce(sum(col("tf")), lit(0L)).as("total_tokens"))
    ks.toDF("k").join(top, col("rank") <= col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("tf")), lit(0L)).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered_tokens"), col("total_tokens"),
        when(col("total_tokens") > 0,
          expr("covered_tokens * 1000000 div total_tokens"))
          .otherwise(lit(0L)).as("share_micro"))
  }

  /** Corpus-relative rare-token fraction per document — the cheap
    * stand-in for LM-perplexity quality filtering (CCNet-style):
    * documents dominated by tokens rare IN THIS CORPUS are the
    * unusual/noisy ones. A token is rare iff
    * `tf(token) · rareFactor < total_corpus_tokens` (unigram probability
    * below 1/rareFactor). Deliberately an INTEGER statistic with one
    * final division — a `-mean log p` float sum would be
    * summation-order-dependent across partitionings and libm
    * implementations, and this engine's correctness gate is bit-exact
    * cross-engine hashes.
    *
    * Scale shape: token frequencies are a two-level hash aggregate; the
    * per-doc score joins token rows to frequencies on the token key and
    * re-aggregates by doc — shuffles move (token/doc_id, count) pairs,
    * never text. Output: (doc_id, n_rare, n_tokens, rare_frac).
    */
  def rareTokenFraction(docs: DataFrame, id: Column, text: Column,
                        rareFactor: Long = 100L): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(TextFunctions.tokens(text)).as("token"))
    val tf = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).as("__total"))
    toks.join(tf, Seq("token"))
      .join(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("tf") * rareFactor < col("__total"), 1L).otherwise(0L))
          .as("n_rare"),
        count(lit(1)).as("n_tokens"))
      .withColumn("rare_frac",
        round(col("n_rare").cast("double") / col("n_tokens").cast("double"), 4))
  }

  /** Common PII patterns for [[scrub]] (lookahead-free so the same
    * regex runs identically under Java regex and RE2).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "(\\+?[0-9]{1,3}[-. ])?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
    "ipv4"  -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** Pattern scrubbing: replace every match of each named pattern with
    * `[<NAME>]` and report per-pattern match counts — the PII-redaction /
    * denylist-removal step. A pure projection (regexp_replace +
    * regexp_count), fully codegen'd; patterns are applied in order, and
    * counts are measured against the ORIGINAL text so overlapping
    * patterns report what they saw, not what survived earlier
    * replacements.
    *
    * Output: (doc_id, clean_text, n_<name> per pattern).
    */
  def scrub(docs: DataFrame, id: Column, text: Column,
            patterns: Seq[(String, String)] = piiPatterns): DataFrame = {
    val cleaned = patterns.foldLeft(text) { case (acc, (name, re)) =>
      regexp_replace(acc, re, s"[${name.toUpperCase}]")
    }
    val counts = patterns.map { case (name, re) =>
      // null text -> 0 matches (not null), so downstream sums stay exact
      coalesce(regexp_count(text, lit(re)).cast("long"), lit(0L)).as(s"n_$name")
    }
    docs.select((Seq(id.as("doc_id"), cleaned.as("clean_text")) ++ counts): _*)
  }

  /** BM25 ranked retrieval over the corpus — the lexical counterpart to
    * the ANN ladder ([[graft.similarity.SimilaritySearch]]), and the
    * workhorse for retrieval-shaped pipeline jobs (finding the training
    * documents most relevant to an eval prompt, quality probes, targeted
    * decontamination). Okapi BM25 (Robertson & Zaragoza 2009; Lucene's
    * non-negative idf form):
    *
    *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
    *   score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Determinism: each (query, doc, term) contribution is ONE double op
    * chain over integer inputs (tf, df, N, dl, sum_dl), scaled to
    * micro-units and cast to LONG once; the per-doc score is the integer
    * sum of those longs — order-independent across partitionings and
    * engines (the integer-exact-stats rule).
    *
    * Scale shape: the query vocabulary is a literal IN-list, so the
    * term filter sits map-side on the exploded scan — only rows whose
    * token IS a query term ever shuffle (query-vocabulary-bounded per
    * document, not corpus-vocabulary-bounded). df and the (N, sum_dl)
    * corpus stats are tiny aggregates broadcast back, and the per-query
    * rank runs through the two-phase bounded
    * [[graft.functions.Aggregators.TopK]] — a query term matching
    * millions of documents never funnels them into one task.
    *
    * Output: (qid, rank, doc_id, score_micro), rank 1-based by score
    * DESC then doc_id ASC; documents sharing no term with a query are
    * absent (their BM25 score is 0 by definition).
    */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
               queries: Seq[(String, Seq[String])], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = docs.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
    // corpus length stats: a second column-pruned scan rather than an
    // aggregate over the exploded term rows, so the term filter below
    // stays adjacent to the main scan
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("sum_dl"))
    val tf = toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, ts) => ts.distinct.map((qid, _)) }
      .toDF("qid", "term")
    // df rides a per-term window over the ONE (doc, term) aggregate —
    // the old dfreq groupBy + broadcast join-back re-evaluated the
    // whole corpus explode for the broadcast side (column pruning
    // specializes the copy, so ReuseExchange never deduplicates it);
    // the window's exchange is query-vocab-filtered rows only
    val contrib = tf
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .join(broadcast(q), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        bm25Micro(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("sum_dl"), k1, b).as("m"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("m")).as("score_micro"))
    graft.similarity.SimilaritySearch.rankTopK(
        contrib.select(col("qid").as("query_id"),
          col("doc_id").as("neighbor_id"),
          col("score_micro").cast("double").as("cos")), k)
      .select(col("query_id").as("qid"), col("rank"),
        col("neighbor_id").as("doc_id"), col("cos").cast("long").as("score_micro"))
  }

  /** Field-weighted BM25F with an ANCHOR-TEXT field — the off-page
    * signal [[graft.graph.LinkGraph.anchorTerms]] harvests, folded
    * into ranking the way web search stacks do (Zaragoza et al.,
    * TREC-13 "simple BM25F"): per-field term frequencies are
    * length-normalized and weighted FIRST,
    *
    *   tfn = w_body · tf_b / (1 − b_body + b_body · dl_b/avgdl_b)
    *       + w_anchor · tf_a / (1 − b_anchor + b_anchor · dl_a/avgdl_a)
    *
    * and saturation applies ONCE to the combined value,
    * `idf · tfn / (k1 + tfn)` — NOT a per-field BM25 sum, which would
    * double-saturate and break the eliteness model (the published
    * BM25F argument). A document's anchor field is its domain
    * family's harvested anchor bag (`fieldKey` joins docs to
    * `anchors` = (field_key, term, n)): anchor text lives at domain
    * granularity, so every page of the family shares it; a family
    * nobody links to has dl_a = 0 and contributes only body mass.
    *
    * Determinism: one double op chain per (query, doc, term) over
    * integer inputs, micro-scaled and truncated to LONG once, per-doc
    * score = integer sum (the bm25Micro rule). df counts docs where
    * the term appears in EITHER field.
    *
    * Scale shape: body rows keep p49's map-side query-vocabulary
    * IN-list on the exploded scan and CARRY their doc length (and
    * family key) down the explode, so per-doc normalization needs no
    * corpus-cardinality length join at all; the anchor side is domain-
    * cardinality, vocab-filtered, and BROADCAST onto the docs' (doc,
    * family) projection — both fields land in ONE union → one
    * (doc, term) aggregate. Corpus stats are a second, column-pruned
    * scan aggregated through domain-cardinality partials. NOTHING is
    * checkpointed or cached: a pinned doc-cardinality frame (the old
    * `lens.localCheckpoint`) costs executor memory/disk at corpus
    * scale and is not fault-tolerant — two pruned scans beat it at
    * 100 TB, and df rides a per-term WINDOW over the one (doc, term)
    * aggregate (a dfreq broadcast join-back re-evaluated the whole
    * subtree: column pruning specializes the broadcast's copy, so
    * ReuseExchange never deduplicates it). Rule of thumb this codifies:
    * checkpoint only sub-corpus-cardinality frames (see
    * [[graft.graph.LinkGraph]] — domain-cardinality rank iterates are
    * fine; corpus-cardinality projections are not).
    * Rank via the two-phase bounded TopK.
    *
    * Output: (qid, rank, doc_id, score_micro) like [[bm25TopK]].
    */
  def bm25fTopK(docs: DataFrame, id: Column, text: Column,
                fieldKey: Column, anchors: DataFrame,
                queries: Seq[(String, Seq[String])], k: Int = 10,
                k1: Double = 1.2, bBody: Double = 0.75,
                bAnchor: Double = 0.5, wBody: Double = 1.0,
                wAnchor: Double = 2.0): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    require(terms.nonEmpty, "bm25fTopK needs at least one query term")
    val anc = anchors.select(col("field_key").as("fk"), col("term"),
      col("n").cast("long").as("n"))
    val anDl = anc.groupBy(col("fk")).agg(sum(col("n")).as("dla"))
    // corpus stats: one column-pruned scan → domain-cardinality
    // partials → 1 row (sum_dla = Σ_family docs(family) · dla(family))
    val stats = docs
      .select(fieldKey.as("fk"),
        size(TextFunctions.tokens(text)).cast("long").as("dlb"))
      .groupBy(col("fk"))
      .agg(count(lit(1)).as("nd"), sum(col("dlb")).as("sdlb"))
      .join(broadcast(anDl), Seq("fk"), "left")
      .agg(sum(col("nd")).as("n_docs"), sum(col("sdlb")).as("sum_dlb"),
        coalesce(sum(col("nd") * col("dla")), lit(0L)).as("sum_dla"))
    // both fields as (doc, term, tfb, tfa) deltas → ONE aggregate.
    // Body rows carry dlb and fk down the explode (constant per doc),
    // so normalization data needs no separate doc-length join; anchor
    // rows carry dlb = 0, harmless because tfb = 0 zeroes the body
    // term before dlb is consulted.
    val raw = docs
      .select(id.as("doc_id"), fieldKey.as("fk"),
        TextFunctions.tokens(text).as("toks"))
      .select(col("doc_id"), col("fk"),
        size(col("toks")).cast("long").as("dlb"),
        explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .select(col("doc_id"), col("fk"), col("dlb"), col("term"),
        lit(1L).as("tfb"), lit(0L).as("tfa"))
      .unionByName(docs.select(id.as("doc_id"), fieldKey.as("fk"))
        .join(broadcast(anc.where(col("term").isin(terms: _*))), Seq("fk"))
        .select(col("doc_id"), col("fk"), lit(0L).as("dlb"), col("term"),
          lit(0L).as("tfb"), col("n").as("tfa")))
    val cmb = raw.groupBy(col("doc_id"), col("term"))
      .agg(sum(col("tfb")).as("tfb"), sum(col("tfa")).as("tfa"),
        max(col("dlb")).as("dlb"), max(col("fk")).as("fk"))
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, ts) => ts.distinct.map((qid, _)) }
      .toDF("qid", "term")
    // df via a per-term window over the ONE (doc, term) aggregate (see
    // bm25TopK): the dfreq broadcast's copy of cmb re-ran the corpus
    // explode AND the anchor join — the costliest repeated subtree in
    // the p136 plan
    val contrib = cmb
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .join(broadcast(anDl), Seq("fk"), "left")
      .withColumn("dla", coalesce(col("dla"), lit(0L)))
      .join(broadcast(q), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        bm25fMicro(col("tfb"), col("tfa"), col("dlb"), col("dla"),
          col("df"), col("n_docs"), col("sum_dlb"), col("sum_dla"),
          k1, bBody, bAnchor, wBody, wAnchor).as("m"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("m")).as("score_micro"))
    graft.similarity.SimilaritySearch.rankTopK(
        contrib.select(col("qid").as("query_id"),
          col("doc_id").as("neighbor_id"),
          col("score_micro").cast("double").as("cos")), k)
      .select(col("query_id").as("qid"), col("rank"),
        col("neighbor_id").as("doc_id"),
        col("cos").cast("long").as("score_micro"))
  }

  /** One term's micro-unit BM25F contribution — the single double op
    * chain over integer inputs (both fields' tf/dl, df, corpus stats),
    * truncated to LONG once. A corpus with NO anchor mass anywhere
    * (sum_dla = 0) contributes body-only — the explicit CASE keeps
    * 0/0 out of the chain; the oracle mirrors it verbatim.
    */
  private[graft] def bm25fMicro(tfb: Column, tfa: Column, dlb: Column,
                                dla: Column, df: Column, nDocs: Column,
                                sumDlb: Column, sumDla: Column, k1: Double,
                                bB: Double, bA: Double, wB: Double,
                                wA: Double): Column = {
    val avgb = sumDlb.cast("double") / nDocs
    val avga = sumDla.cast("double") / nDocs
    // tfb = 0 short-circuits the body term the way sum_dla = 0 does the
    // anchor one: an anchor-only (doc, term) group carries dlb = 0 down
    // the union, and with bB = 1.0 (a legal parameter) its body
    // denominator would be exactly 0 — wB·0/0 = NaN poisoning the
    // per-doc score sum. With tfb = 0 the body contribution is 0 by
    // definition, so the guard never diverges from the oracle's chain
    // (which only ever evaluates it where bB < 1 keeps it finite).
    val tfn = when(tfb === 0L, lit(0.0))
        .otherwise(lit(wB) * tfb / (lit(1 - bB) + lit(bB) * dlb / avgb)) +
      when(sumDla === 0L, lit(0.0))
        .otherwise(lit(wA) * tfa / (lit(1 - bA) + lit(bA) * dla / avga))
    round(log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5))) *
      tfn / (lit(k1) + tfn) * 1e6, 0).cast("long")
  }

  /** Reciprocal-rank fusion — the standard HYBRID-retrieval combiner:
    * fuse any number of (qid, doc_id, rank) rankings (lexical BM25,
    * vector ANN, ...) by summing per-ranking reciprocal-rank credit,
    * rrf = Σ 1e6 div (k0 + rank), in integer micro-units (the p81 rule:
    * never round doubles at an oracle boundary). A document missing
    * from one ranking simply earns no credit there — no outer-join
    * scaffolding, the union handles it.
    *
    * Why RRF and not score interpolation: BM25 micro-scores and cosine
    * micro-units live on incomparable scales; rank-based fusion needs
    * no per-query normalization, which also makes it trivially
    * distributable — each ranking contributes map-side rows, ONE
    * (qid, doc_id) aggregation fuses, and the final per-query rank
    * window runs over ≤ Σk candidate rows per query (bounded by the
    * input ranking depths, never corpus-sized).
    *
    * Output: (qid, rank, doc_id, rrf_micro), rank by rrf DESC then
    * doc_id, top `topK` per query.
    */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.expressions.Window
    val u = rankings.map(_.select(col("qid"), col("doc_id"),
        expr(s"1000000L div (${k0}L + rank)").as("__c")))
      .reduce(_ unionByName _)
    val fused = u.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("__c")).as("rrf_micro"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf_micro"))
  }

  /** The demo query set shared by the batch oracle entry (p49) and its
    * streaming twin (q60) — ONE definition so the two executions rank
    * the same retrieval workload.
    */
  val bm25DemoQueries: Seq[(String, Seq[String])] = Seq(
    ("q_hash_join", Seq("hash", "join", "merge")),
    ("q_window", Seq("window", "sort", "order")),
    ("q_scan", Seq("vector", "scan", "filter")))

  /** One term's micro-unit BM25 contribution — the single double op
    * chain over integer inputs, truncated to LONG once. SHARED by the
    * batch ranker and the streaming twin so their scoring cannot drift
    * (the chunkRows rule).
    */
  private[graft] def bm25Micro(tf: Column, df: Column, dl: Column,
                               nDocs: Column, sumDl: Column,
                               k1: Double, b: Double): Column =
    round(log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5))) *
      (tf * lit(k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * dl /
        (sumDl.cast("double") / nDocs))) * 1e6, 0)
      .cast("long")

  /** One (source, term)'s micro-unit KL contribution,
    * p(t|s)·log(p(t|s) / p(t)) from the counts n_st, n_s, n_t and the
    * corpus total n — the single double op chain, truncated to LONG
    * once. SHARED by the batch operator and the streaming twin so their
    * drift scores cannot drift (the [[bm25Micro]] rule).
    */
  private[graft] def klMicro(nSt: Column, nS: Column, nT: Column,
                             n: Column): Column =
    round((nSt.cast("double") / nS.cast("double")) *
      log((nSt.cast("double") * n.cast("double")) /
        (nS.cast("double") * nT.cast("double"))) * 1e6, 0)
      .cast("long")

  /** Per-document bigram-LM negative log-likelihood against the corpus'
    * own language model — the in-engine form of the CCNet/KenLM
    * perplexity quality filter (Wenzek et al. 2020 train a 5-gram model
    * and drop high-perplexity documents; an add-one-smoothed bigram
    * model is the honest vocabulary-complete version expressible without
    * an external model artifact):
    *
    *   P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)
    *   nll(doc)   = mean over the doc's bigrams of -ln P(w2 | w1)
    *
    * Determinism: each bigram's -ln P is a function of three INTEGERS
    * (c12, c1, V), and [[perDocNll]] sums it in integer micro-units —
    * bit-identical across partitionings, retries, and engines.
    *
    * Scale shape: bigrams are formed MAP-SIDE from the token array (a
    * `transform` over indices — no per-token explode before counting);
    * the LM is two vocabulary-bounded count aggregates; scoring joins
    * each doc's bigrams to the counts on their natural keys (AQE handles
    * the Zipf skew of hot bigrams). Nothing is collected to the driver —
    * V rides along as a broadcast one-row cross join.
    *
    * Output: one row per document with ≥ 2 tokens —
    * (doc_id, n_bigrams, nll, ppl), nll = round(Σ_micro / n / 1e6, 6),
    * ppl = round(exp(nll), 3).
    */
  def bigramPerplexity(docs: DataFrame, id: Column, text: Column): DataFrame =
    scoreBigrams(ngramRows(docs, id, text, 2), bigramLm(docs, id, text))

  /** The trained model artifact: bigram counts, unigram counts, and the
    * vocabulary size, each a DataFrame so the scorer can join them
    * batch-side or stream-static (the deployment shape: train once on
    * the corpus snapshot, score forever against the frozen counts).
    */
  final case class BigramLm(c12: DataFrame, c1: DataFrame, vocab: DataFrame)

  /** Map-side n-gram formation: (doc_id, w1, …, wn) rows from the token
    * array of every document with at least `n` tokens — a `transform`
    * over indices, no pre-count explode state. SHARED by every LM's
    * trainer, its batch scorer and its streaming twin, so their n-gram
    * semantics cannot drift (the chunkRows rule).
    */
  private[graft] def ngramRows(docs: DataFrame, id: Column, text: Column,
                               n: Int): DataFrame =
    docs.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => struct((0 until n).map(j => element_at(col("toks"),
            if (j == 0) i else i + j).as(s"w${j + 1}")): _*))).as("g"))
      .select(col("doc_id") +: (1 to n).map(j => col(s"g.w$j").as(s"w$j")): _*)

  /** Train the add-one bigram LM: two vocabulary-bounded count
    * aggregates plus the vocab size (kept as a one-row DataFrame — no
    * driver collect).
    */
  private[graft] def bigramLm(docs: DataFrame, id: Column, text: Column): BigramLm = {
    val unigrams = docs.select(TextFunctions.tokens(text).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(col("toks")).as("w"))
    val c1 = unigrams.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    BigramLm(
      c12 = ngramRows(docs, id, text, 2)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
      c1 = c1,
      // |vocab| = number of distinct unigrams = c1's row count — a tiny
      // agg over the count table instead of a second corpus scan
      vocab = c1.agg(count(lit(1)).as("vocab")))
  }

  /** Score bigram rows against a trained [[BigramLm]] and aggregate per
    * document through [[perDocNll]]. The count joins are LEFT joins
    * with 0-coalesce: a bigram (or a w1 context) the frozen LM never
    * saw scores at its add-one-smoothed probability (c12=0 → P =
    * 1/(c1+V); w1 also unseen → P = 1/V) — unseen text scores HIGH
    * perplexity, which is what the filter exists to catch. When scoring
    * the training corpus itself every count is present, so the
    * self-corpus oracles are unaffected.
    */
  private[graft] def scoreBigrams(bigrams: DataFrame, lm: BigramLm): DataFrame =
    perDocNll(bigrams
        .join(lm.c12, Seq("w1", "w2"), "left")
        .join(lm.c1, Seq("w1"), "left")
        .crossJoin(broadcast(lm.vocab)),
      (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
        (coalesce(col("c1"), lit(0L)) + col("vocab")).cast("double"),
      "n_bigrams")

  /** The per-document tail every LM scorer shares: −ln `p` of each
    * n-gram row truncates ONCE to integer micro-nats, the per-doc sum is
    * an exact, order-independent integer aggregate, and nll/ppl derive
    * from it — (doc_id, `n`, nll, ppl), `n` the doc's n-gram count.
    */
  private def perDocNll(rows: DataFrame, p: Column, n: String): DataFrame =
    rows
      .select(col("doc_id"),
        round(-log(p) * 1e6, 0).cast("long").as("nll_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as(n), sum(col("nll_micro")).as("s"))
      .select(col("doc_id"), col(n),
        round(col("s") / col(n) / 1e6, 6).as("nll"),
        round(exp(col("s") / col(n) / lit(1e6)), 3).as("ppl"))

  /** The interpolated Kneser–Ney model of order n (Kneser & Ney 1995;
    * Chen & Goodman 1999's recursive formulation — the smoothing a
    * CCNet-style perplexity filter ships, where [[BigramLm]]'s add-one
    * is the didactic baseline). Level k (n ≥ k ≥ 2) scores wn after the
    * k−1 words g before it, interpolating with level k−1:
    *
    *   Pₖ(wn|g) = max(cₖ(g wn) − D, 0)/Σ_w cₖ(g w)
    *            + D·N1+(g·)/Σ_w cₖ(g w) · Pₖ₋₁(wn|g minus its first word)
    *   P₁(wn)   = Pcont(wn) = N1+(·wn)/N1+(··)
    *
    * with absolute discount D. The TOP level's cₙ is the raw count; every
    * LOWER level's cₖ is the CONTINUATION count N1+(·g wn), the distinct
    * words preceding the k-gram (the novel-continuation insight that
    * distinguishes KN from every count-ratio smoother, and the level a
    * raw-count backoff gets wrong); the bottom is Pcont over bigram
    * TYPES. `levels` holds one [[KnLevel]] per k, top first; `cont`
    * (wn, n1p_right) and the one-row `types` (n_types) come off the
    * bigram type table. Every frame is a vocabulary-bounded aggregate,
    * scorable batch-side or stream-static against the frozen snapshot
    * (the [[BigramLm]] deployment shape), and every term is a count
    * ratio — p200/p201/p205 recompute the recursion in DuckDB.
    */
  final case class KneserNeyLm(order: Int, levels: Seq[KnLevel],
                               cont: DataFrame, types: DataFrame,
                               discount: Double)

  /** Level k of an order-n [[KneserNeyLm]], keyed on the last k words
    * w(n−k+1)…wn: `counts` holds cₖ as `c_k`; `ctx` holds, per context
    * (the first k−1 of those words), its sum `total_k` and its row count
    * `n1p_k`.
    */
  final case class KnLevel(counts: DataFrame, ctx: DataFrame)

  /** The word columns level `k` of an order-`order` model keys on. */
  private def knWords(order: Int, k: Int): Seq[String] =
    (order - k + 1 to order).map(j => s"w$j")

  /** Train the order-`order` KN model: one pass to the top n-gram
    * counts, every lower level an aggregate OFF the level above, and the
    * bigram types off the top table (order 2) or one bigram count pass.
    * D must sit in (0, 1); 0.75 is the textbook default.
    */
  def kneserNeyLm(docs: DataFrame, id: Column, text: Column, order: Int,
                  discount: Double = 0.75): KneserNeyLm = {
    require(order >= 2, s"kneserNeyLm: order must be >= 2, got $order")
    require(discount > 0.0 && discount < 1.0,
      s"kneserNeyLm: discount must be in (0, 1), got $discount")
    val top = ngramRows(docs, id, text, order)
      .groupBy(knWords(order, order).map(col): _*)
      .agg(count(lit(1)).as(s"c_$order"))
    // level k's continuation count: the level-(k+1) rows that end in
    // its k-gram, i.e. the distinct words preceding it
    val counts = (order - 1 to 2 by -1).scanLeft(top) { (above, k) =>
      above.groupBy(knWords(order, k).map(col): _*)
        .agg(count(lit(1)).as(s"c_$k"))
    }
    val levels = counts.zip(order to 2 by -1).map { case (c, k) =>
      // context totals AND distinct continuations in one aggregate
      KnLevel(c, c.groupBy(knWords(order, k).init.map(col): _*)
        .agg(sum(col(s"c_$k")).as(s"total_$k"),
          count(lit(1)).as(s"n1p_$k")))
    }
    val bigrams = if (order == 2) top
      else ngramRows(docs, id, text, 2)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    KneserNeyLm(order, levels,
      cont = bigrams.groupBy(col("w2")).agg(count(lit(1)).as("n1p_right"))
        .withColumnRenamed("w2", s"w$order"),
      types = bigrams.agg(count(lit(1)).as("n_types")),
      discount = discount)
  }

  /** An order-2 model's per-bigram probability table — the model as
    * data (w1, w2, the four counts, the 9-decimal probability), the
    * artifact a serving job would broadcast-join against and the frame
    * p200 oracle-gates term by term.
    */
  def knBigramProbs(lm: KneserNeyLm): DataFrame = {
    require(lm.order == 2,
      s"knBigramProbs: needs an order-2 model, got order ${lm.order}")
    val d = lm.discount
    val l = lm.levels.head
    l.counts
      .join(l.ctx, Seq("w1"))
      .join(lm.cont, Seq("w2"))
      .crossJoin(broadcast(lm.types))
      .select(col("w1"), col("w2"), col("c_2").as("c12"),
        col("total_2").as("ctx_total"), col("n1p_2").as("n1p_left"),
        col("n1p_right"),
        round((greatest(col("c_2") - lit(d), lit(0.0)) / col("total_2") +
          lit(d) * col("n1p_2") / col("total_2") *
            (col("n1p_right").cast("double") / col("n_types"))), 9)
          .as("p_r9"))
  }

  /** Score [[ngramRows]] at the model's order against a frozen
    * [[KneserNeyLm]] through the shared micro-nat tail — (doc_id,
    * n_bigrams or n_trigrams, nll, ppl), bit-identical batch or
    * streaming. Unseen events degrade level by level in KN's own
    * terms: an unseen n-gram under a seen context scores the backoff
    * mass of the level below, an unseen context the level below alone,
    * down to bare Pcont(wn); only the FULL-OOV exact zero (wn never a
    * continuation) floors at 1/(N1+(··)+1) — never a log(0), never a
    * clamp on a tiny seen probability.
    */
  def scoreKneserNey(ngrams: DataFrame, lm: KneserNeyLm): DataFrame = {
    val d = lm.discount
    val ks = lm.order to 2 by -1
    val pCont = coalesce(col("n1p_right").cast("double"), lit(0.0)) /
      knTypesGuard
    val p = ks.foldRight(pCont) { (k, lower) =>
      when(col(s"total_$k").isNotNull,
          greatest(coalesce(col(s"c_$k"), lit(0L)) - lit(d), lit(0.0)) /
            col(s"total_$k") +
            lit(d) * col(s"n1p_$k") / col(s"total_$k") * lower)
        .otherwise(lower)
    }
    val floor = lit(1.0) / (knTypesGuard + 1)
    val joined = lm.levels.zip(ks).foldLeft(ngrams) { case (df, (l, k)) =>
      val w = knWords(lm.order, k)
      df.join(l.counts, w, "left").join(l.ctx, w.init, "left")
    }
    perDocNll(joined
        .join(lm.cont, Seq(s"w${lm.order}"), "left")
        .crossJoin(broadcast(lm.types)),
      when(p > lit(0.0), p).otherwise(floor),
      lm.order match {
        case 2 => "n_bigrams"
        case 3 => "n_trigrams"
        case n => s"n_${n}grams"
      })
  }

  /** The empty-model guard of [[scoreKneserNey]], wrapping every
    * n_types consumption: with ZERO bigram types the Pcont division
    * is x/0 — under ANSI (Spark 4's default) that raises an OPAQUE
    * DIVIDE_BY_ZERO mid-plan, and under non-ANSI it is null, every
    * row routes to an unguarded floor 1/(0+1) = 1.0, and the whole
    * stream silently scores at perplexity 1 (a quality filter fed
    * that model passes everything). Either way the right failure is
    * the CONTRACT one: scan-stage, no extra job, and CaseWhen
    * short-circuits so healthy models never evaluate the error branch.
    */
  private def knTypesGuard: Column =
    when(col("n_types") > 0, col("n_types"))
      .otherwise(raise_error(lit("scoreKneserNey: the model holds zero " +
        "bigram types — an empty corpus cannot train an LM, and the OOV " +
        "floor would silently score everything at perplexity 1"))
        .cast("long"))

  /** [[bigramPerplexity]]'s KN twin at any order: train on the corpus,
    * score the corpus — the self-corpus entry p201 (order 2) and p205
    * (order 3) gate against the full SQL recomputation.
    */
  def kneserNeyPerplexity(docs: DataFrame, id: Column, text: Column,
                          order: Int, discount: Double = 0.75): DataFrame =
    scoreKneserNey(ngramRows(docs, id, text, order),
      kneserNeyLm(docs, id, text, order, discount))

  /** The trained discriminative quality model: per-token integer
    * micro-unit log-odds weights as a DataFrame artifact (train once on
    * the corpus snapshot, score batch-side or stream-static forever —
    * the [[BigramLm]] deployment shape).
    */
  final case class LogOddsModel(weights: DataFrame)

  /** Shared map-side token expansion for the log-odds scorer and its
    * streaming twin — one definition so the two executions cannot
    * drift (the chunkRows rule).
    */
  private[graft] def tokenRows(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(TextFunctions.tokens(text)).as("tok"))

  /** Train the reference classifier: a caller-supplied predicate labels
    * the REFERENCE slice (a trusted source, a target language), and
    * each vocabulary token gets the add-one-smoothed log-odds of
    * reference vs rest:
    *   w(t) = ln((c_good+1)/(N_good+V)) − ln((c_bad+1)/(N_bad+V))
    * truncated ONCE to integer micro-units (the p45/p54 rule — per-doc
    * sums become exact order-independent integer aggregates). Class
    * totals stay a one-row DataFrame folded in by broadcast cross join
    * (the accepted one-row-stats plan shape; no driver collect). A null
    * predicate counts as non-reference, by the `otherwise` branch.
    */
  def logOddsModel(docs: DataFrame, text: Column, isGood: Column): LogOddsModel = {
    val toks = docs.select(isGood.cast("boolean").as("__good"),
      explode(TextFunctions.tokens(text)).as("tok"))
    val c = toks.groupBy(col("tok")).agg(
      sum(when(col("__good"), 1L).otherwise(0L)).as("cg"),
      sum(when(col("__good"), 0L).otherwise(1L)).as("cb"))
    val tot = c.agg(sum(col("cg")).as("ng"), sum(col("cb")).as("nb"),
      count(lit(1)).as("v"))
    LogOddsModel(c.crossJoin(broadcast(tot))
      .select(col("tok"), addOneLogRatioMicro(col("cg"), col("ng"),
        col("cb"), col("nb"), col("v")).as("w_micro")))
  }

  /** One feature's add-one log ratio between two categoricals over a
    * `v`-sized support, ln((a+1)/(nA+v)) − ln((b+1)/(nB+v)), truncated
    * ONCE to integer micro-units — the weight both [[logOddsModel]]
    * (reference vs rest) and [[dsirModel]] (target vs raw) learn.
    */
  private def addOneLogRatioMicro(a: Column, nA: Column, b: Column,
                                  nB: Column, v: Column): Column =
    round((log((a + 1).cast("double") / (nA + v).cast("double")) -
      log((b + 1).cast("double") / (nB + v).cast("double"))) * 1e6, 0)
      .cast("long")

  /** Score token rows against a trained [[LogOddsModel]] and aggregate
    * per document: mean per-token log-odds, positive = reference-like.
    * Shared by the batch entry and the streaming twin.
    *
    * The mean stays in PURE INTEGER arithmetic (half-away-from-zero via
    * `(2·|s| + n) div (2n)`, sign reapplied): `round(double, 6)` is NOT
    * engine-portable at tie-looking values — Spark's round goes through
    * BigDecimal.valueOf (shortest-decimal canonicalization of the
    * double) while DuckDB rounds the raw binary value, so a mean that
    * PRINTS as x.5e-6 can round differently (found by the sf0.1 hash
    * gate). The exposed double is derived by exact IEEE division only.
    */
  private[graft] def scoreLogOdds(toks: DataFrame, model: LogOddsModel): DataFrame =
    toks.join(model.weights, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_micro")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("s") >= 0, expr("(2 * s + n_tokens) div (2 * n_tokens)"))
          .otherwise(-expr("(2 * -s + n_tokens) div (2 * n_tokens)"))
          .as("log_odds_micro"))
      .withColumn("log_odds", col("log_odds_micro") / lit(1e6))

  /** Discriminative log-odds quality filter — the CCNet/GPT-3-family
    * "reference classifier" companion to [[bigramPerplexity]]'s
    * generative scorer. Scale shape: ONE vocabulary-bounded (token)
    * count shuffle with map-side combine for the weights, one token
    * join to score, one doc-keyed aggregate — p45's shape exactly.
    */
  def logOddsQuality(docs: DataFrame, id: Column, text: Column,
                     isGood: Column): DataFrame =
    scoreLogOdds(tokenRows(docs, id, text), logOddsModel(docs, text, isGood))

  /** The trained DSIR importance model: per-bucket importance weights
    * in integer micro-units — at most `buckets` rows, the broadcastable
    * artifact ([[BigramLm]]'s deployment shape).
    */
  final case class DsirModel(weights: DataFrame, buckets: Int)

  /** Hashed bigram bucket rows — DSIR's feature extraction, shared by
    * training and scoring so the two cannot drift (the chunkRows rule).
    * Features live in a FIXED `buckets`-sized space (hash the bigram,
    * mod buckets), which is the whole point: the model is bounded
    * regardless of corpus vocabulary, so training is one tiny-key count
    * aggregate and scoring joins against a broadcastable table at any
    * corpus size.
    */
  private[graft] def dsirFeatureRows(docs: DataFrame, id: Column,
                                     text: Column, buckets: Int): DataFrame =
    ngramRows(docs, id, text, 2)
      .select(col("doc_id"),
        (graft.dedup.Dedup.sketchHash40(concat_ws(" ", col("w1"), col("w2")))
          % buckets).as("bucket"))

  /** Train DSIR (Data Selection via Importance Resampling) importance
    * weights: the target distribution is a SMALL in-domain sample, the
    * raw distribution is the big crawl, both modeled as add-one-smoothed
    * categoricals over `buckets` HASHED bigram features, and each
    * bucket's weight is the per-occurrence log importance ratio
    *   m(b) = ln((c_t(b)+1)/(N_t+B)) − ln((c_r(b)+1)/(N_r+B))
    * truncated ONCE to integer micro-units (the p45/p81 rule — per-doc
    * sums stay exact, order-independent integer aggregates). Buckets
    * seen on neither side have no row (a raw doc always hits buckets
    * with c_r ≥ 1 when scored against its own training corpus).
    *
    * Scale shape: two map-side hashed expansions, ONE bucket-keyed
    * count aggregate each (key space = `buckets` — map-side combine
    * collapses everything before the exchange), a full-outer merge of
    * two ≤ buckets-row tables, totals folded in as one-row broadcast
    * cross joins. Nothing driver-side, nothing corpus-sized past the
    * scan.
    */
  def dsirModel(raw: DataFrame, rawId: Column, rawText: Column,
                target: DataFrame, targetId: Column, targetText: Column,
                buckets: Int = 4096): DsirModel = {
    require(buckets >= 2, s"dsirModel: buckets must be >= 2, got $buckets")
    def counts(docs: DataFrame, id: Column, text: Column) =
      dsirFeatureRows(docs, id, text, buckets)
        .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val ct = counts(target, targetId, targetText)
    val cr = counts(raw, rawId, rawText)
    val nt = ct.agg(coalesce(sum(col("c")), lit(0L)).as("n_t"))
    val nr = cr.agg(coalesce(sum(col("c")), lit(0L)).as("n_r"))
    val w = ct.select(col("bucket"), col("c").as("c_t"))
      .join(cr.select(col("bucket"), col("c").as("c_r")), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("c_t", "c_r"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("bucket"), addOneLogRatioMicro(col("c_t"), col("n_t"),
        col("c_r"), col("n_r"), lit(buckets)).as("m_micro"))
    DsirModel(w, buckets)
  }

  /** Score raw documents against a trained [[DsirModel]]: per document,
    * the summed per-occurrence log importance ratio of its hashed
    * bigrams — an exact integer aggregate; positive = target-like.
    * Model-side join is broadcastable by construction (≤ buckets rows).
    * Output: (doc_id, n_feats, logw_micro), one row per doc with ≥ 2
    * tokens whose buckets the model has seen (self-corpus scoring
    * always qualifies).
    */
  def dsirLogWeights(raw: DataFrame, id: Column, text: Column,
                     model: DsirModel): DataFrame =
    dsirFeatureRows(raw, id, text, model.buckets)
      .join(broadcast(model.weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("m_micro")).as("logw_micro"))

  /** DSIR's resampling half: draw `k` documents WITHOUT replacement
    * with probability proportional to exp(logw) — the Gumbel-top-k
    * equivalence of A-ES in LOG space, because exp(logw) overflows any
    * numeric type long before a real corpus stops needing it. Rank key:
    *   g = ln(−ln u) − logw,   u = (md5 52-bit roll + 1) / 2^52
    * ascending (smallest g ⇔ largest u^(1/w)); u is the SAME
    * deterministic dice roll [[graft.curation.Curation]]'s weighted
    * reservoir uses, so the draw is reproducible across engines,
    * retries, and partitionings. Selection is the two-phase bounded
    * TopK — no global sort. Output: (doc_id, rank), rank 1..k.
    */
  def dsirResample(weights: DataFrame, k: Int): DataFrame = {
    val roll = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
      16, 10).cast("long")
    // clamp below 1: an all-ones roll would give u = 1, where Spark's
    // log(-log(1)) = log(0) is NULL but the oracle's ln(0) is -inf —
    // the one input that breaks cross-engine rank parity
    val u = least(roll + 1, lit((1L << 52) - 1)).cast("double") /
      lit(4503599627370496.0) // 2^52
    val g = log(-log(u)) - col("logw_micro").cast("double") / lit(1e6)
    val scored = weights.select(lit(0L).as("query_id"),
      col("doc_id").cast("long").as("neighbor_id"), (lit(0d) - g).as("cos"))
    graft.similarity.SimilaritySearch.rankTopK(scored, k)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
  }

  /** C4/Gopher-style filter FUNNEL with per-gate attribution — the
    * observability report a production curation pipeline publishes
    * beside its output: gates apply in a fixed order (short-doc →
    * language → repetition → stopword density → token-shape), each
    * document is attributed to the FIRST gate that kills it, and the
    * report is one row per stage — (stage, gate, n_in, n_killed,
    * n_out) — plus an explicit `__RETAINED` row (the p113 rule: totals
    * are emitted, never implied). The report's shape never depends on
    * the data — a gate that kills nothing reports 0, not absence (the
    * data-quality-rules rule).
    *
    * Gate thresholds compare UNROUNDED exact-IEEE fractions
    * ([[repetitionRawFracs]]) — display rounding at a comparison
    * boundary is where engines disagree on tie-looking values.
    *
    * Scale shape: token/stopword/shape metrics are map-side column
    * programs in the scan stage; the repetition fractions ride their
    * one doc-keyed aggregation; attribution is a CASE; and the whole
    * report collapses through ONE one-row conditional aggregation
    * (map-side combined) before a literal 6-struct explode — adding a
    * gate adds a `sum(when(...))` column, never a pass.
    */
  def filterFunnel(docs: DataFrame, id: Column, text: Column, lang: Column,
                   minTokens: Int = 20, keepLang: String = "en",
                   maxDupBigramFrac: Double = 0.08,
                   maxTopTokFrac: Double = 0.1,
                   minStopRatio: Double = 0.03,
                   minMeanTokLen: Double = 3.0,
                   maxMeanTokLen: Double = 10.0): DataFrame = {
    require(minTokens >= 1, s"filterFunnel: minTokens must be >= 1 (the " +
      s"short-doc gate also guards the per-token divisions), got $minTokens")
    val m = docs.select(id.as("doc_id"), lang.as("__lang"),
        size(TextFunctions.tokens(text)).cast("long").as("__n_tok"),
        length(text).cast("double").as("__n_char"),
        TextFunctions.langScore(text, keepLang).as("__stop_hits"))
      .join(repetitionRawFracs(docs, id, text, n = 2), Seq("doc_id"))
    val killed = m.select(
      when(col("__n_tok") < minTokens, 1L)
        .when(col("__lang") =!= keepLang, 2L)
        .when(col("__dup_raw") > maxDupBigramFrac ||
          col("__top_raw") > maxTopTokFrac, 3L)
        .when(col("__stop_hits").cast("double") / col("__n_tok") < minStopRatio, 4L)
        .when(col("__n_char") / col("__n_tok") < minMeanTokLen ||
          col("__n_char") / col("__n_tok") > maxMeanTokLen, 5L)
        .otherwise(0L).as("k"))
    funnelReport(killed.agg(funnelAggCols.head, funnelAggCols.tail: _*))
  }

  /** The funnel's one-row conditional aggregation columns over a `k`
    * (killed-at-stage) column — SHARED by the batch report and the
    * streaming twin, whose cross-batch state is exactly this one row
    * (sums and counts are associative, so the fold is slice-independent).
    */
  private[graft] def funnelAggCols: Seq[Column] =
    count(lit(1)).as("n") +:
      (1 to 5).map(i =>
        coalesce(sum(when(col("k") === i, 1L).otherwise(0L)), lit(0L))
          .as(s"k$i"))

  /** Expand the funnel's one-row counts into the 6-row report — literal
    * struct explode, trivially batch-side. Shared by both executions so
    * the report shape cannot drift.
    */
  private[graft] def funnelReport(one: DataFrame): DataFrame = {
    val gates = Seq("min_tokens", "lang", "repetition",
      "stopword_ratio", "mean_token_length")
    val rows = gates.zipWithIndex.map { case (g, i) =>
      val prior = (1 to i).map(j => col(s"k$j")).foldLeft(lit(0L))(_ + _)
      struct(lit((i + 1).toLong).as("stage"), lit(g).as("gate"),
        (col("n") - prior).as("n_in"), col(s"k${i + 1}").as("n_killed"),
        (col("n") - prior - col(s"k${i + 1}")).as("n_out"))
    } :+ {
      val all = (1 to 5).map(j => col(s"k$j")).reduce(_ + _)
      struct(lit(6L).as("stage"), lit("__RETAINED").as("gate"),
        (col("n") - all).as("n_in"), lit(0L).as("n_killed"),
        (col("n") - all).as("n_out"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.gate").as("gate"),
        col("r.n_in").as("n_in"), col("r.n_killed").as("n_killed"),
        col("r.n_out").as("n_out"))
  }

  /** [[filterFunnel]]'s kill attribution as a PURE MAP-SIDE column —
    * the streaming-twin form: the repetition fractions come from array
    * HOFs over the token array instead of the exploded two-level
    * aggregation, producing the SAME integer counts and therefore the
    * SAME exact-IEEE fractions (equivalence spec-pinned, the
    * scrubSpansMapSide pattern). The token-mode scan is O(distinct ×
    * tokens) per document — fine for web-document sizes; book-length
    * inputs should chunk first or use the batch form. Returns the
    * killed-at-stage code (0 = retained).
    */
  private[graft] def funnelKillMapSide(text: Column, lang: Column,
                                       minTokens: Int = 20,
                                       keepLang: String = "en",
                                       maxDupBigramFrac: Double = 0.08,
                                       maxTopTokFrac: Double = 0.1,
                                       minStopRatio: Double = 0.03,
                                       minMeanTokLen: Double = 3.0,
                                       maxMeanTokLen: Double = 10.0): Column = {
    val toks = TextFunctions.tokens(text)
    val nTok = size(toks).cast("long")
    val nChar = length(text).cast("double")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val dupf = when(size(bigrams) > 0,
      (size(bigrams) - size(array_distinct(bigrams))).cast("double") /
        size(bigrams).cast("double")).otherwise(lit(0.0))
    val topf = when(nTok > 0,
      array_max(transform(array_distinct(toks),
        x => size(filter(toks, y => y === x)))).cast("double") /
        nTok.cast("double")).otherwise(lit(0.0))
    when(nTok < minTokens, 1L)
      .when(lang =!= keepLang, 2L)
      .when(dupf > maxDupBigramFrac || topf > maxTopTokFrac, 3L)
      .when(TextFunctions.langScore(text, keepLang).cast("double") / nTok
        < minStopRatio, 4L)
      .when(nChar / nTok < minMeanTokLen || nChar / nTok > maxMeanTokLen, 5L)
      .otherwise(0L)
  }

  /** Retrieval evaluation — "measure, don't guess" for the TEXT ranking
    * stack, the [[graft.similarity.SimilaritySearch.recallAtK]] sibling:
    * per ranked query, the rank of the first relevant result and its
    * reciprocal rank in EXACT integer micro-units (`1e6 div rank` — no
    * float rounding at an oracle boundary), plus the relevant count in
    * the top-k. Zero-hit queries are kept with rr 0 (an inner join
    * would silently drop exactly the queries an operator must see —
    * the recallAtK rule). `ranking` is bm25TopK-shaped (qid, rank,
    * doc_id); `relevance` is (qid, doc_id) ground truth. Both sides
    * are ≤ queries×k rows — the evaluation joins ranked lists, never
    * corpora; run it on a labeled query panel to pick k1/b or index
    * pruning empirically.
    */
  def retrievalMrr(ranking: DataFrame, relevance: DataFrame): DataFrame = {
    val hits = ranking.select(col("qid"), col("rank"), col("doc_id"))
      .join(relevance.select(col("qid"), col("doc_id")), Seq("qid", "doc_id"))
      .groupBy(col("qid"))
      .agg(min(col("rank")).as("frk"), count(lit(1)).as("n_rel_topk"))
    ranking.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_rel_topk"), lit(0L)).as("n_rel_topk"),
        coalesce(col("frk").cast("long"), lit(0L)).as("first_rel_rank"),
        coalesce(expr("CAST(1000000 AS BIGINT) div CAST(frk AS BIGINT)"),
          lit(0L)).as("rr_micro"))
  }

  /** nDCG@k position-discount table in integer micro-units:
    * `disc_micro(r) = round(10⁶ / log₂(r+1))`, materialized ONCE as
    * literal longs that both the Spark evaluation and its SQL oracle
    * embed verbatim. The table being LITERAL is what makes the metric
    * engine-exact: a per-engine `log2` call would put a libm float at
    * the oracle boundary — the trap the integer-micro-unit rule exists
    * to avoid. StrictMath pins the generation itself across JVMs.
    */
  def ndcgDiscountMicro(k: Int): Seq[(Long, Long)] =
    (1 to k).map { r =>
      (r.toLong,
        Math.round(1e6 * StrictMath.log(2.0) / StrictMath.log(r + 1.0)))
    }

  /** Graded-relevance nDCG@k beside [[retrievalMrr]] — the evaluation a
    * ranking stack needs once relevance stops being binary (a doc
    * matching 3 of 3 query terms should count more at rank 1 than a
    * 1-of-3 match). Same integer rule as `rr_micro`: gains are integer
    * grades, discounts come from the shared literal
    * [[ndcgDiscountMicro]] table, so `dcg_micro = Σ grade·disc` is
    * exact integer arithmetic; `idcg_micro` is the DCG of the query's k
    * highest grades (over ALL graded docs, not just retrieved ones);
    * `ndcg_micro` is the half-up quotient `(2·10⁶·dcg + idcg) div
    * (2·idcg)` — both operands nonnegative, so Spark `div` and DuckDB
    * `//` agree. Zero-hit / zero-ideal queries are kept with 0s (the
    * recallAtK rule). `ranking` is (qid, doc_id, rank); `gradedRel` is
    * (qid, doc_id, grade ≥ 1). Both sides are ≤ queries×k rows except
    * the ideal pass, which is one qid-keyed window over the graded
    * ground truth.
    */
  def retrievalNdcg(ranking: DataFrame, gradedRel: DataFrame,
                    k: Int): DataFrame = {
    require(k >= 1, s"retrievalNdcg: k must be >= 1, got $k")
    val spark = ranking.sparkSession
    import spark.implicits._
    val disc = broadcast(ndcgDiscountMicro(k).toDF("rank", "disc_micro"))
    val dcg = ranking
      .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rank"))
      .filter(col("rank") <= k)
      .join(gradedRel.select(col("qid"), col("doc_id"),
        col("grade").cast("long").as("grade")), Seq("qid", "doc_id"))
      .join(disc, Seq("rank"))
      .groupBy(col("qid"))
      .agg(sum(col("grade") * col("disc_micro")).as("dcg_micro"))
    val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("grade").desc, col("doc_id").asc)
    val ideal = gradedRel
      .select(col("qid"), col("doc_id"), col("grade").cast("long").as("grade"))
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= k)
      .join(disc, Seq("rank"))
      .groupBy(col("qid"))
      .agg(sum(col("grade") * col("disc_micro")).as("idcg_micro"))
    ranking.select(col("qid")).distinct()
      .join(dcg, Seq("qid"), "left")
      .join(ideal, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        coalesce(
          when(col("idcg_micro") > 0,
            expr("(2 * 1000000 * dcg_micro + idcg_micro) div (2 * idcg_micro)")),
          lit(0L)).as("ndcg_micro"))
  }

  /** Inverted-index build: one row per token with document frequency,
    * collection frequency, and the doc_id-ordered posting list
    * ("doc_id:tf" entries) — the retrieval artifact BM25/boolean search
    * is served from (build once batch-side, broadcast or bucket-join it
    * thereafter; p49 computes df on the fly, this materializes it).
    *
    * Scale shape: ONE (token, doc_id) tf shuffle, then one token-keyed
    * aggregation. The hot key is the stopword tier — "the" appears in
    * every document, so its posting list is the corpus row count;
    * `maxDf` prunes tokens whose df exceeds the ceiling AFTER counting
    * (stopword postings carry no ranking signal — BM25's idf term is
    * ~0 there), bounding every emitted list. Posting order is numeric
    * doc_id via a struct sort, not string order.
    */
  def invertedIndex(docs: DataFrame, id: Column, text: Column,
                    maxDf: Option[Long] = None): DataFrame = {
    val tf = docs
      .select(id.cast("long").as("doc_id"), explode(TextFunctions.tokens(text)).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val idx = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        array_join(transform(sort_array(collect_list(struct(col("doc_id"), col("tf")))),
          e => concat_ws(":", e.getField("doc_id"), e.getField("tf"))), ",")
          .as("postings"))
    maxDf.fold(idx)(cap => idx.filter(col("df") <= cap))
  }

  /** Compact a log of posting-list SEGMENTS (each a [[invertedIndex]]
    * build over a disjoint document slice — e.g. one micro-batch each,
    * the log-structured streaming index form) into the single index
    * [[invertedIndex]] would have built over the union of the slices.
    *
    * This is the LSM merge step: each segment's posting run is already
    * doc_id-sorted, and the per-token sort-agg here realizes the run
    * merge. What the log buys is never re-scanning or re-tokenizing the
    * raw corpus — compaction touches only (tok, doc_id, tf) entries,
    * which are orders of magnitude smaller than document text. df
    * re-derives as a plain count because a document lives wholly in one
    * slice, so each (tok, doc) pair appears in exactly one segment
    * (the file-sink exactly-once contract upholds that under retries).
    *
    * Scale shape: ONE token-keyed shuffle over posting entries;
    * `maxDf` applies the same stopword-tier prune as the direct build,
    * AFTER counting, so a token's df is never understated.
    */
  def compactPostingSegments(segments: DataFrame,
                             maxDf: Option[Long] = None,
                             deletes: Option[DataFrame] = None): DataFrame = {
    val idx = droppingDeletes(postingEntries(segments), deletes).groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        array_join(transform(sort_array(collect_list(struct(col("doc_id"), col("tf")))),
          e => concat_ws(":", e.getField("doc_id"), e.getField("tf"))), ",")
          .as("postings"))
    maxDf.fold(idx)(cap => idx.filter(col("df") <= cap))
  }

  /** [[compactPostingSegments]]' positional sibling: LSM-merge a log of
    * POSITIONAL segments (each an [[invertedIndexPositional]] build over
    * a disjoint document slice) into the single positional index the
    * batch build produces over the union — closing the gap where phrase
    * retrieval could only be served from a batch-built index while BM25
    * already served fresh from the log. A separate compactor rather
    * than a flag on the tf form because the two posting encodings
    * differ ("doc:tf," vs "doc:p1|p2,") and each has exactly ONE
    * decode site.
    *
    * Same contracts as the tf compactor: compaction touches only
    * (tok, doc_id, pos) entries — never re-tokenizing corpus text; a
    * document lives wholly in one slice, so each (tok, doc) pair's
    * position list comes from exactly one segment (the exactly-once
    * segment-append contract upholds that under retries); df re-derives
    * as a plain count; ONE token-keyed shuffle; `maxDf` prunes AFTER
    * counting. Output is column-for-column [[invertedIndexPositional]],
    * so multi-level re-merge (compact the compacted, q67's pinned LSM
    * property) holds here too.
    */
  def compactPositionalSegments(segments: DataFrame,
                                maxDf: Option[Long] = None,
                                deletes: Option[DataFrame] = None): DataFrame = {
    val perDoc = droppingDeletes(positionalPostingEntries(segments), deletes)
      .groupBy(col("tok"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    val idx = perDoc.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), col("positions")))),
          e => concat_ws(":", e.getField("doc_id"),
            array_join(transform(e.getField("positions"),
              p => p.cast("string")), "|"))), ",").as("postings"))
    maxDf.fold(idx)(cap => idx.filter(col("df") <= cap))
  }

  /** POSITIONAL inverted index: token → (df, postings
    * "doc:pos1|pos2,…" with 1-based token positions, doc_id-ordered) —
    * the artifact PHRASE queries need ([[phraseSearch]]), where the
    * plain [[invertedIndex]] carries only frequencies. Same scale
    * shape: one (token, doc) shuffle + one token-keyed aggregation;
    * the extra cost is position lists instead of counts, linear in
    * corpus tokens — exactly what any phrase-capable index stores.
    */
  def invertedIndexPositional(docs: DataFrame, id: Column, text: Column,
                              maxDf: Option[Long] = None): DataFrame = {
    val occ = docs
      .select(id.cast("long").as("doc_id"),
        posexplode(TextFunctions.tokens(text)).as(Seq("pos0", "tok")))
      .groupBy(col("tok"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos0") + 1)).as("positions"))
    val idx = occ.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), col("positions")))),
          e => concat_ws(":", e.getField("doc_id"),
            array_join(transform(e.getField("positions"),
              p => p.cast("string")), "|"))), ",").as("postings"))
    maxDf.fold(idx)(cap => idx.filter(col("df") <= cap))
  }

  /** Exact PHRASE retrieval served FROM the positional index: for each
    * phrase, the documents containing its terms at CONSECUTIVE
    * positions, with the number of distinct start positions. The
    * standard counting formulation — each occurrence of phrase term i
    * at position p votes for candidate start p − i, and a start whose
    * distinct-offset votes reach the phrase length is a match — so an
    * m-term phrase costs one grouped count over the terms' position
    * postings, never a sliding re-scan of text.
    *
    * Same serve-side contracts as [[booleanSearch]]: query-vocabulary
    * IN-list prune first, broadcast-sized phrase table, and an UNPRUNED
    * index (a maxDf-pruned term makes every phrase containing it
    * unfindable).
    */
  def phraseSearch(index: DataFrame, phrases: Seq[(String, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty),
      "phraseSearch: every phrase needs at least one term")
    require(phrases.map(_._1).distinct.size == phrases.size,
      "phraseSearch: duplicate phrase ids")
    val spark = index.sparkSession
    import spark.implicits._
    val q = phrases.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (qid, i.toLong, t) }
    }.toDF("qid", "i", "tok")
    val qm = phrases.map { case (qid, ts) => (qid, ts.size.toLong) }
      .toDF("qid", "__m")
    val terms = phrases.flatMap(_._2).distinct
    val occ = positionalPostingEntries(index.filter(col("tok").isin(terms: _*)))
    val cand = occ.join(broadcast(q), Seq("tok"))
      .groupBy(col("qid"), col("doc_id"), (col("pos") - col("i")).as("start"))
      .agg(countDistinct(col("i")).as("ni"))
    cand.join(broadcast(qm), Seq("qid"))
      .filter(col("ni") === col("__m"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Query-biased SNIPPET extraction — the serving feature beside
    * ranking: for each (query, matching doc), the `window`-token span
    * showing the MOST DISTINCT query terms, ties broken leftmost.
    * Candidate starts are HIT positions only, and that is EXACT, not a
    * heuristic: for any span, sliding its start right to the first hit
    * inside it never loses coverage (no hits live between the old and
    * new starts), so the hit-anchored maximum is the global maximum
    * and "leftmost" means the leftmost hit-anchored start. Output one
    * row per (qid, doc) with ≥ 1 hit: (qid, doc_id, start — 1-based
    * token index, n_terms, snippet — the literal token slice
    * rejoined); a doc without hits has no snippet row by definition.
    *
    * Scale shape: SHUFFLE-FREE. Every computation — hit harvest,
    * in-window coverage, the leftmost-max election, the slice — is
    * local to ONE (doc, query) pair, so the whole program runs as
    * higher-order array functions in the scan stage: per doc, explode
    * the (config-sized, literal) query list, filter the token array
    * to hits, elect max-coverage per hit anchor. Per-doc work is
    * O(hits·window) per query — each anchor scans only the ≤window
    * hits that can fit its span — so even a keyword-stuffed doc whose
    * every token is a query term stays linear in its length; no exchange exists in the plan
    * (plan-pinned), which also makes the operator a stateless
    * streaming program for free. The first cut of this operator
    * shuffled the exploded hits through a (qid, doc_id) pair-join —
    * same arithmetic, one corpus-sized exchange the local form
    * doesn't need.
    */
  def snippets(docs: DataFrame, id: Column, text: Column,
               queries: Seq[(String, Seq[String])],
               window: Int = 8): DataFrame = {
    require(window >= 1 && window <= 10000,
      s"snippets: window must be in [1, 10000], got $window")
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "snippets: every query needs at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "snippets: duplicate query ids")
    val qArr = array(queries.map { case (qid, ts) =>
      struct(lit(qid).as("qid"),
        array(ts.distinct.map(lit): _*).as("terms"))
    }: _*)
    val w = window
    docs.select(id.cast("long").as("doc_id"),
        TextFunctions.tokens(text).as("toks"), explode(qArr).as("q"))
      .withColumn("hits", expr(
        """filter(transform(toks, (t, i) ->
             named_struct('pos', cast(i + 1 as bigint), 'tok', t)),
           h -> array_contains(q.terms, h.tok))"""))
      .filter(size(col("hits")) > 0)
      // per anchor, only the next `window` hits can land inside a
      // window-token span (hit positions are strictly increasing), so
      // the slice bounds each anchor's scan: O(hits·window) per row,
      // not O(hits²) — a keyword-stuffed doc whose every token is a
      // query term would otherwise make ONE row quadratic in its
      // token count
      .withColumn("m", expr(
        s"""array_max(transform(hits, (h, i) -> named_struct(
              'n_terms', cast(size(array_distinct(transform(
                filter(slice(hits, i + 1, $w),
                  x -> x.pos <= h.pos + ${w - 1}L),
                x -> x.tok))) as bigint),
              'np', -h.pos)))"""))
      .select(col("q.qid").as("qid"), col("doc_id"),
        (-col("m.np")).as("start"), col("m.n_terms").as("n_terms"),
        array_join(slice(col("toks"), (-col("m.np")).cast("int"),
          lit(w)), " ").as("snippet"))
  }

  /** Line-frequency BOILERPLATE strip — the hygiene pass between HTML
    * extraction and fingerprinting (the CCNet recipe): a line that
    * recurs across ≥ `minDocs` docs of one domain family at a doc
    * ratio ≥ `thresholdMicro` (integer micro-units) is navigation /
    * footer / legal chrome, not content, and every occurrence of it
    * is dropped; surviving lines rejoin in original order. Ratio and
    * threshold are exact integer arithmetic (`df·10⁶ div n_docs`, the
    * repo's micro-unit rule); a repeated line inside ONE doc counts
    * once toward df but every occurrence is stripped. A doc whose
    * every line is chrome survives as an EMPTY string — a row, not an
    * absence (downstream length filters must see it). Output:
    * (doc_id, family, text_clean, n_kept, n_removed).
    *
    * Scale shape: per-family doc counts are family-cardinality and
    * BROADCAST; line document-frequencies and the boiler flag ride
    * ONE (family, line) exchange that the flag-to-occurrence join
    * reuses, and the doc reassembly is one doc_id exchange — no
    * all-pairs anything, no per-line window over the corpus. Lines
    * are short by construction (they're display lines), so the
    * (family, line) key is hash-sized payload; headroom: the df·10⁶
    * product stays in long for < 9·10¹² docs per family.
    */
  def boilerplateStrip(docs: DataFrame, id: Column, family: Column,
                       page: Column, thresholdMicro: Long = 500000L,
                       minDocs: Long = 2L): DataFrame = {
    require(thresholdMicro >= 1 && thresholdMicro <= 1000000,
      s"boilerplateStrip: thresholdMicro must be in [1, 1e6], got " +
        thresholdMicro)
    require(minDocs >= 1, s"boilerplateStrip: minDocs must be >= 1, " +
      s"got $minDocs")
    val l = docs.select(id.cast("long").as("doc_id"),
      family.as("family"),
      posexplode(split(page, "\n", -1)).as(Seq("pos0", "line")))
    // input contract: one row per document — so the family doc count
    // is a plain count over the UN-exploded frame (docs, not lines:
    // strictly cheaper, and no distinct expand)
    val famDocs = docs.groupBy(family.as("family"))
      .agg(count(lit(1)).as("__nd"))
    val flags = l.groupBy(col("family"), col("line"))
      .agg(count_distinct(col("doc_id")).as("__df"))
      .join(broadcast(famDocs), Seq("family"))
      .select(col("family"), col("line"),
        (col("__df") >= minDocs &&
          expr("__df * 1000000 div __nd") >= thresholdMicro)
          .as("__boiler"))
    l.join(flags, Seq("family", "line"))
      .groupBy(col("doc_id"), col("family"))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(!col("__boiler"), struct(col("pos0"), col("line"))))),
          x => x.getField("line")), "\n").as("text_clean"),
        count(when(!col("__boiler"), lit(1))).as("n_kept"),
        count(when(col("__boiler"), lit(1))).as("n_removed"))
  }

  /** The demo phrase set shared by the batch oracle entry (p62) and its
    * specs — two corpus-frequent bigrams and one trigram.
    */
  val phraseDemoQueries: Seq[(String, Seq[String])] = Seq(
    ("ph_table_hash", Seq("table", "hash")),
    ("ph_part_filter", Seq("part", "filter")),
    ("ph_table_hash_join", Seq("table", "hash", "join")))

  /** Tombstone application for the posting-log compactors: drop every
    * entry of a deleted doc BEFORE the per-token aggregation, so df/cf
    * and the emitted lists describe exactly the surviving corpus — the
    * index after deletes == a direct build on the survivors (pinned by
    * the p67 oracle and StreamingSpec). Deletes are a doc_id frame
    * (typically tiny vs the log — Spark broadcasts the anti-join side);
    * compaction stays the only rewrite point, so retraction needs no
    * new machinery: tombstones are input, not mutation.
    */
  private def droppingDeletes(entries: DataFrame,
                              deletes: Option[DataFrame]): DataFrame =
    deletes.fold(entries)(d =>
      entries.join(d.select(col("doc_id").cast("long").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))

  /** Parse an index/segment frame's `postings` strings back to
    * (tok, doc_id, tf) entry rows — the ONE place the "doc:tf,…"
    * encoding is decoded (shared by compaction and boolean serving, so
    * a format change has a single parse site).
    */
  private def postingEntries(index: DataFrame): DataFrame =
    index
      .select(col("tok"), explode(split(col("postings"), ",")).as("e"))
      .select(col("tok"),
        split(col("e"), ":").getItem(0).cast("long").as("doc_id"),
        split(col("e"), ":").getItem(1).cast("long").as("tf"))

  /** [[postingEntries]]' positional sibling: decode the
    * "doc:pos1|pos2,…" encoding of [[invertedIndexPositional]] back to
    * (tok, doc_id, pos) occurrence rows — likewise the ONE decode site
    * for that format.
    */
  private def positionalPostingEntries(index: DataFrame): DataFrame =
    index
      .select(col("tok"), explode(split(col("postings"), ",")).as("e"))
      .select(col("tok"),
        split(col("e"), ":").getItem(0).cast("long").as("doc_id"),
        explode(split(split(col("e"), ":").getItem(1), "\\|")).as("ps"))
      .select(col("tok"), col("doc_id"), col("ps").cast("long").as("pos"))

  /** BM25 served FROM A MAINTAINED INDEX instead of from raw documents:
    * `postings` is the (doc_id, term, tf, dl) entry log restricted to
    * the query vocabulary (the q68 per-batch segment form), `stats` the
    * per-slice (n_docs, sum_dl) corpus rows. Scores are identical to
    * [[bm25TopK]] over the same documents — same [[bm25Micro]] integer
    * contributions, same rank tiebreak — but the corpus text is never
    * touched: df aggregates from the entry log, corpus stats sum across
    * slice rows, and only docs holding ≥1 query term are scored. This
    * is what "fresh BM25 over an arriving corpus" costs at an epoch
    * boundary: a scan of the query-vocab entry log, not of the corpus.
    *
    * DELETIONS propagate to the RANKING: pass the tombstoned ids and
    * the (doc_id, dl) doc-length sidecar a production index keeps
    * anyway, and serving scores exactly the surviving corpus — entry
    * rows of deleted docs are masked with one anti-join (df shrinks
    * with them), and the corpus stats subtract the deleted docs'
    * counts/lengths as one more NEGATIVE slice folded into the same
    * sum (the LSM rule: a deletion is appended data entering the
    * existing aggregation, not a rewrite).
    */
  def bm25FromIndex(postings: DataFrame, stats: DataFrame,
                    queries: Seq[(String, Seq[String])], k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75,
                    deletes: Option[DataFrame] = None,
                    doclens: Option[DataFrame] = None): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    require(deletes.isEmpty || doclens.nonEmpty,
      "bm25FromIndex: deletions need the (doc_id, dl) doclens sidecar " +
        "to retract corpus stats")
    val dead = deletes.map(_.select(col("doc_id").cast("long").as("doc_id"))
      .distinct())
    val live = dead match {
      case Some(d) => postings.join(d, Seq("doc_id"), "left_anti")
      case None => postings
    }
    val slices = dead match {
      case Some(d) =>
        stats.select(col("n_docs").cast("long").as("n_docs"),
            col("sum_dl").cast("long").as("sum_dl"))
          .unionByName(doclens.get.join(d, Seq("doc_id"), "left_semi")
            .agg((lit(0L) - count(lit(1))).as("n_docs"),
              (lit(0L) - coalesce(sum(col("dl").cast("long")), lit(0L)))
                .as("sum_dl")))
      case None => stats
    }
    val tot = slices.agg(sum(col("n_docs")).as("n_docs"),
      sum(col("sum_dl")).as("sum_dl"))
    val dfreq = live.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val q = queries.flatMap { case (qid, ts) => ts.distinct.map((qid, _)) }
      .toDF("qid", "term")
    val contrib = live
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(q), Seq("term"))
      .crossJoin(broadcast(tot))
      .select(col("qid"), col("doc_id"),
        bm25Micro(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("sum_dl"), k1, b).as("m"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("m")).as("score_micro"))
    graft.similarity.SimilaritySearch.rankTopK(
        contrib.select(col("qid").as("query_id"),
          col("doc_id").as("neighbor_id"),
          col("score_micro").cast("double").as("cos")), k)
      .select(col("query_id").as("qid"), col("rank"),
        col("neighbor_id").as("doc_id"), col("cos").cast("long").as("score_micro"))
  }

  /** Boolean retrieval served FROM the inverted-index artifact
    * ([[invertedIndex]] / the q67 compacted log): for each query, the
    * documents containing ALL its terms (`mode = "and"`, conjunctive)
    * or ANY of them (`mode = "or"`, disjunctive), with the per-doc
    * matched-term count. The exact-match sibling of [[bm25FromIndex]]'s
    * ranked retrieval — corpus text is never touched.
    *
    * Scale shape: the index filters to the query vocabulary FIRST
    * (IN-list on the token key — broadcast-sized result by contract),
    * so only the query terms' posting lists explode; the one shuffle
    * groups (query, doc) pairs bounded by Σ df(term). A conjunctive
    * query is then a counting match (n_matched = |terms|) — no
    * iterative list intersection, no corpus scan.
    *
    * CONTRACT for `mode = "and"`: serve from an UNPRUNED index
    * (`maxDf = None`). A maxDf-pruned stopword term is indistinguishable
    * from a term absent from the corpus, and a missing term flips every
    * conjunctive match to empty — harmless for BM25 (idf ≈ 0 there),
    * semantics-destroying for boolean AND. Keep the pruned index for
    * ranking; build the boolean-serving index without the prune.
    */
  def booleanSearch(index: DataFrame, queries: Seq[(String, Seq[String])],
                    mode: String = "and"): DataFrame = {
    require(mode == "and" || mode == "or", s"mode must be and|or, got $mode")
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "booleanSearch: every query needs at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "booleanSearch: duplicate query ids would duplicate result rows — merge their term lists")
    val spark = index.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, ts) => ts.distinct.map((qid, _)) }
      .toDF("qid", "tok")
    val nTerms = queries.map { case (qid, ts) => (qid, ts.distinct.size.toLong) }
      .toDF("qid", "__nt")
    val terms = queries.flatMap(_._2).distinct
    val hits = postingEntries(index.filter(col("tok").isin(terms: _*)))
      .select(col("tok"), col("doc_id"))
      .join(broadcast(q), Seq("tok"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
    val kept =
      if (mode == "and") hits.join(broadcast(nTerms), Seq("qid"))
        .filter(col("n_matched") === col("__nt"))
      else hits
    kept.select(col("qid"), col("doc_id"), col("n_matched"))
  }

  /** The per-slice BM25 index segment [[bm25FromIndex]] consumes: one
    * (doc_id, term, tf, dl) row per query-vocabulary term occurrence
    * set, built map-side from each document's own token array. SHARED
    * by the streaming log writer and the spec's batch replays so the
    * entry arithmetic cannot drift.
    */
  def bm25IndexSegment(docs: DataFrame, id: Column, text: Column,
                       terms: Seq[String]): DataFrame =
    bm25IndexSegmentTokens(docs.select(id.cast("long").as("doc_id"),
      TextFunctions.tokens(text).as("toks")), terms)

  /** [[bm25IndexSegment]] from an already-tokenized (doc_id, toks)
    * frame — for callers that also need the token arrays for corpus
    * stats and must not tokenize the batch twice (q68's rule).
    */
  private[graft] def bm25IndexSegmentTokens(toks: DataFrame,
                                            terms: Seq[String]): DataFrame =
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** Sliding-window document chunking — the RAG / context-window
    * ingestion shape: token windows of `window` tokens advancing by
    * `stride` (overlap = window − stride), the last window short if the
    * document doesn't divide evenly, and chunking STOPS once a window
    * reaches the end (no redundant tail windows fully contained in
    * their predecessor). One row per chunk: (doc_id, chunk_idx,
    * chunk_text, n_tokens).
    *
    * Scale shape: pure map-side higher-order functions on the token
    * array — no shuffle, no UDF, stays in the scan stage; fan-out per
    * document is ⌈(len − window)/stride⌉ + 1, linear in document
    * length. Chunk text re-joins from the SAME token array the window
    * arithmetic ran on, so chunk boundaries are token-exact.
    */
  def chunkForRag(docs: DataFrame, id: Column, text: Column,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val n = size(col("__toks"))
    val nChunks = when(n <= window, lit(1L))
      .otherwise(lit(1L) + ceil((n - lit(window)).cast("double") / stride).cast("long"))
    docs
      .select(id.cast("long").as("doc_id"), TextFunctions.tokens(text).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("__toks"), col("chunk_idx") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), size(col("__toks")) - col("chunk_idx") * stride)
          .cast("long").as("n_tokens"))
  }

  /** Abbreviations whose trailing period never ends a sentence (the
    * standard short list every rule-based splitter carries). Escaped
    * regex fragments — `e\.g` matches the literal "e.g" before the
    * final period of "e.g.".
    */
  val SentenceAbbrevs: Seq[String] = Seq(
    "Mr", "Mrs", "Ms", "Dr", "Prof", "Sr", "Jr", "St", "vs", "etc",
    "Fig", "No", "al", "e\\.g", "i\\.e")

  /** SENTENCE segmentation — the rule-based splitter RAG pipelines run
    * before chunking (a chunk that cuts mid-sentence retrieves worse
    * than one that cuts between them): a sentence ends at `.`/`!`/`?`
    * followed by whitespace, EXCEPT when the period terminates a known
    * abbreviation ([[SentenceAbbrevs]]) or a single-capital initial
    * ("J. Smith"). Decimal points never match (no whitespace follows).
    * Heuristic limits stated loudly: a sentence genuinely ending in a
    * bare capital ("plan B.") or in "etc." does not split — the
    * standard rule-splitter trade, refined by a model downstream. The
    * boundary marker is U+0001 (a byte no corpus text carries).
    * Implemented with Java-regex lookbehinds (engine-side only —
    * oracles for consumers are generative, so no RE2 dual is needed);
    * pure codegen'd regex chain + HOF trim, scan-stage.
    */
  def sentences(text: Column): Column = {
    val guard = SentenceAbbrevs.map(a => s"(?<!\\b$a)").mkString
    val marked = regexp_replace(text,
      guard + "(?<![A-Z])([.!?])\\s+", "$1\u0001")
    filter(transform(split(marked, "\u0001"), t => trim(t)), t => t =!= "")
  }

  /** Sentence-BUDGET chunking — [[chunkForRag]]'s retrieval-quality
    * sibling: pack CONSECUTIVE sentences greedily into chunks of at
    * most `maxTokens` whitespace tokens, never splitting a sentence
    * (an over-budget sentence gets its own chunk — dropped text is
    * data loss, a mid-sentence cut is the thing this operator
    * exists to avoid). Output one row per chunk: (doc_id, chunk_idx,
    * chunk_text, n_sentences, n_tokens), chunks in document order,
    * sentence-less documents contributing no rows.
    *
    * Scale shape: the greedy fold is INHERENTLY sequential per
    * document, so it runs as one per-row HOF `aggregate` over the
    * sentence array (bounded by document length; interpreted like the
    * shingles HOF — correctness layer, the packer stays map-side with
    * zero shuffle) followed by one posexplode. Nothing but fixed-size
    * chunk rows ever leaves the scan stage.
    */
  def chunkBySentence(docs: DataFrame, id: Column, text: Column,
                      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1,
      s"chunkBySentence: maxTokens must be >= 1, got $maxTokens")
    val chunkType = "array<struct<text:string,ns:bigint,nt:bigint>>"
    val folded = aggregate(
      sentences(text),
      array().cast(chunkType),
      (out, s) => {
        val n = size(filter(split(s, "\\s+"), t => t =!= lit("")))
          .cast("long")
        val last = element_at(out, -1)
        when(size(out) === 0 || last.getField("nt") + n > maxTokens,
          array_append(out,
            struct(s.as("text"), lit(1L).as("ns"), n.as("nt"))))
          .otherwise(concat(slice(out, lit(1), size(out) - 1),
            array(struct(
              concat(last.getField("text"), lit(" "), s).as("text"),
              (last.getField("ns") + 1).as("ns"),
              (last.getField("nt") + n).as("nt")))))
      })
    docs
      .select(id.cast("long").as("doc_id"), folded.as("__chunks"))
      .select(col("doc_id"),
        posexplode(col("__chunks")).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.text").as("chunk_text"),
        col("c.ns").as("n_sentences"), col("c.nt").as("n_tokens"))
  }

  /** One learned BPE merge: `rank`-th most frequent adjacent symbol
    * pair at the time it was learned (weighted by word frequency).
    */
  final case class BpeMerge(rank: Long, pair_left: String, pair_right: String,
                            merged: String, pair_count: Long)

  /** BPE tokenizer TRAINING over the corpus — the learn-the-vocabulary
    * stage of an LLM data pipeline (p14's segmentation applies a fixed
    * regex; this learns the merge table the real tokenizer would ship).
    *
    * Algorithm (textbook Sennrich BPE on word frequencies): words start
    * as character sequences; each round counts adjacent symbol pairs
    * weighted by word count, takes the most frequent pair (tie → lowest
    * (left, right) lexicographic, so both engines agree), and merges
    * every occurrence simultaneously left-to-right (a merged symbol
    * never re-pairs within its own round).
    *
    * Scale shape: the ONLY corpus-sized work is one (word → count)
    * shuffle; the merge loop then runs on the collected VOCABULARY — a
    * bounded model artifact (the sourceKl rule), guarded by `maxVocab`
    * with a loud failure, never a silent truncation. That is exactly
    * how production BPE trainers work at any corpus size: corpus-scale
    * counting once, then in-memory rounds over ≤ |vocab| symbol
    * sequences. `numMerges` rounds cost O(numMerges · Σ|word|) driver
    * time on that bounded artifact.
    */
  def bpeTrainMerges(docs: DataFrame, text: Column, numMerges: Int,
                     maxVocab: Int = 1000000,
                     byteLevel: Boolean = false): DataFrame =
    bpeMergesFromVocabDf(tokenCounts(docs, text, "w", "cnt"), numMerges,
      maxVocab, byteLevel)

  /** [[bpeTrainMerges]] from an already-counted (w, cnt) vocabulary
    * frame — SHARED with the streaming twin (which maintains the table
    * as bounded streaming state) so the two executions learn identical
    * merge tables by construction, and so the default `maxVocab` has
    * exactly one site. The size guard runs BEFORE the driver collect:
    * the loud-failure contract must hold on a corpus whose distinct
    * words would not fit in driver memory, so a count() probe pays one
    * cheap aggregate rather than discovering the blow-up as an OOM.
    */
  private[graft] def bpeMergesFromVocabDf(vocabDf: DataFrame, numMerges: Int,
                                          maxVocab: Int = 1000000,
                                          byteLevel: Boolean = false): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val n = vocabDf.count()
    require(n <= maxVocab,
      s"bpeTrainMerges: vocabulary $n exceeds maxVocab $maxVocab — " +
        "raise the cap explicitly if the corpus genuinely has this many distinct words")
    bpeMergesFromVocab(vocabDf.sparkSession,
      vocabDf.collect().map(r => (r.getString(0), r.getLong(1))), numMerges,
      byteLevel)
  }

  private def bpeMergesFromVocab(spark: org.apache.spark.sql.SparkSession,
                                 vocab: Array[(String, Long)],
                                 numMerges: Int,
                                 byteLevel: Boolean = false): DataFrame = {
    import spark.implicits._
    // seeding + merge application MUST be the encoder's own kernels
    // (graft.functions.BpeKernel / graft.functions.ByteAlphabet) — the
    // round-trip bit-identity the spec pins is a property of sharing
    // one implementation; byte-level differs ONLY in the seeding.
    // Elections run through [[MergeTrainer]]'s incremental pair-count
    // maintenance (same total order, bit-identical table — the specs
    // pin it against a naive recount), so round cost scales with the
    // sequences the merge TOUCHES, not the whole vocabulary.
    val seqs: Array[(Array[String], Long)] =
      vocab.map { case (w, c) =>
        (if (byteLevel) graft.functions.ByteAlphabet.seed(w)
         else graft.functions.BpeKernel.seed(w), c)
      }
    MergeTrainer.train(seqs, numMerges, likelihood = false,
        (l, r) => l + r,
        (syms, l, r, _) => graft.functions.BpeKernel.mergePass(syms, l, r))
      .map(e => BpeMerge(e.rank.toLong, e.l, e.r, e.merged, e.pairCnt))
      .toDF()
  }

  /** Collect a [[bpeTrainMerges]] output into the rank-ordered
    * (pair_left, pair_right) table the encoder broadcasts — the ONE
    * place the bounded merge-table artifact leaves the cluster
    * (numMerges rows by construction, the sourceKl artifact rule).
    */
  def bpeMergeTable(mergesDf: DataFrame): Seq[(String, String)] =
    mergesDf.orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Persist a trained merge table as the TOKENIZER MODEL artifact —
    * train rarely, encode forever means the table must outlive the
    * training job: the schema is [[bpeTrainMerges]]' own (rank,
    * pair_left, pair_right, merged, pair_count), numMerges rows of
    * parquet, the bounded-model-artifact shape every serving job
    * reads back. [[loadBpeModel]] re-orders by rank on load, so file
    * layout never changes encoding semantics (rank order IS the
    * model — applying merges in any other order is a different
    * tokenizer; spec-pinned via a scrambled round-trip).
    */
  def saveBpeModel(mergesDf: DataFrame, dir: String): Unit =
    mergesDf.coalesce(1).write.mode("overwrite").parquet(dir)

  /** Load a [[saveBpeModel]] artifact back into the rank-ordered table
    * [[graft.functions.BpeEncode]] broadcasts.
    */
  def loadBpeModel(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Seq[(String, String)] =
    bpeMergeTable(spark.read.parquet(dir))

  /** Merge-table BPE ENCODING of the corpus — tokenizer inference, the
    * missing half of [[bpeTrainMerges]] (training without distributed
    * encoding is half a tokenizer; inference runs on every document,
    * every epoch). Pure map-side: the bounded merge table rides the
    * plan into [[graft.functions.BpeEncode]] (whole-stage codegen, a
    * per-task word memo amortizing the per-word merge loop to once per
    * distinct word), ZERO shuffle, so the operator scales exactly as
    * the scan does. Output: (doc_id, bpe_text, n_bpe_tokens) with
    * bpe_text the space-joined symbol stream (merges never cross the
    * whitespace word boundaries — the training invariant).
    * `passthrough` columns ride the same projection — downstream
    * layout stages (sequence packing groups by provenance) get their
    * keys without a corpus-sized self-join back to the source table.
    */
  def bpeEncode(docs: DataFrame, docId: Column, text: Column,
                merges: Seq[(String, String)], passthrough: Column*): DataFrame =
    bpeEncodeAt(docs, docId, text, merges, byteLevel = false, passthrough: _*)

  /** [[bpeEncode]] with the tokenizer LEVEL explicit — byte-level
    * tables (trained with `byteLevel = true`) must be applied with
    * byte-level seeding or the merge symbols never match.
    */
  def bpeEncodeAt(docs: DataFrame, docId: Column, text: Column,
                  merges: Seq[(String, String)], byteLevel: Boolean,
                  passthrough: Column*): DataFrame = {
    val enc =
      if (byteLevel) graft.functions.BpeEncode.bytes(text, merges)
      else graft.functions.BpeEncode(text, merges)
    docs.select(docId.as("doc_id") +: enc.as("bpe_text") +: passthrough: _*)
      .withColumn("n_bpe_tokens", TextFunctions.tokenCount(col("bpe_text")))
  }

  /** Tokenizer FERTILITY per group — BPE symbols emitted per
    * whitespace word, the standard tokenizer-selection metric (a
    * tokenizer with fertility 2.8 on one source and 1.3 on another
    * prices the first source's tokens at 2× the compute; multilingual
    * corpora live and die by this number). Encoding rides the same
    * [[bpeEncode]] kernel the serving path uses; the ratio is integer
    * permille (`1000·Σbpe div Σwords` — the repo's division rule).
    * One map-side encode + ONE group aggregate; a group of all-empty
    * documents reports fertility 0, not a division error.
    *
    * Output: (group, n_docs, n_words, n_bpe_tokens, fertility_permille).
    */
  def tokenizerFertility(docs: DataFrame, id: Column, text: Column,
                         group: Column,
                         merges: Seq[(String, String)],
                         byteLevel: Boolean = false): DataFrame =
    bpeEncodeAt(docs, id, text, merges, byteLevel, group.as("__grp"),
        TextFunctions.tokenCount(text).as("__nw"))
      .groupBy(col("__grp").as("group"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__nw")), lit(0L)).as("n_words"),
        coalesce(sum(col("n_bpe_tokens")), lit(0L)).as("n_bpe_tokens"))
      .withColumn("fertility_permille",
        when(col("n_words") > 0,
          expr("(1000 * n_bpe_tokens) div n_words")).otherwise(lit(0L)))

  /** Column-form twin of [[graft.functions.BpeEncode]]'s kernel: the
    * same encoding as a chain of built-in regexp_replaces — seed every
    * code point as a '/c/' slash symbol (two-space word joints keep
    * merges inside words: a '/l/ /r/' pattern needs exactly ONE space),
    * then one leftmost-nonoverlapping replace per merge in rank order,
    * exactly the p58 oracle's application step. Exists as the
    * cross-check the spec pins against the JVM kernel (two independent
    * executions of the same semantics) — for production tables prefer
    * the expression: k chained regexps re-scan the document k times,
    * the kernel passes once per word with a memo.
    *
    * DEFINED ONLY FOR SLASH-FREE TEXT: '/' is this form's sentinel
    * character, so a literal '/' in the input (or in a merge symbol)
    * would be stripped with the sentinels and silently diverge from
    * the kernel. Slash-bearing rows fail LOUDLY instead (and a
    * slash-bearing table is rejected up front) — the production path
    * for arbitrary text is [[graft.functions.BpeEncode]], which has
    * no sentinel.
    */
  def bpeEncodeColumn(text: Column, merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (l, r) => !l.contains("/") && !r.contains("/") },
      "bpeEncodeColumn: merge symbols must not contain '/' (the sentinel)")
    val guarded = when(instr(text, "/") > 0,
        raise_error(concat(lit("bpeEncodeColumn: input contains '/' (the " +
          "sentinel character) — use graft.functions.BpeEncode: "), text)))
      .otherwise(text)
    val joined = array_join(TextFunctions.tokens(guarded), "  ")
    val seed = regexp_replace(joined, "([^ ])", "/$1/ ")
    val merged = merges.foldLeft(seed) { case (c, (l, r)) =>
      regexp_replace(c,
        java.util.regex.Pattern.quote(s"/$l/ /$r/"),
        java.util.regex.Matcher.quoteReplacement(s"/$l$r/"))
    }
    trim(regexp_replace(regexp_replace(merged, "/", ""), " +", " "))
  }

  /** Per-source unigram KL divergence from the corpus-wide token
    * distribution: KL(source ‖ corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) —
    * the drift score that tells mixture curation which sources are
    * token-distribution outliers (boilerplate farms, non-prose dumps)
    * before their weights are set.
    *
    * Scale shape: ONE shuffle builds the (source, token) counts; the
    * corpus-wide token counts, per-source totals, and the grand total
    * all derive from that table by further partial aggregation — no
    * second corpus scan (the vocab-size rule). Per-term contributions
    * truncate ONCE to integer micro-units so the per-source sum is
    * order-independent (integer-exact rule); only tokens present in the
    * source contribute (p_s(t) = 0 terms vanish), so the sum is over
    * the source's own vocabulary, never the corpus cross product.
    */
  def sourceKlDivergence(docs: DataFrame, source: Column, text: Column): DataFrame = {
    val st = docs
      .select(source.as("source"), explode(TextFunctions.tokens(text)).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n_st"))
    val ns = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
    val ct = st.groupBy(col("tok")).agg(sum(col("n_st")).as("n_t"))
    val tot = st.agg(sum(col("n_st")).as("n"))
    st.join(ns, Seq("source")).join(ct, Seq("tok")).crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"),
        klMicro(col("n_st"), col("n_s"), col("n_t"), col("n")).as("kl_micro"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), sum(col("kl_micro")).as("s"))
      .select(col("source"), col("n_tokens"),
        round(col("s") / 1e6, 6).as("kl"))
  }

  /** Query auto-completion index: for every prefix (length 1..`maxLen`)
    * of every corpus token, the top-`k` completions by corpus
    * frequency (ties by token asc). The serving table a search box
    * reads on every keystroke.
    *
    * Scale shape: ONE token-count aggregation over the corpus (the
    * only corpus-sized exchange), then a bounded ×maxLen prefix
    * explode of the VOCABULARY (not the corpus), one (prefix, token)
    * aggregation, and a per-prefix rank window over ≤vocab rows —
    * everything after the first exchange is vocabulary-sized.
    */
  def prefixIndex(docs: DataFrame, text: Column, maxLen: Int = 4,
                  k: Int = 3): DataFrame =
    prefixIndexFromVocab(tokenCounts(docs, lower(text), "tok", "cnt"), maxLen, k)

  /** The vocabulary-scale half of [[prefixIndex]] — SHARED with the
    * streaming twin (token counts are the associative half; the stream
    * folds them with state bounded by the vocabulary, and this rank
    * pass runs batch-side at the epoch boundary).
    */
  def prefixIndexFromVocab(vocab: DataFrame, maxLen: Int = 4,
                           k: Int = 3): DataFrame = {
    require(maxLen >= 1 && k >= 1, s"prefixIndex: bad maxLen=$maxLen k=$k")
    val pre = vocab.select(col("tok"), col("cnt"),
      explode(expr(s"transform(sequence(1, least(length(tok), $maxLen)), " +
        "i -> substring(tok, 1, i))")).as("prefix"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prefix")).orderBy(col("cnt").desc, col("tok"))
    pre.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("prefix"), col("tok"), col("cnt"), col("rank"))
  }

  /** SymSpell-style spell-correction candidates: vocabulary tokens and
    * probe strings both expand to their deletion-1 neighborhoods
    * ({t} ∪ every string with one char removed); a candidate pair is
    * any probe/token sharing a variant (covers all edits ≤1 and most
    * ≤2), then the TRUE Levenshtein distance verifies and ranks —
    * generate-and-verify, like the engine's Bloom/LSH families: the
    * cheap key join prunes, the exact metric decides.
    *
    * Scale shape: the deletion explode is ×(len+1) of the VOCABULARY
    * (one corpus-sized token count first, as [[prefixIndex]]); the
    * join is hash-partitioned on the variant string; probes are
    * config-sized and broadcast. No quadratic vocab×probe scan, no
    * UDF — `levenshtein` is a codegen builtin in both engines.
    */
  def symspellCandidates(docs: DataFrame, text: Column,
                         probes: Seq[String], maxDistance: Int = 1,
                         k: Int = 3): DataFrame = {
    require(probes.nonEmpty, "symspellCandidates: no probes")
    require(probes.forall(_.nonEmpty), "symspellCandidates: empty probe")
    require(maxDistance >= 1 && maxDistance <= 2,
      s"symspellCandidates: maxDistance must be 1 or 2, got $maxDistance")
    val spark = docs.sparkSession
    import spark.implicits._
    // {__t} ∪ one-char-deleted forms of the non-empty string in `__t`
    val deletions: Column = explode(array_union(
      array(col("__t")),
      expr("transform(sequence(1, length(__t)), " +
        "i -> concat(substring(__t, 1, i - 1), substring(__t, i + 1)))")))
    val vocab = tokenCounts(docs, lower(text), "tok", "cnt")
    val vocabVars = vocab.withColumn("__t", col("tok"))
      .select(col("tok"), col("cnt"), deletions.as("variant"))
    val probeVars = probes.toDF("probe").withColumn("__t", col("probe"))
      .select(col("probe"), deletions.as("variant"))
    val candidates = vocabVars
      .join(broadcast(probeVars), "variant")
      .select(col("probe"), col("tok"), col("cnt")).distinct()
      .withColumn("distance", levenshtein(col("probe"), col("tok")).cast("long"))
      .filter(col("distance") <= maxDistance)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe"))
      .orderBy(col("distance"), col("cnt").desc, col("tok"))
    candidates.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe"), col("tok"), col("distance"), col("cnt"), col("rank"))
  }
}
