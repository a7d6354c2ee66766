package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.WordPieceKernel

/** WordPiece tokenizer TRAINING — the likelihood-merge companion to
  * [[CorpusOps.bpeTrainMerges]] (raw-frequency merges) and
  * [[UnigramLm.unigramTrain]] (EM prune): words seed as
  * first-bare / `##`-continued symbols and pairs merge GREEDILY, but
  * the merge criterion is the LM-likelihood gain surrogate
  *
  *   score(l, r) = count(l,r) / (count(l) · count(r))
  *
  * — the pair whose merge most increases a unigram LM's corpus
  * likelihood, not the most frequent pair (public algorithm: Schuster
  * & Nakajima 2012 / the BERT WordPiece description; behavior only,
  * re-expressed for Spark). The contrast with BPE is observable and
  * gated: p197 oracle-checks the first-iteration score table in SQL,
  * and WordPieceSpec pins a corpus where likelihood and frequency
  * elect DIFFERENT merges.
  *
  * Scale shape (the [[CorpusOps.bpeTrainMerges]] story): the corpus
  * reduces ONCE to a (word, freq) frame — training state is the
  * DISTINCT-word set (Zipf), guarded by a loud `maxVocab` cap BEFORE
  * the driver collect; each merge round is driver-side over that
  * bounded array; the published artifact (the piece vocabulary) is
  * config-sized and rides the serving expression
  * ([[graft.functions.WordPieceEncode]]).
  */
object WordPiece {

  /** One training merge: rank-ordered, with the integer counts that
    * DEFINE its score (score = pair_count / (cnt_left · cnt_right)) —
    * integers only, so any oracle or spec recomputes the election
    * exactly (the p81 micro-unit discipline, here with no rounding at
    * all).
    */
  final case class WordPieceMerge(rank: Long, pair_left: String,
                                  pair_right: String, merged: String,
                                  pair_count: Long, cnt_left: Long,
                                  cnt_right: Long)

  /** Exact likelihood-score comparison between two candidate merges:
    *   p1/(l1·r1) > p2/(l2·r2)  ⇔  p1·l2·r2 > p2·l1·r1
    * cross-multiplied in BigInt (corpus-scale counts overflow a Long
    * product). Ties: higher pair_count, then (left, right) ascending —
    * a total order because pair keys are unique.
    */
  /** The reference likelihood comparison — [[MergeTrainer]]'s heap
    * order must agree with it exactly (the naive-recount equivalence
    * spec replays elections through this).
    */
  private[graft] def better(a: ((String, String), (Long, Long, Long)),
                            b: ((String, String), (Long, Long, Long))): Boolean = {
    val ((al, ar), (ap, acl, acr)) = a
    val ((bl, br), (bp, bcl, bcr)) = b
    val cross = BigInt(ap) * BigInt(bcl) * BigInt(bcr) -
      BigInt(bp) * BigInt(acl) * BigInt(acr)
    if (cross != 0) cross > 0
    else if (ap != bp) ap > bp
    else if (al != bl) al < bl
    else ar < br
  }

  /** Train `numMerges` WordPiece merges over the corpus. Returns the
    * rank-ordered merge frame ([[WordPieceMerge]] schema). The
    * vocabulary that SERVES ([[trainedVocab]]) is the corpus seed
    * alphabet plus every merged symbol, so greedy serving never emits
    * `unk` on the training corpus (the round-trip identity p198 gates).
    */
  def wordPieceTrain(docs: DataFrame, text: Column, numMerges: Int,
                     maxVocab: Int = 1000000): DataFrame =
    wordPieceTrainFromWords(
      UnigramLm.wordFreqs(docs, text).localCheckpoint(), numMerges, maxVocab)

  /** [[wordPieceTrain]] off an already-reduced (word, freq) frame —
    * the caller owns the frame's lifetime, so train + vocab pay ONE
    * corpus reduction between them ([[wordPieceTrainAndVocab]]).
    */
  def wordPieceTrainFromWords(words: DataFrame, numMerges: Int,
                              maxVocab: Int = 1000000): DataFrame = {
    require(numMerges > 0, s"wordPieceTrain: numMerges must be positive, got $numMerges")
    val n = words.count()
    require(n <= maxVocab,
      s"wordPieceTrain: vocabulary $n exceeds maxVocab $maxVocab — raise " +
        "the cap explicitly if the corpus genuinely has this many distinct words")
    val spark = words.sparkSession
    import spark.implicits._
    val vocab = words.select(col("word"), col("freq").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val seqs: Array[(Array[String], Long)] =
      vocab.map { case (w, c) => (WordPieceKernel.seed(w), c) }
    // incremental pair/symbol-count maintenance + lazy-deletion heap
    // ([[MergeTrainer]]): the likelihood total order is [[better]]'s
    // exact cross-multiplied compare, so the merge table is
    // bit-identical to the naive per-round recount (spec-pinned)
    MergeTrainer.train(seqs, numMerges, likelihood = true,
        WordPieceKernel.mergedSymbol,
        (syms, l, r, m) => WordPieceKernel.mergePass(syms, l, r, m))
      .map(e => WordPieceMerge(e.rank.toLong, e.l, e.r, e.merged,
        e.pairCnt, e.cntL, e.cntR))
      .toDF()
  }

  /** The SERVING vocabulary a merge table implies on a corpus: every
    * seed symbol the corpus contains (first-bare + `##`-continued
    * single code points — total coverage, so greedy never dead-ends on
    * training data; note the encoder's separate `maxWordCp` long-word
    * guard still [UNK]s over-long words BEFORE the vocabulary is
    * consulted — lift it when the round-trip must be unconditional,
    * as p198 does) plus every merged symbol, rank order irrelevant
    * (greedy probes a SET — unlike BPE, the merge table is training
    * state, not the serving artifact). The seed alphabet derives
    * distributed off the word frame; only the alphabet-sized result
    * collects, capped loudly.
    */
  def trainedVocab(docs: DataFrame, text: Column, mergesDf: DataFrame,
                   maxAlphabet: Int = 1 << 16): Seq[String] =
    trainedVocabFromWords(UnigramLm.wordFreqs(docs, text), mergesDf,
      maxAlphabet)

  /** [[trainedVocab]] off an already-reduced (word, freq) frame. */
  def trainedVocabFromWords(words: DataFrame, mergesDf: DataFrame,
                            maxAlphabet: Int = 1 << 16): Seq[String] = {
    val seeds = graft.operators.DriverCollect.distinctValues[String](
      seedSymbolRows(words), col("sym"), maxAlphabet,
      s"trainedVocab: seed alphabet exceeds $maxAlphabet symbols — not a " +
        "natural-language corpus, or the cap needs an explicit raise")
    val merged = mergesDf.orderBy(col("rank")).select(col("merged"))
      .collect().map(_.getString(0))
    (seeds ++ merged).distinct.sorted
  }

  /** Train + derive the serving vocabulary off ONE corpus reduction:
    * the (word, freq) frame checkpoints once and feeds both the merge
    * loop and the seed-alphabet derivation — the p198 path, which
    * would otherwise pay three tokenize+aggregate corpus scans
    * (count, collect, vocab).
    */
  def wordPieceTrainAndVocab(docs: DataFrame, text: Column, numMerges: Int,
                             maxVocab: Int = 1000000,
                             maxAlphabet: Int = 1 << 16): (DataFrame, Seq[String]) = {
    val words = UnigramLm.wordFreqs(docs, text).localCheckpoint()
    val merges = wordPieceTrainFromWords(words, numMerges, maxVocab)
    (merges, trainedVocabFromWords(words, merges, maxAlphabet))
  }

  /** Seed-symbol rows of a (word, freq) frame: one row per code-point
    * position — position 1 bare, later positions `##`-prefixed
    * (Spark `length`/`substr` count code points, matching
    * [[WordPieceKernel.seed]]). SHARED by [[pairScores]] and
    * [[trainedVocab]] so the distributed seeding cannot drift from the
    * kernel's.
    */
  private[graft] def seedSymbolRows(words: DataFrame): DataFrame =
    words.select(col("word"), col("freq").cast("long").as("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        when(col("i") === 1, col("word").substr(col("i"), lit(1)))
          .otherwise(concat(lit(WordPieceKernel.ContPrefix),
            col("word").substr(col("i"), lit(1)))).as("sym"))

  /** The FIRST-iteration merge-score table, fully distributed and
    * fully SQL-expressible (the p197 oracle dual): over the seed
    * state, every adjacent symbol pair's count and its two symbol
    * counts, with score = pair_cnt/(cnt_left·cnt_right) rounded to 9
    * decimals. Later iterations depend on merge state and are gated by
    * spec + the integer count columns in [[wordPieceTrain]]'s output;
    * the first iteration is where the likelihood criterion is provable
    * in closed form against an independent engine.
    */
  def pairScores(docs: DataFrame, text: Column): DataFrame = {
    val words = UnigramLm.wordFreqs(docs, text)
    val syms = seedSymbolRows(words)
    val symCounts = syms.groupBy(col("sym"))
      .agg(sum(col("freq")).as("cnt"))
    val pairs = words
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("freq").cast("long").as("freq"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("freq"),
        when(col("i") === 1, col("word").substr(col("i"), lit(1)))
          .otherwise(concat(lit(WordPieceKernel.ContPrefix),
            col("word").substr(col("i"), lit(1)))).as("pair_left"),
        concat(lit(WordPieceKernel.ContPrefix),
          col("word").substr(col("i") + 1, lit(1))).as("pair_right"))
      .groupBy(col("pair_left"), col("pair_right"))
      .agg(sum(col("freq")).as("pair_cnt"))
    pairs
      .join(broadcast(symCounts.withColumnRenamed("sym", "pair_left")
        .withColumnRenamed("cnt", "cnt_left")), Seq("pair_left"))
      .join(broadcast(symCounts.withColumnRenamed("sym", "pair_right")
        .withColumnRenamed("cnt", "cnt_right")), Seq("pair_right"))
      .select(col("pair_left"), col("pair_right"), col("pair_cnt"),
        col("cnt_left"), col("cnt_right"),
        // each count casts to double BEFORE the product: a Long·Long
        // product wraps past 2^63 at corpus scale (the driver-side
        // election uses BigInt for exactly this reason), while the
        // double product rounds the true value once — bit-identical
        // to the oracle's exact-integer-product-to-double conversion
        round(col("pair_cnt").cast("double") /
          (col("cnt_left").cast("double") * col("cnt_right").cast("double")),
          9).as("score_r9"))
  }

  /** Persist the SERVING artifact (the piece vocabulary) — train
    * rarely, encode forever (the [[UnigramLm.saveUnigramModel]]
    * lifecycle): config-sized by the training caps, one parquet file.
    */
  def saveWordPieceModel(spark: org.apache.spark.sql.SparkSession,
                         pieces: Seq[String], dir: String): Unit = {
    import spark.implicits._
    pieces.toDF("piece").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a [[saveWordPieceModel]] artifact back into the piece list
    * [[graft.functions.WordPieceEncode]] carries. Sorted for a stable
    * artifact identity; serving probes a set, so order never changes
    * semantics. Loud cap: a "model" bigger than any vocabulary is a
    * mis-pointed path, not a model.
    */
  def loadWordPieceModel(spark: org.apache.spark.sql.SparkSession,
                         dir: String, maxPieces: Int = 1 << 20): Seq[String] = {
    val rows = spark.read.parquet(dir)
      .select(col("piece").cast("string"))
      .limit(maxPieces + 1).collect()
    require(rows.length <= maxPieces,
      s"loadWordPieceModel: $dir holds more than $maxPieces pieces — not " +
        "a WordPiece model artifact")
    // a null piece row is a corrupt artifact — fail HERE with the
    // loader's loud error, not later with an NPE inside the encode
    // kernel's piece-bound scan
    require(rows.forall(!_.isNullAt(0)),
      s"loadWordPieceModel: $dir contains a null piece row — not a " +
        "WordPiece model artifact")
    rows.map(_.getString(0)).sorted.toSeq
  }
}
