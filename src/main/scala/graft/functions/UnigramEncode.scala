package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM tokenization (the SentencePiece family's OTHER
  * algorithm, beside the repo's char/byte BPE pair): a vocabulary of
  * PIECES with log-probabilities, segmentation = the piece sequence
  * maximizing the summed score (Viterbi over the segmentation
  * lattice), training = EM over the same lattice
  * ([[graft.text.UnigramLm]]). Public reference: Kudo 2018
  * (arXiv:1804.10959) — algorithmic behavior only, re-expressed for
  * Spark.
  *
  * Design choices shared by trainer and encoder (one kernel, the
  * [[BpeKernel]] rule — a second copy of the lattice walk would be a
  * silent drift surface):
  *   - pieces never span whitespace: text tokenizes to words first
  *     (the exact [[TextFunctions.tokens]] split) and each word
  *     segments independently — which is what makes the encode
  *     map-side with a per-task word memo (Zipf pays for it);
  *   - scores are INTEGER micro-nats (round(ln p · 1e6)) at serve
  *     time, so the Viterbi optimum is integer-exact and
  *     engine-portable (the p81 rule); training keeps doubles;
  *   - a character no piece covers becomes its own UNK piece at
  *     `unkMicro` — coverage is total by construction, and
  *     `encode(text).replace(sep, "") == tokens(text).mkString("")`
  *     (the round-trip identity the specs and p193 pin);
  *   - DP positions are CODE POINT boundaries (never inside a
  *     surrogate pair — the [[BpeKernel.seed]] rule);
  *   - tie-break, deterministic on any engine: higher score, then
  *     FEWER pieces, then the longer final piece.
  */
object UnigramKernel {

  /** Code-point boundary offsets of `w`: bounds(i) = UTF-16 index of
    * the i-th code point, bounds(n) = w.length.
    */
  private[graft] def cpBounds(w: String): Array[Int] = {
    val b = new Array[Int](w.codePointCount(0, w.length) + 1)
    var i = 0
    var n = 0
    while (i < w.length) {
      b(n) = i; n += 1
      i += Character.charCount(w.codePointAt(i))
    }
    b(n) = w.length
    b
  }

  /** Viterbi segmentation of ONE word against a piece→micro-nat-score
    * map: the piece sequence maximizing the summed score, ties to
    * fewer pieces, then to the longer final piece. Characters no
    * piece covers ride as UNK single-code-point pieces at `unkMicro`.
    * Returns (pieces, total score, piece count).
    */
  def viterbi(w: String, byPiece: java.util.HashMap[String, java.lang.Long],
              maxPieceCp: Int, unkMicro: Long): (Array[String], Long, Int) = {
    val b = cpBounds(w)
    val n = b.length - 1
    if (n == 0) return (Array.empty, 0L, 0)
    val score = new Array[Long](n + 1)
    val nPieces = new Array[Int](n + 1)
    val back = new Array[Int](n + 1) // start position of the best last piece
    java.util.Arrays.fill(score, Long.MinValue)
    score(0) = 0L
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceCp)
      while (start < end) {
        if (score(start) != Long.MinValue) {
          val piece = w.substring(b(start), b(end))
          val s = byPiece.get(piece)
          val pieceScore: java.lang.Long =
            if (s != null) s
            else if (end - start == 1) java.lang.Long.valueOf(unkMicro)
            else null
          if (pieceScore != null) {
            val cand = score(start) + pieceScore.longValue()
            val candN = nPieces(start) + 1
            // higher score, then fewer pieces, then the longer last
            // piece (a smaller start than the incumbent's back pointer)
            val better = cand > score(end) ||
              (cand == score(end) && (candN < nPieces(end) ||
                (candN == nPieces(end) && start < back(end))))
            if (better) {
              score(end) = cand; nPieces(end) = candN; back(end) = start
            }
          }
        }
        start += 1
      }
      require(score(end) != Long.MinValue,
        s"unigram viterbi: position $end of '$w' unreachable — single " +
          "code points always match (vocab or UNK), so this is a kernel bug")
      end += 1
    }
    val out = new Array[String](nPieces(n))
    var pos = n
    var k = nPieces(n) - 1
    while (pos > 0) {
      out(k) = w.substring(b(back(pos)), b(pos))
      pos = back(pos); k -= 1
    }
    (out, score(n), nPieces(n))
  }

  /** log(exp(a) + exp(b)) without overflow. */
  private def logAdd(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log1p(math.exp(math.min(a, b) - m)) }

  /** The E-step lattice walk over ONE word: forward/backward in log
    * domain, posterior expected count of every piece OCCURRENCE
    * accumulated into `acc` scaled by `weight` (the word's corpus
    * frequency — E over DISTINCT words, the Zipf reduction that makes
    * the step one scan of the word-frequency frame). `logp` maps
    * piece → log probability (need not be normalized — every
    * posterior is a path-weight ratio); characters not covered ride
    * at `unkLogp` under the piece they spell. Returns the word's
    * weighted log-likelihood (its lattice normalizer · weight), which
    * the trainer sums for the EM monotonicity contract.
    */
  def accumulateExpectedCounts(w: String,
                               logp: java.util.HashMap[String, java.lang.Double],
                               maxPieceCp: Int, unkLogp: Double,
                               weight: Double,
                               acc: java.util.HashMap[String, Double]): Double = {
    val b = cpBounds(w)
    val n = b.length - 1
    if (n == 0) return 0.0
    def pieceLogp(start: Int, end: Int): (String, Double) = {
      val piece = w.substring(b(start), b(end))
      val v = logp.get(piece)
      if (v != null) (piece, v.doubleValue())
      else if (end - start == 1) (piece, unkLogp)
      else (null, Double.NegativeInfinity)
    }
    val alpha = new Array[Double](n + 1)
    val beta = new Array[Double](n + 1)
    java.util.Arrays.fill(alpha, Double.NegativeInfinity)
    java.util.Arrays.fill(beta, Double.NegativeInfinity)
    alpha(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceCp)
      while (start < end) {
        if (alpha(start) != Double.NegativeInfinity) {
          val (p, lp) = pieceLogp(start, end)
          if (p != null) alpha(end) = logAdd(alpha(end), alpha(start) + lp)
        }
        start += 1
      }
      end += 1
    }
    beta(n) = 0.0
    var start2 = n - 1
    while (start2 >= 0) {
      var e = math.min(n, start2 + maxPieceCp)
      while (e > start2) {
        if (beta(e) != Double.NegativeInfinity) {
          val (p, lp) = pieceLogp(start2, e)
          if (p != null) beta(start2) = logAdd(beta(start2), lp + beta(e))
        }
        e -= 1
      }
      start2 -= 1
    }
    val z = alpha(n)
    require(z != Double.NegativeInfinity,
      s"unigram E-step: '$w' has no segmentation — single code points " +
        "always match (vocab or UNK), so this is a kernel bug")
    // posterior of the piece occurrence [start, end):
    //   exp(alpha(start) + logp + beta(end) - z)
    var s = 0
    while (s < n) {
      var e = math.min(n, s + maxPieceCp)
      while (e > s) {
        val (p, lp) = pieceLogp(s, e)
        if (p != null && alpha(s) != Double.NegativeInfinity &&
            beta(e) != Double.NegativeInfinity) {
          val post = math.exp(alpha(s) + lp + beta(e) - z)
          if (post > 0.0)
            acc.put(p, acc.getOrDefault(p, 0.0) + post * weight)
        }
        e -= 1
      }
      s += 1
    }
    z * weight
  }
}

/** The broadcast vocabulary artifact + per-task word memo (the
  * [[BpeTable]] pattern): each task deserializes its own copy — the
  * mutable cache is single-threaded by construction — and the memo is
  * bounded (on overflow new words stop being memoized; the Zipf head
  * is already resident).
  */
final class UnigramModel(val pieces: Array[String],
                         val scoresMicro: Array[Long],
                         val unkMicro: Long,
                         val sep: String) extends Serializable {
  require(pieces.length == scoresMicro.length,
    s"UnigramModel: ${pieces.length} pieces vs ${scoresMicro.length} scores")
  private val maxCacheWords = 1 << 16
  @transient private lazy val cache = new java.util.HashMap[String, String]()

  @transient lazy val byPiece: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      val prev = m.put(pieces(i), scoresMicro(i))
      require(prev == null,
        s"UnigramModel: duplicate piece '${pieces(i)}' — the model " +
          "artifact must bind one score per piece")
      i += 1
    }
    m
  }
  @transient lazy val maxPieceCp: Int =
    if (pieces.isEmpty) 1
    else pieces.iterator.map(p => p.codePointCount(0, p.length)).max

  /** Content equality: two kernel calls over equal models compare equal. */
  override def equals(o: Any): Boolean = o match {
    case m: UnigramModel => m.unkMicro == unkMicro && m.sep == sep &&
      m.pieces.sameElements(pieces) && m.scoresMicro.sameElements(scoresMicro)
    case _ => false
  }
  override def hashCode: Int = pieces.toSeq.hashCode

  def encodeWord(w: String): String = {
    val hit = cache.get(w)
    if (hit != null) return hit
    val enc = UnigramKernel.viterbi(w, byPiece, maxPieceCp, unkMicro)
      ._1.mkString(sep)
    if (cache.size < maxCacheWords) cache.put(w, enc)
    enc
  }
}

/** Static forwarder so generated code makes one virtual-free call per
  * row (the [[BpeEncodeUtil]] pattern).
  */
object UnigramEncodeUtil {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Whole document → one piece stream: each whitespace word segments
    * independently (pieces never cross word boundaries — the training
    * invariant), all pieces joined by the model's separator. Empty /
    * whitespace-only input yields "" (not null).
    */
  def encode(text: UTF8String, model: UnigramModel): UTF8String = {
    if (text == null) return null
    val toks = Ws.split(text.toString)
    val sb = new java.lang.StringBuilder
    var first = true
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        if (!first) sb.append(model.sep)
        sb.append(model.encodeWord(t))
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Serve-time unigram segmentation as a codegen'd kernel call: the
  * vocabulary artifact (pieces + integer micro-nat scores) rides the
  * serialized plan to every task (the [[BpeEncode]] pattern —
  * broadcast-small-side, never a shuffle), the Viterbi walk is a
  * static JVM kernel inside whole-stage codegen, and the per-task
  * word memo amortizes the per-word cost to once per DISTINCT word
  * per task.
  */
object UnigramEncode {
  def apply(text: Column, pieces: Seq[(String, Long)]): Column =
    apply(text, pieces, -20000000L, "|")

  def apply(text: Column, pieces: Seq[(String, Long)], unkMicro: Long,
            sep: String): Column =
    ColumnBridge.kernel("unigram_encode", UnigramEncodeUtil, "encode",
      StringType, Seq(text -> StringType), Seq(new UnigramModel(
        pieces.map(_._1).toArray, pieces.map(_._2).toArray, unkMicro, sep)))
}
