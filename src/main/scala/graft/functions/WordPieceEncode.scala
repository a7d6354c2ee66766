package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece tokenization — the tokenizer family's FOURTH member
  * beside char-BPE, byte-BPE, and unigram-LM: a vocabulary of pieces
  * where non-initial pieces carry the `##` continuation prefix, and
  * serving is GREEDY longest-match-first (BERT's WordpieceTokenizer —
  * public algorithm, Devlin et al. 2019 + the google-research/bert
  * tokenization reference; behavior only, re-expressed for Spark).
  *
  * Greedy is the family's defining contrast with the unigram lattice:
  * at each position the LONGEST vocabulary piece wins, even when that
  * choice strands the rest of the word — a word where greedy dead-ends
  * becomes ONE `unk` token even if a different segmentation exists
  * (the signature WordPiece behavior WordPieceSpec pins; the Viterbi
  * kernel would find the alternative). Training
  * ([[graft.text.WordPiece]]) merges by the LIKELIHOOD score
  * freq(pair)/(freq(left)·freq(right)), not raw pair frequency — the
  * other contrast with BPE, oracle-gated via the p197 score table.
  *
  * Shared design with the sibling encoders (one kernel per primitive,
  * the [[BpeKernel]] rule):
  *   - pieces never span whitespace: the document splits to words
  *     first (the exact [[TextFunctions.tokens]] split) and each word
  *     encodes independently — map-side with a per-task word memo;
  *   - positions are CODE POINT boundaries (never inside a surrogate
  *     pair — [[UnigramKernel.cpBounds]] is the one boundary walk);
  *   - the vocabulary is a bounded model artifact riding the
  *     serialized plan to every task — broadcast-small-side,
  *     never a shuffle;
  *   - a word longer than `maxWordCp` code points is `unk` without a
  *     vocabulary probe (the public algorithm's long-word guard).
  */
object WordPieceKernel {

  val ContPrefix = "##"

  /** Seed one word as WordPiece symbols: first code point bare, every
    * later code point `##`-prefixed — the training start state and the
    * finest segmentation greedy serving can emit. SHARED by trainer
    * and spec; the encoder never materializes it (greedy probes the
    * vocabulary directly) but agrees by construction because both
    * sides prefix at the same boundaries.
    */
  def seed(w: String): Array[String] = {
    val cps = BpeKernel.seed(w)
    var i = 1
    while (i < cps.length) { cps(i) = ContPrefix + cps(i); i += 1 }
    cps
  }

  /** One merge over one symbol sequence, simultaneous left-to-right (a
    * merged symbol never re-pairs within its own round — the
    * [[BpeKernel.mergePass]] contract), except the merged symbol is
    * `l + r` WITHOUT r's continuation prefix: merging `a` + `##b`
    * yields `ab`, and `##a` + `##b` yields `##ab`. Returns `syms`
    * unchanged (same reference) when the pair is absent.
    */
  def mergePass(syms: Array[String], l: String, r: String,
                merged: String): Array[String] = {
    var j = 0
    var found = false
    while (j < syms.length - 1 && !found) {
      if (syms(j) == l && syms(j + 1) == r) found = true
      j += 1
    }
    if (!found) return syms
    val out = Array.newBuilder[String]
    var k = 0
    while (k < syms.length) {
      if (k < syms.length - 1 && syms(k) == l && syms(k + 1) == r) {
        out += merged; k += 2
      } else { out += syms(k); k += 1 }
    }
    out.result()
  }

  /** The merged symbol of a (left, right) pair: right's continuation
    * prefix drops (it marked the now-interior boundary).
    */
  def mergedSymbol(l: String, r: String): String =
    if (r.startsWith(ContPrefix)) l + r.substring(ContPrefix.length) else l + r

  /** Greedy longest-match-first segmentation of ONE word. At position
    * 0 the candidate is the raw substring; at every later position the
    * candidate carries the `##` prefix. The longest vocabulary hit
    * wins; a position with NO hit makes the WHOLE word `unk` (one
    * token — the public algorithm's all-or-nothing rule). A word
    * longer than `maxWordCp` code points is `unk` outright.
    */
  def greedy(w: String, vocab: java.util.HashSet[String], maxPieceCp: Int,
             maxWordCp: Int, unk: String): Array[String] = {
    val b = UnigramKernel.cpBounds(w)
    val n = b.length - 1
    if (n == 0) return Array.empty
    if (n > maxWordCp) return Array(unk)
    val out = Array.newBuilder[String]
    var start = 0
    while (start < n) {
      var end = math.min(n, start + maxPieceCp)
      var hit: String = null
      while (end > start && hit == null) {
        val cand =
          if (start == 0) w.substring(b(start), b(end))
          else ContPrefix + w.substring(b(start), b(end))
        if (vocab.contains(cand)) hit = cand
        else end -= 1
      }
      if (hit == null) return Array(unk)
      out += hit
      start = end
    }
    out.result()
  }
}

/** The broadcast vocabulary artifact + per-task word memo (the
  * [[BpeTable]] pattern): each task deserializes its own copy — the
  * mutable cache is single-threaded by construction — and the memo is
  * bounded (on overflow new words stop being memoized; the Zipf head
  * is already resident).
  */
final class WordPieceModel(val pieces: Array[String], val unk: String,
                           val sep: String, val maxWordCp: Int)
  extends Serializable {
  require(maxWordCp >= 1,
    s"WordPieceModel: maxWordCp must be >= 1, got $maxWordCp")
  private val maxCacheWords = 1 << 16
  @transient private lazy val cache = new java.util.HashMap[String, String]()

  @transient lazy val vocab: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      require(s.add(pieces(i)),
        s"WordPieceModel: duplicate piece '${pieces(i)}' — the model " +
          "artifact must list each piece once")
      i += 1
    }
    s
  }
  @transient lazy val maxPieceCp: Int =
    if (pieces.isEmpty) 1
    else pieces.iterator.map { p =>
      val body = if (p.startsWith(WordPieceKernel.ContPrefix))
        p.substring(WordPieceKernel.ContPrefix.length) else p
      math.max(1, body.codePointCount(0, body.length))
    }.max

  /** Content equality: two kernel calls over equal models compare equal. */
  override def equals(o: Any): Boolean = o match {
    case m: WordPieceModel => m.unk == unk && m.sep == sep &&
      m.maxWordCp == maxWordCp && m.pieces.sameElements(pieces)
    case _ => false
  }
  override def hashCode: Int = pieces.toSeq.hashCode

  def encodeWord(w: String): String = {
    val hit = cache.get(w)
    if (hit != null) return hit
    val enc = WordPieceKernel.greedy(w, vocab, maxPieceCp, maxWordCp, unk)
      .mkString(sep)
    if (cache.size < maxCacheWords) cache.put(w, enc)
    enc
  }
}

/** Static forwarder so generated code makes one virtual-free call per
  * row (the [[BpeEncodeUtil]] pattern).
  */
object WordPieceEncodeUtil {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Whole document → one piece stream: each whitespace word encodes
    * independently (pieces never cross word boundaries), all pieces
    * joined by the model's separator. Empty / whitespace-only input
    * yields "" (not null).
    */
  def encode(text: UTF8String, model: WordPieceModel): UTF8String = {
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

/** Serve-time WordPiece segmentation as a codegen'd kernel call: the
  * vocabulary artifact rides the serialized plan to every task
  * (the [[BpeEncode]] pattern), the greedy walk is a static JVM kernel
  * inside whole-stage codegen, and the per-task word memo amortizes
  * the per-word cost to once per DISTINCT word per task.
  */
object WordPieceEncode {
  def apply(text: Column, pieces: Seq[String]): Column =
    apply(text, pieces, "[UNK]", "|", 200)

  def apply(text: Column, pieces: Seq[String], unk: String, sep: String,
            maxWordCp: Int): Column =
    ColumnBridge.kernel("wordpiece_encode", WordPieceEncodeUtil, "encode",
      StringType, Seq(text -> StringType),
      Seq(new WordPieceModel(pieces.toArray, unk, sep, maxWordCp)))
}
