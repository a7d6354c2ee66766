package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Merge-table BPE ENCODING — tokenizer INFERENCE, the most-executed
  * operator in a training-data pipeline (every document, every epoch).
  * [[graft.text.CorpusOps.bpeTrainMerges]] learns the rank-ordered
  * merge table; this expression applies it: each whitespace word seeds
  * as code-point symbols, then every merge is applied in RANK ORDER,
  * each round simultaneously left-to-right (a merged symbol never
  * re-pairs within its own round) — bit-identical to the training
  * evolution, so encoding the training corpus reproduces exactly the
  * final training state (the round-trip property CorpusOpsSpec pins).
  *
  * Scale shape: the merge table is a bounded model artifact riding the
  * serialized plan as an object literal (the broadcast-small-side rule
  * — it reaches every task once, never shuffles), the encode is pure
  * map-side in whole-stage codegen via a static JVM kernel
  * ([[org.apache.spark.sql.graft.ColumnBridge.kernel]], the [[SimHash]]
  * pattern), and a per-task word→encoding memo makes
  * the per-word cost amortize to once per DISTINCT word per task —
  * the standard production-tokenizer cache, which is why O(merges·|w|)
  * sequential application is fine even for large tables: Zipfian
  * corpora re-encode the same head words constantly.
  */
object BpeEncode {
  def apply(text: Column, merges: Seq[(String, String)]): Column =
    encode(text, new BpeTable(merges.toArray))

  /** Byte-level variant: words seed as [[ByteAlphabet]] byte symbols
    * (the GPT-2 `bytes_to_unicode` convention) instead of code points.
    */
  def bytes(text: Column, merges: Seq[(String, String)]): Column =
    encode(text, new BpeTable(merges.toArray, byteLevel = true))

  private def encode(text: Column, table: BpeTable): Column =
    ColumnBridge.kernel("bpe_encode", BpeEncodeUtil, "encode", StringType,
      Seq(text -> StringType), Seq(table))
}

/** The two primitive steps the trainer and the encoder MUST share —
  * code-point seeding and the simultaneous left-to-right merge pass.
  * The pinned round-trip bit-identity (encoding the training corpus
  * reproduces the final training state) holds exactly because both
  * sides call THESE functions; a second copy of either step would be
  * a silent drift surface.
  */
object BpeKernel {
  /** One word as code-point symbols — per CODE POINT, not per UTF-16
    * char, so astral-plane text (emoji, CJK extension blocks) seeds
    * whole characters instead of lone surrogates.
    */
  def seed(w: String): Array[String] = {
    val syms = new Array[String](w.codePointCount(0, w.length))
    var i = 0
    var s = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      syms(s) = new String(Character.toChars(cp))
      s += 1
      i += Character.charCount(cp)
    }
    syms
  }

  /** One merge over one symbol sequence, applied simultaneously
    * left-to-right (a merged symbol never re-pairs within its own
    * round). Returns `syms` UNCHANGED (same reference) when the pair
    * is absent, so callers pay no allocation on the common miss.
    */
  def mergePass(syms: Array[String], l: String, r: String): Array[String] = {
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
        out += l + r; k += 2 // simultaneous left-to-right, no re-pairing
      } else { out += syms(k); k += 1 }
    }
    out.result()
  }
}

/** The broadcast merge-table artifact + per-task word memo. Each Spark
  * task deserializes its own copy (the table rides the plan), so the
  * mutable cache is single-threaded by construction; `maxCacheWords`
  * bounds it — on overflow new words simply stop being memoized (the
  * Zipf head is already resident), never evicted mid-task.
  */
final class BpeTable(val merges: Array[(String, String)],
                     val byteLevel: Boolean = false) extends Serializable {
  private val maxCacheWords = 1 << 16
  @transient private lazy val cache = new java.util.HashMap[String, String]()

  /** Content equality: two kernel calls over equal tables compare equal. */
  override def equals(o: Any): Boolean = o match {
    case t: BpeTable => t.byteLevel == byteLevel && t.merges.sameElements(merges)
    case _ => false
  }
  override def hashCode: Int = merges.toSeq.hashCode

  def encodeWord(w: String): String = {
    val hit = cache.get(w)
    if (hit != null) return hit
    val enc = applyMerges(w)
    if (cache.size < maxCacheWords) cache.put(w, enc)
    enc
  }

  /** One word through the full table: [[BpeKernel.seed]] (code points)
    * or [[ByteAlphabet.seed]] (UTF-8 bytes through the GPT-2 alphabet)
    * depending on the table's level, then merges in rank order via the
    * SHARED [[BpeKernel.mergePass]] — only the seeding differs between
    * the two tokenizer families; the merge semantics are one code path.
    */
  private def applyMerges(w: String): String = {
    var syms = if (byteLevel) ByteAlphabet.seed(w) else BpeKernel.seed(w)
    var r = 0
    while (r < merges.length && syms.length > 1) {
      syms = BpeKernel.mergePass(syms, merges(r)._1, merges(r)._2)
      r += 1
    }
    syms.mkString(" ")
  }
}

/** Static forwarder so generated code makes one virtual-free call per
  * row (the [[SimHashUtil]] pattern).
  */
object BpeEncodeUtil {
  private val Ws = Pattern.compile("\\s+")

  /** Whole document → one encoded symbol stream: each whitespace word
    * encodes independently (merges never cross word boundaries — the
    * training invariant), outputs joined by single spaces. Empty /
    * whitespace-only input yields "" (not null), matching the column-
    * form twin.
    */
  def encode(text: UTF8String, table: BpeTable): UTF8String = {
    if (text == null) return null
    val toks = Ws.split(text.toString)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.isEmpty) {
        if (sb.length > 0) sb.append(' ')
        sb.append(table.encodeWord(t))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
