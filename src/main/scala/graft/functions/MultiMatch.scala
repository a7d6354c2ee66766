package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern substring counting in ONE text pass — the denylist /
  * phrase-watchlist scan a 100 TB curation pipeline runs with
  * THOUSANDS of phrases, where the regexp-alternation and
  * per-phrase-replace approaches are O(phrases × text) per row and
  * this is O(text + matches): the classic Aho–Corasick automaton
  * (Aho & Corasick 1975 — goto/fail links over the phrase trie,
  * dictionary-suffix outputs), built once per task from the phrase
  * list riding the serialized plan (the [[BpeEncode]]
  * broadcast-artifact pattern), walked once per row inside
  * whole-stage codegen.
  *
  * Semantics: counts EVERY occurrence of every phrase (all start
  * positions, overlaps included — "she" in "ushers" also fires "he"
  * and "hers"). For phrases with no proper border (no proper prefix
  * equal to a proper suffix), this equals the left-to-right
  * non-overlapping count — which is what lets an oracle recompute it
  * with replace() arithmetic. Matching is exact code units; callers
  * wanting case-insensitivity lower both sides.
  */
object MultiMatchCounts {
  def apply(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "multi_match: empty phrase list")
    require(phrases.forall(_.nonEmpty),
      "multi_match: empty phrase — it would match at every position")
    require(phrases.distinct.length == phrases.length,
      "multi_match: duplicate phrases — each output slot must be one phrase")
    ColumnBridge.kernel("multi_match", MultiMatchUtil, "counts",
      ArrayType(LongType, containsNull = false), Seq(text -> StringType),
      Seq(new AcAutomaton(phrases.toArray)))
  }
}

/** The Aho–Corasick automaton artifact: built lazily on first use in
  * each task from the serialized phrase list (states are a
  * construction detail, not wire format). States index into flat
  * arrays; transitions are per-state HashMaps (the alphabet is all of
  * Unicode — a dense table would be 64 K ints per state); fail links
  * via BFS; each state carries the phrase indices ENDING there plus a
  * dictionary-suffix link so the walk reports every overlapping hit
  * without chasing fail chains per character.
  */
final class AcAutomaton(val phrases: Array[String]) extends Serializable {

  @transient lazy val built: AcAutomaton.States = AcAutomaton.build(phrases)

  /** Content equality: two kernel calls over equal phrase lists compare
    * equal.
    */
  override def equals(o: Any): Boolean = o match {
    case a: AcAutomaton => a.phrases.sameElements(phrases)
    case _ => false
  }
  override def hashCode: Int = phrases.toSeq.hashCode
}

object AcAutomaton {

  final class States(val next: Array[java.util.HashMap[Character, Integer]],
                     val fail: Array[Int],
                     val hit: Array[Int],   // phrase idx ending at state, -1
                     val dict: Array[Int])  // nearest output state via fail, 0

  private[functions] def build(phrases: Array[String]): States = {
    val next = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val hit = scala.collection.mutable.ArrayBuffer(-1)
    // trie
    var p = 0
    while (p < phrases.length) {
      var s = 0
      val ph = phrases(p)
      var i = 0
      while (i < ph.length) {
        val c = ph.charAt(i)
        val t = next(s).get(c)
        if (t == null) {
          next += new java.util.HashMap[Character, Integer]()
          hit += -1
          next(s).put(c, next.length - 1)
          s = next.length - 1
        } else s = t
        i += 1
      }
      require(hit(s) == -1, s"multi_match: duplicate phrase '${ph}'")
      hit(s) = p
      p += 1
    }
    val n = next.length
    val fail = new Array[Int](n)
    val dict = new Array[Int](n)
    // BFS for fail links; dict(s) = s if s outputs, else dict(fail(s))
    val queue = new java.util.ArrayDeque[Integer]()
    next(0).forEach { (_, t) => fail(t) = 0; queue.add(t) }
    while (!queue.isEmpty) {
      val s = queue.poll().intValue()
      dict(s) = if (hit(s) >= 0) s else dict(fail(s))
      next(s).forEach { (c, t) =>
        // fail(t): longest proper suffix state with a c-transition
        var f = fail(s)
        var hop = next(f).get(c)
        while (hop == null && f != 0) { f = fail(f); hop = next(f).get(c) }
        fail(t) = if (hop != null && hop != t) hop.intValue() else 0
        queue.add(t)
      }
    }
    new States(next.toArray, fail, hit.toArray, dict)
  }
}

/** Static forwarder for generated code (the [[BpeEncodeUtil]] rule). */
object MultiMatchUtil {

  def counts(t: UTF8String, a: AcAutomaton): GenericArrayData = {
    val st = a.built
    val out = new Array[Long](a.phrases.length)
    val s = t.toString
    var state = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var tr = st.next(state).get(c)
      while (tr == null && state != 0) {
        state = st.fail(state)
        tr = st.next(state).get(c)
      }
      state = if (tr == null) 0 else tr.intValue()
      // report every phrase ending here via the dictionary-suffix chain
      var d = if (st.hit(state) >= 0) state else st.dict(state)
      while (d != 0) {
        out(st.hit(d)) += 1L
        d = st.dict(st.fail(d))
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
