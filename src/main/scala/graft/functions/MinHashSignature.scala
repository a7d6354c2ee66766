package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Map-side MinHash signature: the k salted-md5 minima over a document's
  * word `n`-gram shingles, computed in ONE narrow projection pass.
  *
  * Semantics are identical to the compositional form (explode shingles →
  * `min(md5(concat(salt, shingle)))` aggregate): same whitespace
  * tokenization as [[TextFunctions.tokens]] (Java regex `\s+`, empties
  * dropped), same salt-prefix `i:` salting, same lowercase-hex md5, and
  * byte-wise unsigned digest comparison — which orders exactly like the
  * hex strings DuckDB's `list_min(md5(...))` compares. Documents with
  * fewer than `n` tokens return NULL (no signature → no candidates),
  * matching the oracle's `len(shingles) >= 1` guard.
  *
  * Why an expression and not the aggregate (the 100 TB argument): the
  * aggregate form must EXPLODE every shingle — shuffling ~tokens-per-doc
  * rows per document to group them back by doc_id — before the minima
  * reduce them to k values. This form never materializes a shingle row:
  * signatures stream out of the scan stage, and the only thing that ever
  * shuffles downstream is the (band_key, doc_id) pairs of the LSH join.
  * Reference capability: fuzzy-dedup north star (BASELINE.json); shingle
  * semantics per SURVEY.md §7.2 item 5.
  */
object MinHashSignature {
  /** Column form: `minhashSignature($"text", n = 3, k = 8)`. */
  def apply(text: Column, n: Int, k: Int): Column = {
    require(n >= 1 && k >= 1, s"minhash_signature: n ($n) and k ($k) must be >= 1")
    ColumnBridge.kernel("minhash_signature", MinHashUtil, "signature",
      ArrayType(StringType, containsNull = false), Seq(text -> StringType),
      Seq(n, k), nullable = true)
  }
}

/** JVM kernel for [[MinHashSignature]] — a plain object so scalac emits a
  * static forwarder `MinHashUtil.signature(...)` callable from generated
  * Java code.
  */
object MinHashUtil {
  private val Ws = Pattern.compile("\\s+")
  private val Hex = "0123456789abcdef".toCharArray
  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def signature(text: UTF8String, n: Int, k: Int): GenericArrayData = {
    if (text == null) return null
    val raw = Ws.split(text.toString)
    var nTok = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) nTok += 1; i += 1 }
    if (nTok < n) return null
    val toks = if (nTok == raw.length) raw else {
      val t = new Array[String](nTok)
      var j = 0; i = 0
      while (i < raw.length) { if (!raw(i).isEmpty) { t(j) = raw(i); j += 1 }; i += 1 }
      t
    }
    val md = Md5.get()
    val prefixes = new Array[Array[Byte]](k)
    i = 0
    while (i < k) { prefixes(i) = (i.toString + ":").getBytes(StandardCharsets.UTF_8); i += 1 }
    val mins = new Array[Array[Byte]](k)
    val sb = new java.lang.StringBuilder
    var s = 0
    val last = toks.length - n
    while (s <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(s + j))
        j += 1
      }
      val shBytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      i = 0
      while (i < k) {
        md.update(prefixes(i))
        md.update(shBytes)
        val d = md.digest() // digest() resets the instance
        if (mins(i) == null || java.util.Arrays.compareUnsigned(d, mins(i)) < 0) mins(i) = d
        i += 1
      }
      s += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) { out(i) = UTF8String.fromString(toHex(mins(i))); i += 1 }
    new GenericArrayData(out)
  }

  private def toHex(d: Array[Byte]): String = {
    val c = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      val b = d(i) & 0xff
      c(i * 2) = Hex(b >>> 4)
      c(i * 2 + 1) = Hex(b & 0xf)
      i += 1
    }
    new String(c)
  }
}
