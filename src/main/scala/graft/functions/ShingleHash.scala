package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingle hashes as ONE codegen'd pass: tokenize (the
  * exact [[TextFunctions.tokens]] dual — split on `\s+`, empties
  * dropped), join each n consecutive tokens with single spaces, md5,
  * take the first 5 digest bytes (== the first 10 hex chars) as a long,
  * +1 — bit-identical to
  * `conv(substring(md5(shingle), 1, 10), 16, 10) + 1`
  * ([[graft.dedup.Dedup.sketchHash40]]), which is what the DuckDB
  * oracles recompute (FunctionsSpec pins the equivalence against the
  * column-composition form).
  *
  * Why a kernel call: the array-form [[TextFunctions.shingles]]
  * is a higher-order-function lambda — CodegenFallback, interpreted per
  * element, with the token split re-evaluated per reference — measured
  * 3-4× slower than the row form even at sf0.1, and it sits in the
  * map-side hot path of every sketch build. The row form
  * ([[TextFunctions.explodedShinglesPos]]) is codegen'd but pays a
  * corpus-sized window shuffle. This kernel keeps the map-side shape
  * AND whole-stage codegen: the static JVM method is called through
  * [[org.apache.spark.sql.graft.ColumnBridge.kernel]] (the
  * [[SimHash]]/[[BpeEncode]] pattern), one tokenization and one
  * rolling join per document, md5 via a thread-local digest.
  */
object ShingleHash40 {
  def apply(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    ColumnBridge.kernel("shingle_hash40", ShingleHash40Util, "hashes",
      ArrayType(LongType, containsNull = false), Seq(text -> StringType), Seq(n))
  }
}

/** [[ShingleHash40]]'s sibling for operators that join on full md5 HEX
  * strings (the decontamination family's key domain): each n-token
  * shingle's 32-char lowercase md5 hex — bit-identical to
  * `md5(array_join(slice(tokens, i, n), ' '))`, one codegen'd pass.
  */
object ShingleMd5 {
  def apply(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    ColumnBridge.kernel("shingle_md5", ShingleHash40Util, "md5Hex",
      ArrayType(StringType, containsNull = false), Seq(text -> StringType), Seq(n))
  }
}

object ShingleHash40Util {
  private val ws = Pattern.compile("\\s+")

  // MessageDigest is stateful and not thread-safe; one per task thread
  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  private val hexChars = "0123456789abcdef".toCharArray

  /** Non-empty whitespace tokens — the exact [[TextFunctions.tokens]]
    * dual both kernels share (a leading separator yields a leading ""
    * in Java split; all empties drop).
    */
  private def tokenize(text: UTF8String): Array[String] = {
    val raw = ws.split(text.toString)
    var nTok = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) nTok += 1; i += 1 }
    if (nTok == raw.length) return raw
    val toks = new Array[String](nTok)
    i = 0
    var j = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(j) = raw(i); j += 1 }
      i += 1
    }
    toks
  }

  /** The shared per-shingle walk: build each n-token join and hand its
    * md5 digest to `emit(index, digest)`.
    */
  private def forEachDigest(toks: Array[String], n: Int,
                            emit: (Int, Array[Byte]) => Unit): Unit = {
    val md = md5.get()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var t = 0
      while (t < n) {
        if (t > 0) sb.append(' ')
        sb.append(toks(i + t))
        t += 1
      }
      md.reset()
      emit(i, md.digest(sb.toString.getBytes(StandardCharsets.UTF_8)))
      i += 1
    }
  }

  /** First 5 md5 bytes of each n-token shingle as (value + 1) — see
    * [[ShingleHash40]]. Documents shorter than n tokens yield an empty
    * array (the [[TextFunctions.shingles]] guard).
    */
  def hashes(text: UTF8String, n: Int): GenericArrayData = {
    val toks = tokenize(text)
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](toks.length - n + 1)
    forEachDigest(toks, n, (i, digest) => {
      var v = 0L
      var b = 0
      while (b < 5) { v = (v << 8) | (digest(b) & 0xFFL); b += 1 }
      out(i) = v + 1L
    })
    new GenericArrayData(out)
  }

  /** Full 32-char lowercase md5 hex per shingle — see [[ShingleMd5]]. */
  def md5Hex(text: UTF8String, n: Int): GenericArrayData = {
    val toks = tokenize(text)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    forEachDigest(toks, n, (i, digest) => {
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexChars((digest(b) >> 4) & 0xF)
        hex(2 * b + 1) = hexChars(digest(b) & 0xF)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
    })
    new GenericArrayData(out)
  }
}
