package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Map-side SimHash: the `bits`-bit code of a document computed in one
  * narrow pass — tokenize (lowercased, same `\s+` split as
  * [[TextFunctions.tokens]]), md5 each token, and for bit b accumulate
  * sign votes from hex-nibble bIdx/4 bit bIdx%4 of the digest, exactly
  * the arithmetic of [[HashFunctions.md5Nibble]]/[[HashFunctions.nibbleBit]] — so the
  * result is bit-identical to the explode + 16-sum aggregate form and to
  * the DuckDB oracle. Duplicate tokens vote multiply, like the explode.
  * NULL for documents with no tokens (the aggregate form drops them).
  *
  * Scale argument: the aggregate form materializes one row per token
  * (~10²× the document count) through a hash aggregate before the sums
  * collapse; this form emits the finished code from the scan stage, so
  * nothing per-token ever leaves the expression.
  */
object SimHash {
  def apply(text: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 63, s"simhash bits ($bits) must be in 1..63")
    ColumnBridge.kernel("simhash", SimHashUtil, "simhash", LongType,
      Seq(text -> StringType), Seq(bits), nullable = true)
  }
}

/** JVM kernel — plain object so generated code calls the static
  * forwarder `SimHashUtil.simhash(...)`.
  */
object SimHashUtil {
  private val Ws = Pattern.compile("\\s+")
  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def simhash(text: UTF8String, bits: Int): java.lang.Long = {
    if (text == null) return null
    val toks = Ws.split(text.toString.toLowerCase(java.util.Locale.ROOT))
    val md = Md5.get()
    val sums = new Array[Int](bits)
    var any = false
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.isEmpty) {
        any = true
        val d = md.digest(t.getBytes(StandardCharsets.UTF_8))
        var b = 0
        while (b < bits) {
          val hexPos = b / 4 // 0-based hex char index = digest nibble
          val byte = d(hexPos / 2) & 0xff
          val nib = if ((hexPos & 1) == 0) byte >>> 4 else byte & 0xf
          val bit = (nib >>> (b % 4)) & 1
          sums(b) += bit * 2 - 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var code = 0L
    var b = 0
    while (b < bits) {
      if (sums(b) >= 0) code |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(code)
  }
}
