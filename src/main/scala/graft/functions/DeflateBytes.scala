package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** deflate a BINARY payload — the sink-side twin of
  * [[GunzipUtil.inflate]], in EITHER wire form: `raw = false` emits
  * the zlib-wrapped stream RFC 9110 means by `Content-Encoding:
  * deflate`, `raw = true` the bare RFC 1951 stream the misbehaving
  * minority of servers actually send. Fixtures use both so the read
  * half's sniff is exercised on both. Deterministic at the default
  * level; scan-stage whole-stage codegen via the static kernel.
  */
object DeflateBytes {
  def apply(payload: Column, raw: Boolean): Column =
    ColumnBridge.kernel("deflate_bytes", this, "deflate", BinaryType,
      Seq(payload -> BinaryType), Seq(raw))

  /** One deflate stream over the input bytes, zlib-wrapped or raw. */
  def deflate(bytes: Array[Byte], raw: Boolean): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
    try {
      d.setInput(bytes); d.finish()
      val bos = new java.io.ByteArrayOutputStream(
        math.max(bytes.length / 2, 64))
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    } finally d.end()
  }
}
