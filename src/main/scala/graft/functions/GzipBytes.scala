package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** gzip a BINARY payload — the sink-side twin of [[GunzipText]]'s
  * inflate: what an HTTP fixture or sink needs to store a
  * `Content-Encoding: gzip` body the way a real crawl archives it
  * (the fetched representation rides the WARC block VERBATIM, still
  * encoded — [[graft.sources.HttpMessage.decodeBody]] is the read
  * half). Pure-JVM (`java.util.zip.GZIPOutputStream`, deterministic
  * at the default level), scan-stage whole-stage codegen via the
  * static kernel.
  */
object GzipBytes {
  def apply(payload: Column): Column =
    ColumnBridge.kernel("gzip_bytes", this, "gzip", BinaryType,
      Seq(payload -> BinaryType))

  /** One gzip member over the input bytes. */
  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(
      math.max(bytes.length / 2, 64))
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(bytes); g.finish(); g.close()
    bos.toByteArray
  }
}
