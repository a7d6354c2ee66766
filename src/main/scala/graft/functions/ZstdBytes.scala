package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** zstd-compress a BINARY payload (RFC 8878, one frame at the default
  * level — deterministic for a given zstd-jni version, which Spark
  * pins on the classpath) — the sink-side twin of
  * [[GunzipUtil.zstdInflate]], for fixtures and sinks storing a
  * `Content-Encoding: zstd` body the way a modern crawl archives it.
  * Scan-stage whole-stage codegen via the static kernel.
  */
object ZstdBytes {
  def apply(payload: Column): Column =
    ColumnBridge.kernel("zstd_bytes", this, "zstd", BinaryType,
      Seq(payload -> BinaryType))

  /** One zstd frame over the input bytes, default level. */
  def zstd(bytes: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(bytes)
}
