package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hamming distance between two equal-length code strings — the verify
  * kernel for banded near-dup candidates (perceptual-hash bit strings,
  * any fixed-width ASCII code). Byte-wise comparison (exact for the
  * ASCII '0'/'1' codes every hash path here emits), codegen'd so the
  * verification stays inside whole-stage codegen rather than dropping
  * to an interpreted UDF. Unequal lengths fail loudly per row — a
  * truncated code silently scoring as "near" would admit false
  * duplicates into an election.
  */
object HammingBits {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.kernel("hamming_bits", HammingBitsUtil, "dist", IntegerType,
      Seq(a -> StringType, b -> StringType))
}

/** JVM kernel — plain object so generated code calls the static
  * forwarder `HammingBitsUtil.dist(...)`.
  */
object HammingBitsUtil {
  def dist(a: UTF8String, b: UTF8String): Int = {
    val ab = a.getBytes
    val bb = b.getBytes
    if (ab.length != bb.length)
      throw new IllegalArgumentException(
        s"hamming_bits: code lengths differ (${ab.length} vs ${bb.length})")
    var d = 0
    var i = 0
    while (i < ab.length) {
      if (ab(i) != bb(i)) d += 1
      i += 1
    }
    d
  }
}
