package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** gunzip a BINARY payload to its UTF-8 text — the fetch-side decode
  * the sitemap layer needs: real sites publish their `<sitemapindex>`
  * and child sitemaps GZIPPED (the sitemaps.org convention), so the
  * bytes the fetcher lands are a gzip member, not XML. Pure-JVM
  * (`java.util.zip.GZIPInputStream` — in the JDK, zero new
  * dependencies), scan-stage whole-stage codegen via the static
  * kernel ([[SimHashUtil]] pattern).
  *
  * Decompression is BOUNDED: output larger than `MaxOut` (64 MiB —
  * above the 50 MB uncompressed sitemap spec limit) raises loudly. A
  * tiny gzip member can legally inflate a thousandfold (the zip-bomb
  * shape), and an unbounded inflate is how a fetch pipeline's executor
  * dies at the one hostile domain; the cap makes that a per-row loud
  * error instead.
  */
object GunzipText {
  def apply(payload: Column): Column =
    ColumnBridge.kernel("gunzip_text", GunzipUtil, "gunzipUtf8", StringType,
      Seq(payload -> BinaryType))
}

object GunzipUtil {
  /** The sitemap spec caps uncompressed files at 50 MB; anything above
    * this bound is hostile or corrupt, never a sitemap.
    */
  val MaxOut: Int = 64 << 20

  /** WARC payload bound: one archive file rides one ingest row, and a
    * row inflating past 1 GiB exceeds what a single task should hold —
    * split the archive file instead (the archive convention is ~1 GB
    * COMPRESSED shards precisely so consumers can bound per-file work).
    */
  val MaxWarcOut: Int = 1 << 30

  /** Bounded `Content-Encoding: zstd` decode (RFC 8878) through the
    * zstd-jni streaming decompressor Spark itself ships for parquet.
    * Same loudness discipline as [[gunzip]]/[[inflate]]: corrupt or
    * truncated frames raise with context (zstd-jni's error message
    * carries the frame diagnostics), and output past `maxOut` raises
    * instead of truncating. Concatenated frames decode in sequence
    * (the frame-append convention, like gzip members).
    */
  def zstdInflate(b: Array[Byte], maxOut: Int, label: String): Array[Byte] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$label: $msg")
    if (b.length < 4) fail(s"zstd stream of ${b.length} bytes")
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(b))
    in.setContinuous(false)
    try {
      val out = new java.io.ByteArrayOutputStream(
        math.min(math.max(b.length * 4, 1 << 12), 1 << 16))
      val buf = new Array[Byte](8192)
      var total = 0L
      var n = 0
      while (n >= 0) {
        n = try in.read(buf)
        catch { case e: java.io.IOException =>
          fail(s"corrupt or truncated zstd stream: ${e.getMessage}")
        }
        if (n > 0) {
          total += n
          if (total > maxOut)
            fail(s"zstd output exceeds the $maxOut-byte bound — split " +
              "the input instead of buffering it in one task")
          out.write(buf, 0, n)
        }
      }
      out.toByteArray
    } finally in.close()
  }

  /** Bounded `Content-Encoding: deflate` decode — BOTH wire forms,
    * because real servers send both: RFC 9110 says deflate is the
    * zlib-wrapped format (RFC 1950), but a large minority of servers
    * (historically IIS) ship the RAW deflate stream (RFC 1951). The
    * sniff is the standard client move: a zlib stream's first two
    * bytes satisfy `CMF low nibble = 8` and `(CMF·256+FLG) % 31 = 0`;
    * anything else inflates raw. The sniff can MISREAD a raw stream
    * whose first two bytes coincidentally pass the zlib check (a
    * stored-block stream starting 0x78 …), and a misread can surface
    * as ANY decode symptom — corrupt data, apparent truncation, or
    * apparent trailing bytes — so any of the three under the sniffed
    * form retries ONCE under the other form (which must decode FULLY
    * and cleanly to win) before raising with both diagnoses. Overflow
    * past `maxOut` never retries: both forms would inflate the same
    * bytes past the same bound, and retrying a bound violation only
    * doubles the work. Same loudness discipline as [[gunzip]]: a
    * stream that decodes under NEITHER form raises with both
    * diagnoses — a silently truncated inflate is a silently truncated
    * document.
    */
  def inflate(b: Array[Byte], maxOut: Int, label: String): Array[Byte] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$label: $msg")
    if (b.length < 2) fail(s"deflate stream of ${b.length} bytes")
    // decode-shaped failures (corrupt/truncated/trailing) carry a
    // message and allow the other-form retry; only the output BOUND
    // raises directly (form-independent)
    def attempt(zlib: Boolean): Either[String, Array[Byte]] = {
      val form = if (zlib) "zlib" else "raw"
      val inf = new java.util.zip.Inflater(!zlib)
      try {
        inf.setInput(b)
        val out = new java.io.ByteArrayOutputStream(
          math.min(math.max(b.length * 4, 1 << 12), 1 << 16))
        val buf = new Array[Byte](8192)
        var total = 0L
        var bad: String = null
        while (bad == null && !inf.finished()) {
          val n =
            try inf.inflate(buf)
            catch { case e: java.util.zip.DataFormatException =>
              bad = s"corrupt as $form deflate at input byte " +
                s"${inf.getBytesRead}: ${e.getMessage}"
              0
            }
          if (bad == null) {
            if (n == 0 && !inf.finished()) {
              if (inf.needsInput() || inf.needsDictionary())
                bad = s"truncated as $form deflate after " +
                  s"${inf.getBytesRead} of ${b.length} input bytes"
            }
            total += n
            if (total > maxOut)
              fail(s"inflated output exceeds the $maxOut-byte bound — " +
                "split the input instead of buffering it in one task")
            out.write(buf, 0, n)
          }
        }
        if (bad != null) Left(bad)
        else if (inf.getRemaining > 0)
          Left(s"${inf.getRemaining} trailing bytes as $form deflate " +
            "after the stream ended — not part of the representation")
        else Right(out.toByteArray)
      } finally inf.end()
    }
    val sniffZlib = (b(0) & 0x0f) == 8 &&
      (((b(0) & 0xff) * 256 + (b(1) & 0xff)) % 31 == 0)
    attempt(sniffZlib) match {
      case Right(out) => out
      case Left(first) => attempt(!sniffZlib) match {
        case Right(out) => out
        case Left(second) => fail(s"deflate body decodes under neither " +
          s"wire form — sniffed ${if (sniffZlib) "zlib" else "raw"}: " +
          s"$first; fallback: $second")
      }
    }
  }

  def gunzipUtf8(bytes: Array[Byte]): UTF8String =
    UTF8String.fromBytes(gunzip(bytes, MaxOut))

  /** Bounded inflate over ALL concatenated members: loud on overflow,
    * non-gzip bytes, and — unlike `java.util.zip.GZIPInputStream`,
    * whose readTrailer swallows a malformed next-member header as EOF
    * ("ignore any malformed") — loud on trailing garbage or a corrupt
    * member anywhere in the stream. A silently truncated inflate is a
    * silently truncated ARCHIVE one layer up.
    */
  def gunzip(bytes: Array[Byte], maxOut: Int): Array[Byte] =
    walkMembers(bytes, maxOut, "gunzip_text")._2

  /** One pass over concatenated gzip members: exact (start, end) byte
    * ranges AND the inflated output. Each member's header is parsed
    * here (FEXTRA/FNAME/FCOMMENT/FHCRC honored), its deflate stream
    * inflated to its self-terminating end, its CRC32+ISIZE trailer
    * stepped over — so every byte of the input is accounted for and
    * any malformation fails with its offset.
    *
    * `buffer = false` is the RANGES-ONLY mode for callers that need
    * extents, not bytes ([[graft.sources.Warc]]'s member-extent walk):
    * inflated output is COUNTED against the bound but never
    * accumulated, so walking a ~1 GB-compressed archive file holds an
    * 8 KiB scratch buffer instead of up to `maxOut` inflated bytes per
    * task. The returned array is empty in that mode; the bound check
    * is identical (cumulative across members) so the two modes accept
    * exactly the same inputs.
    */
  def walkMembers(b: Array[Byte], maxOut: Int, label: String,
                  buffer: Boolean = true): (Seq[(Int, Int)], Array[Byte]) = {
    val ranges = Seq.newBuilder[(Int, Int)]
    val out = new java.io.ByteArrayOutputStream(
      if (buffer) math.min(math.max(b.length * 4, 1 << 12), 1 << 16) else 16)
    var total = 0L
    var p = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$label: byte $p: $msg")
    while (p < b.length) {
      val start = p
      if (p + 10 > b.length || (b(p) & 0xff) != 0x1f ||
          (b(p + 1) & 0xff) != 0x8b) fail("expected a gzip member header")
      if ((b(p + 2) & 0xff) != 8) fail("unsupported compression method")
      val flg = b(p + 3) & 0xff
      p += 10
      if ((flg & 4) != 0) { // FEXTRA
        if (p + 2 > b.length) fail("truncated FEXTRA")
        val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { while (p < b.length && b(p) != 0) p += 1; p += 1 }
      if ((flg & 16) != 0) { while (p < b.length && b(p) != 0) p += 1; p += 1 }
      if ((flg & 2) != 0) p += 2
      if (p > b.length) fail("truncated member header")
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(b, p, b.length - p)
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n > 0) {
            if (buffer) out.write(buf, 0, n)
            total += n
            if (total > maxOut) fail(
              s"output exceeds the $maxOut-byte bound — a gzip member " +
                "inflating past it is a bomb or corruption, not data")
          } else if (!inf.finished()) {
            if (inf.needsInput()) fail("truncated deflate stream")
            if (inf.needsDictionary()) fail(
              "deflate stream demands a preset dictionary — not legal in gzip")
          }
        }
        p += inf.getBytesRead.toInt
      } catch {
        case e: java.util.zip.DataFormatException =>
          fail(s"corrupt deflate stream: ${e.getMessage}")
      } finally inf.end()
      p += 8 // CRC32 + ISIZE trailer
      if (p > b.length) fail("truncated member trailer")
      ranges += ((start, p))
    }
    (ranges.result(), out.toByteArray)
  }
}
