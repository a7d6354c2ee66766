package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content sniffing by MAGIC BYTES — the routing decision a real
  * archive forces that the declared `Content-Type` header cannot be
  * trusted to make: misconfigured servers label PNGs `text/html`,
  * PDFs `text/plain`, and gzip blobs `application/octet-stream` all
  * over a real crawl, so a pipeline that routes payloads on the
  * declared header alone feeds binary bytes to text extractors and
  * drops extractable pages on the floor. The sniff table follows the
  * public WHATWG MIME Sniffing convention (byte-pattern matching
  * first, then a tag prescan for HTML, then the binary-byte test),
  * applied to the payload's FIRST bytes only — a bounded, branchy,
  * per-row kernel that belongs in the scan stage.
  *
  * Beyond-reference surface (the LLM-pipeline ingest family): the
  * declared-header routing lives in [[graft.sources.Warc.splitHttp]];
  * this sniff is the real-archive hardening on top. A static JVM
  * kernel called through [[org.apache.spark.sql.graft.ColumnBridge.kernel]]
  * (the [[ShingleHash40]] pattern), so the sniff stays inside
  * whole-stage codegen next to the splitHttp projection it guards.
  */
object MimeSniff {
  def apply(payload: Column): Column =
    ColumnBridge.kernel("mime_sniff", MimeSniffUtil, "sniff", StringType,
      Seq(payload -> BinaryType))
}

object MimeSniffUtil {

  /** How many bytes the binary-vs-text test examines — the WHATWG
    * "resource header" size. Signature matches only ever need the
    * first dozens of bytes; this bound is for the text fallback scan.
    */
  val HeaderBytes: Int = 1445

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  private val PNG = u("image/png")
  private val JPEG = u("image/jpeg")
  private val GIF = u("image/gif")
  private val BMP = u("image/bmp")
  private val WEBP = u("image/webp")
  private val WAV = u("audio/wav")
  private val GZIP = u("application/gzip")
  private val ZIP = u("application/zip")
  private val PDF = u("application/pdf")
  private val XML = u("text/xml")
  private val HTML = u("text/html")
  private val PLAIN = u("text/plain")
  private val OCTET = u("application/octet-stream")

  private def startsWith(b: Array[Byte], at: Int, sig: Int*): Boolean = {
    if (b.length < at + sig.length) return false
    var i = 0
    while (i < sig.length) {
      if ((b(at + i) & 0xff) != sig(i)) return false
      i += 1
    }
    true
  }

  private def startsWithAscii(b: Array[Byte], at: Int, s: String): Boolean = {
    if (b.length < at + s.length) return false
    var i = 0
    while (i < s.length) {
      if (b(at + i) != s.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** The HTML tag prescan: skip whitespace, then match one of the
    * WHATWG tag signatures case-insensitively, terminated by a space
    * or '>' (so `<html>` and `<html lang=..>` match but `<htmlfoo`
    * does not).
    */
  private val HtmlTags = Array("<!DOCTYPE HTML", "<HTML", "<HEAD",
    "<SCRIPT", "<IFRAME", "<H1", "<DIV", "<FONT", "<TABLE", "<A",
    "<STYLE", "<TITLE", "<B", "<BODY", "<BR", "<P", "<!--")

  private def htmlTagAt(b: Array[Byte], at: Int): Boolean = {
    var t = 0
    while (t < HtmlTags.length) {
      val tag = HtmlTags(t)
      if (b.length >= at + tag.length) {
        var i = 0
        var ok = true
        while (ok && i < tag.length) {
          val c = Character.toUpperCase((b(at + i) & 0xff).toChar)
          if (c != tag.charAt(i)) ok = false
          i += 1
        }
        if (ok && b.length > at + tag.length) {
          // every signature, the comment included, needs the WHATWG
          // tag-terminating byte (space or '>')
          val nxt = b(at + tag.length)
          if (nxt == ' '.toByte || nxt == '>'.toByte) return true
        }
      }
      t += 1
    }
    false
  }

  /** WHATWG's "binary data byte": a byte that never appears in text. */
  private def isBinaryByte(x: Int): Boolean =
    (x <= 0x08) || x == 0x0b || (x >= 0x0e && x <= 0x1a) ||
      (x >= 0x1c && x <= 0x1f)

  def sniff(b: Array[Byte]): UTF8String = {
    // exact signatures first — a matched pattern is certain
    if (startsWith(b, 0, 0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
      return PNG
    if (startsWith(b, 0, 0xff, 0xd8, 0xff)) return JPEG
    if (startsWithAscii(b, 0, "GIF87a") || startsWithAscii(b, 0, "GIF89a"))
      return GIF
    if (startsWithAscii(b, 0, "RIFF") && startsWithAscii(b, 8, "WEBP"))
      return WEBP
    if (startsWithAscii(b, 0, "RIFF") && startsWithAscii(b, 8, "WAVE"))
      return WAV
    if (startsWithAscii(b, 0, "BM")) return BMP
    if (startsWith(b, 0, 0x1f, 0x8b)) return GZIP
    if (startsWithAscii(b, 0, "PK") && startsWith(b, 2, 0x03, 0x04))
      return ZIP
    if (startsWithAscii(b, 0, "%PDF-")) return PDF
    // leading-whitespace-tolerant text signatures
    var p = 0
    while (p < b.length && (b(p) == ' '.toByte || b(p) == '\t'.toByte ||
        b(p) == '\n'.toByte || b(p) == '\r'.toByte || b(p) == 0x0c.toByte))
      p += 1
    if (startsWithAscii(b, p, "<?xml")) return XML
    if (htmlTagAt(b, p)) return HTML
    // a BOM names a text payload outright
    if (startsWith(b, 0, 0xef, 0xbb, 0xbf) || startsWith(b, 0, 0xfe, 0xff) ||
        startsWith(b, 0, 0xff, 0xfe)) return PLAIN
    // the binary-byte test over the bounded resource header
    val n = math.min(b.length, HeaderBytes)
    var i = 0
    while (i < n) {
      if (isBinaryByte(b(i) & 0xff)) return OCTET
      i += 1
    }
    PLAIN
  }
}
