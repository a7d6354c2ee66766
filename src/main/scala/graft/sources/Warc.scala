package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.DriverCollect

/** WARC (ISO 28500) container ingestion — the byte layer every real
  * LLM data pipeline starts from: crawls interchange fetched content
  * as WARC files (Common Crawl's .warc/.wet are the canonical corpus
  * source), so the extract step (p130's htmlExtract and everything
  * after it) needs records OUT of the container first.
  *
  * Parsing is a REAL byte walk, per the public spec: each record is a
  * `WARC/<ver>` version line, header lines to an empty line, then
  * exactly `Content-Length` BYTES of block, then two newlines. The
  * byte framing is the point — a character-based split breaks the
  * moment a body holds multi-byte UTF-8 (spec-pinned) — which is why
  * this is a per-partition JVM kernel (the
  * [[graft.multimodal.ImageCodec]] contract: a container codec has no
  * `functions._` equivalent) and not a regex program. GZIP payloads
  * (whole-file or the per-record concatenated members Common Crawl
  * actually ships) inflate through the same bounded
  * [[graft.functions.GunzipUtil]] as the sitemap layer.
  *
  * Malformed framing RAISES loudly with the file and byte offset — a
  * crawl archive that silently drops records under a truncation is
  * the wrong failure mode for provenance-bearing ingest (the
  * quarantine path for EXPECTED dirt is [[JsonlIngest]]'s; a broken
  * container is transport corruption, not dirty data).
  *
  * Scale shape: one file row → its records, flatMap in the scan
  * stage; nothing shuffles until the caller aggregates. Headers
  * surface as typed columns (warc_type, target_uri, content_length) —
  * pruned-friendly — with the body as one string column.
  *
  * The sorted CDX layout ([[writeCdxShards]]) is maintained by
  * [[compactCdxShards]], [[splitCdxShard]] and [[coalesceCdxShards]];
  * all three publish through the one crash-safe protocol of
  * [[Publish]] (digit shard ids name `shard=<id>` children), and each
  * runs its repair first. Lookups go through [[serveCdx]].
  */
object Warc {

  /** `offset`/`record_bytes` are the record's byte EXTENT in the
    * (inflated) file: `offset` is where its `WARC/` version line
    * starts, `record_bytes` runs through its trailing separator up to
    * the next record's start (file end for the last) — so
    * `payload[offset, offset+record_bytes)` is a complete,
    * independently parseable record. That slice contract is what a
    * CDX index stores and what a byte-range fetch against a 100 TB
    * archive reads (for gzip inputs the extent addresses the INFLATED
    * stream — compressed-member offsets would need the gz framing the
    * bounded inflate deliberately hides).
    */
  final case class WarcRecord(file_id: Long, record_idx: Long,
                              warc_type: String, target_uri: String,
                              content_length: Long, body: String,
                              offset: Long, record_bytes: Long,
                              warc_date: String, content_type: String,
                              record_id: String)

  /** Parse a (id, payload) frame of WARC files into one row per
    * record. Accepts plain bytes, a gzipped file, or concatenated
    * per-record gzip members (GZIPInputStream reads across member
    * boundaries, so both gz layouts are the same inflate).
    */
  def parseWarc(df: DataFrame, id: Column, payload: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("file_id"),
        payload.cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (fid, bytes) =>
          parseRecords(fid, inflateIfGz(bytes))
        }
      }
      .toDF()
  }

  /** The one gzip-sniff + bounded inflate for the whole container
    * layer: both gz layouts (whole-file, concatenated members) walk
    * through [[graft.functions.GunzipUtil.walkMembers]], which is
    * LOUD on a malformed member anywhere — the JDK stream would
    * swallow it as EOF and silently truncate the archive. The bound
    * is the WARC one (1 GiB inflated per payload row), not the
    * sitemap zip-bomb cap.
    */
  private def inflateIfGz(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
        (bytes(1) & 0xff) == 0x8b)
      graft.functions.GunzipUtil.gunzip(bytes,
        graft.functions.GunzipUtil.MaxWarcOut)
    else bytes

  /** Binary parse — the same walk with bodies surfaced as verbatim
    * BYTES, for the archive's non-text records (response/resource
    * payloads: images, PDFs, compressed blobs). [[parseWarc]]'s
    * UTF-8 body is the right column for WET/extract work; THIS is the
    * right one the moment a payload is not text — a UTF-8 decode of a
    * PNG is silent corruption.
    */
  def parseWarcBinary(df: DataFrame, id: Column,
                      payload: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("file_id"),
        payload.cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (fid, bytes) =>
          walkRecords(fid, inflateIfGz(bytes))
        }
      }
      .toDF()
  }

  /** Binary sink — render records whose bodies are BYTES: the header
    * block renders as UTF-8 text (headers are text by spec), the body
    * bytes pass through verbatim, framed by the exact binary
    * Content-Length. Assembly is the same bounded per-file
    * aggregation, concatenating binary record renderings with an
    * aggregate HOF. `parseWarcBinary ∘ writeWarcBin` is identity on
    * any bytes (spec-pinned), which is what lets IMAGES ride the
    * archive unharmed.
    */
  def writeWarcBin(df: DataFrame, file: Column, idx: Column,
                   warcType: Column, targetUri: Column, body: Column,
                   warcDate: Column = lit(null).cast("string"),
                   contentType: Column = lit(null).cast("string"),
                   recordId: Column = lit(null).cast("string")): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rec = concat(
      renderHeader(warcType, targetUri, warcDate, recordId, contentType,
        octet_length(body.cast("binary"))).cast("binary"),
      body.cast("binary"), lit("\r\n\r\n").cast("binary"))
    // assembly is a LINEAR kernel concat — a fold of binary concat()
    // copies the accumulator per record (O(n²) per file)
    df.select(file.cast("long").as("file_id"),
        struct(idx.as("i"), rec.as("rec")).as("s"))
      .groupBy(col("file_id"))
      .agg(transform(sort_array(collect_list(col("s"))),
        x => x.getField("rec")).as("recs"))
      .as[(Long, Seq[Array[Byte]])]
      .mapPartitions { it =>
        it.map { case (fid, recs) =>
          val bos = new java.io.ByteArrayOutputStream()
          recs.foreach(bos.write)
          (fid, bos.toByteArray)
        }
      }
      .toDF("file_id", "payload")
  }

  /** The SINK half — serialize a records frame back to WARC bytes,
    * one output row per file: `df` is (file, idx, warc_type,
    * target_uri nullable, body), rendered in idx order with exact
    * `Content-Length = octet_length(body)` framing and CRLF line ends.
    * `parseWarc ∘ writeWarc` is identity on any records frame
    * (spec-pinned round trip), which makes re-sharding an archive a
    * parse → re-key → write pipeline with no bespoke byte code.
    * Assembly is one per-file aggregation (sort_array over the
    * collected record structs — a WARC file is MB-bounded by the
    * archive convention, the ZipSource contract).
    */
  def writeWarc(df: DataFrame, file: Column, idx: Column, warcType: Column,
                targetUri: Column, body: Column,
                warcDate: Column = lit(null).cast("string"),
                contentType: Column = lit(null).cast("string"),
                recordId: Column = lit(null).cast("string")): DataFrame =
    writeWarcText(df, file, idx, warcType, targetUri, body, warcDate,
        contentType, recordId)
      .select(col("file_id"),
        array_join(col("recs"), "").cast("binary").as("payload"))

  /** CDX-style archive index — the random-access layer over a WARC
    * corpus: one row per ADDRESSABLE record (target URI present),
    * keyed by the SURT form of its URI
    * ([[graft.functions.SourceFamily.surtKey]] — one site = one
    * contiguous key range, the ordering every public web-archive
    * index uses), carrying the byte extent (file_id, offset,
    * record_bytes) a ranged read needs and a sha256 content digest
    * for revisit/dedup decisions. The index is a header-fields
    * projection — tiny relative to the archive — so at 100 TB it is
    * the frame you sort/bucket ONCE and serve every lookup from
    * without touching payload bytes.
    *
    * Works over EITHER walk's output — and an archive holding
    * non-text payloads must be indexed off [[parseWarcBinary]]: the
    * text walk folds invalid UTF-8 to U+FFFD before the digest, so
    * two DISTINCT binary payloads can collapse to one digest and a
    * revisit election would then falsely dedup them (spec-pinned).
    */
  def cdxIndex(records: DataFrame): DataFrame =
    records.filter(col("target_uri").isNotNull)
      .select(
        graft.functions.SourceFamily.surtKey(col("target_uri")).as("surt_key"),
        col("target_uri"), col("warc_date"), col("file_id"),
        col("record_idx"), col("offset"),
        col("record_bytes"), sha2(col("body"), 256).as("digest"))

  /** Random access: fetch exactly the records an index lookup named,
    * by byte extent — never a full-archive parse. `extents` is
    * (file_id, offset, record_bytes) rows (a CDX lookup result);
    * each joins its file's payload, slices its extent, and re-parses
    * the slice ALONE (the extent contract: a slice is a complete
    * record — anything else raises with the extent). Returned
    * offsets are rebased to the file, so fetched rows are
    * indistinguishable from a full parse of the same records.
    *
    * Scale shape: the extents side is lookup-result-sized (broadcast
    * side of the join); at 100 TB the slice is a ranged GET against
    * the archive store — the plan here reads the file row it lands
    * on, which is the local-filesystem rendering of the same access
    * pattern. The lookup's distinct file ids (lookup-result-sized by
    * contract, capped loudly at `maxFiles`) COLLECT into an `isin`
    * filter on the files frame — the p174 shard-collect move applied
    * to the payload side — so the payload scan prunes to the files
    * the batch actually touches (parquet row-group stats skip the
    * rest) instead of reading every file's bytes per lookup. Gzip
    * files address the INFLATED stream (the parse-side convention),
    * so the kernel inflates before slicing.
    */
  def fetchRecords(files: DataFrame, id: Column, payload: Column,
                   extents: DataFrame, maxFiles: Int = 100000): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    // lookup-result-sized by contract → checkpointing it is bounded,
    // and the extents PLAN (often a full index build + shard join)
    // must run once, not once for the prune collect and again for
    // the join
    val withIdx = (if (extents.columns.contains("record_idx"))
      extents.select(col("file_id").cast("long").as("file_id"),
        col("offset").cast("long").as("offset"),
        col("record_bytes").cast("long").as("record_bytes"),
        col("record_idx").cast("long").as("record_idx"))
    else extents.select(col("file_id").cast("long").as("file_id"),
      col("offset").cast("long").as("offset"),
      col("record_bytes").cast("long").as("record_bytes"),
      lit(-1L).as("record_idx"))).localCheckpoint()
    val f = files.select(id.cast("long").as("file_id"),
        payload.cast("binary").as("payload"))
      .filter(col("file_id").isin(
        lookupFileIds(withIdx, "fetchRecords", maxFiles): _*))
    withIdx
      .join(f, Seq("file_id"))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (fid, off, len, idx, bytes) =>
          val raw = inflateIfGz(bytes)
          if (off < 0 || off + len > raw.length)
            throw new IllegalArgumentException(
              s"fetchRecords: extent [$off, ${off + len}) overruns file " +
                s"$fid (${raw.length} bytes) — a stale index must fail " +
                "loudly, not return bytes of some other record")
          val slice = java.util.Arrays.copyOfRange(raw, off.toInt,
            (off + len).toInt)
          val rs = parseRecords(fid, slice).toList
          if (rs.length != 1)
            throw new IllegalArgumentException(
              s"fetchRecords: extent at file $fid offset $off parsed " +
                s"${rs.length} records — an index extent frames exactly one")
          rs.head.copy(offset = off, record_idx = idx)
        }
      }
      .toDF()
  }

  /** The lookup batch's distinct file ids, collected for the payload-
    * scan prune both fetch paths share: the list is lookup-result-
    * sized BY CONTRACT (a CDX lookup names the files its hits live
    * in), and the `maxFiles` cap keeps that contract loud — a
    * "lookup" naming more files than the cap is a table scan wearing
    * a fetch's clothes and must be run as [[parseWarc]] instead, not
    * silently absorbed into a driver-sized IN-list. One job
    * ([[DriverCollect.distinctValues]]); a null file_id names no file
    * and is dropped, as the inner join has always dropped such rows.
    */
  private def lookupFileIds(extents: DataFrame, op: String,
                            maxFiles: Int): Seq[Long] = {
    require(maxFiles >= 1, s"$op: maxFiles must be >= 1, got $maxFiles")
    DriverCollect.distinctValues[Long](extents, col("file_id"), maxFiles,
      s"$op: the lookup batch touches more than $maxFiles distinct " +
        "files — the collected prune list must stay config-sized; " +
        "split the batch or raise maxFiles deliberately").sorted
  }

  /** [[splitHttp]]'s row: the WARC record's provenance plus the HTTP
    * message split out of its block — status, the raw Content-Type
    * header, its derived media type, the RESOLVED charset, the
    * decoded payload BYTES (chunked/gzip undone), and the charset-
    * decoded text for `text/...` payloads (null otherwise: decoding a
    * PDF or PNG payload through a charset is silent corruption — the
    * binary column is the honest one there).
    */
  final case class HttpRecord(file_id: Long, record_idx: Long,
                              warc_type: String, target_uri: String,
                              offset: Long, record_bytes: Long,
                              warc_date: String, record_id: String,
                              http_status: Long, http_content_type: String,
                              mime_type: String, charset: String,
                              http_headers: Map[String, String],
                              payload: Array[Byte], text: String)

  /** Split the HTTP message inside each record's block — what a real
    * Common Crawl `response` record requires before ANY text work:
    * the block is status line + headers + payload
    * (`Content-Type: application/http` at the WARC level), so an
    * extract fed the raw block would begin every document with
    * `HTTP/1.1 200 OK`. Runs over the BINARY walk's frame
    * ([[parseWarcBinary]] — the payload is bytes until the charset
    * decision is made; a string-domain split would corrupt it first),
    * one scan-stage kernel pass per record: head parse, transfer/
    * content decoding, charset resolution, text projection — see
    * [[HttpMessage]] for each rule. Every input row MUST hold an HTTP
    * message (route first on `warc_type = 'response'` and the WARC
    * `content_type` — the mixed-archive filter); a non-HTTP block
    * raises with its record's provenance.
    */
  /** Headers whose repeated lines are MEANT to accumulate (RFC 9110's
    * list-valued fields plus the two famous exceptions): these join
    * with '\n' in [[splitHttp]]'s map so per-line scoping survives;
    * any header not listed is singleton-semantics and keeps its FIRST
    * line (duplicate Location/ETag are server bugs, and first-value
    * is what browsers apply).
    */
  private[graft] val ListValuedHeaders: Set[String] = Set(
    "x-robots-tag", "set-cookie", "vary", "cache-control", "link",
    "warning", "www-authenticate", "proxy-authenticate", "via",
    "accept-ranges", "allow", "connection", "content-language",
    "content-encoding", "transfer-encoding", "upgrade", "trailer")

  def splitHttp(records: DataFrame): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records.select(col("file_id"), col("record_idx"), col("warc_type"),
        col("target_uri"), col("content_length"), col("body"),
        col("offset"), col("record_bytes"), col("warc_date"),
        col("content_type"), col("record_id"))
      .as[WarcRecordBin]
      .mapPartitions { it =>
        it.map { r =>
          val label = s"splitHttp: file ${r.file_id} record ${r.record_idx}"
          val head = HttpMessage.parseHead(r.body, label)
          val payload = HttpMessage.decodeBody(r.body, head, label)
          val ct = HttpMessage.header(head.headers, "Content-Type").orNull
          val mime = Option(ct).map(HttpMessage.mimeType).orNull
          val charset = HttpMessage.resolveCharset(ct, payload)
          val text = if (mime != null && mime.startsWith("text/"))
            HttpMessage.decodeText(payload, charset, label) else null
          // the full header map, lowercased names. Repetition policy
          // is PER HEADER CLASS: for the known LIST-VALUED headers
          // ([[ListValuedHeaders]]) repeated lines join with '\n' — a
          // byte no parsed header value can carry (obs-folds already
          // collapsed), so line boundaries survive losslessly where an
          // RFC 9110 comma-join would be ambiguous for X-Robots-Tag
          // (an agent scope covers its WHOLE line: comma-folding a
          // scoped line with an unscoped one would silently re-scope
          // the unscoped directives). For everything else the FIRST
          // line wins — a duplicate Location/ETag/Last-Modified is a
          // server bug, and a multiline value would silently corrupt
          // surt keys and conditional-fetch comparisons downstream.
          // The typed columns stay the decode authorities; the map
          // serves Location/ETag/cache headers and the directive gates.
          val hmap = head.headers.foldLeft(Map.empty[String, String]) {
            case (m, (n, v)) =>
              val k = n.toLowerCase
              if (!m.contains(k)) m.updated(k, v)
              else if (ListValuedHeaders(k)) m.updated(k, m(k) + "\n" + v)
              else m
          }
          HttpRecord(r.file_id, r.record_idx, r.warc_type, r.target_uri,
            r.offset, r.record_bytes, r.warc_date, r.record_id,
            head.status.toLong, ct, mime, charset, hmap, payload, text)
        }
      }
      .toDF()
  }

  /** Parse a per-record-gzip archive (Common Crawl's actual layout:
    * each record its own gzip MEMBER, members concatenated) reporting
    * extents in the COMPRESSED domain — the offsets a public CDX
    * really stores, because a ranged GET against the archive must
    * name compressed bytes. The member walk reads each gzip header
    * (honoring FEXTRA/FNAME/FCOMMENT/FHCRC), inflates through the
    * member's deflate stream to find its exact end (deflate is
    * self-terminating; `Inflater.getBytesRead` is the consumed
    * count), and steps over the CRC32+ISIZE trailer — so
    * `raw[offset, offset+record_bytes)` is one complete gzip member
    * whose inflation is one complete record (enforced loudly, the CC
    * one-record-per-member convention).
    */
  def parseWarcMembers(df: DataFrame, id: Column,
                       payload: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("file_id"),
        payload.cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (fid, bytes) =>
          memberExtents(fid, bytes).zipWithIndex.map {
            case ((off, len), i) =>
              val member = java.util.Arrays.copyOfRange(bytes, off.toInt,
                (off + len).toInt)
              val rec = graft.functions.GunzipUtil.gunzip(member,
                graft.functions.GunzipUtil.MaxWarcOut)
              val rs = parseRecords(fid, rec).toList
              if (rs.length != 1)
                throw new IllegalArgumentException(
                  s"parseWarcMembers: member at file $fid offset $off " +
                    s"inflated to ${rs.length} records — the archive " +
                    "layout contract is one record per gzip member")
              rs.head.copy(record_idx = i.toLong, offset = off,
                record_bytes = len)
          }
        }
      }
      .toDF()
  }

  /** Ranged fetch in the COMPRESSED domain: slice the raw gz bytes at
    * the member extent, inflate ONLY that member, parse the one record
    * — at 100 TB this is the actual Common Crawl access pattern (an
    * HTTP range request for `record_bytes` compressed bytes), and the
    * whole-file stream is never inflated.
    */
  def fetchMemberRecords(files: DataFrame, id: Column, payload: Column,
                         extents: DataFrame,
                         maxFiles: Int = 100000): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    // checkpointed for the same one-execution reason as fetchRecords
    val withIdx = (if (extents.columns.contains("record_idx"))
      extents.select(col("file_id").cast("long").as("file_id"),
        col("offset").cast("long").as("offset"),
        col("record_bytes").cast("long").as("record_bytes"),
        col("record_idx").cast("long").as("record_idx"))
    else extents.select(col("file_id").cast("long").as("file_id"),
      col("offset").cast("long").as("offset"),
      col("record_bytes").cast("long").as("record_bytes"),
      lit(-1L).as("record_idx"))).localCheckpoint()
    val f = files.select(id.cast("long").as("file_id"),
        payload.cast("binary").as("payload"))
      .filter(col("file_id").isin(
        lookupFileIds(withIdx, "fetchMemberRecords", maxFiles): _*))
    withIdx
      .join(f, Seq("file_id"))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (fid, off, len, idx, bytes) =>
          if (off < 0 || off + len > bytes.length)
            throw new IllegalArgumentException(
              s"fetchMemberRecords: extent [$off, ${off + len}) overruns " +
                s"file $fid (${bytes.length} compressed bytes) — a stale " +
                "index must fail loudly")
          val member = java.util.Arrays.copyOfRange(bytes, off.toInt,
            (off + len).toInt)
          val rec = graft.functions.GunzipUtil.gunzip(member,
            graft.functions.GunzipUtil.MaxWarcOut)
          val rs = parseRecords(fid, rec).toList
          if (rs.length != 1)
            throw new IllegalArgumentException(
              s"fetchMemberRecords: member at file $fid offset $off " +
                s"parsed ${rs.length} records — one record per member")
          rs.head.copy(offset = off, record_bytes = len, record_idx = idx)
        }
      }
      .toDF()
  }

  /** The sink half of the per-record-gzip layout: render records
    * exactly as [[writeWarc]] does, then gzip EACH record as its own
    * member and concatenate — `parseWarcMembers ∘ writeWarcGz` is
    * identity on the record fields (member extents are layout
    * facts, not record facts). Same bounded per-file assembly.
    */
  def writeWarcGz(df: DataFrame, file: Column, idx: Column,
                  warcType: Column, targetUri: Column, body: Column,
                  warcDate: Column = lit(null).cast("string"),
                  contentType: Column = lit(null).cast("string"),
                  recordId: Column = lit(null).cast("string")): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    writeWarcText(df, file, idx, warcType, targetUri, body, warcDate,
      contentType, recordId)
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.map { case (fid, recs) =>
          val bos = new java.io.ByteArrayOutputStream()
          // one member per record through the ONE gzip-member kernel
          // (GzipBytes — the HTTP Content-Encoding sink shares it), so
          // member framing cannot drift between the two producers
          recs.foreach(r => bos.write(
            graft.functions.GzipBytes.gzip(r.getBytes("UTF-8"))))
          (fid, bos.toByteArray)
        }
      }
      .toDF("file_id", "payload")
  }

  /** The one rendering definition behind both sink layouts: per-file
    * ordered arrays of rendered record strings.
    */
  private def writeWarcText(df: DataFrame, file: Column, idx: Column,
                            warcType: Column, targetUri: Column,
                            body: Column, warcDate: Column,
                            contentType: Column,
                            recordId: Column): DataFrame = {
    val rendered = concat(
      renderHeader(warcType, targetUri, warcDate, recordId, contentType,
        octet_length(body)),
      body, lit("\r\n\r\n"))
    df.select(file.cast("long").as("file_id"),
        struct(idx.as("i"), rendered.as("rec")).as("s"))
      .groupBy(col("file_id"))
      .agg(transform(sort_array(collect_list(col("s"))),
        x => x.getField("rec")).as("recs"))
  }

  /** THE header rendering — one definition for both sink layouts and
    * both body domains, so the spec-pinned framing cannot drift
    * between them (a header added to one sink but not the other would
    * break parse∘write identity for exactly one layout). Optional
    * headers render only when non-null, in a FIXED order (Target-URI,
    * Date, Record-ID, Content-Type) so the byte-extent arithmetic the
    * oracles recompute stays a closed formula.
    */
  private def renderHeader(warcType: Column, targetUri: Column,
                           warcDate: Column, recordId: Column,
                           contentType: Column,
                           contentLength: Column): Column = concat(
    lit("WARC/1.0\r\nWARC-Type: "), warcType,
    when(targetUri.isNotNull,
      concat(lit("\r\nWARC-Target-URI: "), targetUri)).otherwise(lit("")),
    when(warcDate.isNotNull,
      concat(lit("\r\nWARC-Date: "), warcDate)).otherwise(lit("")),
    when(recordId.isNotNull,
      concat(lit("\r\nWARC-Record-ID: "), recordId)).otherwise(lit("")),
    when(contentType.isNotNull,
      concat(lit("\r\nContent-Type: "), contentType)).otherwise(lit("")),
    lit("\r\nContent-Length: "), contentLength.cast("string"),
    lit("\r\n\r\n"))

  /** Walk concatenated gzip members: (offset, compressed length) of
    * each member in `b`. Loud on truncation or a non-gzip byte where
    * a member must start.
    */
  private[graft] def memberExtents(fid: Long,
                                    b: Array[Byte]): Seq[(Long, Long)] =
    graft.functions.GunzipUtil.walkMembers(b,
        graft.functions.GunzipUtil.MaxWarcOut,
        s"parseWarcMembers: file $fid", buffer = false)._1
      .map { case (start, end) => (start.toLong, (end - start).toLong) }

  /** Sorted CDX shards — the TWO-LEVEL index layout a 100 TB archive
    * actually serves from (sorted index shards + a tiny cluster index
    * of each shard's first key): the CDX rows range-partition by
    * surt_key (each shard one contiguous, disjoint key range —
    * Spark's range exchange is the sampled total-order partitioner)
    * and land as `shard=<id>` parquet partitions, so a lookup that
    * knows its shard reads ONE directory and nothing else.
    */
  def writeCdxShards(cdx: DataFrame, dir: String, numShards: Int): Unit =
    // the range exchange SAMPLES its input to pick boundaries, then
    // reads it again to place rows — without materializing the index
    // frame first, the whole upstream plan (typically a full WARC
    // parse) runs twice per build. The checkpoint holds index ROWS
    // only (header projections — tiny next to the archive), exactly
    // what the build is about to write anyway.
    cdx.localCheckpoint(eager = false)
      .repartitionByRange(numShards, col("surt_key"))
      .withColumn("shard", spark_partition_id())
      // the range exchange places rows, it does not order them — the
      // in-file sort is the other half of "sorted shards" (what a
      // binary-searching serve reads; compaction's local sort keeps it)
      .sortWithinPartitions(col("surt_key"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** One row of the driver-side shard table: a shard's FIRST surt key
    * (null only for a shard whose keys are all null), its id and its
    * row count.
    */
  final case class CdxShard(first_key: String, shard: Int, rows: Long)

  /** Spark's string order, the one the range exchange placed the keys
    * in and the serve's `<=` compares with: unsigned UTF-8 bytes.
    * `String.compareTo` compares UTF-16 code units instead, which
    * disagrees once a supplementary character (a surrogate pair) meets
    * a character in U+E000–U+FFFF.
    */
  private val sparkKeyOrder: Ordering[String] =
    Ordering.fromLessThan((a, b) => UTF8String.fromString(a)
      .compareTo(UTF8String.fromString(b)) < 0)

  /** The shard table over a [[writeCdxShards]] layout: one
    * [[CdxShard]] per shard, sorted by first key in Spark's order
    * (nulls first) — the config-sized artifact (shard count, not record
    * count) that routes every lookup ([[assignShards]]) and sizes every
    * coalesce. One job: each partition folds its rows into per-shard
    * (min key, count), the driver merges the folds. No aggregate, no
    * shuffle; at any archive size the table stays driver-sized.
    */
  def cdxClusterIndex(shards: DataFrame): IndexedSeq[CdxShard] = {
    val folds = shards.select(col("shard"), col("surt_key"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[Int, (UTF8String, Long)]
        rows.foreach { r =>
          val (lo, n) = acc.getOrElse(r.getInt(0), (null, 0L))
          val k = if (r.isNullAt(1)) null else r.getUTF8String(1)
          acc(r.getInt(0)) =
            (if (k == null || (lo != null && lo.compareTo(k) <= 0)) lo else k.clone(), n + 1)
        }
        acc.iterator.map { case (sh, (lo, n)) =>
          (sh, if (lo == null) null else lo.toString, n) }
      }.collect()
    folds.groupBy(_._1).toIndexedSeq.map { case (sh, fs) =>
      CdxShard(fs.flatMap(f => Option(f._2)).reduceOption(sparkKeyOrder.min(_, _)).orNull,
        sh, fs.map(_._3).sum)
    }.sortBy(s => Option(s.first_key))(Ordering.Option(sparkKeyOrder))
  }

  /** Read a [[writeCdxShards]] layout with its schema GIVEN (the index
    * row schema plus the `shard` partition column) instead of inferred:
    * the layout's schema is fixed by the write contract, and inference
    * re-reads parquet footers on the driver per open — pure per-action
    * driver latency for a lifecycle that opens the layout several
    * times between maintenance steps.
    */
  def readCdxShards(spark: org.apache.spark.sql.SparkSession, dir: String,
                    indexSchema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(indexSchema.add("shard",
        org.apache.spark.sql.types.IntegerType)).parquet(dir)

  /** Route lookup keys to their shard: the shard table
    * ([[cdxClusterIndex]], shard-count-sized by construction) rides
    * the plan as a typed literal array in its key order, and each key's
    * shard is "the last first_key ≤ key" via a scan-stage array HOF —
    * no join, no shuffle, no broadcast, pure codegen'd projection. A
    * key below the table's floor raises by default: a FRESH
    * [[writeCdxShards]] build's floor IS the global min key, so a
    * below-floor key means the table does not cover the key space and
    * a silent wrong-shard route would serve a false miss.
    * `clampFloor = true` is the COMPACTED layout's rule instead: once
    * [[compactCdxShards]] has run, the lowest-keyed shard owns the open
    * range (-inf, second first_key) — a below-floor INSERT extends it
    * (and the serve-time table, re-derived from the shards, then
    * carries the new floor). Over an empty table a clamped key routes
    * to no shard (null).
    */
  def assignShards(queries: DataFrame, key: Column,
                   table: Seq[CdxShard],
                   clampFloor: Boolean = false): DataFrame = {
    val routes = table.filter(_.first_key != null)
    val idx = typedLit(routes)
    val below =
      if (clampFloor) routes.headOption.fold(lit(null).cast("int"))(r => lit(r.shard))
      else raise_error(concat(
        lit("assignShards: key '"), key,
        lit("' sorts below the cluster-index floor — the index must " +
          "cover the key space"))).cast("int")
    queries
      .withColumn("__pos", size(filter(idx,
        e => e.getField("first_key") <= key)))
      .withColumn("shard", when(col("__pos") >= 1,
        element_at(idx, col("__pos")).getField("shard"))
        .otherwise(below))
      .drop("__pos")
  }

  /** LSM maintenance for the two-level CDX layout — merge an
    * append-only segment log (the [[cdxIndex]] rows a streaming
    * ingest lands, q136's "sort is a serve-time concern" log) into
    * the sorted shard layout WITHOUT re-sorting history: new rows
    * route to their shards through the existing cluster index (the
    * scan-stage [[assignShards]] HOF, floor-clamped — a below-floor
    * insert extends the lowest shard's open range), ONLY the affected
    * shard partitions read back (partition-pruned scan — the plan pin)
    * and rewrite with a per-shard LOCAL sort over old rows + new run;
    * untouched shards never move, as bytes or as rows. A full
    * [[writeCdxShards]] rebuild re-samples and range-exchanges the
    * ENTIRE index per batch of appends — at 100 TB that is the
    * difference between compaction cost ∝ delta and ∝ history (the
    * compactPostingSegments argument, applied to the archive index).
    *
    * `tombstones` (extent-keyed: file_id + offset, the index row's
    * identity) drop during the merge — the [[cdxRevisits]] ledger's
    * revisit rows, or takedowns; a tombstone aimed at an existing row
    * pulls that row's shard into the rewrite set too. Compaction
    * touches ONLY index rows — payload bytes never enter the plan.
    * Merged shards keep their ids and publish through the layout's one
    * protocol (see [[Publish]]); Spark refuses a self-overwriting plan,
    * and rewriting unaffected shards to dodge that would be the full
    * rebuild again.
    *
    * `segments.schema` must equal the index schema the layout was
    * written with: the layout is read with that schema GIVEN, not
    * inferred. A committed layout with no shard yet (a
    * [[writeCdxShards]] build over zero rows leaves only `_SUCCESS`)
    * is empty: the surviving segment rows become a one-shard layout.
    */
  def compactCdxShards(dir: String, segments: DataFrame,
                       tombstones: Option[DataFrame] = None): Unit = {
    val spark = segments.sparkSession
    if (!prepareLayout(spark, dir, "compactCdxShards")) {
      val live = tombstones.fold(segments) { t =>
        segments.join(broadcast(t.select(col("file_id"), col("offset")).distinct()),
          Seq("file_id", "offset"), "left_anti")
      }
      writeCdxShards(live, dir, numShards = 1)
      return
    }
    // the layout's schema is the segment schema + shard by the write
    // contract — read it GIVEN rather than inferred (no footer pass)
    val current = readCdxShards(spark, dir, segments.schema)
    // the routed delta is consumed twice (the affected-shard collect
    // below and the merge write) and is delta-sized BY CONTRACT —
    // checkpoint it so the segment's plan (typically a parse + index
    // projection) runs once, not once per consumer
    val assigned = assignShards(segments, col("surt_key"),
      cdxClusterIndex(current), clampFloor = true).localCheckpoint(eager = false)
    // the tombstone ledger is consumed twice (the affected-shard probe
    // and the merge anti-join) and takedown-batch-sized by contract —
    // its plan (often a revisit election over an index union) runs once
    val tombKeys = tombstones.map(
      _.select(col("file_id"), col("offset")).distinct()
        .localCheckpoint(eager = false))
    // ONE config-sized collect (shard ids, bounded by the layout's
    // shard count) covering both the segment routes and the tombstone
    // probe: two separate collects paid a second job's planning/commit
    // latency for rows that union into the same driver array anyway
    val segShardIds = assigned.select(col("shard"))
    val affected = DriverCollect.distinctValues[Int](
      tombKeys.fold(segShardIds) { t =>
        segShardIds.unionByName(current.join(broadcast(t),
          Seq("file_id", "offset")).select(col("shard")))
      }, col("shard")).sorted
    if (affected.isEmpty) return
    val cols = current.columns.map(col)
    val keep = current.filter(col("shard").isin(affected.map(Int.box): _*))
      .unionByName(assigned.select(cols: _*))
    val merged = tombKeys.fold(keep) { t =>
      keep.join(broadcast(t), Seq("file_id", "offset"), "left_anti")
    }
    // a fully-tombstoned shard writes no output — its manifest line
    // retires it and the serve-time cluster index re-derives without it
    publishShards(dir,
      merged.repartition(affected.length, col("shard"))
        .sortWithinPartitions(col("shard"), col("surt_key")),
      affected.toSeq.map(sh => sh -> Seq(sh)))
  }

  /** The LSM read path between compactions — lookups must see rows
    * the segment TAIL holds that no [[compactCdxShards]] run has
    * merged yet (q136 lands index rows at ingest; a serve that only
    * consults the shard layout would return stale misses until the
    * next maintenance window). Two bounded probes, one result: the
    * routed keys hit their pruned shards through [[serveCdx]], and the
    * tail — delta-sized BY CONTRACT, it is what has arrived since the
    * last compaction — probes as a BROADCAST
    * semi-join against the keys (never a shuffle of the tail, never a
    * scan of the layout for tail keys). Read amplification is the
    * honest LSM trade: one shard probe + one tail probe per lookup
    * batch, collapsed again at the next compaction.
    *
    * `keys` is a (surt_key) frame; output is the union of matching
    * index rows from both levels (shard rows carry their `shard`,
    * tail rows carry shard = -1 — "not yet placed", an honest column,
    * not a fake route). Routing CLAMPS at the floor here: a key below
    * the layout's range may still live in the tail (an un-compacted
    * below-floor insert — exactly what p183's batch 2 is before its
    * compaction), so the shard probe degrades to "probe the lowest
    * shard and miss" instead of refusing the lookup.
    */
  def serveCdxWithTail(shards: DataFrame, tail: DataFrame,
                       keys: DataFrame): DataFrame = {
    val cols = Seq("surt_key", "target_uri", "warc_date", "file_id",
      "record_idx", "offset", "record_bytes", "digest", "shard").map(col)
    val fromTail = tail
      .join(broadcast(keys.select(col("surt_key")).distinct()),
        Seq("surt_key"))
      .withColumn("shard", lit(-1))
    serveCdx(shards, keys, clampFloor = true).select(cols: _*)
      .unionByName(fromTail.select(cols: _*))
  }

  /** THE pruned two-level lookup: `keys` (a surt_key frame) route to
    * their shards through the shard table of `shards` (one job,
    * [[cdxClusterIndex]]; routed by [[assignShards]], `clampFloor` as
    * there), the lookup batch's shard ids — config-bounded by the
    * lookup contract — collect in one job so the scan prunes statically
    * to those directories, and the routed keys broadcast-join their
    * shards on (shard, surt_key). A lookup reads its shards, never the
    * whole index. The routed keys are lookup-batch-sized and consumed
    * twice (the prune collect AND the join), so they are routed once
    * and checkpointed.
    */
  def serveCdx(shards: DataFrame, keys: DataFrame,
               clampFloor: Boolean = false): DataFrame = {
    val assigned = assignShards(keys, col("surt_key"),
      cdxClusterIndex(shards), clampFloor).localCheckpoint(eager = false)
    val ids = DriverCollect.distinctValues[Int](assigned, col("shard")).sorted
    shards.filter(col("shard").isin(ids.map(Int.box): _*))
      .join(broadcast(assigned), Seq("shard", "surt_key"))
  }

  /** Split ONE oversized shard into `n` — the rebalance that keeps the
    * two-level layout serving after compactions have grown a hot key
    * range (compaction by design never moves shard boundaries, so a
    * skewed insert stream concentrates; this is the B-tree page split
    * at archive scale). Only the named shard's rows move: they
    * re-range-partition into `n` sorted pieces written as FRESH shard
    * ids above the current max (ids are names, not positions — the
    * cluster index, re-derived from first keys at serve time, gives
    * the new pieces their place in the total order; nothing else
    * rewrites, so split cost ∝ the one shard). Publish is the layout's
    * one protocol (see [[Publish]]). The layout is read with
    * `indexSchema` given, as [[readCdxShards]] does.
    */
  def splitCdxShard(dir: String, indexSchema: org.apache.spark.sql.types.StructType,
                    shard: Int, n: Int): Unit = {
    require(n >= 2, s"splitCdxShard: n must be >= 2, got $n")
    val spark = org.apache.spark.sql.SparkSession.active
    // an empty layout holds no shard to split — refused below by name
    val current =
      if (prepareLayout(spark, dir, "splitCdxShard"))
        Some(readCdxShards(spark, dir, indexSchema))
      else None
    val shardIds = current.fold(Seq.empty[Int])(
      DriverCollect.distinctValues[Int](_, col("shard")))
    require(shardIds.contains(shard),
      s"splitCdxShard: shard $shard not present in $dir " +
        s"(have ${shardIds.sorted.mkString(", ")})")
    val nextId = shardIds.max + 1
    publishShards(dir,
      current.get.filter(col("shard") === shard).drop("shard")
        .repartitionByRange(n, col("surt_key"))
        .withColumn("shard", spark_partition_id() + lit(nextId))
        .sortWithinPartitions(col("surt_key")),
      (nextId until nextId + n).map(_ -> Seq(shard)))
  }

  /** Merge runs of UNDERSIZED adjacent shards — the inverse of
    * [[splitCdxShard]], and the other half of shard maintenance:
    * tombstone-heavy compactions ([[compactCdxShards]]) shrink shards
    * in place, and a layout that only ever splits degrades into a
    * long tail of near-empty directories whose per-shard overhead
    * (open, footer, cluster-index row) dominates the serve. A shard
    * is undersized below `minRows`; CONSECUTIVE undersized shards (in
    * surt-key order — adjacency is key adjacency, so merging them
    * preserves the one-contiguous-disjoint-range-per-shard invariant)
    * group greedily, each group closing once it reaches `minRows`,
    * and each group of two or more rewrites as ONE fresh sorted shard
    * (new id above the current max — ids are names; the serve-time
    * cluster index re-derives the order from first keys).
    *
    * Cost ∝ the merged shards ONLY: adequate shards are never read
    * beyond the config-sized stats pass and never written — their
    * directories stay byte-identical (spec-pinned). A LONE undersized
    * shard between two adequate neighbors stays: merging it would
    * rewrite an adequate neighbor, making cost ∝ neighbor size — the
    * caller who wants it gone can split the neighbor first. Publish
    * is the layout's one protocol (see [[Publish]]); an empty layout is a
    * no-op.
    *
    * `minRows` maps the layout's live row count, which the stats pass
    * sums anyway, to the undersized bound, so a caller sizing it to the
    * layout reads nothing more. The layout is read with `indexSchema`
    * given, as [[readCdxShards]] does.
    */
  def coalesceCdxShards(dir: String, indexSchema: org.apache.spark.sql.types.StructType,
                        minRows: Long => Long): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (!prepareLayout(spark, dir, "coalesceCdxShards")) return
    val current = readCdxShards(spark, dir, indexSchema)
    // the shard table is the stats pass: (first_key, shard, rows) in
    // Spark's key order, the order adjacency must follow
    val stats = cdxClusterIndex(current)
    val floor = minRows(stats.map(_.rows).sum)
    require(floor >= 1, s"coalesceCdxShards: minRows must be >= 1, got $floor")
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[Vector[(Int, Long)]]
    var cur = Vector.empty[(Int, Long)]
    def close(): Unit = { if (cur.size >= 2) groups += cur; cur = Vector.empty }
    stats.foreach { case CdxShard(_, sh, n) =>
      if (n >= floor) close() // adequate: never joins a group
      else {
        cur = cur :+ ((sh, n))
        if (cur.map(_._2).sum >= floor) close()
      }
    }
    close()
    if (groups.isEmpty) return
    val nextId = stats.map(_.shard).max + 1
    // old shard id -> its group's fresh output id
    val mapping = groups.zipWithIndex.flatMap { case (g, gi) =>
      g.map { case (sh, _) => (sh, nextId + gi) }
    }.toMap
    val mapExpr = mapping.foldLeft(lit(-1)) { case (acc, (from, to)) =>
      when(col("shard") === from, lit(to)).otherwise(acc)
    }
    publishShards(dir,
      current.filter(col("shard").isin(mapping.keys.toSeq.map(Int.box): _*))
        .withColumn("shard", mapExpr)
        .repartition(groups.length, col("shard"))
        .sortWithinPartitions(col("shard"), col("surt_key")),
      groups.toSeq.zipWithIndex.map { case (g, gi) => (nextId + gi) -> g.map(_._1) })
  }

  /** The layout's naming in the shared publish (see [[Publish]]). */
  private def cdxLayout(dir: String) =
    Publish(dir, id => s"shard=$id", id => id.nonEmpty && id.forall(_.isDigit))

  /** Every maintenance call's prelude: finish an interrupted publish,
    * then the layout guard — a [[writeCdxShards]] dir holds
    * `shard=<id>` partition directories, or only its `_SUCCESS` commit
    * marker when empty. A missing or uncommitted dir refuses. Returns
    * whether the layout holds any shard.
    */
  private def prepareLayout(spark: org.apache.spark.sql.SparkSession,
                            dir: String, op: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    cdxLayout(dir).repair(spark)
    val listing =
      if (fs.exists(path)) fs.listStatus(path) else Array.empty[FileStatus]
    val hasShards =
      listing.exists(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
    require(hasShards || listing.exists(_.getPath.getName == "_SUCCESS"),
      s"$op: $dir is not a writeCdxShards layout " +
        "(no shard=<id> partition directories and no _SUCCESS commit)")
    hasShards
  }

  /** Stage `out` (a frame carrying its output `shard` ids) and publish
    * it with the manifest of `replaces` (output id -> the source shards
    * it replaces; an output that wrote no rows retires its sources).
    */
  private def publishShards(dir: String, out: DataFrame,
                            replaces: Seq[(Int, Seq[Int])]): Unit = {
    val layout = cdxLayout(dir)
    out.write.mode("overwrite").partitionBy("shard").parquet(layout.staging.toString)
    layout.publish(out.sparkSession,
      replaces.map { case (o, srcs) => o.toString -> srcs.map(_.toString) })
  }

  /** Revisit detection — the archive-level exact dedup every public
    * web archive runs at ingest: a record whose content DIGEST was
    * already stored becomes a `revisit` pointer to the first-stored
    * copy instead of a second copy of the bytes (at 100 TB of crawl,
    * unchanged re-fetches are a large fraction of all records — this
    * is the dedup that pays before any text-level pass runs). Over a
    * [[cdxIndex]] frame: the ORIGINAL of each digest is the
    * first-stored extent (min (file_id, offset) — packed into one
    * BIGINT so the election is a map-side-combinable `min`, the
    * [[graft.text.CorpusOps]] selfDedupSpans election shape, never a
    * window); every row comes back flagged `is_revisit` with its
    * original's extent. Records of IDENTICAL content under different
    * URIs also collapse (digest semantics — the URI is provenance,
    * the digest is identity). The 10^12 extent-packing bound (a >1 TB
    * single WARC file) raises in-plan, never misranks.
    */
  def cdxRevisits(cdx: DataFrame): DataFrame = {
    val withPacked = cdx.withColumn("__packed",
      packedExtent(col("file_id"), col("offset")))
    val orig = withPacked.groupBy(col("digest"))
      .agg(min(col("__packed")).as("__orig"))
    withPacked.join(orig, Seq("digest"))
      .withColumn("is_revisit", col("__packed") =!= col("__orig"))
      .withColumn("orig_file", expr(s"__orig div ${ExtentPack}L"))
      .withColumn("orig_offset", col("__orig") % lit(ExtentPack))
      .drop("__packed", "__orig")
  }

  /** The extent-packing stride: (file_id, offset) order as ONE BIGINT
    * so a first-stored election is a map-side-combinable `min`.
    * Offsets past the bound (a >1 TB single WARC file) raise in-plan —
    * a silent wraparound would elect the wrong original.
    */
  val ExtentPack = 1000000000000L

  /** (file_id, offset) packed into one orderable BIGINT, guarded on
    * BOTH coordinates: a file_id past Long.MaxValue / 10^12 (~9.2M
    * files) would overflow the multiply and misrank exactly like an
    * oversized offset would.
    */
  def packedExtent(file: Column, offset: Column): Column = {
    val maxFile = Long.MaxValue / ExtentPack
    val guardedOff = when(offset < 0 || offset >= ExtentPack,
      cast_raise(concat(lit("packedExtent: offset "),
        offset.cast("string"),
        lit(s" outside [0, $ExtentPack) — a single WARC file past the " +
          "1 TB packing bound would misrank the original election"))))
      .otherwise(offset)
    val guardedFile = when(file < 0 || file >= maxFile,
      cast_raise(concat(lit("packedExtent: file_id "),
        file.cast("string"),
        lit(s" outside [0, $maxFile) — the packed election would " +
          "overflow int64 and misrank"))))
      .otherwise(file)
    guardedFile * lit(ExtentPack) + guardedOff
  }

  private def cast_raise(msg: Column): Column =
    raise_error(msg).cast("long")

  /** Contiguous byte-budget re-shard plan — the archive-maintenance
    * op behind "re-pack these N small/skewed WARC files into ~B-byte
    * shards": records take a GLOBAL position by `order` (must be
    * unique — shard boundaries are underdetermined otherwise, and the
    * guard is loud), and each lands in shard `floor(prefix_bytes /
    * budget)` where prefix_bytes is the exclusive running sum of
    * `size` in that order — greedy contiguous packing, the
    * [[graft.curation.Curation.packSequences]] arithmetic applied
    * globally.
    *
    * Scale shape — the third instance of the distributed prefix-sum
    * pattern (after epochShuffle and [[graft.operators.Sweep]]): a
    * global running sum with NO single-partition window. Positions
    * bucket by `order div bucketWidth`; per-bucket byte totals
    * collapse in one map-combined aggregation to a bounded artifact
    * (≤ `maxBuckets` rows — collected, prefix-summed on the driver,
    * broadcast back as exclusive carry-ins); the in-bucket running
    * sum rides ONE hash exchange on the bucket. Integer division
    * throughout (`div`) — a double quotient near a shard boundary is
    * a misplace at archive scale.
    *
    * Output: the input rows plus a `shard` column.
    */
  def reshardByBytes(records: DataFrame, order: Column, size: Column,
                     budget: Long, bucketWidth: Long = 4096L,
                     maxBuckets: Int = 100000): DataFrame = {
    require(budget > 0, s"reshardByBytes: budget must be positive, got $budget")
    require(bucketWidth > 0,
      s"reshardByBytes: bucketWidth must be positive, got $bucketWidth")
    val spark = records.sparkSession
    import org.apache.spark.sql.expressions.Window
    val base = records
      .withColumn("__ord", order.cast("long"))
      .withColumn("__sz", size.cast("long"))
      .withColumn("__bkt", expr(s"__ord div ${bucketWidth}L"))
    val totals = base.groupBy(col("__bkt"))
      .agg(sum(col("__sz")).as("t"), count(lit(1)).as("n"),
        count_distinct(col("__ord")).as("d"), min(col("__ord")).as("mn"))
      .orderBy(col("__bkt")).limit(maxBuckets + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    require(totals.length <= maxBuckets,
      s"reshardByBytes: more than $maxBuckets order buckets — widen " +
        "bucketWidth (the driver prefix must stay config-sized)")
    // SQL `div` truncates toward zero, so negative positions would
    // fold into bucket 0 alongside small positives and silently
    // misorder the prefix — refuse them instead
    totals.headOption.filter(_._5 < 0).foreach { t =>
      throw new IllegalArgumentException(
        s"reshardByBytes: order values must be non-negative (saw ${t._5})" +
          " — truncating division would misorder the bucket prefix")
    }
    totals.find(t => t._3 != t._4).foreach { t =>
      throw new IllegalArgumentException(
        s"reshardByBytes: order values are not unique (bucket ${t._1} has " +
          s"${t._3} rows over ${t._4} distinct positions) — shard " +
          "boundaries would be underdetermined")
    }
    var acc = 0L
    val carries = totals.map { case (b, t, _, _, _) =>
      val c = (b, acc); acc += t; c
    }
    import spark.implicits._
    val carryDf = broadcast(carries.toSeq.toDF("__bkt", "__carry"))
    base.join(carryDf, Seq("__bkt"))
      .withColumn("__cp", col("__carry") + coalesce(
        sum(col("__sz")).over(Window.partitionBy(col("__bkt"))
          .orderBy(col("__ord"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("shard", expr(s"__cp div ${budget}L"))
      .drop("__ord", "__sz", "__bkt", "__carry", "__cp")
  }

  /** Binary twin of the record row — response/resource records carry
    * arbitrary BYTES (images, PDFs, gzip payloads); decoding them as
    * UTF-8 would silently corrupt every byte sequence that is not
    * valid UTF-8, so the binary walk surfaces the body verbatim and
    * the text form ([[WarcRecord]]) is a projection of it.
    */
  final case class WarcRecordBin(file_id: Long, record_idx: Long,
                                 warc_type: String, target_uri: String,
                                 content_length: Long, body: Array[Byte],
                                 offset: Long, record_bytes: Long,
                                 warc_date: String, content_type: String,
                                 record_id: String)

  /** The byte walk. CRLF per spec, bare LF tolerated (real archives
    * mix them); header names case-insensitive; Content-Length
    * REQUIRED and exact. Text form: one UTF-8 decode over the binary
    * walk's verbatim body.
    */
  private[graft] def parseRecords(fid: Long,
                                  b: Array[Byte]): Iterator[WarcRecord] =
    walkRecords(fid, b).map(r => WarcRecord(r.file_id, r.record_idx,
      r.warc_type, r.target_uri, r.content_length,
      new String(r.body, "UTF-8"), r.offset, r.record_bytes, r.warc_date,
      r.content_type, r.record_id))

  private[graft] def walkRecords(fid: Long,
                                 b: Array[Byte]): Iterator[WarcRecordBin] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecordBin]
    // WARC headers are UTF-8 by ISO 28500 (HTTP's walk reads latin-1);
    // the line framing itself is the shared cursor's
    val cur = new ByteCursor(b, "UTF-8",
      pos => s"parseWarc: file $fid byte $pos: ",
      " — a silently dropped record is the wrong failure mode for " +
        "crawl provenance")
    var idx = 0L
    def fail(msg: String): Nothing = cur.fail(msg)
    def readLine(): String = cur.readLine("header line")
    while (cur.p < b.length) {
      // skip inter-record newlines
      while (cur.p < b.length && (b(cur.p) == '\r' || b(cur.p) == '\n'))
        cur.p += 1
      if (cur.p < b.length) {
        val start = cur.p
        val version = readLine()
        if (!version.startsWith("WARC/")) fail(s"expected a WARC/ version line, got '$version'")
        var warcType: String = null
        var uri: String = null
        var date: String = null
        var contentType: String = null
        var recordId: String = null
        var len = -1L
        var line = readLine()
        while (line.nonEmpty) {
          val colon = line.indexOf(':')
          if (colon < 0) fail(s"header line without ':': '$line'")
          val name = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          name match {
            case "warc-type" => warcType = value
            case "warc-target-uri" => uri = value
            case "warc-date" => date = value
            // the BLOCK's media type — what routes a real mixed archive:
            // response records carry application/http, conversion ones
            // text/plain, resource ones the payload's own type; without
            // it an extract pass cannot tell an HTML response from a
            // fetched PDF riding the same warc_type
            case "content-type" => contentType = value
            case "warc-record-id" => recordId = value
            case "content-length" =>
              len = try value.toLong catch {
                case _: NumberFormatException => fail(s"bad Content-Length '$value'")
              }
            case _ => () // remaining headers pass; typed columns carry the core ones
          }
          line = readLine()
        }
        if (len < 0) fail("record without Content-Length")
        if (cur.p + len > b.length) fail(
          s"Content-Length $len overruns the file (have ${b.length - cur.p} bytes)")
        val body = java.util.Arrays.copyOfRange(b, cur.p, cur.p + len.toInt)
        cur.p += len.toInt
        out += WarcRecordBin(fid, idx, warcType, uri, len, body, start, 0L,
          date, contentType, recordId)
        idx += 1
      }
    }
    // record_bytes = gap to the next record's start (trailing separator
    // attaches to the record it terminates), file end for the last —
    // so extents tile the file and each slice re-parses alone
    val withExtents = out.zipWithIndex.map { case (r, i) =>
      val end = if (i + 1 < out.length) out(i + 1).offset else b.length.toLong
      r.copy(record_bytes = end - r.offset)
    }
    withExtents.iterator
  }
}
