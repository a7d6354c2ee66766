package graft

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{PagedSource, ZipSource}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  test("FileTailSource emits appended bytes with byte-position offsets") {
    val dir = tmpDir("tail")
    val f = new File(dir, "log.txt")
    Files.write(f.toPath, "hello".getBytes)

    val stream = spark.readStream.format("graft.sources.FileTailSource")
      .option("path", f.getAbsolutePath)
      .option("maxChunkSize", "4")
      .load()
    val qn = "tail_out"
    val q = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      val first = spark.table(qn).as[(Long, Array[Byte])].collect().sortBy(_._1)
      assert(new String(first.flatMap(_._2)) == "hello")
      assert(first.map(_._1).toSeq == Seq(0L, 4L)) // 4-byte chunks

      // append and expect a new batch from offset 5
      val out = new FileOutputStream(f, true); out.write(" world".getBytes); out.close()
      q.processAllAvailable()
      val all = spark.table(qn).as[(Long, Array[Byte])].collect().sortBy(_._1)
      assert(new String(all.flatMap(_._2)) == "hello world")
    } finally TestSpark.quietStop(q)
  }

  test("DirectoryChangesSource emits Creation/Modification/Deletion") {
    val dir = tmpDir("watch")
    val a = new File(dir, "a.txt")
    Files.write(a.toPath, "1".getBytes)

    val stream = spark.readStream.format("graft.sources.DirectoryChangesSource")
      .option("path", dir.getAbsolutePath)
      .load()
    val qn = "watch_out"
    val q = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      def changes() = spark.table(qn).select("path", "change").as[(String, String)]
        .collect().toSeq
      assert(changes().contains((a.getAbsolutePath, "Creation")))

      Files.write(a.toPath, "22".getBytes) // size change → Modification
      val b = new File(dir, "b.txt"); Files.write(b.toPath, "x".getBytes)
      q.processAllAvailable()
      assert(changes().contains((a.getAbsolutePath, "Modification")))
      assert(changes().contains((b.getAbsolutePath, "Creation")))

      assert(a.delete())
      q.processAllAvailable()
      assert(changes().contains((a.getAbsolutePath, "Deletion")))
    } finally TestSpark.quietStop(q)
  }

  test("PagedSource walks pages until nextKey is exhausted") {
    // pages: key k has items [k*10, k*10+1], next key k+1, stops after 3
    PagedSource.register("test_pages", k =>
      PagedSource.Page(Seq(s"item${k * 10}", s"item${k * 10 + 1}"),
        if (k < 2) Some(k + 1) else None))
    val stream = spark.readStream.format("graft.sources.PagedSource")
      .option("fetcher", "test_pages")
      .option("firstKey", "0")
      .load()
    val qn = "paged_out"
    val q = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      // allow a few triggers to drain all pages (one page per trigger)
      val deadline = System.currentTimeMillis() + 10000
      while (spark.table(qn).count() < 6 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      val got = spark.table(qn).as[(Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == Seq((0L, "item0"), (0L, "item1"), (1L, "item10"), (1L, "item11"),
        (2L, "item20"), (2L, "item21")))
    } finally TestSpark.quietStop(q)
  }

  test("ZipSource extracts entries, recursing into nested zips") {
    val dir = tmpDir("zips")
    // inner zip with one entry
    val innerBytes = {
      val bos = new ByteArrayOutputStream()
      val z = new ZipOutputStream(bos)
      z.putNextEntry(new ZipEntry("inner.txt")); z.write("nested!".getBytes); z.closeEntry()
      z.close(); bos.toByteArray
    }
    val outer = new File(dir, "outer.zip")
    val z = new ZipOutputStream(new FileOutputStream(outer))
    z.putNextEntry(new ZipEntry("plain.txt")); z.write("top-level".getBytes); z.closeEntry()
    z.putNextEntry(new ZipEntry("sub.zip")); z.write(innerBytes); z.closeEntry()
    z.close()

    val df = ZipSource.read(spark, dir.getAbsolutePath + "/*.zip", chunkSize = 4)
    val rows = df.collect().map(r => (r.getString(1), r.getBoolean(2),
      r.getLong(3), new String(r.getAs[Array[Byte]]("data"))))
    val plain = rows.filter(_._1 == "plain.txt").sortBy(_._3)
    assert(plain.map(_._4).mkString == "top-level")
    assert(plain.forall(!_._2))
    val nested = rows.filter(_._1 == "inner.txt")
    assert(nested.map(_._4).mkString == "nested!")
    assert(nested.forall(_._2))
  }
  test("JsonlIngest tags ok / malformed / missing:<field> deterministically") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.functions._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("lang", StringType), StructField("nc", LongType)))
    val raw = Seq(
      ("r1", """{"id":1,"lang":"en","nc":10}"""),   // ok
      ("r2", """{"id":2,"lang":"en","nc":"""),      // truncated: malformed
      ("r3", """{"id":3,"nc":30}"""),               // missing lang
      ("r4", """{"lang":"de","nc":40}"""),          // missing id (first wins)
      ("r5", """{"id":null,"lang":null}"""),        // explicit nulls: id first
      ("r6", """not json at all"""))
      .toDF("k", "payload")
    val out = graft.sources.JsonlIngest.parseWithQuarantine(raw,
        col("payload"), schema, required = Seq("id", "lang"))
      .select(col("k"), col("ingest_status"), col("id"), col("nc"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("r1") == (("ok", Some(1L), Some(10L))))
    assert(out("r2")._1 == "malformed")
    assert(out("r3") == (("missing:lang", Some(3L), Some(30L))))
    assert(out("r4") == (("missing:id", None, Some(40L))))
    assert(out("r5")._1 == "missing:id")
    assert(out("r6")._1 == "malformed")
    // reserved corrupt channel + unknown required field raise
    intercept[IllegalArgumentException] {
      graft.sources.JsonlIngest.parseWithQuarantine(raw, col("payload"),
        schema.add("_corrupt_record", StringType), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      graft.sources.JsonlIngest.parseWithQuarantine(raw, col("payload"),
        schema, Seq("nope"))
    }
  }

  test("Warc: byte-exact framing (multi-byte bodies), both gzip layouts, loud on truncation") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    def rec(uri: String, body: String): String = {
      val n = body.getBytes("UTF-8").length
      s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: $n\r\n\r\n$body\r\n\r\n"
    }
    // 'café' is 4 chars but FIVE bytes: a char-based split would slice
    // the following record's version line mid-way — the byte walk is
    // the point of the parser
    val plain = (rec("https://a.com/1", "café crème") +
      rec("https://a.com/2", "plain") +
      "WARC/1.0\nWARC-Type: warcinfo\nContent-Length: 2\n\nhi\n\n") // bare-LF record
      .getBytes("UTF-8")
    def parse(bytes: Array[Byte]) =
      Warc.parseWarc(Seq((1L, bytes)).toDF("file_id", "payload"),
          col("file_id"), col("payload"))
        .collect().map(r => (r.getLong(1), r.getString(2),
          r.getLong(4), r.getString(5)))
    val cafeBytes = "café crème".getBytes("UTF-8").length.toLong
    assert(cafeBytes == 12L && "café crème".length == 10) // the framing gap
    val expected = Seq((0L, "conversion", cafeBytes, "café crème"),
      (1L, "conversion", 5L, "plain"), (2L, "warcinfo", 2L, "hi"))
    assert(parse(plain).sortBy(_._1).toSeq == expected)
    // whole-file gzip and Common Crawl's per-record concatenated
    // members inflate to the same records
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    assert(parse(gz(plain)).sortBy(_._1).toSeq == expected)
    val members = Array(rec("https://a.com/1", "café crème"),
        rec("https://a.com/2", "plain"),
        "WARC/1.0\nWARC-Type: warcinfo\nContent-Length: 2\n\nhi\n\n")
      .flatMap(s => gz(s.getBytes("UTF-8")))
    assert(parse(members).sortBy(_._1).toSeq == expected)
    // truncation: Content-Length overruns the file -> LOUD, with file
    // and offset — never a silently dropped record
    val truncated = plain.take(plain.length - 30)
    val e = intercept[Exception] {
      TestSpark.quietly(parse(truncated))
    }
    assert(e.getMessage.contains("parseWarc"), e.getMessage)
    // a record without Content-Length is unframeable -> loud
    val noLen = "WARC/1.0\r\nWARC-Type: x\r\n\r\nbody".getBytes("UTF-8")
    val e2 = intercept[Exception] {
      TestSpark.quietly(parse(noLen))
    }
    assert(e2.getMessage.contains("Content-Length"), e2.getMessage)
  }

  test("Warc: parse-after-write is identity, so re-sharding an archive needs no byte code") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    val recs = Seq(
      (1L, 0L, "warcinfo", null.asInstanceOf[String], "graft"),
      (1L, 1L, "conversion", "https://a.com/1", "café crème body"),
      (2L, 0L, "conversion", "https://b.com/2", "plain"))
      .toDF("f", "i", "t", "u", "b")
    val files = Warc.writeWarc(recs, col("f"), col("i"), col("t"),
      col("u"), col("b"))
    val back = Warc.parseWarc(files, col("file_id"), col("payload"))
      .select(col("file_id"), col("record_idx"), col("warc_type"),
        col("target_uri"), col("body"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4))).sortBy(x => (x._1, x._2))
    assert(back.toSeq == Seq(
      (1L, 0L, "warcinfo", null, "graft"),
      (1L, 1L, "conversion", "https://a.com/1", "café crème body"),
      (2L, 0L, "conversion", "https://b.com/2", "plain")))
    // content_length framed the multi-byte body exactly
    val lens = Warc.parseWarc(files, col("file_id"), col("payload"))
      .select(col("body"), col("content_length")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lens("café crème body") ==
      "café crème body".getBytes("UTF-8").length.toLong)
  }

  test("Warc: byte extents tile the file and each slice re-parses alone — the random-access contract") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    // mixed CRLF/LF records PLUS extra inter-record blank lines: the
    // extent definition (gap to the next record's start) must absorb
    // both, or offsets drift off what a ranged read would fetch
    val raw = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: https://a.com/1\r\nContent-Length: 12\r\n\r\n" +
      "café crème\r\n\r\n" +
      "\r\n\r\n" + // extra separators attach to the PRECEDING record
      "WARC/1.0\nWARC-Type: warcinfo\nContent-Length: 2\n\nhi\n\n" +
      "WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: https://a.com/2\r\nContent-Length: 5\r\n\r\n" +
      "plain\r\n\r\n").getBytes("UTF-8")
    val files = Seq((7L, raw)).toDF("file_id", "payload")
    val parsed = Warc.parseWarc(files, col("file_id"), col("payload"))
      .orderBy(col("record_idx"))
      .select(col("offset"), col("record_bytes"), col("body")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // extents tile: each starts where the previous ended, first at 0,
    // last ends at the file boundary
    assert(parsed.head._1 == 0L)
    parsed.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 + a._2 == b._1, s"extent gap between $a and $b")
    }
    assert(parsed.last._1 + parsed.last._2 == raw.length.toLong)
    // every slice re-parses ALONE to the same record (fetchRecords),
    // offsets rebased to the file — indistinguishable from full parse
    val extents = Warc.parseWarc(files, col("file_id"), col("payload"))
      .select(col("file_id"), col("record_idx"), col("offset"),
        col("record_bytes"))
    val fetched = Warc.fetchRecords(files, col("file_id"), col("payload"),
        extents)
      .orderBy(col("record_idx"))
      .select(col("offset"), col("record_bytes"), col("body")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(fetched.map(f => (f._1, f._3)).toSeq ==
      parsed.map(p => (p._1, p._3)).toSeq)
    // gz file: extents address the INFLATED stream, fetch inflates first
    val bos = new ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(raw); g.close()
    val gzFiles = Seq((7L, bos.toByteArray)).toDF("file_id", "payload")
    val viaGz = Warc.fetchRecords(gzFiles, col("file_id"), col("payload"),
        extents)
      .orderBy(col("record_idx")).select(col("body")).collect()
      .map(_.getString(0))
    assert(viaGz.toSeq == parsed.map(_._3).toSeq)
    // a stale/corrupt extent raises loudly — never bytes of some
    // other record
    val e = intercept[Exception] {
      TestSpark.quietly(
        Warc.fetchRecords(files, col("file_id"), col("payload"),
          Seq((7L, 3L, 40L)).toDF("file_id", "offset", "record_bytes"))
          .collect())
    }
    assert(e.getMessage.contains("fetchRecords") ||
      e.getCause != null, e.getMessage)
  }

  test("Warc: binary bodies round-trip verbatim — bytes a UTF-8 decode would corrupt survive writeWarcBin∘parseWarcBinary") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.Warc
    // 0xFF/0xFE are never valid in UTF-8; 0x00 and a PNG magic for
    // good measure — the text walk would mangle all of these
    val blobs = Seq(
      1L -> Array[Byte](0xFF.toByte, 0xFE.toByte, 0x00, 0x89.toByte,
        'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A),
      2L -> Array[Byte](), // empty body frames as Content-Length: 0
      3L -> "plain text too".getBytes("UTF-8"))
    val recs = blobs.toDF("i", "b")
    val files = Warc.writeWarcBin(recs, lit(9L), col("i"),
      lit("resource"), concat(lit("https://a.com/"), col("i").cast("string")),
      col("b"))
    val back = Warc.parseWarcBinary(files, col("file_id"), col("payload"))
      .orderBy(col("record_idx"))
      .select(col("content_length"), col("body")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    assert(back.map(_._1).toSeq == blobs.map(_._2.length.toLong))
    back.map(_._2).zip(blobs.map(_._2)).foreach { case (got, want) =>
      assert(java.util.Arrays.equals(got, want),
        s"bytes corrupted: ${got.toSeq} != ${want.toSeq}")
    }
    // the TEXT walk on the same file decodes bodies as UTF-8 — fine
    // for text records, lossy for these blobs (the reason the binary
    // walk exists); extents agree between the two walks
    val textExt = Warc.parseWarc(files, col("file_id"), col("payload"))
      .orderBy(col("record_idx"))
      .select(col("offset"), col("record_bytes")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val binExt = Warc.parseWarcBinary(files, col("file_id"), col("payload"))
      .orderBy(col("record_idx"))
      .select(col("offset"), col("record_bytes")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(textExt.toSeq == binExt.toSeq)
  }

  test("Warc: the digest rule — binary payloads that UTF-8-collapse stay DISTINCT under the binary walk's index") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.Warc
    // two DIFFERENT payloads whose invalid-UTF-8 regions decode to the
    // same U+FFFD fold: identical as strings, different as bytes
    val a = Array[Byte](0xFF.toByte, 'x', 'y')
    val b = Array[Byte](0xFE.toByte, 'x', 'y')
    assert(new String(a, "UTF-8") == new String(b, "UTF-8")) // the trap
    val files = Warc.writeWarcBin(
      Seq((1L, a), (2L, b)).toDF("i", "p"),
      lit(0L), col("i"), lit("resource"),
      concat(lit("https://a.com/"), col("i").cast("string")), col("p"))
    def digests(recs: org.apache.spark.sql.DataFrame) =
      Warc.cdxIndex(recs).select(col("digest")).collect()
        .map(_.getString(0)).toSet
    // binary walk: two distinct digests — the index an archive with
    // non-text payloads MUST be built from
    assert(digests(Warc.parseWarcBinary(files, col("file_id"),
      col("payload"))).size == 2)
    // text walk: the U+FFFD fold collapses them — the documented
    // reason cdxIndex over text-walk output is only for text archives
    assert(digests(Warc.parseWarc(files, col("file_id"),
      col("payload"))).size == 1)
  }

  test("Warc: gzip member extents tile the compressed file; each slice inflates and parses alone; loud truncation") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    def rec(uri: String, body: String): String = {
      val n = body.getBytes("UTF-8").length
      s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: $n\r\n\r\n$body\r\n\r\n"
    }
    def gz(s: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close(); bos.toByteArray
    }
    val raw = gz(rec("https://a.com/1", "café crème")) ++
      gz(rec("https://a.com/2", "plain")) ++
      gz(rec("https://a.com/3", "third body"))
    // the walk finds the exact compressed extents
    val exts = Warc.memberExtents(1L, raw)
    assert(exts.length == 3 && exts.head._1 == 0L)
    exts.sliding(2).foreach { case Seq(a, b) =>
      assert(a._1 + a._2 == b._1, s"member gap between $a and $b")
    }
    assert(exts.last._1 + exts.last._2 == raw.length.toLong)
    // full member parse reports the compressed extents alongside the
    // inflated records
    val files = Seq((1L, raw)).toDF("file_id", "payload")
    val parsed = Warc.parseWarcMembers(files, col("file_id"), col("payload"))
      .orderBy(col("record_idx"))
      .select(col("offset"), col("record_bytes"), col("body")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(parsed.map(p => (p._1, p._2)).toSeq == exts.toSeq)
    assert(parsed.map(_._3).toSeq ==
      Seq("café crème", "plain", "third body"))
    // ranged fetch in the compressed domain: slice raw gz bytes,
    // inflate only that member
    val fetched = Warc.fetchMemberRecords(files, col("file_id"),
        col("payload"),
        Seq((1L, exts(1)._1, exts(1)._2)).toDF("file_id", "offset",
          "record_bytes"))
      .select(col("body")).collect().map(_.getString(0))
    assert(fetched.toSeq == Seq("plain"))
    // truncation mid-member raises with file and offset
    val e = intercept[Exception] {
      TestSpark.quietly(
        Warc.parseWarcMembers(Seq((1L, raw.take(raw.length - 10)))
            .toDF("file_id", "payload"), col("file_id"), col("payload"))
          .collect())
    }
    assert(e.getMessage.contains("parseWarcMembers") ||
      e.getCause != null, e.getMessage)
  }

  test("Warc: two-level CDX layout — shards are disjoint sorted ranges, the cluster index routes every key home, floor raises") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    // 40 keys over 4 range shards
    val cdx = (0 until 40)
      .map(i => (f"com,s$i%02d)/p", i.toLong, i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cdx").toString
    try {
      Warc.writeCdxShards(cdx, dir, numShards = 4)
      val shards = spark.read.parquet(dir)
      // every input row landed exactly once
      assert(shards.count() == 40)
      val cluster = Warc.cdxClusterIndex(shards)
      val bounds = cluster.sortBy(_.shard).map(s => (s.shard, s.first_key)).toArray
      // ranges are DISJOINT and SORTED: shard i's first key < shard
      // i+1's first key, and every key of shard i sorts below it —
      // the property that makes "route to one shard" correct
      bounds.sliding(2).foreach { case Array((_, a), (_, b)) =>
        assert(a < b, s"cluster index not sorted: $a !< $b")
      }
      val perShard = shards.select(col("shard"), col("surt_key")).collect()
        .map(r => (r.getInt(0), r.getString(1)))
      // and each shard's FILES are sorted by surt_key — the range
      // exchange places rows, the in-file sort orders them (what a
      // binary-searching serve actually reads)
      (0 until 4).foreach { s =>
        new java.io.File(dir, s"shard=$s").listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            val keys = spark.read.parquet(f.getAbsolutePath)
              .select(col("surt_key")).collect().map(_.getString(0))
            assert(keys.sameElements(keys.sorted),
              s"shard $s file ${f.getName} not sorted")
          }
      }
      val next = bounds.map(_._1).zip(bounds.drop(1).map(_._2)).toMap
      perShard.foreach { case (sh, k) =>
        val lo = bounds.find(_._1 == sh).get._2
        assert(k >= lo, s"key $k below its shard $sh floor $lo")
        next.get(sh).foreach(hi =>
          assert(k < hi, s"key $k at/above the next shard's floor $hi"))
      }
      // the router sends every key to the shard that holds it
      val routed = Warc.assignShards(
          cdx.select(col("surt_key")), col("surt_key"), cluster)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      perShard.foreach { case (sh, k) =>
        assert(routed(k) == sh, s"key $k routed to ${routed(k)}, lives in $sh")
      }
      // a key below the index floor raises — never a silent false miss
      val e = intercept[Exception] {
        TestSpark.quietly(
          Warc.assignShards(Seq("aaa").toDF("surt_key"), col("surt_key"),
            cluster).collect())
      }
      assert(e.getMessage.contains("floor") ||
        (e.getCause != null && e.getCause.getMessage.contains("floor")),
        e.getMessage)
      // the serve path prunes the shard scan to the lookup's shards —
      // static partition pruning, visible in the scan
      val p = shards.filter(col("shard").isin(1, 2))
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters") && p.contains("shard"),
        s"shard filter did not reach the partition scan:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Warc: reshardByBytes packs greedily by global byte order, no single-partition window, loud on duplicate order") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    // sizes 60,60,60,60 under budget 100: prefix 0,60,120,180 →
    // shards 0,0,1,1 — the boundary lands between, never splits a record
    val recs = Seq((0L, 60L), (1L, 60L), (2L, 60L), (3L, 60L))
      .toDF("doc", "nb")
    val planned = Warc.reshardByBytes(recs, col("doc"), col("nb"),
        budget = 100L, bucketWidth = 2L)
      .orderBy(col("doc")).select(col("doc"), col("shard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(planned.toSeq == Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L)))
    // the plan carries no single-partition exchange: the running sum
    // rides the bucket hash partitioning (the Sweep/epochShuffle rule)
    val plan = Warc.reshardByBytes(recs, col("doc"), col("nb"),
      budget = 100L, bucketWidth = 2L).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    // duplicate order values leave shard boundaries underdetermined →
    // loud, not arbitrary
    val dup = Seq((0L, 10L), (0L, 10L)).toDF("doc", "nb")
    val e = intercept[IllegalArgumentException] {
      TestSpark.quietly(
        Warc.reshardByBytes(dup, col("doc"), col("nb"), budget = 100L)
          .collect())
    }
    assert(e.getMessage.contains("not unique"), e.getMessage)
    // negative positions would misorder under truncating div → loud
    val neg = Seq((-5L, 10L), (3L, 10L)).toDF("doc", "nb")
    val e2 = intercept[IllegalArgumentException] {
      TestSpark.quietly(
        Warc.reshardByBytes(neg, col("doc"), col("nb"), budget = 100L)
          .collect())
    }
    assert(e2.getMessage.contains("non-negative"), e2.getMessage)
  }

  test("Warc: compactCdxShards rewrites ONLY affected shards — untouched files never move; merged shards stay sorted; below-floor inserts extend the lowest shard; tombstones drop existing rows") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    def mkCdx(rows: Seq[(String, Long, Long)]) = rows
      .map { case (k, f, o) => (k, f, o, 50L, s"d$f-$o") }
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val base = mkCdx((10 until 50).map(i => (f"com,s$i%02d)/p", i.toLong,
      i.toLong * 100)))
    val dir = java.nio.file.Files.createTempDirectory("graft_lsm").toString
    def listing(sh: Int): Seq[(String, Long, Long)] = {
      val d = new java.io.File(dir, s"shard=$sh")
      d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map(f => (f.getName, f.length(), f.lastModified())).sorted
    }
    try {
      Warc.writeCdxShards(base, dir, numShards = 4)
      val before = (0 until 4).map(listing)
      // segments: one below-floor key (com,s05 < the s10 floor) and
      // one for the top shard's range
      val segs = mkCdx(Seq(("com,s05)/p", 105L, 500L),
        ("com,s49x)/p", 149L, 900L)))
      Warc.compactCdxShards(dir, segs)
      val shards = spark.read.parquet(dir)
      assert(shards.count() == 42)
      val byShard = shards.select(col("shard"), col("surt_key")).collect()
        .map(r => (r.getInt(0), r.getString(1))).groupBy(_._1)
      val lowest = byShard.keys.min
      val highest = byShard.keys.max
      assert(byShard(lowest).exists(_._2 == "com,s05)/p"),
        "below-floor insert must land in the lowest shard")
      assert(byShard(highest).exists(_._2 == "com,s49x)/p"))
      // untouched shards: byte-identical files, same mtimes — history
      // never rewrote
      val after = (0 until 4).map(listing)
      (0 until 4).filter(s => s != lowest && s != highest).foreach { s =>
        assert(before(s) == after(s),
          s"untouched shard $s was rewritten: ${before(s)} -> ${after(s)}")
      }
      assert(before(lowest) != after(lowest), "affected shard must rewrite")
      // each rewritten shard file is SORTED by surt_key (the serve
      // invariant) — read file-by-file so cross-file order cannot mask
      Seq(lowest, highest).foreach { s =>
        new java.io.File(dir, s"shard=$s").listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            val keys = spark.read.parquet(f.getAbsolutePath)
              .select(col("surt_key")).collect().map(_.getString(0))
            assert(keys.sameElements(keys.sorted),
              s"shard $s file ${f.getName} not sorted")
          }
      }
      // a tombstone aimed at an EXISTING row (no segment touches its
      // shard) pulls that shard into the rewrite and drops the row
      val victim = spark.read.parquet(dir)
        .filter(col("surt_key") === "com,s25)/p")
        .select(col("file_id"), col("offset"))
      Warc.compactCdxShards(dir, segs.filter(org.apache.spark.sql
        .functions.lit(false)), tombstones = Some(victim))
      val left = spark.read.parquet(dir)
      assert(left.count() == 41)
      assert(left.filter(col("surt_key") === "com,s25)/p").isEmpty)
      // routing against the COMPACTED layout needs no clamp: the
      // serve-time cluster index re-derives from the shards, so the
      // new floor is the below-floor insert itself
      val routed = Warc.assignShards(Seq("com,s05)/p").toDF("surt_key"),
        col("surt_key"), Warc.cdxClusterIndex(left)).collect()
      assert(routed.head.getInt(1) == lowest)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Warc: compactCdxShards over an empty committed layout writes the segment as one shard; a missing dir still refuses") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.Warc
    val cdx = Seq(("com,b)/p", 2L, 200L), ("com,a)/p", 1L, 100L),
        ("com,c)/p", 3L, 300L))
      .map { case (k, f, o) => (k, f, o, 50L, s"d$f") }
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_lsm_empty").toString
    try {
      Warc.writeCdxShards(cdx.filter(lit(false)), dir, numShards = 4)
      assert(!new java.io.File(dir).list().exists(_.startsWith("shard=")))
      Warc.compactCdxShards(dir, cdx, tombstones = Some(
        Seq((3L, 300L)).toDF("file_id", "offset")))
      val shards = Warc.readCdxShards(spark, dir, cdx.schema)
      // serve: every key routes through the re-derived cluster index to
      // the shard that holds its row; the tombstoned segment row is gone
      val served = Warc.assignShards(cdx.select(col("surt_key")),
          col("surt_key"), Warc.cdxClusterIndex(shards))
        .join(shards, Seq("shard", "surt_key"))
        .select(col("surt_key"), col("file_id"), col("offset"))
        .as[(String, Long, Long)].collect().sorted.toSeq
      assert(served == Seq(("com,a)/p", 1L, 100L), ("com,b)/p", 2L, 200L)))
      val e = intercept[IllegalArgumentException](
        Warc.compactCdxShards(dir + "-missing", cdx))
      assert(e.getMessage.contains("not a writeCdxShards layout"), e.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Warc: splitCdxShard moves ONE shard's rows into fresh sorted pieces — other shards' files never move, the total order re-derives") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    val cdx = (10 until 50).map(i => (f"com,s$i%02d)/p", i.toLong,
        i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_split").toString
    def listing(sh: Int): Seq[(String, Long, Long)] = {
      val d = new java.io.File(dir, s"shard=$sh")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map(f => (f.getName, f.length(), f.lastModified())).sorted
    }
    try {
      Warc.writeCdxShards(cdx, dir, numShards = 4)
      val before = (0 until 4).map(listing)
      val victimKeys = spark.read.parquet(dir)
        .filter(col("shard") === 2).select(col("surt_key"))
        .collect().map(_.getString(0)).toSet
      Warc.splitCdxShard(dir, cdx.schema, shard = 2, n = 2)
      val after = spark.read.parquet(dir)
      // same rows, shard 2 gone, its keys in the two fresh ids 4 and 5
      assert(after.count() == 40)
      val ids = after.select(col("shard")).distinct()
        .collect().map(_.getInt(0)).toSet
      assert(!ids.contains(2) && ids.contains(4) && ids.contains(5), ids)
      val movedKeys = after.filter(col("shard") >= 4)
        .select(col("surt_key")).collect().map(_.getString(0)).toSet
      assert(movedKeys == victimKeys)
      // each fresh piece's files are SORTED by surt_key (the serve
      // invariant compaction also maintains) — read file-by-file so
      // cross-file order cannot mask
      Seq(4, 5).foreach { s =>
        new java.io.File(dir, s"shard=$s").listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            val keys = spark.read.parquet(f.getAbsolutePath)
              .select(col("surt_key")).collect().map(_.getString(0))
            assert(keys.sameElements(keys.sorted),
              s"split shard $s file ${f.getName} not sorted")
          }
      }
      // untouched shards' files are byte-identical
      Seq(0, 1, 3).foreach(s => assert(before(s) == listing(s),
        s"shard $s rewritten by a split of shard 2"))
      // the serve-time cluster index keeps a disjoint sorted total
      // order and routes every key home across old + new ids
      val cluster = Warc.cdxClusterIndex(after)
      val routed = Warc.assignShards(
          after.select(col("surt_key")), col("surt_key"), cluster)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      after.select(col("shard"), col("surt_key")).collect().foreach { r =>
        assert(routed(r.getString(1)) == r.getInt(0),
          s"key ${r.getString(1)} routed to ${routed(r.getString(1))}, " +
            s"lives in ${r.getInt(0)}")
      }
      // a split of a missing shard is loud
      val e = intercept[IllegalArgumentException](
        Warc.splitCdxShard(dir, cdx.schema, shard = 2, n = 2))
      assert(e.getMessage.contains("not present"), e.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Warc: coalesceCdxShards merges undersized adjacent runs only — adequate and lone-undersized shards never move") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.Warc
    val cdx = (10 until 50).map(i => (f"com,s$i%02d)/p", i.toLong,
        i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_coal").toString
    def listing(sh: Int): Seq[(String, Long, Long)] = {
      val d = new java.io.File(dir, s"shard=$sh")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map(f => (f.getName, f.length(), f.lastModified())).sorted
    }
    try {
      Warc.writeCdxShards(cdx, dir, numShards = 8) // 5 rows per shard
      val before = (0 until 8).map(listing)
      // every shard adequate: a full no-op — nothing moves at all
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 4)
      assert((0 until 8).map(listing) == before, "adequate layout rewrote")
      // tombstone the MIDDLE shards (2..5) down to one row each: a
      // four-shard undersized run between adequate neighbors
      val mid = spark.read.parquet(dir)
        .filter(col("shard").between(2, 5))
      val keepOne = mid.groupBy(col("shard"))
        .agg(org.apache.spark.sql.functions.min(col("surt_key")).as("k"))
        .select(col("k")).collect().map(_.getString(0)).toSet
      val tomb = mid.filter(!col("surt_key").isin(keepOne.toSeq: _*))
        .select(col("file_id"), col("offset"))
      Warc.compactCdxShards(dir, cdx.filter(lit(false)),
        tombstones = Some(tomb))
      val beforeCoal = (0 until 8).map(listing)
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 4)
      val after = spark.read.parquet(dir)
      // the run merged into ONE fresh shard (4 x 1 row reaches minRows)
      val ids = after.select(col("shard")).distinct()
        .collect().map(_.getInt(0)).toSet
      assert(ids == Set(0, 1, 6, 7, 8), ids)
      assert(after.filter(col("shard") === 8).count() == 4)
      // untouched shards byte-identical, mtimes and all
      Seq(0, 1, 6, 7).foreach { sh =>
        assert(listing(sh) == beforeCoal(sh), s"shard $sh moved")
      }
      // the merged shard is one contiguous sorted range and the
      // re-derived cluster index still routes every key correctly
      val keys = after.filter(col("shard") === 8)
        .select(col("surt_key")).collect().map(_.getString(0))
      assert(keys.sameElements(keys.sorted))
      val routed = Warc.assignShards(
          after.select(col("surt_key")).distinct(), col("surt_key"),
          Warc.cdxClusterIndex(after))
        .withColumnRenamed("shard", "routed")
        .join(after, Seq("surt_key"))
      assert(routed.filter(col("routed") =!= col("shard")).isEmpty,
        "cluster index mis-routes after coalesce")
      // a LONE undersized shard between adequate neighbors stays: drop
      // shard 6 to one row, coalesce — nothing merges (cost would be
      // proportional to an adequate neighbor, not the undersized tail)
      val six = spark.read.parquet(dir).filter(col("shard") === 6)
      val keep6 = six.agg(org.apache.spark.sql.functions.min(col("surt_key")))
        .collect().head.getString(0)
      Warc.compactCdxShards(dir, cdx.filter(lit(false)),
        tombstones = Some(six.filter(col("surt_key") =!= keep6)
          .select(col("file_id"), col("offset"))))
      val beforeLone = spark.read.parquet(dir)
        .select(col("shard"), col("surt_key")).collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 4)
      val afterLone = spark.read.parquet(dir)
        .select(col("shard"), col("surt_key")).collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      assert(afterLone == beforeLone, "lone undersized shard must stay")
      // loud guards
      intercept[IllegalArgumentException](
        Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Warc: an interrupted coalesce publish repairs from the manifest on the next call") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    val cdx = (10 until 50).map(i => (f"com,s$i%02d)/p", i.toLong,
        i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_repair").toString
    try {
      Warc.writeCdxShards(cdx, dir, numShards = 4)
      // simulate a publish that died between renaming merged shard 2
      // in and deleting its source shard 3: the manifest says 2 was
      // merged FROM 3, and both directories exist (duplicate ranges)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_coalesce_manifest"),
        "2:3".getBytes("UTF-8"))
      val s3 = spark.read.parquet(dir).filter(col("shard") === 3).count()
      assert(s3 > 0)
      // minRows=1: nothing is undersized, so the call is PURE repair
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 1)
      val after = spark.read.parquet(dir)
      assert(after.filter(col("shard") === 3).isEmpty,
        "the interrupted publish's source shard must leave the layout")
      assert(after.filter(col("shard") === 2).count() > 0)
      assert(!new java.io.File(dir, "_coalesce_manifest").exists(),
        "the manifest must clear once the publish is finished")
      // and a clean layout repairs to a no-op
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 1)
      assert(spark.read.parquet(dir).count() == after.count())
      // a MALFORMED manifest line (no colon / non-numeric ids) must
      // refuse loudly with the offending content — deleting shards on
      // a manifest this code did not write would destroy data
      for (bad <- Seq("garbage-no-colon", "2:3x", "x2:3")) {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "_coalesce_manifest"),
          bad.getBytes("UTF-8"))
        val e = intercept[IllegalStateException](
          Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 1))
        assert(e.getMessage.contains(bad))
        val cnt = spark.read.parquet(dir).count()
        assert(cnt == after.count(), "refusal must not touch the layout")
      }
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(dir, "_coalesce_manifest"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Warc: split and coalesce over an empty committed layout — coalesce is a no-op, split refuses by name, a missing or uncommitted dir still refuses") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.Warc
    val cdx = Seq(("com,a)/p", 1L, 100L), ("com,b)/p", 2L, 200L))
      .map { case (k, f, o) => (k, f, o, 50L, s"d$f") }
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val zeroRows = java.nio.file.Files.createTempDirectory("graft_empty0").toString
    val allTombed = java.nio.file.Files.createTempDirectory("graft_empty1").toString
    val uncommitted = java.nio.file.Files.createTempDirectory("graft_empty2").toString
    try {
      // the two ways a committed layout ends up with only _SUCCESS: a
      // build over zero rows, and a compaction that tombstones every row
      Warc.writeCdxShards(cdx.filter(lit(false)), zeroRows, numShards = 4)
      Warc.writeCdxShards(cdx, allTombed, numShards = 2)
      Warc.compactCdxShards(allTombed, cdx.filter(lit(false)),
        tombstones = Some(cdx.select(col("file_id"), col("offset"))))
      // (checksum files are dot-named)
      def entries(dir: String) =
        new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq
      for (dir <- Seq(zeroRows, allTombed)) {
        assert(entries(dir) == Seq("_SUCCESS"), entries(dir))
        Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 4)
        assert(entries(dir) == Seq("_SUCCESS"), entries(dir))
        val e = intercept[IllegalArgumentException](
          Warc.splitCdxShard(dir, cdx.schema, shard = 0, n = 2))
        assert(e.getMessage.contains("shard 0 not present"), e.getMessage)
      }
      for (dir <- Seq(zeroRows + "-missing", uncommitted)) {
        val ec = intercept[IllegalArgumentException](
          Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 4))
        assert(ec.getMessage.contains("not a writeCdxShards layout"), ec.getMessage)
        val es = intercept[IllegalArgumentException](
          Warc.splitCdxShard(dir, cdx.schema, shard = 0, n = 2))
        assert(es.getMessage.contains("not a writeCdxShards layout"), es.getMessage)
      }
    } finally {
      Seq(zeroRows, allTombed, uncommitted).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("Warc: an interrupted compaction publish (source deleted, merged copy still staged) is finished by the next coalesce — every row back") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.Warc
    val cdx = (10 until 50).map(i => (f"com,s$i%02d)/p", i.toLong,
        i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_compact").toString
    val staging = dir + ".publish-tmp"
    try {
      Warc.writeCdxShards(cdx, dir, numShards = 4)
      // the state a compaction leaves when it dies between deleting
      // shard=1 and renaming its merged copy (old rows + one inserted
      // row) in: manifest written, source gone, output still staged
      val one = spark.read.parquet(dir).filter(col("shard") === 1)
      val inserted = one.limit(1).withColumn("surt_key",
        org.apache.spark.sql.functions.concat(col("surt_key"), lit("x")))
      one.unionByName(inserted).write.partitionBy("shard").parquet(staging)
      val rows1 = one.count() + 1
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir, "shard=1"))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_coalesce_manifest"),
        "1:1".getBytes("UTF-8"))
      // minRows=1: nothing is undersized, so the call is PURE repair
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 1)
      val after = spark.read.parquet(dir)
      assert(after.count() == 41, "the interrupted compaction lost rows")
      assert(after.filter(col("shard") === 1).count() == rows1)
      assert(!new java.io.File(dir, "_coalesce_manifest").exists())
      assert(!new java.io.File(staging).exists())
    } finally {
      Seq(dir, staging).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("Warc: an interrupted split publish (pieces renamed in, source not yet deleted) is finished by the next compaction — no duplicate key range") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.Warc
    val cdx = (10 until 50).map(i => (f"com,s$i%02d)/p", i.toLong,
        i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_split").toString
    try {
      Warc.writeCdxShards(cdx, dir, numShards = 4)
      // the state a split of shard 2 leaves when it dies after renaming
      // its piece in as shard 4 and before deleting shard 2: both
      // directories hold the same key range
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(dir, "shard=2"), new java.io.File(dir, "shard=4"))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_coalesce_manifest"),
        "4:2".getBytes("UTF-8"))
      // an empty segment with no tombstones: the call is PURE repair
      Warc.compactCdxShards(dir, cdx.filter(lit(false)))
      val after = spark.read.parquet(dir)
      assert(after.count() == 40, "the interrupted split left duplicate rows")
      val ids = after.select(col("shard")).distinct().collect().map(_.getInt(0)).toSet
      assert(ids == Set(0, 1, 3, 4), ids)
      val ranges = after.groupBy(col("shard"))
        .agg(org.apache.spark.sql.functions.min(col("surt_key")),
          org.apache.spark.sql.functions.max(col("surt_key")))
        .collect().map(r => (r.getString(1), r.getString(2))).sortBy(_._1)
      assert(ranges.zip(ranges.drop(1)).forall { case ((_, hi), (lo, _)) => hi < lo },
        ranges.toSeq)
      assert(!new java.io.File(dir, "_coalesce_manifest").exists())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("CDX maintenance triple is order-idempotent: three histories, one logical table") {
    import org.apache.spark.sql.functions._
    import graft.sources.Warc
    // same base layout + same LOGICAL deltas (append the odd half,
    // tombstone a middle slice) under three different interleavings
    // of split/compact/coalesce must end in the SAME logical table —
    // shard ids may differ, content must not — and every final
    // layout must still be sorted disjoint ranges
    val cdx = (0 until 120).map { i =>
      (f"com,s${i % 40}%02d)/p/$i", i.toLong, i.toLong * 100, 50L, s"d$i")
    }.toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
      .localCheckpoint()
    val even = cdx.filter(col("file_id") % 2 === 0)
    val odd = cdx.filter(col("file_id") % 2 === 1)
    val doomed = cdx.filter(col("file_id") % 40 >= 20)
      .select(col("file_id"), col("offset"))
    def history(ops: Seq[String]): (Seq[(String, Long)], Boolean) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_hist").toString
      try {
        Warc.writeCdxShards(even, dir, numShards = 5)
        ops.foreach {
          case "append" => Warc.compactCdxShards(dir, odd)
          case "tomb" => Warc.compactCdxShards(dir, cdx.filter(lit(false)),
            tombstones = Some(doomed))
          case "split" =>
            val hot = spark.read.parquet(dir).groupBy(col("shard"))
              .agg(count(lit(1)).as("n"))
              .orderBy(col("n").desc, col("shard")).collect().head.getInt(0)
            Warc.splitCdxShard(dir, cdx.schema, hot, n = 2)
          case "coalesce" => Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 8)
        }
        val after = spark.read.parquet(dir)
        val content = after.select(col("surt_key"), col("file_id"))
          .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
        // layout invariant: shard ranges disjoint and in-file sorted
        val byShard = after.select(col("shard"), col("surt_key")).collect()
          .map(r => (r.getInt(0), r.getString(1))).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSeq).toMap
        val sortedOk = byShard.values.forall(ks => ks == ks.sorted)
        val ranges = byShard.values.map(ks => (ks.min, ks.max)).toSeq
          .sortBy(_._1)
        val disjoint = ranges.zip(ranges.drop(1)).forall {
          case ((_, hi), (lo2, _)) => hi <= lo2
        }
        (content, sortedOk && disjoint)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
    // tombstones always follow the append that lands their targets —
    // delete-before-insert is a DIFFERENT logical history, not a
    // reordering of this one
    val a = history(Seq("append", "tomb", "split", "coalesce"))
    val b = history(Seq("append", "split", "tomb", "coalesce"))
    val c = history(Seq("append", "tomb", "coalesce", "split"))
    assert(a._2 && b._2 && c._2, "a final layout lost sortedness/disjointness")
    val expect = (0 until 120).filter(i => i % 40 < 20)
      .map(i => (f"com,s${i % 40}%02d)/p/$i", i.toLong)).sorted
    assert(a._1 == expect)
    assert(b._1 == expect && c._1 == expect)
  }

  test("Warc: coalesceCdxShards orders shards by Spark's UTF-8 key order — an undersized supplementary-character shard never merges across an adequate U+FF01 shard") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Warc
    // UTF-8 bytes order the three first keys \uE000 < \uFF01 < U+1F600;
    // UTF-16 code units put U+1F600 (a surrogate pair, 0xD83D…) first
    val keys = Seq(0 -> "com,a)/\uE000", 1 -> "com,a)/\uFF01",
      1 -> "com,a)/\uFF01x", 1 -> "com,a)/\uFF01y", 2 -> "com,a)/\uD83D\uDE00")
    val cdx = keys.zipWithIndex
      .map { case ((sh, k), i) => (k, i.toLong, i * 100L, 50L, s"d$i", sh) }
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest", "shard")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cdx_utf8").toString
    try {
      cdx.write.mode("overwrite").partitionBy("shard").parquet(dir)
      val schema = cdx.drop("shard").schema
      val table = Warc.cdxClusterIndex(Warc.readCdxShards(spark, dir, schema))
      assert(table.map(_.shard) == Seq(0, 1, 2), table)
      // shards 0 and 2 are undersized but not adjacent: nothing merges
      Warc.coalesceCdxShards(dir, schema, minRows = _ => 2)
      val after = Warc.readCdxShards(spark, dir, schema)
      // every key is served from the shard that holds it
      val served = Warc.serveCdx(after, keys.map(_._2).toDF("surt_key"))
        .select(col("surt_key")).as[String].collect().sorted.toSeq
      assert(served == keys.map(_._2).sorted, served)
      assert(after.select(col("shard")).distinct().as[Int].collect().sorted
        .toSeq == Seq(0, 1, 2))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** A 40-key, 4-shard [[graft.sources.Warc.writeCdxShards]] layout in
    * a temp dir, removed after `body`.
    */
  private def withCdxLayout(body: (String, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    import org.apache.spark.sql.functions.col
    val cdx = (0 until 40)
      .map(i => (f"com,s$i%02d)/p", i.toLong, i.toLong * 100, 50L, s"d$i"))
      .toDF("surt_key", "file_id", "offset", "record_bytes", "digest")
      .withColumn("target_uri", col("surt_key"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cdx_jobs").toString
    try {
      graft.sources.Warc.writeCdxShards(cdx, dir, numShards = 4)
      body(dir, cdx)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Warc: serveCdx runs 4 Spark jobs — the shard table, the shard-id prune collect, the broadcast and the result") {
    withCdxLayout { (dir, cdx) =>
      val shards = graft.sources.Warc.readCdxShards(spark, dir, cdx.schema)
      val keys = Seq("com,s03)/p", "com,s17)/p", "com,s33)/p").toDF("surt_key")
      // the prune collect also fills the routed keys' checkpoint
      val (hits, jobs) = TestSpark.jobsOf(
        graft.sources.Warc.serveCdx(shards, keys).collect())
      assert(hits.length == 3)
      assert(jobs == 4, s"serveCdx + collect ran $jobs jobs")
    }
  }

  test("Warc: the coalesceCdxShards stats pass is one Spark job") {
    withCdxLayout { (dir, cdx) =>
      // every shard adequate: the stats pass runs and nothing publishes
      val (_, jobs) = TestSpark.jobsOf(
        graft.sources.Warc.coalesceCdxShards(dir, cdx.schema, minRows = _ => 1))
      assert(jobs == 1, s"the coalesce stats pass ran $jobs jobs")
    }
  }

  test("Warc: fetchRecords plans with 2 Spark jobs — the eager extents checkpoint and one prune collect") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.Warc
    val recs = (0L until 6L).map(i => (i % 3, i, s"body $i")).toDF("f", "i", "b")
    val files = Warc.writeWarc(recs, col("f"), col("i"), lit("conversion"),
      concat(lit("https://h.com/p/"), col("i")), col("b")).localCheckpoint()
    val extents = Warc.parseWarc(files, col("file_id"), col("payload"))
      .select(col("file_id"), col("record_idx"), col("offset"),
        col("record_bytes")).localCheckpoint()
    val (fetched, jobs) = TestSpark.jobsOf(
      Warc.fetchRecords(files, col("file_id"), col("payload"), extents))
    assert(jobs == 2, s"fetchRecords planned with $jobs jobs")
    assert(fetched.count() == 6)
  }
}
