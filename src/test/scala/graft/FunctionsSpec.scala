package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{MinHashSignature, TextFunctions, VectorFunctions}

class FunctionsSpec extends AnyFunSuite {

  test("ShingleHash40 kernel == column composition (conv∘md5∘shingles), edges included") {
    import TestSpark.spark.implicits._
    import graft.functions.ShingleHash40
    val docs = Tables.documents(spark, TestSpark.sf).select(col("text"))
      .unionByName(Seq(
        "",                       // zero tokens
        "   ",                    // whitespace only
        "one two",                // shorter than n
        "  leading and trailing  ws  ",  // empty-split edges
        "emoji 😀 and café words here").toDF("text"))
    val kernel = docs.select(explode(ShingleHash40(col("text"), 3)).as("h"))
    val columnForm = docs
      .select(explode(TextFunctions.shingles(col("text"), 3)).as("sh"))
      .select((conv(substring(md5(col("sh")), 1, 10), 16, 10).cast("long") + lit(1L)).as("h"))
    assert(kernel.exceptAll(columnForm).count() == 0 &&
      columnForm.exceptAll(kernel).count() == 0)
    // short/empty docs yield empty arrays, not nulls or errors
    val shorts = Seq("", "   ", "a b").toDF("text")
      .select(size(ShingleHash40(col("text"), 3)).as("n")).as[Int].collect()
    assert(shorts.toSeq == Seq(0, 0, 0))
  }
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("htmlExtract: zones dropped, tags stripped, entities decoded, ws collapsed") {
    val out = Seq(
      // full page: head (title/style/script payloads) + nav + footer
      // all removed; body markup stripped; entities decoded
      "<html><head><title>T</title><style>b{x:1}</style>" +
        "<script>if(1<2){a=\"x&y\";}</script></head><body>" +
        "<nav>menu | <a href=\"https://a.com/\">home</a></nav>" +
        "<h1>Hello</h1><p>world &amp; moon &lt;tag&gt; it&#39;s " +
        "&quot;q&quot;</p><footer>(c) corp</footer></body></html>",
      // <header> is NOT a head zone: zone tag names match whole
      "<header>kept words</header><p>body</p>",
      // author-written &amp;lt; yields the literal &lt;, never '<'
      "<p>&amp;lt;</p>",
      // a '<' comparison inside script must not leak code into text
      "pre <script>for(i=0;i<9;i++){}</script> post",
      // comment payloads never reach the corpus — even with a '>'
      // inside, which would derail the generic tag strip
      "a <!-- promo > click here --> b",
      // a commented-out zone closer must not terminate the zone early
      "<p>x</p><script><!--</script>-->var y;</script><p>z</p>")
      .toDF("html")
      .select(TextFunctions.htmlExtract(col("html")).as("t"))
      .as[String].collect()
    assert(out(0) == "Hello world & moon <tag> it's \"q\"")
    assert(out(1) == "kept words body")
    assert(out(2) == "&lt;")
    assert(out(3) == "pre post")
    assert(out(4) == "a b")
    assert(out(5) == "x z")
  }

  test("htmlTitle trims; extractHrefs harvests RAW markup in document order") {
    val row = Seq(
      "<html><head><title> A B </title></head><body>" +
        "<nav><a href=\"https://n.com/\">n</a></nav>" +
        "<a href=\"https://x.com/1\">x</a>" +
        "<footer><a href=\"https://f.com/\">f</a></footer></body></html>")
      .toDF("html")
      .select(TextFunctions.htmlTitle(col("html")).as("t"),
        TextFunctions.extractHrefs(col("html")).as("h"))
      .as[(String, Seq[String])].head()
    assert(row._1 == "A B")
    // nav + footer links ARE harvested (boilerplate as text, real
    // edges for the crawl frontier), in document order
    assert(row._2 == Seq("https://n.com/", "https://x.com/1", "https://f.com/"))
    // NOT harvested: data-href/xlink:href-style attributes, href
    // literals inside script payloads or comments — none of these is
    // an edge the page renders
    val none = Seq(
      "<div data-href=\"https://t.io/x\">y</div>" +
        "<script>var u='href=\"https://s.io/\"';</script>" +
        "<!-- <a href=\"https://c.io/\">old</a> -->" +
        "<a href=\"https://real.com/\">ok</a>")
      .toDF("html")
      .select(TextFunctions.extractHrefs(col("html")).as("h"))
      .as[Seq[String]].head()
    assert(none == Seq("https://real.com/"))
    // body PROSE mentioning href=… is not a tag attribute: with bare
    // values in the grammar the harvest is tag-scoped, so visible text
    // must not mint a false edge
    val prose = Seq(
      "<p>to link, set href=https://prose.example/x in the tag</p>" +
        "<a href=https://real.com/>ok</a>")
      .toDF("html")
      .select(TextFunctions.extractHrefs(col("html")).as("h"))
      .as[Seq[String]].head()
    assert(prose == Seq("https://real.com/"))
  }

  test("langIdScript: script ranges route non-Latin, stopwords split Latin, letterless is 'und'") {
    val cases = Seq(
      "привет мир данные" -> "ru",
      "数据 质量 清洗" -> "zh",
      "بيانات جودة" -> "ar",
      "δεδομένα ποιότητα" -> "el",
      "the cat and the dog of a house" -> "en",
      "le chat et la mer de paris un jour" -> "fr",
      "el perro y el gato de madrid un dia" -> "es",
      "der hund und die katze das haus" -> "de",
      "12345 !!! ???" -> "und",
      // MIXED: a mostly-English page quoting a Cyrillic phrase stays
      // latin-routed (majority by code points)
      "the quick brown fox of the данные and the lazy dog to a tree" -> "en",
      // mostly-Cyrillic with a latin brand name routes cyrillic
      "привет мир данные корпус очистка Spark" -> "ru")
    val out = cases.map(_._1).toDF("t")
      .select(TextFunctions.langIdScript(col("t")).as("l"))
      .as[String].collect().toSeq
    assert(out == cases.map(_._2), out.zip(cases).toString)
    // null in, null out — never a fake language
    val nul = Seq(Option.empty[String]).toDF("t")
      .select(TextFunctions.langIdScript(col("t")).as("l")).collect().head
    assert(nul.isNullAt(0))
  }

  test("HLL distinct estimate tracks exact cardinality within 3 sigma") {
    import graft.functions.Hll
    // m = 64 registers → standard error ~1.04/sqrt(64) = 13%
    val rows = Seq(100, 1000, 5000).flatMap(n =>
      (1 to n).map(i => (s"g$n", s"key_${n}_$i"))) ++
      (1 to 20).map(i => (s"g20", s"key_20_$i")) // small-range branch
    val df = rows.toDF("grp", "k")
    val est = Hll.distinctPerGroup(df, col("grp"), col("k"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq(20 -> "g20", 100 -> "g100", 1000 -> "g1000", 5000 -> "g5000").foreach {
      case (n, g) =>
        val rel = math.abs(est(g) - n) / n
        assert(rel < 0.4, s"$g: est ${est(g)} vs $n (rel $rel)")
    }
    // determinism: same input, same estimate, bit for bit
    val again = Hll.distinctPerGroup(df, col("grp"), col("k"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == est)
  }

  test("Hll JVM hash60/RegisterAgg equals the SQL-side md5 register arithmetic") {
    import graft.functions.Hll
    val p = 6
    val toks = (1 to 500).map(i => s"token_$i")
    val df = toks.toDF("k")
    // the byte-arithmetic hash60 is bit-identical to the SQL hex form
    val sqlH = df.select(
        conv(substring(md5(col("k")), 1, 15), 16, 10).cast("long"))
      .as[Long].collect().toSeq
    assert(sqlH == toks.map(Hll.hash60), "hash60 diverged from SQL md5 path")
    // the streaming Aggregator's registers equal the declarative
    // groupBy-max registers (the q59 resolution, pinned JVM-side)
    val remBits = 60 - p
    val hCol = conv(substring(md5(col("k")), 1, 15), 16, 10).cast("long")
    val rem = hCol.bitwiseAND(lit((1L << remBits) - 1))
    val rank = when(rem === 0, lit(remBits + 1))
      .otherwise(lit(remBits + 1) - length(bin(rem)))
    val sqlRegs = df
      .select(shiftright(hCol, remBits).cast("int").as("idx"), rank.cast("int").as("rank"))
      .groupBy(col("idx")).agg(max(col("rank")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val agg = new Hll.RegisterAgg(p)
    val buf = toks.foldLeft(agg.zero)(agg.reduce)
    val jvmRegs = buf.regs.zipWithIndex.collect { case (r, i) if r > 0 => i -> r }.toMap
    assert(jvmRegs == sqlRegs, "RegisterAgg registers diverged from SQL registers")
  }

  test("SourceFamily.familyOf extracts registered-domain / shard families") {
    import graft.functions.SourceFamily
    // expected values double-checked against familyOfSql in DuckDB
    val cases = Seq(
      "https://cdn2.src17.com/p/9" -> "src17.com",
      "http://www.src3.co.uk/x?y=1" -> "src3.co.uk",
      "https://src5.org:8080/y" -> "src5.org",
      "src17-3" -> "src17",
      "src17" -> "src17", // base id keeps its digits; only a separated shard suffix strips
      "crawl_07" -> "crawl",
      "wiki" -> "wiki",
      "https://user:pw@deep.a.b.example.com/z" -> "example.com",
      "ftp://single/x" -> "single",
      "HTTPS://WWW.BBC.CO.UK/news" -> "bbc.co.uk")
    val got = cases.map(_._1).toDF("src")
      .select(SourceFamily.familyOf(col("src")).as("fam")).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("canonicalizeUrl collapses equivalent URLs and passes non-URLs through") {
    import graft.functions.SourceFamily
    val cases = Seq(
      "https://www.Ex.com/a/b?x=1&y=2" -> "https://www.ex.com/a/b?x=1&y=2",
      "HTTPS://WWW.EX.COM:443/a/b?y=2&x=1" -> "https://www.ex.com/a/b?x=1&y=2",
      "http://ex.com:80/a" -> "http://ex.com/a",
      "http://ex.com:8080/a" -> "http://ex.com:8080/a", // non-default port kept
      "https://ex.com/a/b?utm_source=t&x=1#frag" -> "https://ex.com/a/b?x=1",
      "https://ex.com/a?UTM_SOURCE=t&x=1" -> "https://ex.com/a?x=1", // case-insensitive strip
      "https://u:p@ex.com/a?gclid=g&fbclid=f" -> "https://ex.com/a",
      "https://ex.com/a?ref=main" -> "https://ex.com/a?ref=main", // ref is semantic, kept
      "https://app.ex.com/#/search?page=2" -> "https://app.ex.com/", // '?' inside fragment is not a query
      "https://ex.com/p?q=ab?cd" -> "https://ex.com/p?q=ab?cd", // literal '?' IN a query value survives (RFC 3986)
      "https://ex.com/p?utm_source=a?b&x=1" -> "https://ex.com/p?x=1", // '?' in a STRIPPED value doesn't shift the query anchor
      "https://ex.com" -> "https://ex.com/", // empty path normalizes to /
      "https://ex.com/?x=" -> "https://ex.com/?x=", // empty VALUE kept (names a state)
      "plain-source-7" -> "plain-source-7")
    val got = cases.map(_._1).toDF("u")
      .select(SourceFamily.canonicalizeUrl(col("u")).as("c")).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("surtKey: one site = one contiguous key range, on top of canonicalizeUrl's collision semantics") {
    import graft.functions.SourceFamily
    val cases = Seq(
      // host labels reverse comma-joined, single leading www. dropped,
      // scheme dropped (http/https fetches of a page are ONE range)
      "https://www.Ex.com/a/b?x=1" -> "com,ex)/a/b?x=1",
      "HTTP://EX.COM:80/a/b?x=1" -> "com,ex)/a/b?x=1",
      // canonicalization rides along: default port, utm, fragment,
      // sorted params — two spellings of one fetch, one key
      "HTTPS://WWW.EX.COM:443/a?y=2&x=1&utm_source=t#f" -> "com,ex)/a?x=1&y=2",
      // deeper subdomains keep their labels (after the reversed
      // registered domain — the range-scan property)
      "https://blog.ex.com/p" -> "com,ex,blog)/p",
      // www is only dropped as the LEADING label
      "https://www.www2.ex.com/p" -> "com,ex,www2)/p",
      // empty path normalizes to / before the key forms
      "https://ex.com" -> "com,ex)/",
      // a surviving non-default port attaches AFTER the reversed
      // labels (SURT com,ex:8080), never inside the last label where
      // it would sort the site's keys out of its range
      "http://ex.com:8080/x" -> "com,ex:8080)/x",
      // non-URL inputs pass through (canonicalizeUrl's trim)
      "plain-source-7" -> "plain-source-7")
    val got = cases.map(_._1).toDF("u")
      .select(SourceFamily.surtKey(col("u")).as("k")).as[String].collect().toSeq
    assert(got == cases.map(_._2))
    // the range property itself: every key of a host sorts inside
    // [prefix, prefix + '0') for its site prefix
    val site = Seq("https://ex.com/a", "https://www.ex.com/zz?q=1",
        "https://ex.com/")
      .toDF("u").select(SourceFamily.surtKey(col("u")).as("k"))
      .as[String].collect()
    assert(site.forall(k => k.startsWith("com,ex)")))
  }

  test("family rollup composes in front of sourceKlDivergence unchanged") {
    import graft.functions.SourceFamily
    // shard-suffixed provenance ids roll back up to the raw source, so
    // KL over families == KL over the original source grouping
    val docs = Tables.documents(spark, TestSpark.sf).limit(200)
      .withColumn("src",
        concat(col("source"), lit("-"), (col("doc_id") % 4).cast("string")))
    val byFam = graft.text.CorpusOps.sourceKlDivergence(
        docs, SourceFamily.familyOf(col("src")), col("text"))
      .collect().map(_.toString).sorted
    val direct = graft.text.CorpusOps.sourceKlDivergence(
        docs, col("source"), col("text"))
      .collect().map(_.toString).sorted
    assert(byFam.nonEmpty && byFam.toSeq == direct.toSeq)
  }

  test("native CosineSimilarity matches the composed built-in form bitwise") {
    val e = Tables.embeddings(spark, TestSpark.sf).limit(200)
    val a = e.select(col("vec_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id"), col("embedding").as("vb"))
      .withColumn("vec_id", col("vec_id") + 1)
    val j = a.join(b, "vec_id")
    val diff = j.select(
      VectorFunctions.cosine(col("va"), col("vb")).as("native"),
      VectorFunctions.cosineComposed(col("va"), col("vb")).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(diff.count() == 0)
  }

  test("native L2SqMicro matches the composed round(dot)-form bitwise") {
    import graft.functions.L2SqMicro
    val e = Tables.embeddings(spark, TestSpark.sf).limit(200)
    val a = e.select(col("vec_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id"), col("embedding").as("vb"))
      .withColumn("vec_id", col("vec_id") + 1)
    def composed(x: Column, y: Column): Column =
      round((VectorFunctions.dot(x, x) - lit(2.0) * VectorFunctions.dot(x, y) +
        VectorFunctions.dot(y, y)) * lit(1e6)).cast("long")
    val j = a.join(b, "vec_id")
    val diff = j.select(
      L2SqMicro(col("va"), col("vb")).as("native"),
      composed(col("va"), col("vb")).as("c"))
      .filter(col("native") =!= col("c"))
    assert(diff.count() == 0)
    // self-distance is exactly 0; null contract matches the composed form
    val self = e.select(L2SqMicro(col("embedding"), col("embedding"))).as[Long].collect()
    assert(self.forall(_ == 0L))
    val nulls = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("id", "va", "vb")
      .select(L2SqMicro(col("va"), col("vb"))).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("CosineSimilarity of a vector with itself is 1.0") {
    val e = Tables.embeddings(spark, TestSpark.sf).limit(10)
    val vals = e.select(VectorFunctions.cosine(col("embedding"), col("embedding")))
      .as[Double].collect()
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("tokens drops empties; shingles of short docs are empty") {
    val df = Seq(("  a  b   c  ", 1), ("x y", 2)).toDF("t", "id")
    val toks = df.select(TextFunctions.tokens(col("t"))).as[Seq[String]].collect()
    assert(toks(0) == Seq("a", "b", "c"))
    val sh = df.select(TextFunctions.shingles(col("t"), 3)).as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c") && sh(1).isEmpty)
  }

  test("native MinHashSignature matches the explode+min-aggregate form") {
    val n = 3; val k = 8
    val docs = Tables.documents(spark, TestSpark.sf).limit(300)
    // Compositional reference: explode shingles, aggregate k salted minima.
    val sh = docs.select(col("doc_id"),
      explode(TextFunctions.shingles(col("text"), n)).as("sh"))
    val aggs = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"mh_$i"))
    val expected = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val native = docs.select(col("doc_id"),
      MinHashSignature(col("text"), n, k).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until k).map(i => col("sig").getItem(i).as(s"mh_$i")): _*)
    assert(native.count() == expected.count())
    assert(native.exceptAll(expected).count() == 0)
  }

  test("native SimHash matches the explode+sum-aggregate form") {
    import graft.functions.{HashFunctions, SimHash}
    val bits = 16
    val docs = Tables.documents(spark, TestSpark.sf).limit(300)
    val tok = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
    val bitCols = (0 until bits).map { b =>
      val nib = HashFunctions.md5Nibble(col("tok"), b / 4 + 1)
      sum(HashFunctions.nibbleBit(nib, b % 4) * 2 - 1).as(s"__s$b")
    }
    val sums = tok.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val code = (0 until bits).map { b =>
      when(col(s"__s$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val expected = sums.select(col("doc_id"), code.as("simhash"))
    val native = docs.select(col("doc_id"), SimHash(col("text"), bits).as("simhash"))
      .filter(col("simhash").isNotNull)
    assert(native.count() == expected.count())
    assert(native.exceptAll(expected).count() == 0)
  }

  test("minhash_signature is callable from SQL") {
    GraftExtensions.register(spark)
    Tables.documents(spark, TestSpark.sf).limit(50).createOrReplaceTempView("docs_mh")
    val viaSql = spark.sql(
      "SELECT doc_id, minhash_signature(text, 3, 8) AS sig FROM docs_mh WHERE text IS NOT NULL")
    val viaApi = Tables.documents(spark, TestSpark.sf).limit(50)
      .select(col("doc_id"), MinHashSignature(col("text"), 3, 8).as("sig"))
    assert(viaSql.exceptAll(viaApi).count() == 0)
  }

  test("simhash is callable from SQL") {
    GraftExtensions.register(spark)
    Tables.documents(spark, TestSpark.sf).limit(50).createOrReplaceTempView("docs_sh")
    val viaSql = spark.sql("SELECT doc_id, simhash(text, 16) AS c FROM docs_sh")
    val viaApi = Tables.documents(spark, TestSpark.sf).limit(50)
      .select(col("doc_id"), graft.functions.SimHash(col("text"), 16).as("c"))
    assert(viaSql.exceptAll(viaApi).count() == 0)
  }

  test("MinHashSignature is NULL for docs shorter than n tokens") {
    val df = Seq(("a b", 1), ("a b c d", 2)).toDF("t", "id")
    val r = df.select(col("id"), MinHashSignature(col("t"), 3, 4).as("s"))
      .orderBy("id").collect()
    assert(r(0).isNullAt(1) && !r(1).isNullAt(1))
    assert(r(1).getSeq[String](1).length == 4)
  }

  test("ivfTopK never beats brute force and keeps contiguous ranks") {
    import graft.similarity.SimilaritySearch
    val e = Tables.embeddings(spark, TestSpark.sf)
    val q = e.filter(col("vec_id") < 5)
    val ivf = SimilaritySearch.ivfTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, centroidStride = 25, nprobe = 2)
      .select(col("query_id"), col("rank"), col("cos").as("ivf_cos"))
    val bf = SimilaritySearch.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3)
      .select(col("query_id"), col("rank"), col("cos").as("bf_cos"))
    val j = ivf.join(bf, Seq("query_id", "rank")).collect()
    assert(j.nonEmpty)
    // At each rank, the approximate neighbor can't score above the exact one.
    assert(j.forall(r => r.getAs[Double]("ivf_cos") <= r.getAs[Double]("bf_cos") + 1e-9))
    val ranks = ivf.groupBy("query_id").agg(collect_list("rank").as("rs"))
      .select(col("rs")).as[Seq[Long]].collect()
    assert(ranks.forall(rs => rs.sorted == (1L to rs.length)))
  }

  test("native ZOrderCode interleaves bits; adjacent keys stay adjacent") {
    import graft.functions.ZOrderCode
    // known values: x=0b11, y=0b01 at 2 bits → z = x0@0, y0@1, x1@2, y1@3
    // = 1 + 2 + 4 + 0 = 7
    assert(ZOrderCode.interleave(3L, 1L, 2) == 7L)
    assert(ZOrderCode.interleave(0L, 0L, 16) == 0L)
    // codegen expression matches the JVM kernel on a value sweep
    val df = spark.range(200).select(col("id"),
      ZOrderCode(col("id") * 37 % 1024, col("id") * 91 % 1024, 10).as("z"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 200L).foreach { i =>
      assert(got(i) == ZOrderCode.interleave(i * 37 % 1024, i * 91 % 1024, 10))
    }
    // null propagates
    val n = Seq((Some(1L), Option.empty[Long])).toDF("x", "y")
      .select(ZOrderCode(col("x"), col("y"), 8)).head()
    assert(n.isNullAt(0))
    // locality: interleaved code of close points differs in low bits only
    val a = ZOrderCode.interleave(100, 200, 16)
    val b = ZOrderCode.interleave(101, 201, 16)
    assert((a ^ b) < 16)
  }

  test("zorder_code is callable from SQL") {
    graft.GraftExtensions.register(spark)
    val z = spark.sql("SELECT zorder_code(CAST(3 AS BIGINT), CAST(1 AS BIGINT), 2) AS z")
      .head().getLong(0)
    assert(z == 7L)
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(Tuple1("the quick fox and the lazy dog of doom")).toDF("t")
    assert(df.select(TextFunctions.langId(col("t"))).as[String].head() == "en")
  }

  test("bpeTokens segments contractions, words, digits, punct, spaces") {
    val df = Seq(Tuple1("I'll pay 42 dollars, ok?")).toDF("t")
    val toks = df.select(TextFunctions.bpeTokens(col("t"))).as[Seq[String]].head()
    assert(toks == Seq("I", "'ll", " pay", " 42", " dollars", ",", " ok", "?"))
    assert(toks.mkString == "I'll pay 42 dollars, ok?") // lossless segmentation
  }

  test("winnowing guarantees a shared fingerprint for a shared token run") {
    import graft.dedup.Dedup
    // window=4, shingleN=3 → any shared run of 6+ tokens must collide.
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"unique one two three $shared"),
      (2L, s"$shared other words entirely here now")).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(df, col("doc_id"), col("text"), 3, 4)
    val byDoc = fp.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty)
  }

  test("text and dedup kernels tolerate null, empty, and whitespace-only input") {
    import graft.dedup.Dedup
    import graft.functions.SimHash
    val df = Seq((1L, null: String), (2L, ""), (3L, "   \t  "), (4L, "one two three four"))
      .toDF("doc_id", "text")
    // native expressions: null/empty/whitespace → NULL, never a crash
    val r = df.select(col("doc_id"),
      MinHashSignature(col("text"), 3, 4).as("mh"),
      SimHash(col("text"), 16).as("sh"),
      TextFunctions.bpeTokenCount(col("text")).as("bpe"),
      TextFunctions.fingerprint(col("text")).as("fp")).orderBy("doc_id").collect()
    assert(r.take(3).forall(row => row.isNullAt(1) && row.isNullAt(2)))
    assert(!r(3).isNullAt(1) && !r(3).isNullAt(2))
    // operators drop degenerate docs instead of failing
    assert(Dedup.simhash(df, col("doc_id"), col("text")).count() == 1)
    assert(Dedup.minhashCandidates(df, col("doc_id"), col("text")).count() == 0)
    assert(Dedup.winnowFingerprints(df, col("doc_id"), col("text")).count() == 0)
    // "" and "   \t  " both normalize to "" (tokenize-and-join equivalence),
    // so they share a fingerprint group: 2 groups, not 3.
    assert(Dedup.exactGroups(df.filter(col("text").isNotNull),
      col("doc_id"), col("text")).count() == 2)
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("Hello   World", "hello world")).toDF("a", "b")
    val r = df.select((TextFunctions.fingerprint(col("a")) ===
      TextFunctions.fingerprint(col("b"))).as("eq")).as[Boolean].head()
    assert(r)
  }

  test("fingerprint strips non-space edge whitespace (tabs/newlines)") {
    // trim() only removes ASCII spaces; the regex edge-strip must make
    // "\thello\n world" hash identically to "hello world" and to the
    // tokenize-and-join form the oracle uses.
    val df = Seq(("\thello\n  world\r\n", "hello world")).toDF("a", "b")
    val r = df.select(
      TextFunctions.fingerprint(col("a")).as("fa"),
      TextFunctions.fingerprint(col("b")).as("fb"),
      md5(array_join(TextFunctions.tokens(lower(col("a"))), " ")).as("joined"))
      .head()
    assert(r.getString(0) == r.getString(1) && r.getString(0) == r.getString(2))
  }

  test("histogram quantiles interpolate inside the crossing bin, exactly") {
    import graft.functions.Histogram
    // values 1..100 over [0,100) in 10 bins: value 100 clamps into bin 9
    val df = (1 to 100).map(v => ("g", v.toDouble)).toDF("grp", "v")
    val out = Histogram.quantilesPerGroup(df, col("grp"), col("v"),
        quantiles = Seq(0.5, 1.0), lo = 0.0, hi = 100.0, bins = 10)
      .collect().map(r => r.getDouble(1) -> (r.getLong(2), r.getDouble(3))).toMap
    // p50: target 50, bins 0..4 hold 1..49 (cum 49), bin 5 holds 50..59
    //  -> est = 10 * (5 + (50-49)/10) = 51.0
    assert(out(0.5) == ((100L, 51.0)))
    // p100: target 100, bin 9 holds 90..100 (11 values, cumBefore 89)
    //  -> est = 10 * (9 + (100-89)/11) = 100.0
    assert(out(1.0) == ((100L, 100.0)))
  }

  test("histogram clamps out-of-range values to the edge bins") {
    import graft.functions.Histogram
    val df = Seq(("g", -5.0), ("g", 0.0), ("g", 999.0)).toDF("grp", "v")
    val out = Histogram.quantilesPerGroup(df, col("grp"), col("v"),
        quantiles = Seq(1.0), lo = 0.0, hi = 10.0, bins = 10)
      .collect()
    // target 3 lands in the last bin (999 clamped there): est = 10.0
    assert(out.length == 1 && out(0).getLong(2) == 3L && out(0).getDouble(3) == 10.0)
  }

  test("CosineSimilarity is NULL on length mismatch and null elements, like the composed form") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (3L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("id", "va", "vb")
    val r = df.select(col("id"),
      VectorFunctions.cosine(col("va"), col("vb")).as("native"),
      VectorFunctions.cosineComposed(col("va"), col("vb")).as("composed"))
      .orderBy("id").collect()
    assert(r(0).isNullAt(1) && r(0).isNullAt(2)) // length mismatch
    assert(r(1).isNullAt(1) && r(1).isNullAt(2)) // null element
    assert(!r(2).isNullAt(1) && r(2).getDouble(1) == r(2).getDouble(2))
  }

  test("KlDrift.CountsAgg buckets OOV into the bounded last slot") {
    import graft.functions.KlDrift
    val ca = udaf(new KlDrift.CountsAgg(Seq("a", "b")))
    val df = Seq(("s1", Seq("a", "a", "zz")), ("s1", Seq("b", "qq")),
      ("s2", Seq("b"))).toDF("src", "toks")
    val out = df.groupBy(col("src")).agg(ca(col("toks")).as("cb"))
      .select(col("src"), col("cb.counts")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // buffer length is |vocab|+1 no matter the stream's vocabulary:
    // in-vocab counts in order, every unknown token in the last slot
    assert(out("s1") == Seq(2L, 1L, 2L))
    assert(out("s2") == Seq(0L, 1L, 0L))
  }

  test("MultiMatchCounts: the classic Aho-Corasick overlap case reports every hit") {
    import graft.functions.MultiMatchCounts
    val phrases = Seq("he", "she", "hers", "his")
    val rows = Seq(Some("ushers and his herds, she said"), Some(""), None)
      .toDF("t")
      .select(col("t"), MultiMatchCounts(col("t"), phrases).as("c"))
      .collect()
    val full = rows.find(r => !r.isNullAt(0) && r.getString(0).nonEmpty)
      .get.getSeq[Long](1)
    // "ushers": she, he, hers; "his": his; "herds": he; "she": she, he
    assert(full == Seq(3L, 2L, 1L, 1L),
      s"got $full for ${phrases.mkString(",")}")
    assert(rows.find(r => !r.isNullAt(0) && r.getString(0).isEmpty)
      .get.getSeq[Long](1) == Seq(0L, 0L, 0L, 0L))
    assert(rows.exists(_.isNullAt(1)))
  }

  test("MultiMatchCounts: overlapping occurrences of a bordered phrase all count") {
    import graft.functions.MultiMatchCounts
    // "aba" in "ababa" occurs at 0 and 2 (overlapping) — the automaton
    // reports both; replace()-arithmetic would see one, which is why
    // oracle-gated uses pick border-free phrases
    val c = Seq("ababa").toDF("t")
      .select(MultiMatchCounts(col("t"), Seq("aba")).as("c"))
      .collect()(0).getSeq[Long](0)
    assert(c == Seq(2L))
  }

  test("MultiMatchCounts: phrase-list contracts are loud") {
    import graft.functions.MultiMatchCounts
    intercept[IllegalArgumentException](
      MultiMatchCounts(col("t"), Seq.empty))
    intercept[IllegalArgumentException](
      MultiMatchCounts(col("t"), Seq("a", "")))
    intercept[IllegalArgumentException](
      MultiMatchCounts(col("t"), Seq("a", "a")))
  }

  test("metaRobots: case/order/fold/decoy; extractFollowHrefs drops no-weight rels only") {
    import TestSpark.spark.implicits._
    val html =
      "<html><head>" +
        "<META CONTENT=\" NoIndex , noFollow \" NAME=\"robots\">" + // reversed order, case, padding
        "<meta name=\"robots\" content=\"noarchive\">" +            // second meta folds
        "<meta name=\"description\" content=\"noindex\">" +         // decoy: name != robots
        "</head><body>" +
        "<a href=\"https://a.com/1\">x</a>" +
        "<a rel=\"nofollow\" href=\"https://a.com/2\">x</a>" +
        "<a rel=\"noopener SPONSORED\" href=\"https://a.com/3\">x</a>" +
        "<a rel=\"ugc\" href=\"https://a.com/4\">x</a>" +
        "<a rel=\"noopener\" href=\"https://a.com/5\">x</a>" +      // decoy rel: keeps
        "<a rel=\"nofollowed\" href=\"https://a.com/6\">x</a>" +    // token boundary: keeps
        "<!-- <a href=\"https://a.com/7\">commented out</a> -->" +
        "</body></html>"
    val row = Seq(html).toDF("h").select(
      TextFunctions.metaRobots(col("h")).as("m"),
      TextFunctions.extractFollowHrefs(col("h")).as("f"),
      TextFunctions.extractHrefs(col("h")).as("all"))
      .as[(Seq[String], Seq[String], Seq[String])].collect().head
    assert(row._1.toSet == Set("noindex", "nofollow", "noarchive"))
    assert(row._2 == Seq("https://a.com/1", "https://a.com/5",
      "https://a.com/6"))
    // the full harvest keeps every live href (6 anchors, comment dead)
    assert(row._3.size == 6)
    // no robots meta at all: empty tokens, default-permissive flags
    val none = Seq("<html><body>plain</body></html>").toDF("h")
      .select(graft.graph.LinkGraph.robotsDirectiveFlags(
        TextFunctions.metaRobots(col("h")), lit(null).cast("string")).as("f"))
      .select(col("f.noindex"), col("f.nofollow"))
      .as[(Boolean, Boolean)].collect().head
    assert(none == ((false, false)))
    // header-only directives bind; 'none' means both
    val hdr = Seq("<html></html>").toDF("h")
      .select(graft.graph.LinkGraph.robotsDirectiveFlags(
        TextFunctions.metaRobots(col("h")), lit(" NONE ")).as("f"))
      .select(col("f.noindex"), col("f.nofollow"))
      .as[(Boolean, Boolean)].collect().head
    assert(hdr == ((true, true)))
  }

  test("metaRefresh: delay/url forms, first wins, decoys and bare reloads distinct") {
    import TestSpark.spark.implicits._
    def parse(html: String): Option[(Long, Option[String])] =
      Seq(html).toDF("h")
        .select(TextFunctions.metaRefresh(col("h")).as("r"))
        .select(col("r.delay_s"), col("r.target"))
        .collect().headOption.flatMap { r =>
          if (r.isNullAt(0)) None
          else Some((r.getLong(0), Option(r.getString(1))))
        }
    assert(parse("<meta http-equiv=\"refresh\" content=\"0; url=https://a/b\">")
      == Some((0L, Some("https://a/b"))))
    // quoted URL, case variants, no space after the semicolon
    assert(parse("<META HTTP-EQUIV=\"Refresh\" CONTENT=\"5;URL='https://a/c'\">")
      == Some((5L, Some("https://a/c"))))
    // bare delay: a reload hint, not a target
    assert(parse("<meta http-equiv=\"refresh\" content=\"30\">")
      == Some((30L, None)))
    // first refresh wins over a second one
    assert(parse("<meta http-equiv=\"refresh\" content=\"0; url=https://a/1\">" +
      "<meta http-equiv=\"refresh\" content=\"0; url=https://a/2\">")
      == Some((0L, Some("https://a/1"))))
    // http-equiv decoys and data- attributes never bind
    assert(parse("<meta http-equiv=\"Content-Type\" content=\"text/html\">")
      == None)
    assert(parse("<meta data-http-equiv=\"refresh\" content=\"0; url=https://a/x\">")
      == None)
    assert(parse("<html>no meta at all</html>") == None)
  }

  test("relCanonical: first wins, guarded rel; root/protocol-relative bind, path-relative means self") {
    import TestSpark.spark.implicits._
    import graft.graph.LinkGraph
    val pages = Seq(
      (1L, "https://s.com/p/1",
        "<link rel=\"canonical\" href=\"https://S.COM:443/p/one?utm_source=z\">"),
      (2L, "https://s.com/p/2", "<link rel=\"stylesheet\" href=\"https://c/x.css\">"),
      (3L, "https://s.com/p/3", "<link rel=\"canonical\" href=\"page/only\">"),
      (4L, "https://s.com/p/4",
        "<link data-rel=\"canonical\" href=\"https://evil/x\">" +
          "<link rel=\"canonical\" href=\"https://s.com/real\">" +
          "<link rel=\"canonical\" href=\"https://evil/second\">"),
      (5L, "https://s.com/p/5",
        "<link rel=\"canonical\" href=\"/clean/five\">"),
      (6L, "https://s.com/p/6",
        "<link rel=\"canonical\" href=\"//t.com/six\">"),
      (7L, "https://s.com/p/7",
        "<link rel=\"canonical\" href=\"javascript:void(0)\">"))
      .toDF("doc_id", "page_url", "html")
    val out = LinkGraph.relCanonical(pages, col("page_url"), col("html"),
        col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "https://s.com/p/one") // messy declaration canonicalizes
    assert(out(2L) == "https://s.com/p/2")   // stylesheet decoy -> self
    assert(out(3L) == "https://s.com/p/3")   // PATH-relative -> self (safe default)
    assert(out(4L) == "https://s.com/real")  // data-rel skipped, first real wins
    assert(out(5L) == "https://s.com/clean/five") // root-relative binds
    assert(out(6L) == "https://t.com/six")        // protocol-relative binds
    assert(out(7L) == "https://s.com/p/7")   // non-fetchable scheme -> self
  }

  test("ResolveHref: RFC 3986 resolution — scheme/protocol/root/path-relative, dot segments, drops") {
    import graft.functions.ResolveHrefUtil.{removeDotSegments, resolve}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def r(base: String, ref: String, pathRel: Boolean = true): String = {
      val out = resolve(u(base), u(ref), pathRel)
      if (out == null) null else out.toString
    }
    val base = "https://h.com/a/b/page?q=1#top"
    // absolute passes verbatim; non-hierarchical schemes drop
    assert(r(base, "HTTP://X.com/Y") == "HTTP://X.com/Y")
    assert(r(base, "mailto:x@y.com") == null)
    assert(r(base, "javascript:void(0)") == null)
    assert(r(base, "data:text/plain,hi") == null)
    assert(r(base, "tel:+155501") == null)
    // protocol-relative inherits the scheme; root-relative the authority
    assert(r(base, "//cdn.com/z") == "https://cdn.com/z")
    assert(r("http://h.com/p", "//cdn.com/z") == "http://cdn.com/z")
    assert(r(base, "/x/y") == "https://h.com/x/y")
    assert(r(base, "/x/../y") == "https://h.com/y")
    // query-only replaces the query, keeps the path (pagination links)
    assert(r(base, "?page=2") == "https://h.com/a/b/page?page=2")
    // fragment-only is a self-reference, not an edge
    assert(r(base, "#sec") == null)
    // path-relative merges with the base DIRECTORY + dot-removal
    assert(r(base, "x/y") == "https://h.com/a/b/x/y")
    assert(r(base, "./x") == "https://h.com/a/b/x")
    assert(r(base, "../y") == "https://h.com/a/y")
    assert(r(base, "../../y") == "https://h.com/y")
    assert(r(base, "../../../y") == "https://h.com/y") // excess .. -> root
    assert(r(base, "x/../y/./z") == "https://h.com/a/b/y/z")
    assert(r(base, "x?k=2#f") == "https://h.com/a/b/x?k=2#f")
    // authority-only base: directory is '/'
    assert(r("https://h.com", "x") == "https://h.com/x")
    assert(r("https://h.com", "/x") == "https://h.com/x")
    // alias-target mode: path-relative declines instead of guessing
    assert(r(base, "x/y", pathRel = false) == null)
    assert(r(base, "/x/y", pathRel = false) == "https://h.com/x/y")
    assert(r(base, "//t.com/x", pathRel = false) == "https://t.com/x")
    // a base that is not hierarchical cannot anchor anything
    assert(r("mailto:x@y.com", "/x") == null)
    assert(r("not a url", "x") == null)
    assert(resolve(null, u("x"), true) == null)
    assert(r(base, "   ") == null)
    // <base href> extraction: first LIVE base wins; comments and a
    // second base never bind; absent means empty
    val bh = Seq(
      "<html><head><!-- <base href=\"/dead/\"> --><base href=\"/b/\">" +
        "<base href=\"/evil/\"></head><body></body></html>",
      "<html><body>no base</body></html>",
      "<base href=https://cdn.example/root/>")
      .toDF("h")
      .select(TextFunctions.baseHref(col("h")).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(bh == Seq("/b/", null, "https://cdn.example/root/"))
    // removeDotSegments is the RFC algorithm exactly
    assert(removeDotSegments("/a/b/c/./../../g") == "/a/g")
    assert(removeDotSegments("/a/..") == "/")
    assert(removeDotSegments("/a/.") == "/a/")
    assert(removeDotSegments("/./") == "/")
    assert(removeDotSegments("/../a") == "/a")
    assert(removeDotSegments("mid/content=5/../6") == "mid/6")
  }

  test("attribute grammar: single-quoted and unquoted values bind; hyphenated rel tokens keep edges") {
    import TestSpark.spark.implicits._
    import graft.graph.LinkGraph
    // single-quoted and unquoted meta attributes must gate — an
    // unparsed noindex fails OPEN into the index (the ADVICE hazard)
    val metas = Seq(
      "<meta name='robots' content='noindex'>",
      "<meta name=robots content=nofollow>",
      "<meta name='robots' content=\"noarchive\">").map(h =>
      Seq(h).toDF("h").select(TextFunctions.metaRobots(col("h")).as("m"))
        .as[Seq[String]].collect().head)
    assert(metas(0) == Seq("noindex"))
    assert(metas(1) == Seq("nofollow"))
    assert(metas(2) == Seq("noarchive"))
    // rel: quote forms drop; hyphenated token keeps (space-delimited
    // token boundaries, not \b — '-' is a word boundary)
    val f = Seq(
      "<a rel='nofollow' href='https://a/1'>x</a>" +
        "<a rel=sponsored href=https://a/2>x</a>" +
        "<a rel=\"x-nofollow\" href=\"https://a/3\">x</a>" +
        "<a rel='ugc-ish' href='https://a/4'>x</a>" +
        "<a href=https://a/5>x</a>").toDF("h")
      .select(TextFunctions.extractFollowHrefs(col("h")).as("f"),
        TextFunctions.extractHrefs(col("h")).as("all"))
      .as[(Seq[String], Seq[String])].collect().head
    assert(f._1 == Seq("https://a/3", "https://a/4", "https://a/5"))
    assert(f._2.size == 5)
    // meta-refresh in single quotes, unquoted content delay
    val r = Seq(
      "<meta http-equiv='refresh' content='0; url=https://a/b'>",
      "<meta http-equiv=refresh content=30>").map(h =>
      Seq(h).toDF("h")
        .select(TextFunctions.metaRefresh(col("h")).as("r"))
        .select(col("r.delay_s"), col("r.target")).collect().head)
    assert(r(0).getLong(0) == 0L && r(0).getString(1) == "https://a/b")
    assert(r(1).getLong(0) == 30L && r(1).isNullAt(1))
    // attr=token TEXT inside another attribute's BARE value must not
    // bind as an attribute: the anchor keeps its edge, and the full
    // harvest captures the whole query-bearing URL
    val bare = Seq(
      "<a href=https://e.com/out?rel=nofollow>x</a>" +
        "<meta content=see-name=robots-docs>").toDF("h")
      .select(TextFunctions.extractFollowHrefs(col("h")).as("f"),
        TextFunctions.metaRobots(col("h")).as("m"))
      .as[(Seq[String], Seq[String])].collect().head
    assert(bare._1 == Seq("https://e.com/out?rel=nofollow"))
    assert(bare._2 == Seq())
    // rel=canonical in single quotes and as a token inside a list
    val c = Seq(
      (1L, "https://s.com/p/1",
        "<link rel='canonical' href='https://s.com/real'>"),
      (2L, "https://s.com/p/2",
        "<link rel=\"alternate canonical\" href=\"https://s.com/alt\">"))
      .toDF("doc_id", "page_url", "html")
    val got = LinkGraph.relCanonical(c, col("page_url"), col("html"),
        col("doc_id"))
      .collect().map(r2 => r2.getLong(0) -> r2.getString(2)).toMap
    assert(got(1L) == "https://s.com/real")
    assert(got(2L) == "https://s.com/alt")
  }

  test("ResolveHref COLUMN path: a null base keeps absolute edges (no BinaryExpression null-propagation)") {
    // the util resolves a scheme'd ref BEFORE consulting the base, so
    // the Column/codegen form must too — a null page_url row loses its
    // relative edges (no anchor) but NEVER its absolute ones
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (null.asInstanceOf[String], "https://abs.com/x"), // absolute survives
      (null.asInstanceOf[String], "//cdn.com/z"),       // no scheme to inherit
      (null.asInstanceOf[String], "/root"),             // no authority
      (null.asInstanceOf[String], "rel/x"),             // no directory
      (null.asInstanceOf[String], "mailto:x@y"),        // non-hierarchical
      ("https://h.com/a/", null.asInstanceOf[String]))  // null ref drops
      .toDF("base", "ref")
    val out = df.select(
        graft.functions.ResolveHref(col("base"), col("ref")).as("r"))
      .collect().map(r => Option(r.getString(0)).orNull).toSeq
    assert(out == Seq("https://abs.com/x", null, null, null, null, null))
    // interpreted eval path (no codegen) agrees with the util
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val e = graft.functions.ResolveHref(
      Literal.create(null, StringType),
      Literal(UTF8String.fromString("https://abs.com/x"), StringType),
      allowPathRelative = true)
    assert(e.eval(null) == UTF8String.fromString("https://abs.com/x"))
    assert(graft.functions.ResolveHref(
      Literal.create(null, StringType),
      Literal.create(null, StringType), allowPathRelative = true)
      .eval(null) == null)
  }

  test("UnicodeNormalize: NFC collapses decomposed twins and composes singletons") {
    import TestSpark.spark.implicits._
    import graft.functions.UnicodeNormalize
    val composed = "café résumé naïve"
    val decomposed = "café résumé naïve"
    val rows = Seq(composed, decomposed, "Ångström").toDF("t")
      .select(UnicodeNormalize.nfc(col("t")).as("n"))
      .as[String].collect()
    assert(rows(0) == composed && rows(1) == composed)
    // the Angstrom SIGN U+212B composes to the letter U+00C5
    assert(rows(2) == "Ångström")
    // downstream keying collapses: dedup hash, shingles, tokenizer
    // word seeding all read the SAME bytes after the projection
    val twins = Seq((1L, composed + " x y z"), (2L, decomposed + " x y z"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), UnicodeNormalize.nfc(col("text")).as("norm"))
    assert(twins.select(md5(col("norm"))).distinct().count() == 1)
    assert(twins.select(TextFunctions.shingles(col("norm"), 3))
      .distinct().count() == 1)
    val enc = twins.select(graft.functions.WordPieceEncode(col("norm"),
      Seq("caf", "##é", "##é", "x", "y", "z")).as("e"))
      .as[String].collect()
    assert(enc(0) == enc(1))
  }

  test("UnicodeNormalize: ASCII fast path returns the input unchanged, allocation-free") {
    import graft.functions.UnicodeNormalizeUtil
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString("plain ascii text 123")
    val out = UnicodeNormalizeUtil.normalize(u, java.text.Normalizer.Form.NFC,
      casefold = false)
    assert(out eq u) // identity, not an equal copy
    // and over a frame: un-normalized paths unchanged for ASCII
    import TestSpark.spark.implicits._
    import graft.functions.UnicodeNormalize
    val docs = Tables.documents(spark, TestSpark.sf)
    assert(docs.filter(UnicodeNormalize.nfc(col("text")) =!= col("text"))
      .isEmpty)
  }

  test("UnicodeNormalize: NFKC folds compatibility forms; casefold stacks for keying") {
    import TestSpark.spark.implicits._
    import graft.functions.UnicodeNormalize
    val rows = Seq("ﬁle №4 ＡBC").toDF("t")
      .select(UnicodeNormalize.nfkc(col("t")).as("n"),
        UnicodeNormalize.nfkcCasefold(col("t")).as("cf"))
      .as[(String, String)].collect().head
    assert(rows._1 == "file №4 ABC" ||
      rows._1 == "file No4 ABC") // U+2116 folds to 'No' under NFKC
    assert(rows._2 == rows._1.toLowerCase(java.util.Locale.ROOT))
    // NFC must NOT fold compatibility characters (display-safe)
    val nfc = Seq("ﬁle").toDF("t")
      .select(UnicodeNormalize.nfc(col("t"))).as[String].collect().head
    assert(nfc == "ﬁle")
    // an unknown form name is a loud construction error
    intercept[IllegalArgumentException](
      UnicodeNormalize(col("t"), "NFX", casefold = false))
  }

  test("nfkcCasefold re-normalizes after folding: canonically-equivalent inputs share one key") {
    import TestSpark.spark.implicits._
    import graft.functions.UnicodeNormalize
    // J+combining-caron has NO precomposed form, so it survives NFKC;
    // lowercasing yields j+caron, which MUST re-compose to U+01F0 (ǰ)
    // — without the re-normalization pass the two canonically
    // equivalent spellings get different dedup keys
    val keys = Seq("J̌", "ǰ").toDF("t")
      .select(UnicodeNormalize.nfkcCasefold(col("t")).as("k"))
      .as[String].collect()
    assert(keys(0) == keys(1) && keys(0) == "ǰ")
    // ASCII casefold stays the plain lowercase fast path
    val a = Seq("MiXeD ascii 123").toDF("t")
      .select(UnicodeNormalize.nfkcCasefold(col("t"))).as[String]
      .collect().head
    assert(a == "mixed ascii 123")
  }

  test("metaRobots/extractFollowHrefs ignore data-name/data-rel attributes; null meta never swallows a header directive") {
    import TestSpark.spark.implicits._
    val html =
      "<html><head><meta data-name=\"robots\" content=\"noindex\"></head>" +
        "<body><a data-rel=\"nofollow\" href=\"https://a.com/1\">x</a>" +
        "</body></html>"
    val row = Seq(html).toDF("h").select(
      TextFunctions.metaRobots(col("h")).as("m"),
      TextFunctions.extractFollowHrefs(col("h")).as("f"))
      .as[(Seq[String], Seq[String])].collect().head
    // '-' is a \\b word boundary: a \\bname/\\brel match would bind both
    assert(row._1.isEmpty, s"data-name bound as robots meta: ${row._1}")
    assert(row._2 == Seq("https://a.com/1"),
      s"data-rel dropped a followed anchor: ${row._2}")
    // a NULL meta token array must not null the union: the header
    // noindex still binds
    val flags = Seq(Option.empty[Seq[String]]).toDF("m")
      .select(graft.graph.LinkGraph.robotsDirectiveFlags(
        col("m").cast("array<string>"), lit("noindex")).as("f"))
      .select(col("f.noindex"), col("f.nofollow"))
      .as[(Boolean, Boolean)].collect().head
    assert(flags == ((true, false)))
  }

  test("kernel calls: codegen == NO_CODEGEN with nulls, equal calls compare equal, a mistyped input fails analysis uncast") {
    import graft.functions._
    import org.apache.spark.sql.AnalysisException
    // spark.range, not a local Seq: a LocalRelation input would be
    // constant-folded on the driver through the interpreted path
    val words = array(
      Seq("alpha", "beta", "gamma", "e\u0301t\u00e9", "ﬁle", "Δelta").map(lit): _*)
    val frame = spark.range(0, 48, 1, 2).select(
      col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(concat_ws(" ",
        transform(sequence(lit(0), (col("id") % 6).cast("int")),
          i => element_at(words, (pmod(col("id") + i, lit(6)) + 1).cast("int"))))).as("text"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(lpad(bin(col("id") % 16), 4, "0")).as("ca"),
      lpad(bin(col("id") * 7 % 16), 4, "0").as("cb"),
      when(col("id") % 6 === 0, lit(null))
        .otherwise(concat(lit("/a/"), col("id").cast("string"))).as("path"),
      when(col("id") % 3 === 0, lit("/a/*1$")).otherwise(lit("/a/1")).as("pattern"),
      when(col("id") % 4 === 0, lit(null)).otherwise(col("id") * 3).as("y"))
      .withColumn("bin", encode(col("text"), "UTF-8"))
      .withColumn("gz", GzipBytes(col("bin")))
    val t = col("text")
    val kernels = Seq[(String, () => Column, Column)](
      ("BpeEncode", () => BpeEncode(t, Seq(("a", "l"), ("al", "p"))),
        BpeEncode(col("id"), Nil)),
      ("DeflateBytes", () => DeflateBytes(col("bin"), raw = true), DeflateBytes(t, raw = false)),
      ("GunzipText", () => GunzipText(col("gz")), GunzipText(t)),
      ("GzipBytes", () => GzipBytes(col("bin")), GzipBytes(t)),
      ("HammingBits", () => HammingBits(col("ca"), col("cb")),
        HammingBits(col("id"), col("cb"))),
      ("MimeSniff", () => MimeSniff(col("bin")), MimeSniff(t)),
      ("MinHashSignature", () => MinHashSignature(t, 2, 4),
        MinHashSignature(col("id"), 2, 4)),
      ("MultiMatchCounts", () => MultiMatchCounts(t, Seq("a", "et")),
        MultiMatchCounts(col("id"), Seq("a"))),
      ("RobotsMatch", () => RobotsMatch(col("path"), col("pattern")),
        RobotsMatch(col("id"), col("pattern"))),
      ("ShingleHash40", () => ShingleHash40(t, 2), ShingleHash40(col("bin"), 2)),
      ("ShingleMd5", () => ShingleMd5(t, 2), ShingleMd5(col("id"), 2)),
      ("SimHash", () => SimHash(t, 16), SimHash(col("id"), 16)),
      ("UnicodeNormalize", () => UnicodeNormalize.nfkcCasefold(t),
        UnicodeNormalize.nfc(col("bin"))),
      ("UnigramEncode", () => UnigramEncode(t, Seq(("al", -1000000L), ("pha", -2000000L))),
        UnigramEncode(col("id"), Seq(("a", -1L)))),
      ("WordPieceEncode", () => WordPieceEncode(t, Seq("al", "##pha", "beta")),
        WordPieceEncode(col("id"), Seq("a"))),
      ("ZOrderCode", () => ZOrderCode(col("id"), col("y"), 8),
        ZOrderCode(col("bin"), col("y"), 8)),
      ("ZstdBytes", () => ZstdBytes(col("bin")), ZstdBytes(t)))
    def rows(k: Column): Seq[Seq[Any]] =
      frame.select(col("id"), k.as("k")).orderBy("id").collect().toSeq
        .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    kernels.foreach { case (name, good, bad) =>
      val plan = frame.select(good()).queryExecution.executedPlan.toString
      assert(plan.contains("*(") && plan.contains("static_invoke"), s"$name: $plan")
      // two calls with the same arguments are one expression to Catalyst
      val twice = frame.select(good(), good()).queryExecution.analyzed.expressions
        .map(_.children.head)
      assert(twice.head.semanticEquals(twice(1)), name)
      val codegen = rows(good())
      assert(codegen.exists(_(1) == null) && codegen.exists(_(1) != null), name)
      val interpreted = try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        rows(good())
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
      assert(codegen == interpreted, name)
      val e = intercept[AnalysisException](frame.select(bad))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$name: ${e.getMessage}")
    }
  }
}
