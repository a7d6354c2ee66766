package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.CorpusOps

class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("phraseSearch finds consecutive positions only, counting all starts") {
    import graft.text.CorpusOps
    val docs = Seq((1L, "a b a b"), (2L, "a x b"), (3L, "b a")).toDF("id", "t")
    val idx = CorpusOps.invertedIndexPositional(docs, col("id"), col("t"))
    def run(phrases: Seq[(String, Seq[String])]) =
      CorpusOps.phraseSearch(idx, phrases)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // "a b" occurs twice in doc 1 (starts 1, 3), never in docs 2/3
    assert(run(Seq(("p", Seq("a", "b")))) == Map(("p", 1L) -> 2L))
    // reversed order is a different phrase
    assert(run(Seq(("p", Seq("b", "a")))) == Map(("p", 1L) -> 1L, ("p", 3L) -> 1L))
    // repeated-term phrase: "a b a" has exactly one start in doc 1
    assert(run(Seq(("p", Seq("a", "b", "a")))) == Map(("p", 1L) -> 1L))
    // gap breaks the phrase: doc 2's a..b is not consecutive
    assert(!run(Seq(("p", Seq("a", "b")))).contains(("p", 2L)))
  }

  test("booleanSearch AND requires every term, OR any, from the index alone") {
    import graft.text.CorpusOps
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "c d"), (4L, "x")).toDF("id", "t")
    val idx = CorpusOps.invertedIndex(docs, col("id"), col("t"))
    val qs = Seq(("q1", Seq("a", "b")), ("q2", Seq("c")))
    val andHits = CorpusOps.booleanSearch(idx, qs, mode = "and")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(andHits == Set(("q1", 1L), ("q1", 2L), ("q2", 1L), ("q2", 3L)))
    val orHits = CorpusOps.booleanSearch(idx, qs, mode = "or")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 matches both of q1's terms, docs 2 matches both, none partial
    // except... add a partial: doc with only 'a'
    assert(orHits.contains(("q1", 1L, 2L)) && orHits.contains(("q2", 3L, 1L)))
    val partial = CorpusOps.booleanSearch(
        CorpusOps.invertedIndex(Seq((5L, "a z")).toDF("id", "t"), col("id"), col("t")),
        Seq(("q1", Seq("a", "b"))), mode = "or")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(partial.toSeq == Seq(("q1", 5L, 1L))) // OR keeps the partial match
    val partialAnd = CorpusOps.booleanSearch(
        CorpusOps.invertedIndex(Seq((5L, "a z")).toDF("id", "t"), col("id"), col("t")),
        Seq(("q1", Seq("a", "b"))), mode = "and").count()
    assert(partialAnd == 0) // AND drops it
  }

  test("chunkForRag windows overlap by window-stride and stop at the end") {
    import graft.text.CorpusOps
    val docs = Seq((1L, "t1 t2 t3 t4 t5"), (2L, "a b"), (3L, "x y z w")).toDF("id", "txt")
    val out = CorpusOps.chunkForRag(docs, col("id"), col("txt"), window = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    // doc 1 (5 toks): ceil((5-3)/2)=1 extra chunk → [t1..t3], [t3..t5]
    assert(out((1L, 0L)) == ("t1 t2 t3", 3L))
    assert(out((1L, 1L)) == ("t3 t4 t5", 3L))
    // doc 2 (2 toks ≤ window): single short chunk
    assert(out((2L, 0L)) == ("a b", 2L))
    // doc 3 (4 toks): [x y z], [z w] — last window short, no tail beyond
    assert(out((3L, 0L)) == ("x y z", 3L))
    assert(out((3L, 1L)) == ("z w", 2L))
    assert(out.size == 5)
  }

  test("bpeTrainMerges learns textbook Sennrich merges, stops when exhausted") {
    import graft.text.CorpusOps
    val docs = Seq("ab ab abc", "ab").toDF("text")
    // vocab ab:3, abc:1 → pairs (a,b):4, (b,c):1 → merge 1 = (a,b) @ 4
    // then [ab]:3, [ab,c]:1 → merge 2 = (ab,c) @ 1 → round 3 has no
    // pairs left: training stops early instead of emitting a phantom
    val m = CorpusOps.bpeTrainMerges(docs, col("text"), numMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq((1L, "a", "b", "ab", 4L), (2L, "ab", "c", "abc", 1L)))
    // simultaneous left-to-right application: aaaa merges to [aa, aa]
    // (4 -> 3 pair occurrences counted, the overlapping-pair rule)
    val m2 = CorpusOps.bpeTrainMerges(Seq("aaaa").toDF("text"), col("text"),
        numMerges = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(m2.toSeq == Seq((1L, "aa", 3L), (2L, "aaaa", 1L)))
    // loud vocab guard
    val e = intercept[IllegalArgumentException] {
      CorpusOps.bpeTrainMerges(Seq("a b c d e").toDF("text"), col("text"),
        numMerges = 1, maxVocab = 2)
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  test("bpeEncode applies merges in rank order, round-trips, matches the column kernel") {
    import graft.text.CorpusOps
    // textbook example: merges learned on this corpus are
    // 1:(l,o)→lo 2:(lo,w)→low (lower/lowest keep their suffixes split)
    val docs = Seq((1L, "low lower low lowest"), (2L, "low low"),
      (3L, ""), (4L, "x")).toDF("id", "text")
    val merges = CorpusOps.bpeMergeTable(
      CorpusOps.bpeTrainMerges(docs, col("text"), numMerges = 2))
    assert(merges == Seq(("l", "o"), ("lo", "w")))
    val enc = CorpusOps.bpeEncode(docs, col("id"), col("text"), merges)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // 'low' fully merges; 'lower'/'lowest' merge the shared stem only
    assert(enc(1L) == ("low low e r low low e s t", 9L))
    assert(enc(2L) == ("low low", 2L))
    assert(enc(3L) == ("", 0L)) // empty doc: empty stream, not null
    assert(enc(4L) == ("x", 1L)) // untouched word passes through split to chars
    // merge order matters: rank order must be preserved, not sorted
    val ooo = CorpusOps.bpeEncode(docs, col("id"), col("text"),
        Seq(("o", "w"), ("l", "o"))) // (o,w) first: 'low' → l ow
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ooo(2L) == "l ow l ow")
    // round trip: concatenating each word's symbols recovers the word
    val words = docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .distinct()
    val rt = CorpusOps.bpeEncode(words, col("w"), col("w"), merges)
      .collect().map(r => (r.getString(0), r.getString(1)))
    rt.foreach { case (w, e) => assert(e.replace(" ", "") == w, s"round trip of '$w'") }
    // the JVM kernel and the chained-regexp column kernel are two
    // independent executions of the same semantics — pin equality on
    // the corpus plus an astral-plane word (code-point seeding)
    val mixed = docs.union(Seq((5L, "a😀b low")).toDF("id", "text"))
    val both = mixed.select(col("id"),
        graft.functions.BpeEncode(col("text"), merges).as("k"),
        CorpusOps.bpeEncodeColumn(col("text"), merges).as("c"))
      .collect()
    both.foreach(r => assert(r.getString(1) == r.getString(2), s"id ${r.getLong(0)}"))
    assert(both.find(_.getLong(0) == 5L).get.getString(1) == "a 😀 b low")
    // '/' is the column form's sentinel: slash-bearing text must fail
    // LOUDLY there (silent divergence is the bug), while the JVM
    // kernel — which has no sentinel — encodes it as a plain symbol
    val slash = Seq((6L, "a/b")).toDF("id", "text")
    val e = intercept[Exception] {
      TestSpark.quietly(
        slash.select(CorpusOps.bpeEncodeColumn(col("text"), merges)).collect())
    }
    assert(e.getMessage.contains("sentinel"))
    assert(slash.select(graft.functions.BpeEncode(col("text"), merges))
      .collect()(0).getString(0) == "a / b")
    intercept[IllegalArgumentException] {
      CorpusOps.bpeEncodeColumn(col("text"), Seq(("a/", "b")))
    }
  }

  test("byte-level BPE: printable-ASCII agreement with char level; byte seeding on non-ASCII") {
    import graft.text.CorpusOps
    import graft.functions.ByteAlphabet
    // the GPT-2 alphabet is a bijection: 256 distinct one-char symbols,
    // identity exactly on printable Latin-1, decode inverts seed
    assert(ByteAlphabet.chars.length == 256)
    assert(ByteAlphabet.chars.distinct.length == 256)
    assert(ByteAlphabet.chars.forall(_.length == 1))
    ("!aZ9~/".getBytes("UTF-8")).foreach(b =>
      assert(ByteAlphabet.chars(b & 0xFF) == String.valueOf(b.toChar)))
    assert(ByteAlphabet.chars(' '.toInt) != " ") // space is NOT printable here
    Seq("café", "日本語", "a😀b", "smörgås", "данные").foreach { w =>
      assert(ByteAlphabet.decode(ByteAlphabet.seed(w).mkString("")) == w,
        s"seed/decode round trip of '$w'")
    }
    // multi-byte seeding: one symbol per UTF-8 BYTE (2 for é, 3 per
    // CJK char, 4 for an astral emoji) where char level has one per
    // code point
    assert(ByteAlphabet.seed("é").length == 2)
    assert(ByteAlphabet.seed("日本語").length == 9)
    assert(ByteAlphabet.seed("😀").length == 4)
    assert(graft.functions.BpeKernel.seed("日本語").length == 3)
    // printable-ASCII corpus: byte-level seeding IS char-level seeding,
    // so training and encoding agree exactly (the equivalence that
    // makes byte level a safe default)
    val ascii = Seq((1L, "low lower low lowest"), (2L, "low low"),
      (3L, "mix: max! 42~")).toDF("id", "text")
    val charM = CorpusOps.bpeMergeTable(
      CorpusOps.bpeTrainMerges(ascii, col("text"), numMerges = 4))
    val byteM = CorpusOps.bpeMergeTable(
      CorpusOps.bpeTrainMerges(ascii, col("text"), numMerges = 4,
        byteLevel = true))
    assert(byteM == charM, "byte == char merges on printable ASCII")
    val encPair = ascii.select(col("id"),
        graft.functions.BpeEncode(col("text"), charM).as("c"),
        graft.functions.BpeEncode.bytes(col("text"), byteM).as("b"))
      .collect()
    encPair.foreach(r => assert(r.getString(1) == r.getString(2),
      s"byte == char encoding on ASCII id ${r.getLong(0)}"))
    // non-ASCII corpus: byte level learns merges over BYTE symbols —
    // 'über über über' pairs are (Ã,¼),(¼,b),(b,e),(e,r); char level
    // never sees Ã or ¼. Encoding with NO merges emits the raw byte
    // symbols, and words re-assemble through the alphabet decode.
    val uni = Seq((1L, "über über über")).toDF("id", "text")
    val bm = CorpusOps.bpeMergeTable(
      CorpusOps.bpeTrainMerges(uni, col("text"), numMerges = 1,
        byteLevel = true))
    // count 3 for every adjacent pair; tie-break (left, right) picks
    // the lexicographically least left symbol: 'b' < 'e' < 'Ã¼'-bytes
    assert(bm == Seq(("b", "e")))
    val rawSyms = CorpusOps.bpeEncodeAt(uni, col("id"), col("text"),
        Seq.empty, byteLevel = true)
      .collect()(0)
    assert(rawSyms.getString(1).split(" ").take(5).toSeq ==
      ByteAlphabet.seed("über").toSeq)
    assert(rawSyms.getLong(2) == 15L) // 3 words × 5 bytes
    // byte-level fertility prices multi-byte scripts correctly: the
    // CJK word is 3 whitespace-words → 9 byte symbols (fertility 3000
    // permille with no merges) where char level reads 1000
    val cjk = Seq((1L, "日 本 語")).toDF("id", "text")
    val fb = CorpusOps.tokenizerFertility(cjk, col("id"), col("text"),
        lit("g"), Seq.empty, byteLevel = true).collect()(0)
    val fc = CorpusOps.tokenizerFertility(cjk, col("id"), col("text"),
        lit("g"), Seq.empty).collect()(0)
    assert(fb.getAs[Long]("fertility_permille") == 3000L)
    assert(fc.getAs[Long]("fertility_permille") == 1000L)
  }

  test("BPE model artifact round-trips; load restores rank order from any file layout") {
    import graft.text.CorpusOps
    val docs = Seq((1L, "low lower low lowest"), (2L, "low low")).toDF("id", "text")
    val trained = CorpusOps.bpeTrainMerges(docs, col("text"), numMerges = 2)
    val dir = graft.sources.Sinks.tempArtifactDir("bpe_model_spec")
    CorpusOps.saveBpeModel(trained, dir)
    assert(CorpusOps.loadBpeModel(spark, dir) ==
      CorpusOps.bpeMergeTable(trained))
    // rank order IS the model: save a deliberately SCRAMBLED frame —
    // load must restore training order, not file order
    val scrambled = graft.sources.Sinks.tempArtifactDir("bpe_model_scr")
    CorpusOps.saveBpeModel(trained.orderBy(col("rank").desc), scrambled)
    assert(CorpusOps.loadBpeModel(spark, scrambled) == Seq(("l", "o"), ("lo", "w")))
    // a model-served encode is indistinguishable from the in-memory one
    val viaModel = CorpusOps.bpeEncode(docs, col("id"), col("text"),
      CorpusOps.loadBpeModel(spark, scrambled)).collect().map(_.toString).sorted
    val inline = CorpusOps.bpeEncode(docs, col("id"), col("text"),
      CorpusOps.bpeMergeTable(trained)).collect().map(_.toString).sorted
    assert(viaModel.toSeq == inline.toSeq)
  }

  test("bpeEncode passthrough columns ride the encode projection, no join, no shuffle") {
    import graft.text.CorpusOps
    val docs = Seq((1L, "low lower", "web"), (2L, "low", "books"))
      .toDF("id", "text", "src")
    val merges = Seq(("l", "o"), ("lo", "w"))
    val enc = CorpusOps.bpeEncode(docs, col("id"), col("text"), merges, col("src"))
    assert(enc.columns.toSeq == Seq("doc_id", "bpe_text", "src", "n_bpe_tokens"))
    val rows = enc.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(rows(1L) == ("low low e r", "web", 4L))
    assert(rows(2L) == ("low", "books", 1L))
    // the passthrough is a PROJECTION of the same scan — the plan the
    // p70 tokenize→pack composition relies on has no exchange and no
    // join below the encode (provenance never costs a corpus self-join)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"encode stage must be map-side:\n$plan")
  }

  test("repetitionStats flags repeated text and passes diverse text") {
    val docs = Seq(
      (1L, "a a a a a a"),            // one token repeated: top_tok_frac 1.0
      (2L, "w x y z q r s t u v"),    // all distinct
      (3L, "ab cd ab cd ab cd"),      // repeated bigrams
      (4L, "")).toDF("id", "text")    // empty: both fractions 0
    val out = CorpusOps.repetitionStats(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getBoolean(3))).toMap
    // 5 bigrams, 1 distinct -> dup frac 0.8; 6/6 of tokens are the mode
    assert(out(1L) == (0.8, 1.0, true))
    assert(out(2L)._1 == 0.0 && out(2L)._2 == 0.1 && !out(2L)._3)
    // "ab cd ab cd ab cd": 5 bigrams, 2 distinct -> dup frac 0.6
    assert(out(3L)._1 == 0.6 && out(3L)._3)
    assert(out(4L) == (0.0, 0.0, false))
  }

  test("decontaminate flags only docs sharing an n-gram with the eval set") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),   // shares "quick brown fox"
      (2L, "totally different words here"),
      (3L, "quick brown fox quick brown fox")).toDF("id", "text") // 2 distinct leaks
    val eval_ = Seq((100L, "a quick brown fox runs")).toDF("id", "text")
    val out = CorpusOps.decontaminate(train, col("id"), col("text"),
        eval_, col("text"), n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true))
    assert(out(2L) == (0L, false))
    // doc 3 shares "quick brown fox" and "brown fox quick"? only the
    // former exists in eval; distinct hit count stays 1
    assert(out(3L) == (1L, true))
  }

  test("bloomDecontaminate equals the exact gate; sketch filter runs pre-exchange") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val train = docs.filter(col("doc_id") % 101 =!= 0)
    val eval_ = docs.filter(col("doc_id") % 101 === 0)
    val exact = CorpusOps.decontaminate(train, col("doc_id"), col("text"),
      eval_, col("text"), n = 3)
    val bloomed = CorpusOps.bloomDecontaminate(train, col("doc_id"), col("text"),
      eval_, col("text"), n = 3)
    // no false negatives (Bloom property) and no false positives (the
    // exact verify join): row-for-row identical to the exact gate
    assert(bloomed.exceptAll(exact).count() == 0 &&
      exact.exceptAll(bloomed).count() == 0)
    assert(bloomed.filter(col("contaminated")).count() > 0,
      "fixture should contain at least one leaked shingle")
    // the sketch prunes in the SCAN stage: at least one UDF filter node
    // sits strictly below every exchange (its subtree shuffles nothing)
    val plan = bloomed.queryExecution.sparkPlan
    val udfFilters = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.toLowerCase.contains("udf") => f
    }
    assert(udfFilters.nonEmpty, s"no bloom UDF filter in plan:\n$plan")
    assert(udfFilters.exists(_.collect {
      case e if e.nodeName.contains("Exchange") => e
    }.isEmpty), s"bloom filter not map-side:\n$plan")
  }

  test("decontaminateSpans merges overlapping+adjacent hits; scrubSpans cuts exactly those tokens") {
    val train = Seq(
      (1L, "a b c d e f g h i j"),   // hits at pos 2,3 -> one span [2,5]
      (2L, "p q r X X X s t u"),     // two separated spans [0,2], [6,8]
      (3L, "m n o v w x tail1 tail2"), // ABUTTING hits 0 and 3 -> one span [0,5]
      (4L, "nothing shared at all here")).toDF("id", "text")
    val eval_ = Seq("c d e f", "p q r", "s t u", "m n o", "v w x")
      .zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("id", "text")
    val spans = CorpusOps.decontaminateSpans(train, col("id"), col("text"),
        eval_, col("text"), n = 3)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq(
      (1L, 2L, 5L, 2L),            // "c d e" + "d e f" overlap-merge
      (2L, 0L, 2L, 1L), (2L, 6L, 8L, 1L),
      (3L, 0L, 5L, 2L)))           // coverage [0,2]+[3,5] abut -> merge
    val scrubbed = CorpusOps.scrubSpans(train, col("id"), col("text"),
        eval_, col("text"), n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(scrubbed.toSeq == Seq(
      (1L, 4L, "a b g h i j"),
      (2L, 6L, "X X X"),
      (3L, 6L, "tail1 tail2"),
      (4L, 0L, "nothing shared at all here")))
  }

  test("scrubSpansMapSide equals the span form; plan has no exchange") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val train = docs.filter(col("doc_id") % 101 =!= 0)
    val eval_ = docs.filter(col("doc_id") % 101 === 0)
    val viaSpans = CorpusOps.scrubSpans(train, col("doc_id"), col("text"),
      eval_, col("text"), n = 3)
    val mapSide = CorpusOps.scrubSpansMapSide(train, col("doc_id"), col("text"),
      CorpusOps.evalShingleHashes(eval_, col("text"), n = 3), n = 3)
    assert(mapSide.exceptAll(viaSpans).count() == 0 &&
      viaSpans.exceptAll(mapSide).count() == 0)
    // the ingest-time form is scan-only: nothing shuffles
    val p = mapSide.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"map-side scrub shuffled:\n$p")
  }

  test("scrubSpansFixpoint closes the seam leak a single scrub pass can synthesize") {
    // eval holds "p q r" AND "a b c"; cutting "p q r" out of
    // "a b p q r c z" glues a fresh "a b c" across the seam
    val train = Seq((1L, "a b p q r c z"), (2L, "u v w x y")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "p q r a b c")).toDF("doc_id", "text")
    val hashes = CorpusOps.evalShingleHashes(eval_, col("text"), n = 3)
    def leaks(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("doc_id"),
          explode(graft.functions.ShingleMd5(col("scrubbed"), 3)).as("h"))
        .filter(col("h").isin(hashes.toSeq: _*)).count()
    val once = CorpusOps.scrubSpansMapSide(train, col("doc_id"), col("text"),
      hashes, n = 3)
    // the single pass leaves the synthesized n-gram in place
    assert(once.filter(col("doc_id") === 1).select(col("scrubbed"))
      .head().getString(0) == "a b c z")
    assert(leaks(once) == 1)
    // the fixpoint re-gates the cut doc and removes it; clean docs and
    // uncut docs are untouched
    val fixed = CorpusOps.scrubSpansFixpoint(train, col("doc_id"), col("text"),
      hashes, n = 3)
    assert(leaks(fixed) == 0)
    val r1 = fixed.filter(col("doc_id") === 1).head()
    assert(r1.getAs[String]("scrubbed") == "z" && r1.getAs[Long]("n_dropped") == 6L)
    val r2 = fixed.filter(col("doc_id") === 2).head()
    assert(r2.getAs[String]("scrubbed") == "u v w x y" &&
      r2.getAs[Long]("n_dropped") == 0L)
  }

  test("selfDedupSpans keeps each repeated span's globally-first occurrence only") {
    val docs = Seq(
      (1L, "a b c d e"),              // the passage's first home
      (2L, "x y a b c d e z"),        // cross-doc copy at pos 2..6
      (3L, "p q r s p q r s"),        // within-doc repeat
      (4L, "totally unique words here")).toDF("doc_id", "text")
    val out = CorpusOps.selfDedupSpans(docs, col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (1L, 0L, "a b c d e"),          // globally first: kept verbatim
      (2L, 5L, "x y z"),              // later copy: the pasted span scrubs
      (3L, 4L, "p q r s"),            // second half scrubs, first stays
      (4L, 0L, "totally unique words here")))
    // IntegerType ids must not wrap in the packed key (shiftleft keeps
    // the input type; the pack multiplies in long space): an int id at
    // 5000 packs above 2^32 and the election stays exact
    val intIds = Seq((5000, "a b c d e"), (5001, "x y a b c d e z"))
      .toDF("doc_id", "text")
    val intOut = CorpusOps.selfDedupSpans(intIds, col("doc_id"), col("text"), n = 3)
      .select(col("doc_id").cast("long"), col("n_dropped"), col("deduped"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(intOut.toSeq == Seq((5000L, 0L, "a b c d e"), (5001L, 5L, "x y z")))
    // ids outside the pack bound fail loudly, never mis-elect silently
    val bad = Seq((-1L, "a b c")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      CorpusOps.selfDedupSpans(bad, col("doc_id"), col("text"), n = 3).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + chain(t.getCause)
    assert(chain(ex).contains("pack bound"))
  }

  test("selfDedupSpans equals an independent reference on seeded random corpora") {
    // independent implementation: library split + sliding + a mutable
    // election map, no shared code with the production path
    def ref(docs: Seq[(Long, String)], n: Int): Map[Long, (Long, String)] = {
      val toks = docs.map { case (i, t) =>
        i -> t.split("\\s+").filter(_.nonEmpty).toVector }
      val first = scala.collection.mutable.Map[String, (Long, Int)]()
      val count = scala.collection.mutable.Map[String, Int]()
      for ((id, ts) <- toks.sortBy(_._1); i <- 0 to ts.length - n) {
        val k = ts.slice(i, i + n).mkString(" ")
        count(k) = count.getOrElse(k, 0) + 1
        // iteration is (doc asc, pos asc), so first insertion is min
        if (!first.contains(k)) first(k) = (id, i)
      }
      toks.filter(_._2.nonEmpty).map { case (id, ts) =>
        val drop = Array.fill(ts.length)(false)
        for (i <- 0 to ts.length - n) {
          val k = ts.slice(i, i + n).mkString(" ")
          if (count(k) > 1 && first(k) != ((id, i)))
            for (j <- i until i + n) drop(j) = true
        }
        val kept = ts.indices.filterNot(drop).map(ts)
        id -> ((drop.count(identity).toLong, kept.mkString(" ")))
      }.toMap
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e") // tiny: collisions abound
    for (trial <- 1 to 3) {
      val docs = (0L until 15L).map { id =>
        id -> Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val expect = ref(docs, n = 3)
      val got = CorpusOps.selfDedupSpans(docs.toDF("doc_id", "text"),
          col("doc_id"), col("text"), n = 3)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
      assert(got == expect, s"trial $trial mismatch")
    }
  }

  test("selfDedupIncremental: indexed spans scrub the batch; crawl-order violation raises") {
    val old = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val dir = graft.sources.Sinks.tempArtifactDir("graft_span_idx_spec")
    CorpusOps.buildSpanIndex(old, col("doc_id"), col("text"), n = 3, dir)
    val idx = spark.read.parquet(dir)
    // batch doc pastes old span "a b c d" at pos 2..5; rest is new
    val batch = Seq((5L, "x y a b c d z")).toDF("doc_id", "text")
    val out = CorpusOps.selfDedupIncremental(batch, col("doc_id"),
      col("text"), idx, n = 3).head()
    assert(out.getAs[String]("deduped") == "x y z" &&
      out.getAs[Long]("n_dropped") == 4L)
    // an id preceding the indexed winner would silently flip the
    // election — it must raise instead
    val bad = Seq((0L, "a b c q r")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      CorpusOps.selfDedupIncremental(bad, col("doc_id"), col("text"),
        idx, n = 3).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + chain(t.getCause)
    assert(chain(ex).contains("crawl-order"))
  }

  test("span takedown serve: tombstoned winner promotes to runner-up across segments; double-kill is dirty") {
    // span "a b c" occurs in docs 1 (seg1), 5 and 9 (seg2); "x y z"
    // only in docs 1 and 5 — tombstoning 1 and 5 promotes "a b c" to
    // doc 9 (repair crosses segments) and makes "x y z" dirty
    val s1 = Seq((1L, "a b c q1 x y z")).toDF("doc_id", "text")
    val s2 = Seq((5L, "a b c q5 x y z"), (9L, "a b c q9 r s t"))
      .toDF("doc_id", "text")
    val dir = graft.sources.Sinks.tempArtifactDir("graft_span_td_spec")
    CorpusOps.appendSpanSegment(s1, col("doc_id"), col("text"), n = 3, dir, "s1")
    CorpusOps.appendSpanSegment(s2, col("doc_id"), col("text"), n = 3, dir, "s2")
    val tomb = Seq(1L, 5L).toDF("doc_id")
    val out = CorpusOps.serveSpanIndexWithTombstones(spark, dir, tomb)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(4),
        r.getBoolean(5))).toSeq
    val abc = out.find(_._2 == 9L)
    assert(abc.exists(x => x._3 && !x._4), s"expected cross-segment promote to doc 9: $out")
    assert(out.count(x => x._4 && x._2 == -1L) >= 1, s"expected a dirty row: $out")
    // without tombstones the plain serve still answers doc 1
    val plain = CorpusOps.serveSpanIndex(spark, dir)
      .filter(col("keeper_doc") === 1L).count()
    assert(plain >= 1)
    // COMPACTION: plain serve identical; takedown serve narrows to the
    // global top-2 — the cross-segment doc-9 repair above goes DIRTY
    // after compacting (conservative, never a wrong promotion)
    val cdir = graft.sources.Sinks.tempArtifactDir("graft_span_cmp_spec")
    CorpusOps.compactSpanSegments(spark.read.parquet(dir))
      .write.mode("overwrite").parquet(s"$cdir/segment=c0")
    val a = CorpusOps.serveSpanIndex(spark, dir).collect().toSet
    val b = CorpusOps.serveSpanIndex(spark, cdir).collect().toSet
    assert(a == b, "compacted plain serve must equal segmented serve")
    val td = CorpusOps.serveSpanIndexWithTombstones(spark, cdir, tomb)
      .collect().map(r => (r.getLong(1), r.getBoolean(4), r.getBoolean(5)))
    assert(!td.exists(x => x._2 && x._1 == 9L),
      "compacted takedown must not claim the lost doc-9 repair")
    // clean rows never promote a tombstoned doc — conservative ≠ wrong
    assert(td.forall(x => x._3 || (x._1 != 1L && x._1 != 5L)),
      s"clean compacted answer kept a tombstoned doc: ${td.toSeq}")
    assert(td.exists(_._3), "the narrowed repair must surface as dirty")
    // a FLAT buildSpanIndex artifact (winners only, no w2) cannot serve
    // takedowns — loud contract, not an unresolved-column crash
    val flat = graft.sources.Sinks.tempArtifactDir("graft_span_flat_spec")
    CorpusOps.buildSpanIndex(s1, col("doc_id"), col("text"), n = 3, flat)
    val exFlat = intercept[IllegalArgumentException] {
      CorpusOps.serveSpanIndexWithTombstones(spark, flat, tomb)
    }
    assert(exFlat.getMessage.contains("w2"))
  }

  test("dsir: target-like docs score positive, raw-only negative; model bounded; resample deterministic") {
    val target = Seq((101L, "alpha beta gamma alpha beta gamma"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma"),                 // target-style bigrams
      (2L, "junk noise words junk noise"))      // bigrams target never saw
      .toDF("doc_id", "text")
    val m = CorpusOps.dsirModel(raw, col("doc_id"), col("text"),
      target, col("doc_id"), col("text"), buckets = 64)
    // the model is bounded by the feature space, never the vocabulary
    assert(m.weights.count() <= 64)
    val w = CorpusOps.dsirLogWeights(raw, col("doc_id"), col("text"), m)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(1L) > 0, s"target-like doc should score positive, got ${w(1L)}")
    assert(w(2L) < 0, s"raw-only doc should score negative, got ${w(2L)}")
    // resample: without replacement, ranks 1..k, bit-identical on rerun
    val weights = CorpusOps.dsirLogWeights(raw, col("doc_id"), col("text"), m)
    val s1 = CorpusOps.dsirResample(weights, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val s2 = CorpusOps.dsirResample(weights, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(s1.toSeq == s2.toSeq)
    assert(s1.map(_._2).toSeq == Seq(1L, 2L) && s1.map(_._1).distinct.length == 2)
  }

  test("filterFunnel: sequential attribution on constructed docs; map-side kill equals batch form") {
    // one doc per gate, in gate order, plus one clean survivor
    val the20 = Seq.fill(10)("the x").mkString(" ")           // 20 toks, half stopwords
    val docs = Seq(
      (1L, "en", "too short"),                                 // gate 1
      (2L, "fr", the20),                                       // gate 2
      (3L, "en", Seq.fill(20)("dup").mkString(" ")),           // gate 3 (top-tok)
      (4L, "en", (1 to 20).map(i => s"w$i").mkString(" ")),    // gate 4 (no stopwords)
      (5L, "en", "the " + (1 to 19)                            // gate 5 (25-char toks)
        .map(i => f"verylongtokenpayload$i%05d").mkString(" ")),
      (6L, "en", (1 to 18).map(i => s"word$i").mkString(" ")   // retained: distinct
        + " the the"))                                         // bigrams, 10% stopwords
      .toDF("doc_id", "lang", "text")
    val rep = CorpusOps.filterFunnel(docs, col("doc_id"), col("text"), col("lang"))
      .orderBy("stage")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rep.map(x => (x._1, x._2, x._4)).toSeq == Seq(
      (1L, "min_tokens", 1L), (2L, "lang", 1L), (3L, "repetition", 1L),
      (4L, "stopword_ratio", 1L), (5L, "mean_token_length", 1L),
      (6L, "__RETAINED", 0L)))
    // funnel arithmetic: n_in chains, n_out = n_in - n_killed
    rep.sliding(2).foreach { case Array(a, b) => assert(a._5 == b._3) }
    // the streaming twin's map-side kill column attributes identically
    val ks = docs.select(col("doc_id"),
        CorpusOps.funnelKillMapSide(col("text"), col("lang")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ks == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 0L))
    // batch and map-side agree on the REAL corpus too (report equality)
    val corpus = Tables.documents(spark, TestSpark.sf).limit(200)
    val batchKill =
      CorpusOps.filterFunnel(corpus, col("doc_id"), col("text"), col("lang"))
        .orderBy("stage").collect().map(_.toSeq)
    val mapSideReport = CorpusOps.funnelReport(
        corpus.select(CorpusOps.funnelKillMapSide(col("text"), col("lang")).as("k"))
          .agg(CorpusOps.funnelAggCols.head, CorpusOps.funnelAggCols.tail: _*))
      .orderBy("stage").collect().map(_.toSeq)
    assert(batchKill.toSeq == mapSideReport.toSeq)
  }

  test("retrievalNdcg: graded gains, literal discounts, ideal from unretrieved docs, zero-hit kept") {
    // discount table is LITERAL and pinned (both engines embed it)
    val d = CorpusOps.ndcgDiscountMicro(10).toMap
    assert(d(1L) == 1000000L && d(2L) == 630930L && d(3L) == 500000L)
    // query q: retrieved a(rank1,grade2), b(rank2,ungraded), c(rank3,grade1);
    // doc dd has the best grade (3) but was NOT retrieved — it still
    // shapes the ideal. query z retrieves nothing relevant.
    val ranking = Seq(("q", 1L, 1L), ("q", 2L, 2L), ("q", 3L, 3L),
      ("z", 9L, 1L)).toDF("qid", "doc_id", "rank")
    val graded = Seq(("q", 1L, 2L), ("q", 3L, 1L), ("q", 4L, 3L))
      .toDF("qid", "doc_id", "grade")
    val out = CorpusOps.retrievalNdcg(ranking, graded, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // dcg = 2·disc(1) + 1·disc(3) = 2500000
    // idcg = 3·disc(1) + 2·disc(2) + 1·disc(3) = 4761860
    // ndcg = (2·10⁶·dcg + idcg) div (2·idcg) = 525005
    assert(out == Seq(("q", 2500000L, 4761860L, 525005L),
      ("z", 0L, 0L, 0L)))
  }

  test("rrfFuse: partial-overlap rankings fuse by reciprocal credit") {
    val a = Seq(("q", 1L, 1L), ("q", 2L, 2L)).toDF("qid", "doc_id", "rank")
    val b = Seq(("q", 2L, 1L), ("q", 3L, 2L)).toDF("qid", "doc_id", "rank")
    val out = CorpusOps.rrfFuse(Seq(a, b), k0 = 60, topK = 10)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // d2 earns credit from BOTH rankings (1e6//61 + 1e6//62); d1 and d3
    // from one each — missing-from-a-ranking needs no outer join
    assert(out.toSeq == Seq(
      (1L, 2L, 1000000L / 61 + 1000000L / 62),
      (2L, 1L, 1000000L / 61),
      (3L, 3L, 1000000L / 62)))
  }

  test("vocabTopK ranks by tf with token tiebreak and exact df") {
    val docs = Seq(
      (1L, "b b a c"), (2L, "b a"), (3L, "c")).toDF("id", "text")
    val out = CorpusOps.vocabTopK(docs, col("id"), col("text"), k = 2).collect()
    // tf: b=3, a=2, c=2 -> top2 = b, then a (tie with c broken by token)
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getString(1) == "b" && out(0).getLong(2) == 3 && out(0).getLong(3) == 2)
    assert(out(1).getString(1) == "a" && out(1).getLong(2) == 2 && out(1).getLong(3) == 2)
  }

  test("scrub redacts PII patterns and counts against original text") {
    val docs = Seq(
      (1L, "mail bob@example.com or call 555-123-4567 from 10.0.0.1"),
      (2L, "no pii at all")).toDF("id", "text")
    val out = CorpusOps.scrub(docs, col("id"), col("text")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val clean = out(1L).getString(1)
    assert(!clean.contains("bob@example.com") && clean.contains("[EMAIL]"))
    assert(!clean.contains("555-123-4567") && clean.contains("[PHONE]"))
    assert(!clean.contains("10.0.0.1") && clean.contains("[IPV4]"))
    assert(out(1L).getLong(2) == 1 && out(1L).getLong(3) == 1 && out(1L).getLong(4) == 1)
    assert(out(2L).getString(1) == "no pii at all")
    assert(out(2L).getLong(2) == 0 && out(2L).getLong(3) == 0 && out(2L).getLong(4) == 0)
  }

  test("rareTokenFraction scores corpus-relative rarity") {
    // "zzz" appears once in 12 corpus tokens -> p = 1/12 < 1/10 (rare at
    // factor 10); every other token appears 3+ times
    val docs = Seq(
      (1L, "common words common words zzz"),
      (2L, "common words common words"),
      (3L, "common words common")).toDF("id", "text")
    val out = CorpusOps.rareTokenFraction(docs, col("id"), col("text"), rareFactor = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == (1L, 5L, 0.2))
    assert(out(2L) == (0L, 4L, 0.0))
    assert(out(3L) == (0L, 3L, 0.0))
  }

  test("bigramPerplexity scores docs against the corpus bigram LM, integer-exact") {
    // corpus: c(a,b)=3, c(b,a)=1, c(x,y)=1; c1: a=3, b=3, x=1, y=1; V=4
    val docs = Seq(
      (1L, "a b a b"),   // bigrams (a,b),(b,a),(a,b)
      (2L, "a b"),       // (a,b)
      (3L, "x y"),       // (x,y)
      (4L, "solo"),      // < 2 tokens: excluded
      (5L, "")).toDF("id", "text")
    val out = CorpusOps.bigramPerplexity(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // P(b|a) = (3+1)/(3+4) = 4/7 → -ln = 0.5596158 → 559616 micro
    assert(out(2L) == ((1L, 0.559616, 1.75)))
    // P(y|x) = (1+1)/(1+4) = 2/5 → -ln = 0.9162907 → 916291 micro
    assert(out(3L) == ((1L, 0.916291, 2.5)))
    // doc 1: (559616 + 1252763 + 559616) / 3 / 1e6; -ln(2/7) = 1.2527630
    assert(out(1L)._1 == 3L && out(1L)._2 == 0.790665)
  }

  test("frozen-LM scoring add-one-smooths unseen bigrams and contexts") {
    // LM trained on {a b, x y}: c1 = {a:1, b:1, x:1, y:1}, V = 4
    val train = Seq((1L, "a b"), (2L, "x y")).toDF("id", "text")
    val lm = CorpusOps.bigramLm(train, col("id"), col("text"))
    // new docs: (a,q) unseen bigram, seen context a -> P = 1/(1+4);
    //           (z,q) unseen context -> P = 1/(0+4)
    val fresh = Seq((10L, "a q"), (11L, "z q")).toDF("id", "text")
    val out = CorpusOps.scoreBigrams(
        CorpusOps.ngramRows(fresh, col("id"), col("text"), 2), lm)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(10L) == ((1L, 1.609438))) // -ln(1/5), micro-truncated
    assert(out(11L) == ((1L, 1.386294))) // -ln(1/4)
  }

  test("bm25TopK matches an independent BM25 computation and ranks correctly") {
    val docs = Seq(
      (1L, "hash join hash"),
      (2L, "join merge"),
      (3L, "sort order sort order"),
      (4L, "hash")).toDF("id", "text")
    val out = CorpusOps.bm25TopK(docs, col("id"), col("text"),
        queries = Seq(("qA", Seq("hash", "join"))), k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent recompute straight from the Okapi formula
    val N = 4.0; val avgdl = 10.0 / 4; val k1 = 1.2; val b = 0.75
    def idf(df: Int) = math.log(1 + (N - df + 0.5) / (df + 0.5))
    def m(tf: Int, df: Int, dl: Int): Long =
      math.round(idf(df) * (tf * (k1 + 1)) /
        (tf + k1 * (1 - b + b * dl / avgdl)) * 1e6)
    val s1 = m(2, 2, 3) + m(1, 2, 3) // doc1: hash tf=2, join tf=1, dl=3
    val s2 = m(1, 2, 2)              // doc2: join tf=1, dl=2
    val s4 = m(1, 2, 1)              // doc4: hash tf=1, dl=1
    val expected = Seq((1L, s1), (2L, s2), (4L, s4))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => ("qA", i + 1L, id, s) }
    assert(out.toSeq == expected)
    // doc3 shares no query term: absent, not scored 0
    assert(!out.exists(_._3 == 3L))
  }

  test("bm25fTopK: anchor field folds in pre-saturation; no-anchor corpus ranks like body BM25") {
    val docs = Seq(
      (1L, "hash join", "x.com"),
      (2L, "join join merge", "y.com"),
      (3L, "merge", "z.com")).toDF("id", "text", "fk")
    val anchors = Seq(("x.com", "A", 3L), ("x.com", "hash", 2L),
      ("y.com", "A", 1L)).toDF("field_key", "term", "n")
    val out = CorpusOps.bm25fTopK(docs, col("id"), col("text"), col("fk"),
        anchors, queries = Seq(("q1", Seq("hash", "A"))), k = 5)
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    // independent recompute straight from the simple-BM25F formula:
    // N=3, avgb=6/3=2, anchor dl: x=5, y=1, z=0 -> avga=2
    def tfn(tfb: Long, tfa: Long, dlb: Long, dla: Long): Double =
      1.0 * tfb / (0.25 + 0.75 * dlb / 2.0) +
        2.0 * tfa / (0.5 + 0.5 * dla / 2.0)
    def m(t: Double, df: Long): Long =
      math.round(math.log(1 + (3.0 - df + 0.5) / (df + 0.5)) *
        t / (1.2 + t) * 1e6)
    // d1: hash tfb=1+anchor tfa=2 (df 1); A tfa=3 (df 2). d2: A tfa=1.
    val s1 = m(tfn(1, 2, 2, 5), 1) + m(tfn(0, 3, 2, 5), 2)
    val s2 = m(tfn(0, 1, 3, 1), 2)
    assert(out.toSeq == Seq((1L, s1), (2L, s2))) // d3 matches nothing: absent
    // empty anchor table (sum_dla=0): the CASE keeps 0/0 out, and the
    // RANKING equals body BM25 (scores differ by the k1+1 factor only)
    val none = Seq.empty[(String, String, Long)].toDF("field_key", "term", "n")
    val bodyOnly = CorpusOps.bm25fTopK(docs, col("id"), col("text"),
        col("fk"), none, queries = Seq(("q", Seq("join", "merge"))), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val classic = CorpusOps.bm25TopK(docs, col("id"), col("text"),
        queries = Seq(("q", Seq("join", "merge"))), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(bodyOnly == classic && bodyOnly.nonEmpty)
  }

  test("bm25TopK breaks score ties by doc_id and tolerates null text") {
    val docs = Seq(
      (11L, "merge merge"), (10L, "merge merge"), // identical -> tied score
      (12L, null.asInstanceOf[String])).toDF("id", "text")
    val out = CorpusOps.bm25TopK(docs, col("id"), col("text"),
        queries = Seq(("q", Seq("merge"))), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).toSeq == Seq(10L, 11L)) // tie -> id ascending
    assert(out(0)._3 == out(1)._3 && out(0)._3 > 0)
  }

  test("all operators tolerate null text") {
    val docs = Seq((1L, "a b c"), (2L, null.asInstanceOf[String])).toDF("id", "text")
    val rep = CorpusOps.repetitionStats(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep(2L) == 0.0 && rep.size == 2)
    val dec = CorpusOps.decontaminate(docs, col("id"), col("text"),
        Seq((9L, "a b c")).toDF("id", "text"), col("text"), n = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(dec(1L) && !dec(2L))
    assert(CorpusOps.vocabTopK(docs, col("id"), col("text"), 10).count() == 3)
    val s = CorpusOps.scrub(docs, col("id"), col("text")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(s(2L).isNullAt(1) && s(2L).getLong(2) == 0)
    // null text has no bigrams: silently excluded, like < 2 tokens
    val ppl = CorpusOps.bigramPerplexity(docs, col("id"), col("text"))
    assert(ppl.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // null text has no hits: no snippet row, like a no-match doc
    val sn = CorpusOps.snippets(docs, col("id"), col("text"),
      Seq(("q", Seq("a"))), window = 2)
    assert(sn.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // null text tokens vanish from the curve, not the denominator count
    val vc = CorpusOps.vocabCoverage(docs, col("id"), col("text"), Seq(10L))
      .as[(Long, Long, Long, Long)].collect()
    assert(vc.toSeq == Seq((10L, 3L, 3L, 1000000L)))
    // a null PAGE doc contributes no lines (absent from the strip
    // output) but still counts toward its family's doc total
    val bp = CorpusOps.boilerplateStrip(
      Seq((1L, "f", "x\nx"), (2L, "f", null.asInstanceOf[String]),
        (3L, "f", "x"), (4L, "f", "x"))
        .toDF("id", "fam", "page"),
      col("id"), col("fam"), col("page"))
      .as[(Long, String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!bp.contains(2L))
    // x appears in 3 of 4 family docs (75% >= 50%): boiler everywhere
    assert(bp(1L) == ((1L, "f", "", 0L, 2L)) && bp(3L) == ((3L, "f", "", 0L, 1L)))
  }

  test("sourceKlDivergence scores distribution drift against the corpus") {
    // corpus token counts: x:4, y:4, z:4 (N = 12)
    val docs = Seq(
      (1L, "a", "x y x y"), // matches half the corpus: KL = ln(1.5)
      (2L, "b", "x y x y"),
      (3L, "c", "z z z z")) // all mass on the corpus-1/3 token: KL = ln(3)
      .toDF("doc_id", "source", "text")
    val out = CorpusOps.sourceKlDivergence(docs, col("source"), col("text"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // micro-truncated: 2·round(0.5·ln(1.5)·1e6)/1e6 and round(ln(3)·1e6)/1e6
    assert(out == Seq(("a", 4L, 0.405466), ("b", 4L, 0.405466), ("c", 4L, 1.098612)))
    // a uniform corpus (every source = the corpus distribution) scores 0
    val flat = Seq((1L, "a", "x y"), (2L, "b", "x y"))
      .toDF("doc_id", "source", "text")
    val zeros = CorpusOps.sourceKlDivergence(flat, col("source"), col("text"))
      .select("kl").as[Double].collect()
    assert(zeros.forall(_ == 0.0), zeros.toSeq.toString)
  }

  test("invertedIndex orders postings numerically and prunes the stopword tier") {
    val docs = Seq((10L, "the cat"), (2L, "the the dog"), (1L, "the"))
      .toDF("id", "text")
    val idx = CorpusOps.invertedIndex(docs, col("id"), col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // numeric doc order: 2 before 10 (string order would put "10" first)
    assert(idx("the") == (3L, 4L, "1:1,2:2,10:1"))
    assert(idx("cat") == (1L, 1L, "10:1"))
    // df ceiling drops the stopword tier, keeps the content terms
    val pruned = CorpusOps.invertedIndex(docs, col("id"), col("text"), maxDf = Some(2))
      .select("tok").as[String].collect().sorted
    assert(pruned.toSeq == Seq("cat", "dog"))
  }

  test("prefixIndex ranks completions by frequency, prefixes capped, k enforced") {
    val docs = Seq((1L, "scan scan scan scale scale sort"),
      (2L, "scan scale sort sorted")).toDF("id", "text")
    val idx = graft.text.CorpusOps.prefixIndex(docs, col("text"), maxLen = 3, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byPrefix = idx.groupBy(_._1)
    // 'sc' completes to scan (4) before scale (3); sort (2) out at k=2? no — different prefix
    assert(byPrefix("sc").sortBy(_._4).map(t => (t._2, t._3)).toSeq ==
      Seq(("scan", 4L), ("scale", 3L)))
    // rank never exceeds k, prefix length never exceeds maxLen
    assert(idx.forall(_._4 <= 2) && idx.forall(_._1.length <= 3))
    // a full-token prefix ranks the token itself first when most frequent
    assert(byPrefix("sca").map(_._2).contains("scan"))
    // 'sort' (len 4) produces no len-4 prefix at maxLen=3
    assert(!byPrefix.contains("sort"))
  }

  test("symspellCandidates finds deletes, inserts, and substitutions via shared variants") {
    val docs = Seq((1L, "table table table cable stable value")).toDF("id", "text")
    val out = graft.text.CorpusOps.symspellCandidates(docs, col("text"),
        probes = Seq("tble", "tablee", "tabze", "table"), maxDistance = 1, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
    val byProbe = out.groupBy(_._1)
    // deletion probe (tble), insertion probe (tablee), substitution
    // probe (tabze — found via del1∩del1) all reach 'table' at d=1
    Seq("tble", "tablee", "tabze").foreach { p =>
      assert(byProbe(p).exists(t => t._2 == "table" && t._3 == 1L), s"$p missed table")
    }
    // exact probe ranks its own token first at distance 0
    assert(byProbe("table").minBy(_._4)._2 == "table" &&
      byProbe("table").minBy(_._4)._3 == 0L)
    // candidates past maxDistance are filtered: 'tabze' must not reach 'cable' (d=2)
    assert(!byProbe("tabze").exists(_._2 == "cable"))
  }
  test("boilerplateStrip: ratio/minDocs gates, in-doc repeats, empty survivor, singleton family") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "f", "nav\nmid\nrep\nbody one"),
      (2L, "f", "nav\nmid\nbody two"),
      (3L, "f", "nav\nrep\nrep\nsolo"),
      (4L, "f", "nav"),
      (9L, "g", "nav\nonly here"))
      .toDF("doc_id", "family", "page")
    val out = graft.text.CorpusOps.boilerplateStrip(docs, col("doc_id"),
        col("family"), col("page"))
      .as[(Long, String, String, Long, Long)].collect().toSet
    // family f (4 docs): nav df=4 (ratio 1e6), mid df=2 (exactly 50%
    // -> boiler at the inclusive threshold), rep df=2 (doc 3's repeat
    // counts ONCE for df but BOTH occurrences strip), bodies unique.
    // family g (1 doc): its nav has df=1 < minDocs -> kept, even at
    // ratio 1e6 — the singleton-family pin.
    assert(out == Set(
      (1L, "f", "body one", 1L, 3L),
      (2L, "f", "body two", 1L, 2L),
      (3L, "f", "solo", 1L, 3L),
      (4L, "f", "", 0L, 1L),    // all-chrome doc survives as a row
      (9L, "g", "nav\nonly here", 2L, 0L)))
    intercept[IllegalArgumentException] {
      graft.text.CorpusOps.boilerplateStrip(docs, col("doc_id"),
        col("family"), col("page"), thresholdMicro = 0L)
    }
    intercept[IllegalArgumentException] {
      graft.text.CorpusOps.boilerplateStrip(docs, col("doc_id"),
        col("family"), col("page"), minDocs = 0L)
    }
  }

  test("snippets: max distinct coverage, leftmost tie, 1-based start, literal slice") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "x hash y join z merge"),    // hits at 2, 4, 6
      (2L, "nothing relevant here"),    // no hits: no row
      (3L, "hash a b"))                 // hit at 1: start is 1-based
      .toDF("doc_id", "text")
    val q = Seq(("q1", Seq("hash", "join", "merge")))
    // window 4: starts 2 and 4 both cover two terms -> leftmost (2) wins
    val w4 = graft.text.CorpusOps.snippets(docs, col("doc_id"), col("text"),
        q, window = 4)
      .as[(String, Long, Long, Long, String)].collect()
      .map(r => r._2 -> r).toMap
    assert(w4(1L) == (("q1", 1L, 2L, 2L, "hash y join z")))
    assert(w4(3L) == (("q1", 3L, 1L, 1L, "hash a b")))
    assert(!w4.contains(2L))
    // window 8 reaches all three terms from start 2
    val w8 = graft.text.CorpusOps.snippets(docs, col("doc_id"), col("text"),
        q, window = 8)
      .as[(String, Long, Long, Long, String)].collect()
      .map(r => r._2 -> r).toMap
    assert(w8(1L) == (("q1", 1L, 2L, 3L, "hash y join z merge")))
    intercept[IllegalArgumentException] {
      graft.text.CorpusOps.snippets(docs, col("doc_id"), col("text"),
        Seq(("q1", Seq())), 4)
    }
    intercept[IllegalArgumentException] {
      graft.text.CorpusOps.snippets(docs, col("doc_id"), col("text"),
        Seq(("q1", Seq("a")), ("q1", Seq("b"))), 4)
    }
    intercept[IllegalArgumentException] {
      graft.text.CorpusOps.snippets(docs, col("doc_id"), col("text"), q, 0)
    }
  }

  test("vocabCoverage: hand-computed shares, beyond-vocab checkpoint, contracts") {
    import org.apache.spark.sql.functions.col
    // tf: a=4, b=2, c=1 (total 7)
    val docs = Seq((1L, "a a b"), (2L, "a b c a")).toDF("doc_id", "text")
    val m = graft.text.CorpusOps.vocabCoverage(docs, col("doc_id"),
        col("text"), Seq(1L, 2L, 100L))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(m(1L) == ((1L, 4L, 7L, 571428L)))   // top-1 = a: 4/7
    assert(m(2L) == ((2L, 6L, 7L, 857142L)))   // a+b: 6/7
    assert(m(100L) == ((100L, 7L, 7L, 1000000L))) // beyond vocab: all
    intercept[IllegalArgumentException] {
      graft.text.CorpusOps.vocabCoverage(docs, col("doc_id"), col("text"),
        Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.text.CorpusOps.vocabCoverage(docs, col("doc_id"), col("text"),
        Seq(1L, 1L))
    }
  }

  test("kneserNeyLm: continuation counts are bigram TYPES and probs match hand values") {
    import graft.text.CorpusOps
    // c12: (a,b)=3, (b,a)=1, (b,c)=1 → ctx a: total 3, 1 continuation;
    // ctx b: total 2, 2 continuations; cont: a=1, b=1, c=1; types=3
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "b c"))
      .toDF("id", "text")
    val lm = CorpusOps.kneserNeyLm(docs, col("id"), col("text"), 2)
    val probs = CorpusOps.knBigramProbs(lm).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6))).toMap
    // P(b|a) = (3−.75)/3 + .75·(1/3)·(1/3) = 0.833333333
    assert(probs(("a", "b")) == ((3L, 3L, 1L, 1L, 0.833333333)))
    // P(a|b) = (1−.75)/2 + .75·(2/2)·(1/3) = 0.375
    assert(probs(("b", "a")) == ((1L, 2L, 2L, 1L, 0.375)))
    assert(probs(("b", "c")) == ((1L, 2L, 2L, 1L, 0.375)))
    // the scorer agrees with the table through the micro-nat chain:
    // doc 2 = one bigram at p=5/6 → −ln = 0.182322; doc 3 at 3/8
    val out = CorpusOps.kneserNeyPerplexity(docs, col("id"), col("text"), 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(2L) == ((1L, 0.182322, 1.2)))
    assert(out(3L) == ((1L, 0.980829, 2.667)))
    assert(out(1L)._1 == 3L && out(1L)._2 == 0.448491)
  }

  test("KN probabilities sum to 1 per context over the vocabulary") {
    import graft.text.CorpusOps
    val train = Seq((1L, "a b a b"), (2L, "a b"), (3L, "b c"))
      .toDF("id", "text")
    val lm = CorpusOps.kneserNeyLm(train, col("id"), col("text"), 2)
    // score every (context, vocab-word) pair as its own one-bigram doc
    // and recover p = exp(−nll): the interpolated mass must close to 1
    val pairs = for ((w1, i) <- Seq("a", "b").zipWithIndex;
                     (w2, j) <- Seq("a", "b", "c").zipWithIndex)
      yield ((i * 3 + j).toLong, s"$w1 $w2", w1)
    val df = pairs.map { case (id, t, _) => (id, t) }.toDF("id", "text")
    val scored = CorpusOps.scoreKneserNey(
        CorpusOps.ngramRows(df, col("id"), col("text"), 2), lm)
      .collect().map(r => r.getLong(0) -> math.exp(-r.getDouble(2))).toMap
    for (w1Idx <- 0 to 1) {
      val sum = (0 to 2).map(j => scored((w1Idx * 3 + j).toLong)).sum
      assert(math.abs(sum - 1.0) < 1e-4,
        s"context ${Seq("a", "b")(w1Idx)} mass $sum")
    }
  }

  test("frozen-KN scoring degrades in KN terms: backoff, bare Pcont, and the OOV floor") {
    import graft.text.CorpusOps
    val train = Seq((1L, "a b a b"), (2L, "a b"), (3L, "b c"))
      .toDF("id", "text")
    val lm = CorpusOps.kneserNeyLm(train, col("id"), col("text"), 2)
    // (a,c): unseen pair, seen context → λ(a)·Pcont(c) = .75·(1/3)·(1/3)
    // (z,b): unseen context → Pcont(b) = 1/3
    // (z,z): full OOV → floor 1/(3+1)
    val fresh = Seq((10L, "a c"), (11L, "z b"), (12L, "z z"))
      .toDF("id", "text")
    val out = CorpusOps.scoreKneserNey(
        CorpusOps.ngramRows(fresh, col("id"), col("text"), 2), lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(10L) == 2.484907) // −ln(1/12)
    assert(out(11L) == 1.098612) // −ln(1/3)
    assert(out(12L) == 1.386294) // −ln(1/4)
    intercept[IllegalArgumentException] {
      CorpusOps.kneserNeyLm(train, col("id"), col("text"), 2, discount = 1.0)
    }
  }

  test("an empty KN model (zero bigram types) raises instead of scoring everything at ppl 1") {
    import graft.text.CorpusOps
    // every doc has < 2 tokens → zero bigrams → n_types = 0; unguarded,
    // every probability is null, every row hits the floor 1/(0+1) = 1,
    // and the scorer would silently report perfect perplexity
    val empty = Seq((1L, "solo"), (2L, "")).toDF("id", "text")
    val lm = CorpusOps.kneserNeyLm(empty, col("id"), col("text"), 2)
    val fresh = Seq((10L, "a b")).toDF("id", "text")
    val e = intercept[Exception] {
      CorpusOps.scoreKneserNey(
        CorpusOps.ngramRows(fresh, col("id"), col("text"), 2), lm).collect()
    }
    assert(e.getMessage.contains("zero bigram types") ||
      Option(e.getCause).exists(_.getMessage.contains("zero bigram types")))
  }

  test("order-3 KN refuses like order 2: an empty model raises, a discount outside (0, 1) is rejected") {
    import graft.text.CorpusOps
    // < 2 tokens everywhere → zero bigram types at the bottom of the
    // recursion; every level above is null, so every row reaches Pcont
    val empty = Seq((1L, "solo"), (2L, "")).toDF("id", "text")
    val lm = CorpusOps.kneserNeyLm(empty, col("id"), col("text"), 3)
    val fresh = Seq((10L, "a b c")).toDF("id", "text")
    val e = intercept[Exception] {
      CorpusOps.scoreKneserNey(
        CorpusOps.ngramRows(fresh, col("id"), col("text"), 3), lm).collect()
    }
    assert(e.getMessage.contains("zero bigram types") ||
      Option(e.getCause).exists(_.getMessage.contains("zero bigram types")))
    for (d <- Seq(0.0, 1.0)) intercept[IllegalArgumentException] {
      CorpusOps.kneserNeyLm(kn3Train, col("id"), col("text"), 3, discount = d)
    }
    // no order below 2, and the bigram probability table is order-2 only
    intercept[IllegalArgumentException] {
      CorpusOps.kneserNeyLm(kn3Train, col("id"), col("text"), 1)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.knBigramProbs(
        CorpusOps.kneserNeyLm(kn3Train, col("id"), col("text"), 3))
    }
  }

  // trigram-KN fixture: c123 (a,b,c)=2 (a,b,d)=1; ctx (a,b): 3 total,
  // 2 continuations; midc (b,c)=1 (b,d)=1; midx b: 2, 2; bigram types
  // (a,b) (b,c) (b,d) → cont b=1 c=1 d=1, 3 types
  private def kn3Train = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b c"))
    .toDF("id", "text")

  private def kn3P(c123: Long, ctxTotal: Long, n1pCtx: Long, n1pMid: Long,
                   midTotal: Long, n1pW2: Long, n1pRight: Long,
                   nTypes: Long): Double = {
    val d = 0.75
    val p2 = math.max(n1pMid - d, 0.0) / midTotal +
      d * n1pW2 / midTotal * (n1pRight.toDouble / nTypes)
    math.max(c123 - d, 0.0) / ctxTotal + d * n1pCtx / ctxTotal * p2
  }

  private def microNll(p: Double): Double =
    java.math.BigDecimal.valueOf(-math.log(p) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6

  test("kneserNey3: the full recursion matches a scalar recomputation") {
    import graft.text.CorpusOps
    val out = CorpusOps.kneserNeyPerplexity(kn3Train, col("id"), col("text"), 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val pC = kn3P(2, 3, 2, 1, 2, 2, 1, 3) // P(c|a,b)
    val pD = kn3P(1, 3, 2, 1, 2, 2, 1, 3) // P(d|a,b)
    assert(out(1L) == ((1L, microNll(pC))))
    assert(out(2L) == ((1L, microNll(pD))))
    assert(out(3L) == out(1L))
  }

  test("trigram-KN mass closes to 1 per context over the continuation vocabulary") {
    import graft.text.CorpusOps
    val lm = CorpusOps.kneserNeyLm(kn3Train, col("id"), col("text"), 3)
    // the KN event space is words-that-continue: {b, c, d} ('a' never
    // follows anything, so Pcont(a) = 0 — outside the support)
    val probes = Seq("b", "c", "d").zipWithIndex
      .map { case (w3, i) => (i.toLong, s"a b $w3") }
      .toDF("id", "text")
    val scored = CorpusOps.scoreKneserNey(
        CorpusOps.ngramRows(probes, col("id"), col("text"), 3), lm)
      .collect().map(r => math.exp(-r.getDouble(2))).sum
    assert(math.abs(scored - 1.0) < 1e-4, s"context (a,b) mass $scored")
  }

  test("frozen trigram-KN degrades level by level: mid backoff, context backoff, Pcont, floor") {
    import graft.text.CorpusOps
    val lm = CorpusOps.kneserNeyLm(kn3Train, col("id"), col("text"), 3)
    val fresh = Seq(
      (10L, "a b b"),  // seen ctx, unseen mid: λ·λ₂·Pcont(b) = 1/8
      (11L, "q b c"),  // unseen ctx, seen mid: P₂(c|b) = 0.375
      (12L, "x y c"),  // unseen w2: Pcont(c) = 1/3
      (13L, "x y zz")) // full OOV: floor 1/(3+1)
      .toDF("id", "text")
    val out = CorpusOps.scoreKneserNey(
        CorpusOps.ngramRows(fresh, col("id"), col("text"), 3), lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(10L) == 2.079442) // −ln(1/8)
    assert(out(11L) == 0.980829) // −ln(0.375)
    assert(out(12L) == 1.098612) // −ln(1/3)
    assert(out(13L) == 1.386294) // −ln(1/4)
  }

  test("sentences + chunkBySentence: abbreviation/initial guards, greedy budget, over-budget sentence alone, !? boundaries") {
    import graft.text.CorpusOps
    def sents(t: String): Seq[String] = Seq(t).toDF("t")
      .select(CorpusOps.sentences(col("t")).as("s"))
      .as[Seq[String]].collect().head
    // the three terminators split; abbreviations and initials do not
    assert(sents("One here. Two there! Three maybe? Four.") ==
      Seq("One here.", "Two there!", "Three maybe?", "Four."))
    assert(sents("Dr. Smith met J. Jones. See e.g. Fig. 2. Done.") ==
      Seq("Dr. Smith met J. Jones.", "See e.g. Fig. 2.", "Done."))
    // decimals never split (no whitespace after the point)
    assert(sents("Pi is 3.14 here. Next.") == Seq("Pi is 3.14 here.", "Next."))
    assert(sents("") == Seq())
    // greedy chunking: never splits a sentence; an over-budget
    // sentence gets its OWN chunk; sentence-less docs emit nothing
    val docs = Seq(
      (1L, "a b. c d. e f. g h."),                 // 2-token sentences
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11."), // 11 > budget: alone
      (3L, "   "))
      .toDF("doc_id", "text")
    val out = CorpusOps.chunkBySentence(docs, col("doc_id"), col("text"),
        maxTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq.sorted == Seq(
      (1L, 0L, "a b. c d.", 2L, 4L),
      (1L, 1L, "e f. g h.", 2L, 4L),
      (2L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11.", 1L, 11L)))
  }
}
