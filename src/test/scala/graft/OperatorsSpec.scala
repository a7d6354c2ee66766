package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("GlobalIndex assigns a dense deterministic 1..N index") {
    val df = (1 to 1000).map(i => (i * 7 % 1000, s"v$i")).toDF("k", "v")
    val idx = GlobalIndex.withRowIndex(df, Seq(col("k"), col("v")), "idx")
    val got = idx.select("idx").as[Long].collect().sorted
    assert(got.toSeq == (1L to 1000L))
    // index order matches (k, v) order
    val pairs = idx.orderBy("idx").select("k").as[Int].collect()
    assert(pairs.toSeq == pairs.toSeq.sorted.zip(pairs).map(_._2)) // sanity: collected in idx order
    val expected = df.orderBy("k", "v").select("k").as[Int].collect()
    assert(pairs.toSeq == expected.toSeq)
  }

  test("partitioned parquet sink prunes, bounds files, and round-trips") {
    import graft.sources.Sinks
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val docs = Tables.documents(spark, TestSpark.sf)
    Sinks.writePartitionedParquet(docs, out, Seq("lang"),
      maxRecordsPerFile = 50, sortCols = Seq(col("doc_id")))
    // hive-style partition dirs exist
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("lang=")) && dirs.nonEmpty)
    // file size bound respected
    val files = dirs.flatMap(d => new java.io.File(s"$out/$d").listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    for (f <- files) {
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 50, s"${f.getName} has $n rows")
    }
    // round-trip equality and partition pruning on read
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    val pruned = back.filter(col("lang") === "en")
    val scan = pruned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty, "lang filter did not become a partition filter")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("writeZOrdered lays files out as disjoint Morton intervals") {
    import graft.sources.Sinks
    import graft.functions.ZOrderCode
    val out = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val grid = spark.range(4096).select((col("id") % 64).as("x"),
      expr("id div 64").as("y"))
    Sinks.writeZOrdered(grid, out, col("x"), col("y"), bits = 6, nFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.count() == 4096)
    // each file must cover a z-interval disjoint from every other file —
    // the property min/max stats pruning rides on
    val ivals = back
      .withColumn("z", ZOrderCode(col("x"), col("y"), 6))
      .withColumn("f", input_file_name())
      .groupBy(col("f")).agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ivals.length > 1)
    ivals.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $ivals")
      case _ => ()
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    // null keys are a defined placement (clustered, nulls-first), not a
    // range violation; genuinely out-of-range keys still fail loudly
    val out2 = java.nio.file.Files.createTempDirectory("graft_zorder_null").toString
    val withNulls = spark.range(64).select(
      when(col("id") % 8 === 0, lit(null)).otherwise(col("id") % 64).as("x"),
      expr("id div 8").as("y"))
    Sinks.writeZOrdered(withNulls, out2, col("x"), col("y"), bits = 6, nFiles = 4)
    assert(spark.read.parquet(out2).count() == 64)
    assert(spark.read.parquet(out2).filter(col("x").isNull).count() == 8)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out2))
    val bad = spark.range(4).select((col("id") + 100).as("x"), col("id").as("y"))
    val ex = intercept[Exception] {
      TestSpark.quietly(
        Sinks.writeZOrdered(bad, out2, col("x"), col("y"), bits = 6, nFiles = 2))
    }
    assert(ex.getMessage != null)
  }

  test("compactParquet merges small files and preserves data") {
    import graft.sources.Sinks
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val docs = Tables.documents(spark, TestSpark.sf)
    docs.repartition(16).write.option("maxRecordsPerFile", 20).parquet(out)
    def parquetFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles >= 16)
    val before = spark.read.parquet(out).orderBy("doc_id").collect()
    Sinks.compactParquet(spark.read.parquet(out), out, targetFileMB = 256)
    assert(parquetFiles == 1, s"expected 1 compacted file, got $parquetFiles")
    val after = spark.read.parquet(out).orderBy("doc_id").collect()
    assert(after.toSeq == before.toSeq)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out).getParentFile)
  }

  test("compactParquet: an interrupted publish (table deleted, compacted copy still staged) is finished by the next call") {
    import graft.sources.Sinks
    val parent = java.nio.file.Files.createTempDirectory("graft_compact_crash").toString
    val out = parent + "/t"
    Tables.documents(spark, TestSpark.sf).repartition(4).write.parquet(out)
    val before = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    // the state a compaction leaves when it dies between deleting the
    // table and renaming its compacted copy in: manifest written in the
    // parent, the table gone, its copy still staged beside the parent
    spark.read.parquet(out).coalesce(1).write.parquet(s"$parent.publish-tmp/t")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    java.nio.file.Files.write(java.nio.file.Paths.get(parent, "_coalesce_manifest"),
      "t:t".getBytes("UTF-8"))
    Sinks.compactParquet(spark.emptyDataFrame, out, targetFileMB = 256)
    assert(spark.read.parquet(out).orderBy("doc_id").collect().toSeq == before)
    assert(!new java.io.File(parent, "_coalesce_manifest").exists)
    assert(!new java.io.File(s"$parent.publish-tmp").exists)
    Seq(parent, s"$parent.publish-tmp").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("the DSL exposes the pipeline vocabulary end-to-end") {
    import graft.operators.Implicits._
    val docs = Tables.documents(spark, TestSpark.sf).limit(100)
    assert(docs.dropExactDuplicates(col("doc_id"), col("text")).count() > 0)
    assert(docs.winnowFingerprints(col("doc_id"), col("text")).count() > 0)
    assert(docs.extractMediaFeatures(col("doc_id"), col("text").cast("binary"))
      .count() == docs.count())
    val probe = (1 to 100).map(i => (i % 5, i)).toDF("k", "v")
    val build = (0 to 4).map(i => (i, s"b$i")).toDF("k", "b")
    assert(probe.saltedJoin(build, Seq("k"), 4).count() == 100)
    // round-3 vocabulary
    assert(docs.chunkDedup(col("doc_id"), col("text")).count() == docs.count())
    assert(docs.winnowCandidates(col("doc_id"), col("text"), minShared = 1)
      .columns.toSeq == Seq("id_a", "id_b", "n_shared"))
    val withN = docs.select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
    assert(withN.packSequences(col("source"), col("doc_id"), col("n"), 512L)
      .columns.contains("seq_id"))
    assert(withN.tokenBudgetPerGroup(col("source"), col("doc_id"), col("n"), 700L)
      .columns.contains("cum_tokens"))
    assert(docs.temperatureMixSqrt(col("lang"), col("doc_id"), 50L).count() > 0)
    val left = Seq((1L, 10L, "l")).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 1.5)).toDF("k", "t", "rv")
    assert(left.asOfJoin(right, "k", "t", "rv").head().getDouble(3) == 1.5)
    // round-4 vocabulary
    assert(docs.hllDistinctPerGroup(col("lang"), col("doc_id"))
      .columns.toSeq == Seq("group", "approx_distinct"))
    assert(docs.bm25TopK(col("doc_id"), col("text"),
      Seq(("q", Seq("the", "a"))), k = 3).count() <= 3)
    assert(docs.select(col("lang"), col("n_chars").cast("double").as("v"))
      .histQuantilesPerGroup(col("lang"), col("v"), hi = 4096.0)
      .columns.toSeq == Seq("group", "quantile", "n", "est"))
  }

  test("saltedJoin equals the plain join for all supported join types") {
    val probe = (1 to 500).map(i => (i % 7, i)).toDF("k", "pv")
    val build = (0 to 4).map(i => (i, s"b$i")).toDF("k", "bv")
    for (jt <- Seq("inner", "left_outer", "left_semi", "left_anti")) {
      val plain = probe.join(build, Seq("k"), jt)
      val salted = Skew.saltedJoin(probe, build, Seq("k"), salts = 4, joinType = jt)
      assert(salted.columns.toSeq == plain.columns.toSeq, jt)
      assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0, jt)
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(probe, build, Seq("k"), 4, "full_outer")
    }
  }

  test("saltedAgg equals the plain aggregation") {
    import Skew.SaltedAgg._
    val df = (1 to 1000).map(i => (i % 3, i.toLong, i % 17)).toDF("k", "v", "g")
    val salted = Skew.saltedAgg(df, Seq("k"), salts = 8, Seq(
      Sum(col("v"), "sv"), Count("n"), Min(col("v"), "mn"),
      Max(col("v"), "mx"), CollectSet(col("g"), "gs")))
      .withColumn("gs", array_sort(col("gs")))
    val plain = df.groupBy("k").agg(
      sum("v").as("sv"), count(lit(1)).as("n"), min("v").as("mn"),
      max("v").as("mx"), array_sort(collect_set("g")).as("gs"))
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("Sample.everyNth picks exactly rows n, 2n, ...") {
    val df = (1 to 100).map(i => Tuple1(i)).toDF("i")
    val got = Sample.everyNth(df, 10, Seq(col("i"))).select("i").as[Int].collect().sorted
    assert(got.toSeq == (10 to 100 by 10))
  }

  test("Sample.randomStep emits exactly one element per maxStep window (sweep 2..10)") {
    val df = (1 to 97).map(i => Tuple1(i)).toDF("i")
    for (maxStep <- 2 to 10) {
      val got = Sample.randomStep(df, maxStep, Seq(col("i"))).select("i").as[Int]
        .collect().sorted.toSeq
      // the reference's bounded-gap guarantee, per aligned window: every
      // COMPLETE window of maxStep consecutive elements emits exactly one
      val byWindow = (1 to 97).groupBy(i => (i - 1) / maxStep)
      byWindow.foreach { case (w, members) =>
        val emitted = got.count(members.contains)
        if (members.size == maxStep)
          assert(emitted == 1, s"maxStep=$maxStep window $w emitted $emitted")
        else assert(emitted <= 1, s"partial window $w emitted $emitted")
      }
      // determinism under the seed
      val again = Sample.randomStep(df, maxStep, Seq(col("i"))).select("i").as[Int]
        .collect().sorted.toSeq
      assert(got == again)
    }
    // a different seed draws different in-window offsets (9 windows of
    // 10 — coincidence on all of them would be a broken hash)
    val a = Sample.randomStep(df, 10, Seq(col("i"))).select("i").as[Int].collect().toSeq
    val b = Sample.randomStep(df, 10, Seq(col("i")), seed = 7L)
      .select("i").as[Int].collect().toSeq
    assert(a.sorted != b.sorted)
  }

  test("changeGroups splits runs on property change") {
    val df = Seq((1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "a"), (2, 1, "x"))
      .toDF("k", "seq", "prop")
    val g = AccumulateWhileUnchanged.changeGroups(df, Seq(col("k")), Seq(col("seq")), col("prop"))
    val got = g.orderBy("k", "seq").select("group_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L, 2L, 3L, 1L))
  }

  test("AccumulateWhileUnchanged.groups caps runs at maxElements") {
    val df = (1 to 7).map(i => (1, i, "a")).toDF("k", "seq", "prop")
    val g = AccumulateWhileUnchanged.groups(df, Seq(col("k")), Seq(col("seq")),
      col("prop"), col("seq"), maxElements = Some(3))
    val sizes = g.select("n").as[Long].collect().sorted.toSeq
    assert(sizes == Seq(1L, 3L, 3L))
  }

  test("Sessionize.byGap: gap >= threshold starts a new session") {
    val df = Seq((1L, 0L, 1), (1L, 1000000L, 2), (1L, 3000000L, 3), (1L, 3500000L, 4))
      .toDF("k", "us", "id")
      .withColumn("ts", timestamp_micros(col("us")))
    val s = Sessionize.byGap(df, Seq(col("k")), col("ts"), col("id"), gapMicros = 2000000L)
    val got = s.orderBy("id").select("session_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L, 2L, 2L))
  }

  test("LastElement.perKey picks the row maximal under the order") {
    val df = Seq((1, 10, "a"), (1, 20, "b"), (2, 5, "c")).toDF("k", "seq", "v")
    val got = LastElement.perKey(df, Seq(col("k")), Seq(col("seq")), Seq("last_v" -> col("v")))
      .orderBy("k").select("last_v").as[String].collect().toSeq
    assert(got == Seq("b", "c"))
  }

  test("KeepAlive.gapFill fills missing buckets with the fill value") {
    val df = Seq((1L, 0L, 1.0), (1L, 200L, 2.0)).toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = KeepAlive.gapFill(df, Seq("k"), col("ts"), 100,
      Seq("n" -> count(lit(1))), Map("n" -> 0L))
      .orderBy("bucket").select("n").as[Long].collect().toSeq
    assert(got == Seq(1L, 0L, 1L))
  }

  test("Retry.fixpoint retries failures and carries give-ups") {
    val input = Seq(3, 4, 10).toDF("id") // succeed if (id + attempt) % 7 == 3
    val attempt = (df: org.apache.spark.sql.DataFrame) => df
      .withColumn("value", when((col("id") + col("attempt")) % 7 === 3, col("id")).cast("long"))
      .withColumn("error", when(col("value").isNull, lit("fail")).cast("string"))
    val out = Retry.fixpoint(input, attempt, identity, maxRetries = 4)
    val rows = out.orderBy("id").select("id", "attempt", "error").collect()
    // id=3: succeeds at attempt 0; id=10: (10+0)%7=3 → attempt 0; id=4: needs attempt 6 > 4 → gives up
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.isNullAt(2))).toSeq ==
      Seq((3, 0, true), (4, 4, false), (10, 0, true)))
  }

  test("AsOf.join attaches the most recent right value at or before ts") {
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (1L, 50L, "l0")).toDF("k", "t", "tag")
    val right = Seq((1L, 80L, 8.0), (1L, 150L, 15.0)).toDF("k", "t", "rv")
    val got = AsOf.join(left, right, "k", "t", "rv")
      .orderBy("t").select("tag", "rv").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toSeq
    assert(got == Seq(("l0", -1.0), ("l1", 8.0), ("l2", 15.0)))
  }

  test("AsOf.join matches the most recent ROW: a null-valued row shadows") {
    // merge_asof semantics: the ts=150 row matches even though its value
    // is null — it is not skipped in favor of the older non-null row
    val left = Seq((1L, 200L, "l")).toDF("k", "t", "tag")
    val right = Seq((1L, 80L, Some(8.0)), (1L, 150L, Option.empty[Double]))
      .toDF("k", "t", "rv")
    val got = AsOf.join(left, right, "k", "t", "rv").select("rv").head()
    assert(got.isNullAt(0))
  }

  test("AsOf.join tolerance nulls matches older than the bound") {
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (1L, 500L, "l3")).toDF("k", "t", "tag")
    val right = Seq((1L, 80L, 8.0), (1L, 150L, 15.0)).toDF("k", "t", "rv")
    val got = AsOf.join(left, right, "k", "t", "rv", tolerance = Some(lit(60L)))
      .orderBy("t").select("tag", "rv").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toSeq
    // l1@100: match 80 (gap 20 ≤ 60) → 8.0; l2@200: match 150 (gap 50) →
    // 15.0; l3@500: match 150 (gap 350 > 60) → null
    assert(got == Seq(("l1", 8.0), ("l2", 15.0), ("l3", -1.0)))
  }

  test("MergeByIndex.monotonicViolations counts out-of-order rows") {
    val ok = Seq((1L, "a"), (2L, "b"), (5L, "c")).toDF("idx", "v")
    val bad = Seq((1L, "a"), (3L, "b"), (2L, "c")).toDF("idx", "v")
    assert(MergeByIndex.monotonicViolations(ok, col("idx"), Seq(col("idx"))) == 0)
    assert(MergeByIndex.monotonicViolations(bad, col("idx"), Seq(col("v"))) == 1)
    // equal indices are violations (strictly-increasing contract)
    val dup = Seq((1L, "a"), (1L, "b"), (1L, "c")).toDF("idx", "v")
    assert(MergeByIndex.monotonicViolations(dup, col("idx"), Seq(col("v"))) == 2)
    // violations scattered across a range-partitioned input — exercises
    // the per-partition pass + driver-side boundary stitch
    val big = (0 until 1000).map(i =>
      (i.toLong, if (i % 100 == 0 && i > 0) i - 5L else i.toLong)).toDF("ord", "idx")
    assert(MergeByIndex.monotonicViolations(big, col("idx"), Seq(col("ord"))) == 9)
  }

  test("monotonicViolations: a null index breaks the chain (lag semantics)") {
    // [5, null, 3]: lag-form compares only adjacent rows, and a null on
    // either side never counts — so 5 vs 3 are NOT compared
    val gap = Seq(("a", Some(5L)), ("b", None), ("c", Some(3L)))
      .toDF("ord", "idx")
    assert(MergeByIndex.monotonicViolations(gap, col("idx"), Seq(col("ord"))) == 0)
    // the same values adjacent DO count
    val adj = Seq(("a", Some(5L)), ("b", Some(3L)), ("c", None)).toDF("ord", "idx")
    assert(MergeByIndex.monotonicViolations(adj, col("idx"), Seq(col("ord"))) == 1)
  }

  test("Timed.timed returns result and wall time") {
    val (n, ms) = Timed.timed(Seq(1, 2, 3).toDF("i"))(_.count())
    assert(n == 3 && ms >= 0)
  }

  test("connectedComponents labels each node with its component min") {
    import graft.dedup.Dedup
    val edges = Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // long chain: propagation must cross the whole diameter
    val chain = (1L until 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cl = Dedup.connectedComponents(chain).collect().map(_.getLong(1)).distinct
    assert(cl.toSeq == Seq(1L))
  }

  test("connectedComponentsStar matches min-label CC and handles long chains") {
    import graft.dedup.Dedup
    // long chain (diameter 199): log-round convergence — min-label would
    // need ~200 rounds, the star variant must finish well under 15
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val starLabels = Dedup.connectedComponentsStar(chain, maxIters = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starLabels.size == 200 && starLabels.values.forall(_ == 1L))
    // pseudo-random multi-component graph: labels must equal min-label CC
    val edges = (0L until 60L).map(i => (i, (i * i * 7 + 3) % 60))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minl = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == minl)
    // self-loop-only input: every node labels itself
    val selfOnly = Seq((4L, 4L), (9L, 9L)).toDF("id_a", "id_b")
    val sl = Dedup.connectedComponentsStar(selfOnly)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sl == Map(4L -> 4L, 9L -> 9L))
  }

  test("connectedComponents fails loudly when maxIters < component diameter") {
    import graft.dedup.Dedup
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("winnowCandidates finds shared-passage pairs; maxDocFreq bounds boilerplate") {
    import graft.dedup.Dedup
    val passage = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"$passage plus some unique tail words here"),
      (2L, s"different head matter then $passage again"),
      (3L, "entirely unrelated text with no shared passage at all ok fine")
    ).toDF("doc_id", "text")
    // the winnowing guarantee promises >= 1 shared selected fingerprint
    // for a shared run of window+n-1 tokens — assert at minShared = 1
    val pairs = Dedup.winnowCandidates(docs, col("doc_id"), col("text"),
        minShared = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // adversarial boilerplate: every doc identical → m²/2 pairs uncapped,
    // zero once the shared fingerprints exceed the doc-frequency cap
    val boiler = (1L to 10L).map(i => (i, passage)).toDF("doc_id", "text")
    val uncapped = Dedup.winnowCandidates(boiler, col("doc_id"), col("text"),
      minShared = 1)
    assert(uncapped.count() == 45)
    val capped = Dedup.winnowCandidates(boiler, col("doc_id"), col("text"),
      minShared = 1, maxDocFreq = Some(5))
    assert(capped.count() == 0)
  }

  test("exactGroupsPreferring elects by priority, then id") {
    import graft.dedup.Dedup
    val docs = Seq(
      (5L, "same text here", 1L),   // lower id, worse priority
      (9L, "same text here", 0L),   // better priority wins despite id
      (7L, "other text", 1L)
    ).toDF("id", "text", "prio")
    val out = Dedup.exactGroupsPreferring(docs, col("id"), col("text"), col("prio"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((9L, 0L, 2L), (7L, 1L, 1L)))
    // out-of-bounds priority fails loudly, never mis-elects
    val bad = Seq((1L, "x", -1L)).toDF("id", "text", "prio")
    val e = intercept[Exception] {
      TestSpark.quietly(
        Dedup.exactGroupsPreferring(bad, col("id"), col("text"), col("prio")).collect())
    }
    assert(e.getMessage.contains("bounds exceeded"))
  }

  test("decontaminateWinnow catches a shared run of window+n-1 tokens") {
    import graft.text.CorpusOps
    // run of 6 tokens (= window 4 + n 3 - 1) shared between train doc 1
    // and the eval doc → the winnowing guarantee says at least one
    // common selected fingerprint exists
    val shared = "alpha beta gamma delta epsilon zeta"
    val train = Seq(
      (1L, s"intro words then $shared and a tail"),
      (2L, "completely different content with no overlap at all ok")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, s"$shared closing remark")).toDF("doc_id", "text")
    val out = CorpusOps.decontaminateWinnow(train, col("doc_id"), col("text"),
        eval_, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && !out(2L))
  }

  test("chunkDedup keeps the first corpus-wide occurrence of each chunk") {
    import graft.dedup.Dedup
    // chunks of 2 tokens: doc 1 = [a b][c d], doc 2 = [c d][e f] (its
    // first chunk repeats doc 1's second), doc 3 = [a b][a b] (repeats
    // doc 1's first AND itself), doc 4 empty
    val docs = Seq(
      (1L, "a b c d"), (2L, "c d e f"), (3L, "a b a b"), (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, col("doc_id"), col("text"), chunkTokens = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "e f"),
      (3L, 2L, 0L, ""),
      (4L, 0L, 0L, "")))
  }

  test("clusterDedup keeps exactly one doc per near-dup cluster") {
    import graft.dedup.Dedup
    val docs = (1 to 12).map(i =>
      (i.toLong, "same exact text for every document here yes")).toDF("doc_id", "text")
    val out = Dedup.clusterDedup(docs, col("doc_id"), col("text"), threshold = 0.5)
    assert(out.count() == 12)
    assert(out.filter(col("kept")).select(col("doc_id")).as[Long].collect().toSeq == Seq(1L))
    assert(out.select(countDistinct(col("keeper_id"))).as[Long].head() == 1L)
  }

  test("semanticDedup drops in-cluster cosine-dominated vectors, min-id keeper") {
    import graft.dedup.Dedup
    // 2-d vectors, two obvious clusters around the axes
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),    // cluster 0 seed
      (1L, Array(0.0f, 1.0f)),    // cluster 1 seed
      (2L, Array(0.95f, 0.05f)),  // cos(·,0) ≈ 0.9986 → dropped
      (3L, Array(0.1f, 0.9f)),    // cos(·,1) ≈ 0.9939 → dropped
      (4L, Array(0.6f, 0.8f)),    // cluster 1, no mate ≥ 0.9 → kept
      (5L, Array(0.05f, 0.95f)),  // cos(·,1) ≈ 0.9986 → dropped
      (6L, Array(0.7f, 0.714f))   // cluster 1, cos(·,4) ≈ 0.9913 → dropped
    ).toDF("vec_id", "embedding")
    val cents = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").cast("array<double>").as("centv"))
    def keptSet(maxCluster: Option[Int]) =
      Dedup.semanticDedup(e, col("vec_id"), col("embedding"), cents,
          threshold = 0.9, maxCluster = maxCluster)
        .filter(col("kept")).select("vec_id").as[Long].collect().toSet
    assert(keptSet(None) == Set(0L, 1L, 4L))
    // cap = 1: only the smallest id per cluster dominates, so 6 (whose
    // only dominator was 4) survives while 2/3/5 still fall to the seeds
    assert(keptSet(Some(1)) == Set(0L, 1L, 4L, 6L))

    // trained-centroid path: every cluster's smallest id must be kept
    val trained = graft.similarity.SimilaritySearch.kmeansCentroids(
      e, col("vec_id"), col("embedding"), k = 2, iters = 2)
    val out = Dedup.semanticDedup(e, col("vec_id"), col("embedding"),
      trained, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 7)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.minBy(_._1)._3, s"cluster min id must be kept: ${rows.toSeq}")
    }
  }

  test("minhashCandidates maxBucket caps the hot-bucket pair blow-up") {
    import graft.dedup.Dedup
    // adversarial corpus: 40 identical docs share every band bucket
    val docs = (1 to 40).map(i =>
      (i.toLong, "all of these documents carry exactly identical text content"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
    assert(uncapped.count() == 40L * 39 / 2) // full m^2/2 blow-up
    val capped = Dedup.minhashCandidates(docs, col("doc_id"), col("text"),
      maxBucket = Some(8))
    assert(capped.count() == 8L * 7 / 2) // bounded by the cap
    // cap keeps the SMALLEST ids, so min-id keeper semantics survive
    assert(capped.agg(max(col("id_b"))).as[Long].head() == 8L)
    // fuzzyDedup under the cap still keeps exactly one of the identical docs
    val kept = Dedup.fuzzyDedup(docs, col("doc_id"), col("text"),
      threshold = 0.5, maxBucket = Some(8))
    assert(kept.select(min(col("doc_id"))).as[Long].head() == 1L)
  }

  test("served minhash index probes equal the all-pairs restriction, corpus side unshuffled") {
    import graft.dedup.Dedup
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text with nothing shared here at all"),
      (4L, "another unrelated document about spark plans and buckets"))
      .toDF("doc_id", "text")
    Dedup.buildMinhashIndex(docs, col("doc_id"), col("text"),
      indexDir = graft.sources.Sinks.tempArtifactDir("mh_idx_spec"),
      table = "mh_idx_spec", nBuckets = 4)
    // the params sidecar records the banding config the probe reads back
    val p0 = spark.table("mh_idx_spec__params").collect()(0)
    assert((p0.getInt(0), p0.getInt(1), p0.getInt(2)) == (3, 4, 2))
    def probe() = Dedup.queryMinhashIndex(spark, "mh_idx_spec",
      docs.filter(col("doc_id") === 2L), col("doc_id"), col("text"))
    val hits = probe().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.toSeq == Seq((2L, 1L)), s"got ${hits.toSeq}")
    // probe == minhashCandidates pairs touching the query doc
    val all = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val touching = all.collect {
      case (a, b) if a == 2L => b
      case (a, b) if b == 2L => a
    }
    assert(touching == hits.map(_._2).toSet)
    // bucketed co-location: with broadcast off, the corpus-sized index
    // side reads its buckets directly — only the query side (and the
    // final distinct) may shuffle
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = probe().queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 2, s"index side must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("minhash index lifecycle: append folds in, tombstones mask, compaction preserves probes and co-location") {
    import graft.dedup.Dedup
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text with nothing shared here at all"),
      (4L, "another unrelated document about spark plans and buckets"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (5L, "the quick brown fox jumps over the lazy dog today"),
      (6L, "fresh content that matches no earlier page in any band"))
      .toDF("doc_id", "text")
    val dir = graft.sources.Sinks.tempArtifactDir("mh_idx_life")
    Dedup.buildMinhashIndex(base, col("doc_id"), col("text"),
      indexDir = dir, table = "mh_life", nBuckets = 4)
    def probe() = Dedup.queryMinhashIndex(spark, "mh_life",
      base.filter(col("doc_id") === 2L), col("doc_id"), col("text"))
    assert(probe().collect().map(_.getLong(1)).toSet == Set(1L))
    // the day's crawl lands as its own segment; the probe sees it
    Dedup.appendToMinhashIndex(delta, col("doc_id"), col("text"),
      table = "mh_life", segment = "day1")
    assert(probe().collect().map(_.getLong(1)).toSet == Set(1L, 5L))
    // label collision guard: a distinct ingest reusing the label fails
    // loudly; a declared RETRY overwrites its own partition (no dupes)
    intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(delta, col("doc_id"), col("text"),
        table = "mh_life", segment = "day1")
    }
    Dedup.appendToMinhashIndex(delta, col("doc_id"), col("text"),
      table = "mh_life", segment = "day1", allowReplace = true)
    assert(probe().collect().map(_.getLong(1)).toSet == Set(1L, 5L))
    // a takedown stops surfacing the moment its tombstone segment lands
    Dedup.tombstoneMinhashIndex(base.filter(col("doc_id") === 1L),
      col("doc_id"), table = "mh_life", segment = "t0")
    assert(probe().collect().map(_.getLong(1)).toSet == Set(5L))
    // verified probe agrees post-append/tombstone (exact Jaccard = 1.0
    // for the identical page)
    val verified = Dedup.queryMinhashIndexVerified(spark, "mh_life",
      base.filter(col("doc_id") === 2L), col("doc_id"), col("text"),
      threshold = 0.5).collect()
    assert(verified.map(_.getLong(1)).toSet == Set(5L) &&
      verified.forall(_.getDouble(3) == 1.0))
    // compaction: identical probes, physical drop, provenance kept
    Dedup.compactMinhashIndex(spark, "mh_life")
    assert(probe().collect().map(_.getLong(1)).toSet == Set(5L))
    val segs = new java.io.File(s"$dir/bands").listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    assert(segs.toSeq == Seq("segment=base", "segment=merged"))
    assert(!new java.io.File(s"$dir/tombstones").exists)
    // tombstoned rows are physically gone, not just masked
    assert(spark.table("mh_life").filter(col("doc_id") === 1L).count() == 0)
    // cross-session attach: rebind the catalog from the artifact alone
    // and probe again — co-location still plans without a corpus-side
    // exchange (bucket ids recovered from file names)
    spark.sql("DROP TABLE IF EXISTS mh_life")
    spark.sql("DROP TABLE IF EXISTS mh_life__shingles")
    spark.sql("DROP TABLE IF EXISTS mh_life__params")
    Dedup.attachMinhashIndex(spark, "mh_life", dir)
    assert(probe().collect().map(_.getLong(1)).toSet == Set(5L))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = probe().queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 2, s"index side must not shuffle after attach:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("minhash compaction converges from crash debris and re-runs as a no-op") {
    import graft.dedup.Dedup
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text with nothing shared here at all"))
      .toDF("doc_id", "text")
    val dir = graft.sources.Sinks.tempArtifactDir("mh_idx_crash")
    Dedup.buildMinhashIndex(docs, col("doc_id"), col("text"),
      indexDir = dir, table = "mh_crash", nBuckets = 4)
    Dedup.tombstoneMinhashIndex(docs.filter(col("doc_id") === 1L),
      col("doc_id"), table = "mh_crash", segment = "t0")
    // simulate a compaction that crashed BEFORE the swap: stale tmp
    // debris on disk (a half-written layout) must be overwritten, not
    // merged or trusted
    new java.io.File(s"$dir.publish-tmp/bands/garbage").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir.publish-tmp/bands/garbage/junk"),
      "torn".getBytes("UTF-8"))
    Dedup.compactMinhashIndex(spark, "mh_crash")
    def probe() = Dedup.queryMinhashIndex(spark, "mh_crash",
      docs.filter(col("doc_id") === 2L), col("doc_id"), col("text"))
    assert(probe().count() == 0) // 1 tombstoned, 3 shares no band
    assert(spark.table("mh_crash").filter(col("doc_id") === 1L).count() == 0)
    assert(!new java.io.File(s"$dir.publish-tmp").exists)
    assert(!new java.io.File(s"$dir/tombstones").exists)
    // a RE-RUN with no tombstones is a no-op rewrite: same probes, same
    // live rows (idempotent at any later crash point)
    val before = spark.table("mh_crash").count()
    Dedup.compactMinhashIndex(spark, "mh_crash")
    assert(spark.table("mh_crash").count() == before && probe().count() == 0)
  }

  test("an interrupted minhash compaction publish (bands moved in, shingles still staged) is finished by the next maintenance call") {
    import graft.dedup.Dedup
    import org.apache.commons.io.FileUtils
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a slow green turtle walks under the busy bridge at noon"),
      (3L, "completely different text with nothing shared here at all"))
      .toDF("doc_id", "text")
    val day1 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "a slow green turtle walks under the busy bridge at noon"))
      .toDF("doc_id", "text")
    // two identical indexes: mh_done compacts uninterrupted, mh_cut is
    // left where a compaction dies after moving its bands in and before
    // moving its shingles (manifest landed, tombstones still present)
    val dirs = Seq("mh_done", "mh_cut").map { t =>
      val dir = graft.sources.Sinks.tempArtifactDir(t)
      Dedup.buildMinhashIndex(base, col("doc_id"), col("text"),
        indexDir = dir, table = t, nBuckets = 4)
      Dedup.appendToMinhashIndex(day1, col("doc_id"), col("text"),
        table = t, segment = "day1")
      Dedup.tombstoneMinhashIndex(base.filter(col("doc_id") === 1L),
        col("doc_id"), table = t, segment = "t0")
      t -> dir
    }.toMap
    Dedup.compactMinhashIndex(spark, "mh_done")
    val (done, cut) = (dirs("mh_done"), dirs("mh_cut"))
    FileUtils.deleteDirectory(new java.io.File(s"$cut/bands"))
    FileUtils.copyDirectory(new java.io.File(s"$done/bands"),
      new java.io.File(s"$cut/bands"))
    FileUtils.copyDirectory(new java.io.File(s"$done/shingles"),
      new java.io.File(s"$cut.publish-tmp/shingles"))
    java.nio.file.Files.write(java.nio.file.Paths.get(cut, "_coalesce_manifest"),
      "bands:bands\nshingles:shingles\n-:tombstones".getBytes("UTF-8"))
    // the next maintenance call on each index: an append
    val day2 = Seq((6L, "completely different text with nothing shared here at all"))
      .toDF("doc_id", "text")
    Seq("mh_done", "mh_cut").foreach(t => Dedup.appendToMinhashIndex(day2,
      col("doc_id"), col("text"), table = t, segment = "day2"))
    val queries = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "a slow green turtle walks under the busy bridge at noon"),
      (12L, "completely different text with nothing shared here at all"))
      .toDF("doc_id", "text")
    def probe(t: String) = Dedup.queryMinhashIndexVerified(spark, t, queries,
      col("doc_id"), col("text"), threshold = 0.5)
      .select(col("query_id"), col("candidate_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(probe("mh_done") == Seq((10L, 4L), (11L, 2L), (11L, 5L), (12L, 3L), (12L, 6L)))
    assert(probe("mh_cut") == probe("mh_done"))
    assert(spark.table("mh_cut__shingles").count() ==
      spark.table("mh_done__shingles").count())
    assert(!new java.io.File(s"$cut/_coalesce_manifest").exists)
    assert(!new java.io.File(s"$cut.publish-tmp").exists)
    assert(!new java.io.File(s"$cut/tombstones").exists)
  }

  test("approximate sketches track exact aggregates (the fixed-memory scale path)") {
    // at 100 TB, HLL / KLL sketches replace exact distinct/percentile
    // when tolerance allows: single pass, fixed memory, mergeable
    // partials — pin that Spark's built-ins stay inside tolerance here
    val ev = Tables.events(spark, TestSpark.sf)
    val exactD = ev.agg(countDistinct(col("user_id"))).head.getLong(0)
    val approxD = ev.agg(approx_count_distinct(col("user_id"))).head.getLong(0)
    assert(math.abs(approxD - exactD).toDouble / exactD < 0.05,
      s"HLL drift: $approxD vs $exactD")
    val exactP = ev.agg(expr("percentile(value, 0.5)")).head.getDouble(0)
    val approxP = ev.agg(expr("percentile_approx(value, 0.5, 1000)")).head.getDouble(0)
    assert(math.abs(approxP - exactP) / math.max(math.abs(exactP), 1e-9) < 0.1,
      s"percentile drift: $approxP vs $exactP")
  }

  test("incrementalDedup is cross-batch exact and idempotent on replay") {
    import graft.dedup.Dedup
    val empty = Seq.empty[String].toDF("fingerprint")
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "Alpha  beta"))
      .toDF("doc_id", "text") // 3 is a whitespace/case dup of 1
    val s1 = Dedup.incrementalDedup(b1, col("doc_id"), col("text"), empty)
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val hist = s1.select("fingerprint")
    // batch 2: one doc dups batch 1 across the batch boundary, one is new
    val b2 = Seq((10L, "alpha beta"), (11L, "delta")).toDF("doc_id", "text")
    val s2 = Dedup.incrementalDedup(b2, col("doc_id"), col("text"), hist)
    assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // replaying an ingested batch admits nothing
    val hist2 = hist.union(s2.select("fingerprint"))
    assert(Dedup.incrementalDedup(b2, col("doc_id"), col("text"), hist2).count() == 0)
  }

  test("tombstone ledger: delete re-admits, live rejects, same-epoch del wins") {
    import graft.dedup.Dedup
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val empty = Seq.empty[(String, Long, String)].toDF("fingerprint", "epoch", "op")
    val s1 = Dedup.incrementalDedup(b1, col("doc_id"), col("text"),
      Dedup.liveFingerprints(empty))
    val h1 = Dedup.admissions(s1, 0L)
    // epoch 1: retract 'alpha beta' (by a whitespace-variant copy — the
    // tombstone keys on the normalized fingerprint, not the raw text)
    val h2 = h1.unionByName(
      Dedup.tombstones(Seq("  Alpha beta ").toDF("text"), col("text"), 1L))
    // epoch 2 re-ingest: the deleted doc re-admits, the live one rejects
    val s2 = Dedup.incrementalDedup(
      Seq((10L, "alpha beta"), (11L, "gamma")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), Dedup.liveFingerprints(h2))
    assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(10L))
    // and the re-admission itself appends — a further replay rejects
    val h3 = h2.unionByName(Dedup.admissions(s2, 2L))
    assert(Dedup.incrementalDedup(Seq((20L, "alpha beta")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), Dedup.liveFingerprints(h3)).count() == 0)
    // racing ops inside ONE epoch resolve conservatively to deleted
    val race = Dedup.admissions(s1, 5L).unionByName(
      Dedup.tombstones(b1, col("text"), 5L))
    assert(Dedup.liveFingerprints(race).count() == 0)
  }

  test("incrementalDedupBloom equals the exact form row for row") {
    import graft.dedup.Dedup
    // history: 200 fingerprints; batch: 100 replays + 100 new + in-batch dups
    val history = Dedup.incrementalDedup(
      (0L until 200L).map(i => (i, s"hist doc number $i")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), Seq.empty[String].toDF("fingerprint"))
      .select("fingerprint")
    val batch = ((0L until 100L).map(i => (1000 + i, s"hist doc number $i")) ++
      (0L until 100L).map(i => (2000 + i, s"new doc number ${i / 2}")))
      .toDF("doc_id", "text")
    val exact = Dedup.incrementalDedup(batch, col("doc_id"), col("text"), history)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val managed = Dedup.incrementalDedupBloom(batch, col("doc_id"), col("text"),
      history, expectedItems = 200L)
    val bloomed = managed.result
    assert(bloomed.exceptAll(exact).count() == 0 && exact.exceptAll(bloomed).count() == 0)
    assert(exact.count() == 50) // the 50 distinct genuinely-new texts
    // rolling-ingest contract: release() leaves no lingering cached RDDs
    // behind (the round-3 leak — survivors stayed persisted per batch)
    managed.release()
    val lingering = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(lingering.isEmpty, s"cached RDDs leaked by incrementalDedupBloom: $lingering")
  }

  test("sourceOverlap counts shared distinct shingles; maxSourceFreq drops boilerplate") {
    import graft.dedup.Dedup
    val docs = Seq(
      (1L, "s1", "the quick brown fox jumps"),
      (2L, "s2", "the quick brown fox sleeps"),
      (3L, "s3", "nothing in common whatsoever here"),
      (4L, "s1", "xx yy zz"), (5L, "s2", "xx yy zz"), (6L, "s3", "xx yy zz"))
      .toDF("doc_id", "source", "text")
    val full = Dedup.sourceOverlap(docs, col("source"), col("doc_id"), col("text"))
      .orderBy("source_a", "source_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // s1/s2 share "the quick brown" + "quick brown fox" + the boilerplate
    // "xx yy zz"; s3 shares only the boilerplate with either
    assert(full.toSeq == Seq(("s1", "s2", 3L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
    // capping at 2 sources drops the shared-by-all-3 boilerplate shingle
    val capped = Dedup.sourceOverlap(docs, col("source"), col("doc_id"), col("text"),
        maxSourceFreq = Some(2))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(capped.toSeq == Seq(("s1", "s2", 2L)))
    // overlap coefficient uses the post-cap min set size: 2 / min(3, 3)
    val ov = Dedup.sourceOverlap(docs, col("source"), col("doc_id"), col("text"),
        maxSourceFreq = Some(2))
      .select(col("overlap")).as[Double].head()
    assert(math.abs(ov - 2.0 / 3.0) < 1e-5, s"overlap: $ov")
  }

  test("sketchOverlap: estimates track exact cardinalities; sketches merge") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, TestSpark.sf)
    // exact per-source distinct shingle counts — the ground truth the
    // k=256 sketch should land within a few percent of (1/sqrt(k) ≈ 6%)
    val exact = graft.functions.TextFunctions
      .explodedShingles(docs, struct(col("doc_id").as("i"), col("source").as("s")),
        col("text"), 3)
      .select(col("doc_id.s").as("source"), col("sh")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Dedup.sketchOverlap(docs, col("source"), col("text"))
      .select(col("source_a"), col("est_a")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (src, e) =>
      val n = exact(src).toDouble
      assert(math.abs(e - n) / n < 0.25, s"$src: est $e vs exact $n")
    }
    // mergeability: per-half sketches bucket-min-merged == the one-pass
    // sketch, and the pair algebra over the merged sketch matches the
    // direct run bit-for-bit (the streaming/segment-combine contract)
    val full = Dedup.sourceSketch(docs, col("source"), col("text"))
    val merged = Dedup.sourceSketch(docs.filter(col("doc_id") % 2 === 0),
        col("source"), col("text"))
      .unionByName(Dedup.sourceSketch(docs.filter(col("doc_id") % 2 === 1),
        col("source"), col("text")))
      .groupBy("source", "bucket").agg(min(col("mh")).as("mh"))
    assert(full.exceptAll(merged).count() == 0 &&
      merged.exceptAll(full).count() == 0)
    val direct = Dedup.sketchOverlap(docs, col("source"), col("text"))
    val viaMerge = Dedup.sketchOverlapFromSketch(merged)
    assert(direct.exceptAll(viaMerge).count() == 0 &&
      viaMerge.exceptAll(direct).count() == 0)
  }

  test("sketch lifecycle: retried segment writes are idempotent; serve == one-pass") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, TestSpark.sf)
    val dir = graft.sources.Sinks.tempArtifactDir("graft_sk_drill")
    val day1 = Dedup.sourceSketch(docs.filter(col("doc_id") % 2 === 0),
      col("source"), col("text"))
    val day2 = Dedup.sourceSketch(docs.filter(col("doc_id") % 2 === 1),
      col("source"), col("text"))
    Dedup.writeSketchSegment(day1, dir, "day1")
    // a declared RETRY of the same label rewrites its own segment only
    Dedup.writeSketchSegment(day1, dir, "day1")
    Dedup.writeSketchSegment(day2, dir, "day2")
    val served = Dedup.servedSketchOverlap(spark, dir)
    val onePass = Dedup.sketchOverlap(docs, col("source"), col("text"))
    assert(served.exceptAll(onePass).count() == 0 &&
      onePass.exceptAll(served).count() == 0)
  }

  test("ngramContainment flags the subset duplicate Jaccard dilutes away") {
    import graft.dedup.Dedup
    val contained = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, contained + " lambda"), // superset: one extra token
      (2L, contained),
      (3L, "totally unrelated words with zero shared trigram shingles anywhere"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.ngramContainment(docs, col("doc_id"), col("text"), pairs)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5), r.getDouble(6))).toSeq
    // doc2 (8 shingles) is fully inside doc1 (9 shingles):
    // containment_b = 1.0 while Jaccard is only 8/9
    assert(out.head == (1L, 2L, 8L, 0.888889, 1.0))
    assert(out(1)._3 == 0L) // disjoint pair: zero intersection
    // containmentDedup drops the CONTAINED side (doc2), keeps the superset
    val kept = Dedup.containmentDedup(docs, col("doc_id"), col("text"),
      threshold = 0.95)
    assert(kept.select(col("doc_id")).as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // the regime the operator exists for: a 12-token doc inside a
    // 53-token page has Jaccard ~ 10/51 (Jaccard-tuned LSH bands would
    // essentially never collide) but containment_b = 1.0 — the winnow
    // candidate generator guarantees the pair surfaces
    val short = contained + " lambda mu"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs2 = Seq((10L, filler + " " + short), (11L, short)).toDF("doc_id", "text")
    val kept2 = Dedup.containmentDedup(docs2, col("doc_id"), col("text"),
      threshold = 0.9)
    assert(kept2.select(col("doc_id")).as[Long].collect().toSeq == Seq(10L))
    // a pair whose side is shorter than shingleN tokens is preserved
    // with null containment, not silently swallowed by the size join
    val tiny = Seq((1L, "just two"), (2L, "three little tokens here"))
      .toDF("doc_id", "text")
    val st = Dedup.ngramContainment(tiny, col("doc_id"), col("text"),
      Seq((1L, 2L)).toDF("id_a", "id_b")).collect().head
    assert(st.getLong(2) == 0L && st.getLong(3) == 0L) // n_inter, n_a
    assert(st.isNullAt(5) && st.getDouble(6) == 0.0)   // c_a null, c_b 0
  }

  test("DataQuality: row rules one-pass, unique key counts dups+nulls, orphans both directions") {
    val child = Seq((1L, 10L, 5.0), (2L, 10L, -1.0), (3L, 99L, 2.0))
      .toDF("id", "fk", "amount")
    val parent = Seq((10L, "a"), (20L, "b"), (20L, "c"),
      (30L, "d")).toDF("pk", "name")
      .union(Seq((Option.empty[Long], "e")).toDF("pk", "name"))
    val rep = DataQuality.report(
      DataQuality.rowRules(child, Seq(
        "child_nonpos_amount" -> (col("amount") <= 0),
        "child_never_fires" -> (col("amount") > 1e9))),
      DataQuality.uniqueKeyRule("parent_pk_unique", parent, col("pk")),
      DataQuality.orphanRule("child_orphan_fk", child, col("fk"),
        parent, col("pk")),
      DataQuality.orphanRule("parent_childless", parent, col("pk"),
        child, col("fk")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("child_nonpos_amount") == 1)
    // clean rules REPORT zero — the report's shape is data-independent
    assert(rep("child_never_fires") == 0)
    // one duplicate (20 twice) + one null key = 2 violations
    assert(rep("parent_pk_unique") == 2)
    assert(rep("child_orphan_fk") == 1)        // fk=99 has no parent
    // parents 20 (x2), 30, and the null-keyed row have no children
    assert(rep("parent_childless") == 4)
    assert(rep.size == 5)
    // the row-rule block folds in ONE aggregation over ONE scan
    val p = DataQuality.rowRules(child, Seq(
        "a" -> (col("amount") <= 0), "b" -> (col("amount") > 3)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Union"), s"row rules must not union scans:\n$p")
  }

  test("Sweep.concurrency: overlap counts exact, inclusive endpoints, day-boundary carry") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // intervals: A[1:00,3:00] B[2:00,4:00] C[2:30,2:45] overlap to 3;
    // D is zero-length (counts with itself); E spans a DAY boundary so
    // day-2 points only get the right answer via the carry-in offset
    val iv = Seq(
      (1L, ts("2024-01-01 01:00:00"), ts("2024-01-01 03:00:00")),
      (2L, ts("2024-01-01 02:00:00"), ts("2024-01-01 04:00:00")),
      (3L, ts("2024-01-01 02:30:00"), ts("2024-01-01 02:45:00")),
      (4L, ts("2024-01-01 05:00:00"), ts("2024-01-01 05:00:00")),
      (5L, ts("2024-01-01 23:00:00"), ts("2024-01-02 01:00:00")),
      (6L, ts("2024-01-02 00:30:00"), ts("2024-01-02 02:00:00"))
    ).toDF("id", "s", "e")
    val out = Sweep.concurrency(iv, col("s"), col("e"), col("id"))
      .orderBy(col("ts"), col("delta").desc, col("concurrency"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
    val atStart = out.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(atStart("2024-01-01 02:30:00.0") == 3)   // A+B+C open
    assert(atStart("2024-01-01 05:00:00.0") == 1)   // zero-length counts itself
    // day-2 start sees the still-open day-1 interval via the carry-in
    assert(atStart("2024-01-02 00:30:00.0") == 2)
    // sweep invariant: the final running value returns to zero
    assert(out.last._3 == 0)
    // every concurrency ≥ 1 at a start, ≥ 0 at an end
    assert(out.forall { case (_, d, c) => if (d == 1) c >= 1 else c >= 0 })
  }

  test("topComponents: orthonormal, non-increasing eigenvalues, residuals small") {
    import graft.similarity.EmbeddingStats
    val cov = EmbeddingStats.covarianceNumerators(
        Tables.embeddings(spark, TestSpark.sf), col("embedding"), dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val comps = EmbeddingStats.topComponents(cov, dim = 64, k = 3)
    assert(comps.length == 3)
    val vals = comps.map(_._2)
    assert(vals == vals.sortBy(-_), s"eigenvalues not non-increasing: $vals")
    for (a <- 0 until 3; b <- a until 3) {
      val dot = comps(a)._1.zip(comps(b)._1).map { case (x, y) => x * y }.sum
      if (a == b) assert(math.abs(dot - 1.0) < 1e-9)
      else assert(math.abs(dot) < 1e-6, s"components $a,$b not orthogonal: $dot")
    }
    // each is an eigenvector of the ORIGINAL matrix
    val m = Array.ofDim[Double](64, 64)
    cov.foreach { case (i, j, c) =>
      m(i.toInt - 1)(j.toInt - 1) = c.toDouble; m(j.toInt - 1)(i.toInt - 1) = c.toDouble
    }
    comps.foreach { case (v, lambda) =>
      val cv = Array.tabulate(64)(i => (0 until 64).map(j => m(i)(j) * v(j)).sum)
      val resid = math.sqrt(cv.zip(v).map { case (a, b) =>
        (a - lambda * b) * (a - lambda * b) }.sum) / comps.head._2
      assert(resid < 1e-5, s"eigen residual $resid")
    }
    // projectK yields one finite coordinate per component
    val coords = Tables.embeddings(spark, TestSpark.sf)
      .select(EmbeddingStats.projectK(col("embedding"), comps.map(_._1)).as("c"))
      .as[Seq[Double]].head()
    assert(coords.length == 3 && coords.forall(x => !x.isNaN && !x.isInfinite))
  }

  test("trendSlopes: exact small-series numerators; overflow raises instead of wrapping") {
    // y = 2x + 1 over x=0..3 → slope_num/slope_den = 2 exactly
    val hourly = Seq(("a", 100L, 1L), ("a", 101L, 3L), ("a", 102L, 5L),
      ("a", 103L, 7L)).toDF("key", "hour_idx", "n")
    val r = TimeWindow.trendSlopes(hourly).head()
    assert(r.getAs[Long]("n_hours") == 4L &&
      r.getAs[Long]("slope_num") * 1L == 2L * r.getAs[Long]("slope_den") &&
      r.getAs[Long]("slope_den") > 0)
    // values whose internal sums fit in long but whose final product
    // c·Σxy = 2.4e19 leaves long range: the DECIMAL product path must
    // raise loudly (the EmbeddingStats addExact convention), never
    // emit a silently wrapped slope
    val big = Seq(("b", 0L, -4000000000000000000L), ("b", 1L, 0L),
      ("b", 2L, 4000000000000000000L)).toDF("key", "hour_idx", "n")
    val e = intercept[Exception] {
      TimeWindow.trendSlopes(big).collect()
    }
    assert(e.getMessage.contains("overflows long"), e.getMessage)
  }

  test("cdcChunks: reassembly, short docs, insertion shifts only the landing chunk") {
    import graft.dedup.Dedup
    val words = {
      val rnd = new scala.util.Random(11)
      (1 to 400).map(_ => s"w${rnd.nextInt(80)}")
    }
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, "a b"),                       // shorter than the shingle: one chunk
      (3L, "x " + words.mkString(" "))) // doc 1 with one token inserted at front
      .toDF("id", "text")
    val ch = Dedup.cdcChunks(docs, col("id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    // chunk texts concatenate back to the document, in order
    val re = ch.filter(_._1 == 1L).sortBy(_._2).map(_._4).mkString(" ")
    assert(re == words.mkString(" "))
    // token counts tile the doc
    assert(ch.filter(_._1 == 1L).map(_._3).sum == 400L)
    // sub-shingle doc: exactly one whole-doc chunk
    assert(ch.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 2L, "a b",
      ch.filter(_._1 == 2L).head._5)))
    // the CDC property: doc 3 = doc 1 with one token inserted at the
    // front — boundaries re-align at the first surviving gram, so all
    // of doc 1's chunk fingerprints except at most the first survive
    val f1 = ch.filter(_._1 == 1L).sortBy(_._2).map(_._5)
    val f3 = ch.filter(_._1 == 3L).map(_._5).toSet
    assert(f1.length > 5, s"fixture too short: ${f1.length} chunks")
    assert(f1.drop(1).forall(f3.contains),
      "insertion must not disturb chunks after the first boundary")
    // stats: doc 3 duplicates most of doc 1's chunks
    val st = Dedup.chunkDedupStats(Dedup.cdcChunks(docs, col("id"), col("text")))
      .as[(Long, Long, Long, Long)].collect().head
    assert(st._1 == st._2 + st._3 && st._3 >= f1.length - 1)
    intercept[IllegalArgumentException] {
      Dedup.cdcChunks(docs, col("id"), col("text"), shingleN = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.cdcChunks(docs, col("id"), col("text"), hexZeros = 9)
    }
  }

  test("DriverCollect.distinctValues: the distinct() set without nulls, one job, a cap that refuses iff the global distinct count exceeds it") {
    import TestSpark.jobsOf
    // duplicates of every value span all 8 partitions; every 10th row null
    val df = spark.range(0, 1000, 1, 8).select(
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id") % 37).as("v"))
    val (got, jobs) = jobsOf(DriverCollect.distinctValues[Long](df, col("v")))
    assert(jobs == 1, s"distinctValues ran $jobs jobs")
    val expect = df.distinct().collect().filterNot(_.isNullAt(0)).map(_.getLong(0))
    assert(got.length == expect.length && got.toSet == expect.toSet)
    // exactly `cap` distinct values, one per partition: no partition
    // alone exceeds the cap, only the union decides
    val spread = spark.range(0, 8, 1, 8).toDF("v")
    assert(DriverCollect.distinctValues[Long](spread, col("v"), cap = 8,
      overCap = "over").sorted == (0L until 8L))
    val e = intercept[IllegalArgumentException](
      DriverCollect.distinctValues[Long](spread, col("v"), cap = 7, overCap = "over 7"))
    assert(e.getMessage == "requirement failed: over 7")
    // the two capped callers keep their refusals word for word
    val recs = (0L until 6L).map(i => (i, i, s"body $i")).toDF("f", "i", "b")
    val files = graft.sources.Warc.writeWarc(recs, col("f"), col("i"),
      lit("conversion"), concat(lit("https://h.com/p/"), col("i")), col("b"))
    val extents = graft.sources.Warc.parseWarc(files, col("file_id"), col("payload"))
      .select(col("file_id"), col("record_idx"), col("offset"), col("record_bytes"))
    assert(graft.sources.Warc.fetchRecords(files, col("file_id"), col("payload"),
      extents, maxFiles = 6).count() == 6)
    val fe = intercept[IllegalArgumentException](graft.sources.Warc.fetchRecords(
      files, col("file_id"), col("payload"), extents, maxFiles = 5))
    assert(fe.getMessage == "requirement failed: fetchRecords: the lookup batch " +
      "touches more than 5 distinct files — the collected prune list must stay " +
      "config-sized; split the batch or raise maxFiles deliberately")
    val words = Seq("a", "b", "c", "d", "a", "b", "c", "d").map(_ -> 1L)
      .toDF("word", "freq").repartition(4)
    val noMerges = Seq.empty[(Long, String)].toDF("rank", "merged")
    assert(graft.text.WordPiece.trainedVocabFromWords(words, noMerges,
      maxAlphabet = 4) == Seq("a", "b", "c", "d"))
    val we = intercept[IllegalArgumentException](
      graft.text.WordPiece.trainedVocabFromWords(words, noMerges, maxAlphabet = 3))
    assert(we.getMessage == "requirement failed: trainedVocab: seed alphabet " +
      "exceeds 3 symbols — not a natural-language corpus, or the cap needs an " +
      "explicit raise")
  }
}
