package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.KeyedElement

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming accumulateWhileUnchanged flushes on property change across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[KeyedElement]
    val out = StatefulOps.accumulateWhileUnchanged(input.toDS())
    val q = out.writeStream.format("memory").queryName("awu_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(KeyedElement(1, 1, "a", 1.0), KeyedElement(1, 2, "a", 2.0))
      q.processAllAvailable()
      assert(spark.table("awu_out").count() == 0) // run still open

      input.addData(KeyedElement(1, 3, "b", 3.0)) // property change → flush "a" run
      q.processAllAvailable()
      val flushed = spark.table("awu_out").as[StatefulOps.UnchangedGroup].collect()
      assert(flushed.toSeq == Seq(StatefulOps.UnchangedGroup(1, "a", 2, 1, 2, 3.0)))

      input.addData(KeyedElement(1, 4, "c", 4.0), KeyedElement(2, 1, "z", 9.0))
      q.processAllAvailable()
      val all = spark.table("awu_out").as[StatefulOps.UnchangedGroup].collect()
      assert(all.map(_.property).sorted.toSeq == Seq("a", "b"))
    } finally TestSpark.quietStop(q)
  }

  test("streaming minhash dedup suppresses near-duplicates first-wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    val input = MemoryStream[(Long, String, Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ts")
    val out = graft.streaming.StreamingQueries.minhashStreamingDedup(
      df, col("doc_id"), col("text"), col("ts"), horizon = "1 hour")
    val q = out.writeStream.format("memory").queryName("mh_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      val t = Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog", t),
        (2L, "a completely different document about spark engines", t))
      q.processAllAvailable()
      input.addData(
        (3L, "the quick brown fox jumps over the lazy dog", t), // dup of 1 → dropped
        (4L, "yet another unique text with many novel tokens here", t))
      q.processAllAvailable()
      val kept = spark.table("mh_dedup").select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(1L, 2L, 4L), s"kept: ${kept.toSeq}")
    } finally TestSpark.quietStop(q)
  }

  test("streaming any-band LSH matches partial signatures across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StatefulOps.{BandedDoc, BandMatch}
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val input = MemoryStream[BandedDoc]
    val banded = input.toDS().withWatermark("ts", "1 hour").as[BandedDoc]
    val out = StatefulOps.lshBandMatches(banded, horizonMs = 3600000L, maxPerBand = 2)
    val q = out.writeStream.format("memory").queryName("band_out")
      .outputMode(OutputMode.Append).start()
    def matches() = spark.table("band_out").as[BandMatch].collect().toSet
    try {
      // doc 1's four bands arrive in batch 1
      input.addData(BandedDoc("k1", 1, t), BandedDoc("k2", 1, t),
        BandedDoc("k3", 1, t), BandedDoc("k4", 1, t))
      q.processAllAvailable()
      assert(matches().isEmpty)

      // doc 2 (next batch) agrees with doc 1 on ONLY band k1 — the
      // full-signature dropDuplicates key ("k1#k2#k3#k4" vs
      // "k1#x2#x3#x4") differs, so minhashStreamingDedup would keep
      // both and report nothing; the any-band form finds the match.
      input.addData(BandedDoc("k1", 2, t), BandedDoc("x2", 2, t),
        BandedDoc("x3", 2, t), BandedDoc("x4", 2, t))
      q.processAllAvailable()
      assert(matches() == Set(BandMatch("k1", 1, 2)))

      // maxPerBand = 2: band k1 now holds docs {1, 2}. Doc 3 matches
      // both but is NOT added (cap); doc 4 then matches 1 and 2 only.
      input.addData(BandedDoc("k1", 3, t))
      q.processAllAvailable()
      input.addData(BandedDoc("k1", 4, t))
      q.processAllAvailable()
      assert(matches() == Set(BandMatch("k1", 1, 2), BandMatch("k1", 1, 3),
        BandMatch("k1", 2, 3), BandMatch("k1", 1, 4), BandMatch("k1", 2, 4)))
    } finally TestSpark.quietStop(q)
  }

  test("streaming any-band LSH is redelivery-safe: no self-match, no burnt slot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StatefulOps.{BandedDoc, BandMatch}
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val input = MemoryStream[BandedDoc]
    val banded = input.toDS().withWatermark("ts", "1 hour").as[BandedDoc]
    val out = StatefulOps.lshBandMatches(banded, horizonMs = 3600000L, maxPerBand = 2)
    val q = out.writeStream.format("memory").queryName("band_redeliver")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(BandedDoc("d1", 1, t))
      q.processAllAvailable()
      // at-least-once redelivery of doc 1: no BandMatch(d1, 1, 1), and
      // the duplicate must not burn the second maxPerBand slot
      input.addData(BandedDoc("d1", 1, t))
      q.processAllAvailable()
      assert(spark.table("band_redeliver").as[BandMatch].collect().isEmpty)
      input.addData(BandedDoc("d1", 2, t))
      q.processAllAvailable()
      input.addData(BandedDoc("d1", 3, t)) // slot 2 went to doc 2, not the dup
      q.processAllAvailable()
      assert(spark.table("band_redeliver").as[BandMatch].collect().toSet ==
        Set(BandMatch("d1", 1, 2), BandMatch("d1", 1, 3), BandMatch("d1", 2, 3)))
      // redelivery of HELD doc 1 after doc 2 arrived must emit NOTHING —
      // re-pairing it against the held set would produce the reversed
      // orientation (2, 1), which downstream distinct on
      // (earlierId, laterId) would keep alongside the original (1, 2)
      input.addData(BandedDoc("d1", 1, t))
      q.processAllAvailable()
      assert(spark.table("band_redeliver").as[BandMatch].collect().length == 3,
        "redelivered held doc must not re-pair with reversed orientation")
    } finally TestSpark.quietStop(q)
  }

  test("streaming any-band LSH evicts band state past the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StatefulOps.{BandedDoc, BandMatch}
    val input = MemoryStream[BandedDoc]
    val banded = input.toDS().withWatermark("ts", "1 hour").as[BandedDoc]
    val out = StatefulOps.lshBandMatches(banded, horizonMs = 3600000L)
    val q = out.writeStream.format("memory").queryName("band_evict")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(BandedDoc("e1", 1, Timestamp.valueOf("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // advance the watermark far past doc 1's horizon (wm → 12:00)
      input.addData(BandedDoc("e2", 99, Timestamp.valueOf("2024-01-01 13:00:00")))
      q.processAllAvailable()
      // doc 2 shares band e1 but doc 1 is outside the horizon → no match
      input.addData(BandedDoc("e1", 2, Timestamp.valueOf("2024-01-01 13:30:00")))
      q.processAllAvailable()
      assert(spark.table("band_evict").as[BandMatch].collect().isEmpty)
    } finally TestSpark.quietStop(q)
  }

  test("streaming semantic dedup matches the batch election across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StatefulOps.SemanticVerdict
    // the OperatorsSpec semanticDedup fixture, fed in id order across
    // two batches — first-wins then equals the batch min-id election
    val vecs = Map(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0), 2L -> Array(0.95, 0.05),
      3L -> Array(0.1, 0.9), 4L -> Array(0.6, 0.8), 5L -> Array(0.05, 0.95),
      6L -> Array(0.7, 0.714))
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      .toDF("centroid_id", "centv")
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val input = MemoryStream[(Long, Array[Double], Timestamp)]
    val df = input.toDF().toDF("vec_id", "embedding", "ts")
    val out = graft.streaming.StreamingQueries.semanticStreamingDedup(
      df, col("vec_id"), col("embedding"), col("ts"), cents, threshold = 0.9)
    val q = out.writeStream.format("memory").queryName("sem_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((0L to 3L).map(i => (i, vecs(i), t)): _*)
      q.processAllAvailable()
      input.addData((4L to 6L).map(i => (i, vecs(i), t)): _*)
      q.processAllAvailable()
      val got = spark.table("sem_stream").as[SemanticVerdict].collect()
        .map(v => v.vecId -> ((v.kept, v.dupOf))).toMap
      assert(got.filter(_._2._1).keySet == Set(0L, 1L, 4L)) // batch kept set
      assert(got(2L)._2 == 0L && got(3L)._2 == 1L &&
        got(5L)._2 == 1L && got(6L)._2 == 4L)
      // redelivery of kept vec 0: re-emitted kept, never a dup of itself
      input.addData((0L, vecs(0L), t))
      q.processAllAvailable()
      val redelivered = spark.table("sem_stream").as[SemanticVerdict].collect()
        .filter(_.vecId == 0L)
      assert(redelivered.length == 2 && redelivered.forall(v => v.kept && v.dupOf == -1L))
    } finally TestSpark.quietStop(q)
  }

  test("streaming semantic dedup keeps MORE than batch on dominated-by-dropped chains") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StatefulOps.SemanticVerdict
    // transitive chain: cos(1,2) >= t and cos(2,3) >= t but cos(1,3) < t.
    // Batch semanticDedup dominates by ANY smaller-id mate (2 drops 3
    // even though 2 was itself dropped); streaming compares only against
    // KEPT representatives, so 3 survives — the documented divergence.
    val vecs = Map(
      1L -> Array(1.0, 0.0),
      2L -> Array(math.cos(0.35), math.sin(0.35)), // cos to 1 ≈ 0.939
      3L -> Array(math.cos(0.70), math.sin(0.70))) // cos to 2 ≈ 0.939, to 1 ≈ 0.765
    val cents = Seq((0L, Array(1.0, 0.0))).toDF("centroid_id", "centv")
    val batch = graft.dedup.Dedup.semanticDedup(
        vecs.toSeq.map { case (i, v) => (i, v.map(_.toFloat)) }
          .toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), cents, threshold = 0.9)
      .filter(col("kept")).select("vec_id").as[Long].collect().toSet
    assert(batch == Set(1L), "batch drops the whole chain")
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val input = MemoryStream[(Long, Array[Double], Timestamp)]
    val out = graft.streaming.StreamingQueries.semanticStreamingDedup(
      input.toDF().toDF("vec_id", "embedding", "ts"),
      col("vec_id"), col("embedding"), col("ts"), cents, threshold = 0.9)
    val q = out.writeStream.format("memory").queryName("sem_chain")
      .outputMode(OutputMode.Append).start()
    try {
      (1L to 3L).foreach { i => input.addData((i, vecs(i), t)); q.processAllAvailable() }
      val kept = spark.table("sem_chain").as[SemanticVerdict].collect()
        .filter(_.kept).map(_.vecId).toSet
      assert(kept == Set(1L, 3L), "streaming keeps the chain endpoint (3)")
    } finally TestSpark.quietStop(q)
  }

  test("minhashStreamingCandidates surfaces cross-batch near-dups end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    val input = MemoryStream[(Long, String, Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ts")
    val out = graft.streaming.StreamingQueries.minhashStreamingCandidates(
      df, col("doc_id"), col("text"), col("ts"), horizonMs = 3600000L)
    val q = out.writeStream.format("memory").queryName("mh_cand")
      .outputMode(OutputMode.Append).start()
    try {
      val t = Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog", t),
        (2L, "a completely different document about spark engines", t))
      q.processAllAvailable()
      input.addData((3L, "the quick brown fox jumps over the lazy dog", t))
      q.processAllAvailable()
      val pairs = spark.table("mh_cand")
        .select("earlierId", "laterId").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 3L)), s"pairs: $pairs")
    } finally TestSpark.quietStop(q)
  }

  test("stateful ops run unchanged on the RocksDB state store (scale path)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the RocksDB provider with changelog checkpointing and bounded memory
    val rocksConfs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true")
    rocksConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val input = MemoryStream[KeyedElement]
      val out = StatefulOps.accumulateWhileUnchanged(input.toDS())
      val q = out.writeStream.format("memory").queryName("awu_rocks")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(KeyedElement(1, 1, "a", 1.0), KeyedElement(1, 2, "a", 2.0))
        q.processAllAvailable()
        input.addData(KeyedElement(1, 3, "b", 3.0))
        q.processAllAvailable()
        val flushed = spark.table("awu_rocks").as[StatefulOps.UnchangedGroup].collect()
        assert(flushed.toSeq == Seq(StatefulOps.UnchangedGroup(1, "a", 2, 1, 2, 3.0)))
        // prove the query really used RocksDB, not the default provider
        assert(q.lastProgress.stateOperators.nonEmpty)
        val mem = q.lastProgress.stateOperators(0).customMetrics
        assert(mem.containsKey("rocksdbSstFileSize") || mem.containsKey("rocksdbTotalMemoryUsage"),
          s"no rocksdb metrics: ${mem.keySet()}")
      } finally TestSpark.quietStop(q)

      // the any-band LSH state (List-valued buffer) on RocksDB too
      import java.sql.Timestamp
      import graft.streaming.StatefulOps.{BandedDoc, BandMatch}
      val t = Timestamp.valueOf("2024-01-01 10:00:00")
      val bin = MemoryStream[BandedDoc]
      val banded = bin.toDS().withWatermark("ts", "1 hour").as[BandedDoc]
      val bq = StatefulOps.lshBandMatches(banded, horizonMs = 3600000L)
        .writeStream.format("memory").queryName("band_rocks")
        .outputMode(OutputMode.Append).start()
      try {
        bin.addData(BandedDoc("r1", 1, t))
        bq.processAllAvailable()
        bin.addData(BandedDoc("r1", 2, t))
        bq.processAllAvailable()
        assert(spark.table("band_rocks").as[BandMatch].collect().toSet ==
          Set(BandMatch("r1", 1, 2)))
      } finally TestSpark.quietStop(bq)
    } finally rocksConfs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("streaming accumulateWhileUnchanged caps runs at maxElements") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[KeyedElement]
    val out = StatefulOps.accumulateWhileUnchanged(input.toDS(), maxElements = Some(2))
    val q = out.writeStream.format("memory").queryName("awu_cap_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1 to 5).map(i => KeyedElement(1, i, "a", 1.0)): _*)
      q.processAllAvailable()
      val flushed = spark.table("awu_cap_out").as[StatefulOps.UnchangedGroup].collect()
      assert(flushed.map(_.n).sorted.toSeq == Seq(2L, 2L)) // one run of 1 still open
    } finally TestSpark.quietStop(q)
  }

  test("streaming lastElementPerKey tracks the max-seq element") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[KeyedElement]
    val out = StatefulOps.lastElementPerKey(input.toDS())
    val q = out.writeStream.format("memory").queryName("last_out")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(KeyedElement(1, 5, "a", 5.0), KeyedElement(1, 3, "a", 3.0))
      q.processAllAvailable()
      input.addData(KeyedElement(1, 4, "a", 4.0)) // older than 5 → keeps 5
      q.processAllAvailable()
      val last = spark.table("last_out").as[StatefulOps.Last].collect()
        .groupBy(_.key).view.mapValues(_.maxBy(_.seq)).toMap
      assert(last(1L) == StatefulOps.Last(1, 5, 5.0))
    } finally TestSpark.quietStop(q)
  }

  test("paceByKey releases maxPerTrigger per key per round, drains on its own timer, in order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[KeyedElement]
    val out = StatefulOps.paceByKey(input.toDS(), maxPerTrigger = 2,
      maxBuffer = 100, drainIntervalMs = 50)
    // ProcessingTimeTimeout self-drives batches — poll the sink
    val q = out.writeStream.format("memory").queryName("pace_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    def rows(): Seq[StatefulOps.PacedRelease] =
      spark.table("pace_out").as[StatefulOps.PacedRelease].collect().toSeq
    def awaitRows(n: Int, timeoutMs: Long): Seq[StatefulOps.PacedRelease] = {
      val deadline = System.currentTimeMillis + timeoutMs
      var cur = rows()
      while (cur.size < n && System.currentTimeMillis < deadline) {
        Thread.sleep(200); cur = rows()
      }
      cur
    }
    try {
      // 7 rows for key 1 in ONE batch + 1 row for key 2: key 1 needs
      // ceil(7/2)=4 release rounds (3 of them timer-driven), key 2 one
      input.addData((1 to 7).map(i => KeyedElement(1, i, "a", i.toDouble)) :+
        KeyedElement(2, 1, "z", 9.0): _*)
      val all = awaitRows(8, 30000)
      assert(all.size == 8, s"expected all 8 released, got ${all.size}")
      val k1 = all.filter(_.key == 1).sortBy(_.seq)
      // in seq order, 2 per round, rounds strictly increasing 1..4
      assert(k1.map(_.seq) == (1L to 7L))
      assert(k1.map(_.round) == Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L))
      assert(all.filter(_.key == 2).map(_.round) == Seq(1L))
      // keys pace independently: key 2 was not delayed by key 1's backlog
    } finally TestSpark.quietStop(q)
  }

  test("paceByKeyRates: per-key crawl-delay rates pace domains at their own cadence") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[KeyedElement]
    // the robots wiring: key 1 published Crawl-delay 100ms at a 100ms
    // trigger (1/trigger); key 2 is un-delayed (3/trigger)
    val rates = Map(1L -> 1, 2L -> 3).withDefaultValue(3)
    val out = StatefulOps.paceByKeyRates(input.toDS(), rates,
      maxBuffer = 100, drainIntervalMs = 50)
    val q = out.writeStream.format("memory").queryName("pace_rates_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    def rows(): Seq[StatefulOps.PacedRelease] =
      spark.table("pace_rates_out").as[StatefulOps.PacedRelease].collect().toSeq
    def awaitRows(n: Int, timeoutMs: Long): Seq[StatefulOps.PacedRelease] = {
      val deadline = System.currentTimeMillis + timeoutMs
      var cur = rows()
      while (cur.size < n && System.currentTimeMillis < deadline) {
        Thread.sleep(200); cur = rows()
      }
      cur
    }
    try {
      input.addData((1 to 6).flatMap(i =>
        Seq(KeyedElement(1, i, "a", i.toDouble),
          KeyedElement(2, i, "b", i.toDouble))): _*)
      val all = awaitRows(12, 30000)
      assert(all.size == 12, s"expected all 12 released, got ${all.size}")
      val k1 = all.filter(_.key == 1).sortBy(_.seq)
      val k2 = all.filter(_.key == 2).sortBy(_.seq)
      // delayed domain: one per round, 6 rounds; fast domain: 3 per
      // round, 2 rounds — each key at ITS OWN published cadence
      assert(k1.map(_.round) == (1L to 6L))
      assert(k2.map(_.round) == Seq(1L, 1L, 1L, 2L, 2L, 2L))
    } finally TestSpark.quietStop(q)
  }

  test("streaming keepAlive injects bounded synthetic heartbeats for idle keys") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[KeyedElement]
    val out = StatefulOps.keepAlive(input.toDS(), idleMs = 300, failoverSize = 2)
    // NOTE: with ProcessingTimeTimeout, shouldRunAnotherBatch is always
    // true, so the engine self-drives batches (servicing the timers) and
    // processAllAvailable would never quiesce — poll the sink instead.
    val q = out.writeStream.format("memory").queryName("ka_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    def rows(): Seq[StatefulOps.Heartbeat] =
      spark.table("ka_out").as[StatefulOps.Heartbeat].collect().toSeq
    def awaitRows(pred: Seq[StatefulOps.Heartbeat] => Boolean,
                  timeoutMs: Long): Seq[StatefulOps.Heartbeat] = {
      val deadline = System.currentTimeMillis + timeoutMs
      var cur = rows()
      while (!pred(cur) && System.currentTimeMillis < deadline) {
        Thread.sleep(200); cur = rows()
      }
      cur
    }
    try {
      input.addData(KeyedElement(1, 1, "a", 5.0))
      // pass-through row arrives first
      val pass = awaitRows(_.exists(h => h.key == 1 && !h.synthetic), 30000)
      assert(pass.contains(StatefulOps.Heartbeat(1, 1, "a", 5.0, synthetic = false)))

      // idle key → synthetic heartbeats, capped at failoverSize=2
      val withBeats = awaitRows(_.count(h => h.key == 1 && h.synthetic) >= 2, 30000)
      val beats = withBeats.filter(h => h.key == 1 && h.synthetic)
      assert(beats.length == 2, s"expected 2 heartbeats, got $beats")
      assert(beats.forall(h => h.property == "a" && h.payload == 5.0 && h.seq == 1))

      // budget exhausted → several more idle intervals add nothing
      Thread.sleep(1500)
      assert(rows().count(h => h.key == 1 && h.synthetic) == 2)
    } finally TestSpark.quietStop(q)
  }

  test("streaming tumbling window equals the batch plan (q21)") {
    val viaStream = graft.streaming.StreamingQueries.tumblingWindow(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("q21_tumbling_window")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.toSeq == b.toSeq)
  }

  // the twins whose body is their batch entry's, run on the streaming
  // seams: each must return its batch entry's rows under its oracle
  private val derivedTwins = Seq(
    "q71_streaming_rag_chunks" -> "p60_rag_chunks",
    "q73_streaming_bpe_encode" -> "p64_bpe_encode",
    "q93_streaming_anomaly" -> "q92_anomaly_hours",
    "q94_streaming_split" -> "p96_leakage_safe_split",
    "q101_streaming_trend" -> "q100_trend_slopes",
    "q103_streaming_quality" -> "p102_data_quality",
    "q107_streaming_ewma" -> "q99_ewma_hours",
    "q108_streaming_pii" -> "p109_pii_redact",
    "q116_streaming_normalize" -> "p120_text_normalize",
    "q117_streaming_script_mix" -> "p128_script_mix",
    "q118_streaming_html_extract" -> "p130_html_extract",
    "q122_streaming_anchor_terms" -> "p134_anchor_terms",
    "q124_streaming_jsonl" -> "p143_jsonl_quarantine",
    "q125_streaming_kanon" -> "p144_kanon_release",
    "q127_streaming_snippets" -> "p146_snippets",
    "q129_streaming_cdc" -> "p152_cdc_chunks",
    "q132_streaming_byte_bpe_encode" -> "p159_bpe_bytes_encode",
    "q134_streaming_warc" -> "p167_warc_parse",
    "q135_streaming_crawl_delay" -> "p161_robots_crawl_delay",
    "q136_streaming_cdx" -> "p170_cdx_index",
    "q138_streaming_warc_images" -> "p178_warc_images",
    "q140_streaming_http" -> "p179_http_split",
    "q142_streaming_wordpiece" -> "p196_wordpiece_encode",
    "q149_streaming_nfc_dedup" -> "p208_unicode_nfc",
    "q151_streaming_wat" -> "p186_wat_metadata",
    "q152_streaming_meta_robots" -> "p211_meta_robots",
    "q153_streaming_follow_harvest" -> "p212_follow_harvest",
    "q154_streaming_entropy" -> "p213_token_entropy",
    "q155_streaming_rel_canonical" -> "p215_rel_canonical",
    "q156_streaming_meta_refresh" -> "p216_meta_refresh",
    "q158_streaming_gif_frames" -> "p221_gif_frames",
    "q161_streaming_sentence_chunks" -> "p227_sentence_chunks",
    "q162_streaming_langid_script" -> "p224_langid_script",
    // the whole body runs on the stream
    "q31_streaming_dedup" -> "p01_dedup_exact",
    "q51_streaming_ann" -> "p08_embedding_topk",
    "q52_streaming_sample" -> "p19_stratified_sample",
    "q62_streaming_weighted_sample" -> "p51_weighted_sample",
    // frozen-model scorers: the model trains on the batch table
    "q56_streaming_perplexity" -> "p45_perplexity",
    "q81_streaming_log_odds" -> "p81_log_odds_quality",
    "q113_streaming_dsir" -> "p115_dsir_weights",
    "q143_streaming_kn" -> "p201_kn_perplexity",
    "q146_streaming_kn3" -> "p205_kn_trigram_ppl",
    // fold on the stream, finalize on the cut
    "q50_streaming_heavy_hitters" -> "p38_heavy_hitters",
    "q70_streaming_bpe_train" -> "p58_bpe_train",
    "q83_streaming_sketch_overlap" -> "p84_sketch_overlap",
    "q86_streaming_calibration" -> "p90_quality_calibration",
    "q98_streaming_active" -> "q97_rolling_active",
    "q102_streaming_prefix" -> "p103_prefix_index",
    "q121_streaming_trap" -> "p142_trap_signals",
    "q128_streaming_vocab_coverage" -> "p151_vocab_coverage",
    "q131_streaming_byte_bpe_train" -> "p158_bpe_bytes_train",
    // group on the stream, join the batch rows to the cut
    "q66_streaming_phash_dedup" -> "p56_phash_dedup",
    "q72_streaming_url_dedup" -> "p63_url_dedup",
    "q82_streaming_phash_near" -> "p80_phash_near_dedup")

  test("derived streaming twins return their batch entries' rows") {
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, TestSpark.sf).collect().toSeq
        .map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq.toString
          case v => String.valueOf(v)
        }.mkString("|"))
        .sorted
    // an empty twin and an empty batch entry would compare equal
    val differing = derivedTwins.filterNot { case (twin, batch) =>
      val r = rows(twin)
      SparkEntry.oracleSql(twin) == SparkEntry.oracleSql(batch) &&
        r.nonEmpty && r == rows(batch)
    }
    assert(differing.isEmpty, s"twins empty or differing from their batch entries: $differing")
  }

  // q37/q44 read-path parity pins, mirroring q21's: the streaming result
  // must equal the SAME logic run as a batch plan over Tables.events —
  // the spec class that caught round 6's decode divergence for q21, now
  // covering the join and session twins whose divergence was only
  // visible to the driver's oracle.
  test("streaming stream-stream join equals the batch interval join (q37)") {
    import org.apache.spark.sql.functions._
    val viaStream = graft.streaming.StreamingQueries.clickToPurchase(spark, TestSpark.sf)
    val ev = Tables.events(spark, TestSpark.sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val viaBatch = clicks.join(buys,
      col("user_id") === col("b_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("streaming session window equals the batch gaps-and-islands sessions (q44)") {
    import org.apache.spark.sql.functions._
    val viaStream = graft.streaming.StreamingQueries.sessionWindow(spark, TestSpark.sf)
    val viaBatch = graft.operators.Sessionize.byGap(
        Tables.events(spark, TestSpark.sf), Seq(col("user_id")), col("ts"),
        col("event_id"), 1800L * 1000000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .select(col("session_start"), col("user_id"), col("n_events"),
        col("min_event_id"), col("max_event_id"))
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("streaming HLL registers equal the batch sketch (q59 vs p48)") {
    val viaStream = graft.streaming.StreamingQueries.hllDistinct(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("p48_hll_distinct")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("streaming BM25 with frozen stats equals the batch ranker (q60 vs p49)") {
    val viaStream = graft.streaming.StreamingQueries.bm25TopK(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("p49_bm25_topk")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("recall-first streaming LSH emits the batch any-band pair set (q69 vs p05)") {
    val viaStream = graft.streaming.StreamingQueries.lshCandidatePairs(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("p05_minhash_pairs")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("log-structured posting segments compact to the batch index (q67 vs p55)") {
    val viaStream = graft.streaming.StreamingQueries.logStructuredIndex(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("p55_inverted_index")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("posting-segment compaction merges disjoint slices exactly (LSM merge)") {
    import graft.text.CorpusOps
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf).limit(120)
    // three disjoint slices (micro-batches), one segment each
    val segs = Seq(col("doc_id") % 3 === 0, col("doc_id") % 3 === 1,
        col("doc_id") % 3 === 2)
      .map(p => CorpusOps.invertedIndex(docs.filter(p), col("doc_id"), col("text")))
      .reduce(_ unionAll _)
    val compacted = CorpusOps.compactPostingSegments(segs)
      .collect().map(_.toString).sorted
    val direct = CorpusOps.invertedIndex(docs, col("doc_id"), col("text"))
      .collect().map(_.toString).sorted
    assert(compacted.nonEmpty && compacted.toSeq == direct.toSeq)
    // maxDf prunes the compacted index like the direct build
    val capped = CorpusOps.compactPostingSegments(segs, maxDf = Some(5L))
    assert(capped.filter(col("df") > 5).count() == 0)
  }

  test("posting compaction is multi-level: a compacted index re-merges as a segment") {
    import graft.text.CorpusOps
    import org.apache.spark.sql.functions._
    // the true LSM property: compact(compact(s1, s2) ∪ s3) == direct —
    // a compacted index has the segment schema, so periodic compaction
    // can fold the previous level instead of re-reading every segment
    val docs = Tables.documents(spark, TestSpark.sf).limit(90)
    val Seq(s1, s2, s3) = (0 to 2).map(r =>
      CorpusOps.invertedIndex(docs.filter(col("doc_id") % 3 === r),
        col("doc_id"), col("text")))
    val level1 = CorpusOps.compactPostingSegments(s1 unionAll s2)
    val releveled = CorpusOps.compactPostingSegments(level1 unionAll s3)
      .collect().map(_.toString).sorted
    val direct = CorpusOps.invertedIndex(docs, col("doc_id"), col("text"))
      .collect().map(_.toString).sorted
    assert(releveled.nonEmpty && releveled.toSeq == direct.toSeq)
  }

  test("positional segments compact to the batch positional index and serve phrases fresh") {
    import graft.text.CorpusOps
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf).limit(90)
    val Seq(s1, s2, s3) = (0 to 2).map(r =>
      CorpusOps.invertedIndexPositional(docs.filter(col("doc_id") % 3 === r),
        col("doc_id"), col("text")))
    val direct = CorpusOps.invertedIndexPositional(docs, col("doc_id"), col("text"))
    // LSM merge of disjoint positional slices == direct build
    val compacted = CorpusOps.compactPositionalSegments(s1 unionAll s2 unionAll s3)
      .collect().map(_.toString).sorted
    val directRows = direct.collect().map(_.toString).sorted
    assert(compacted.nonEmpty && compacted.toSeq == directRows.toSeq)
    // multi-level: output has the segment schema, so the previous level
    // folds in as a segment (the q67 LSM property, positional form)
    val releveled = CorpusOps.compactPositionalSegments(
        CorpusOps.compactPositionalSegments(s1 unionAll s2) unionAll s3)
      .collect().map(_.toString).sorted
    assert(releveled.toSeq == directRows.toSeq)
    // maxDf prunes AFTER counting, like the direct build
    val capped = CorpusOps.compactPositionalSegments(s1 unionAll s2 unionAll s3,
      maxDf = Some(5L))
    assert(capped.filter(col("df") > 5).count() == 0)
    // epoch-prefix parity: phrases served from the prefix log == batch
    // phrase search over the prefix corpus, at every epoch boundary
    val phrases = CorpusOps.phraseDemoQueries
    Seq(Seq(s1), Seq(s1, s2), Seq(s1, s2, s3)).zipWithIndex.foreach { case (segs, i) =>
      val prefixDocs = docs.filter(col("doc_id") % 3 <= i)
      val fromLog = CorpusOps.phraseSearch(
          CorpusOps.compactPositionalSegments(segs.reduce(_ unionAll _)), phrases)
        .collect().map(_.toString).sorted
      val batch = CorpusOps.phraseSearch(
          CorpusOps.invertedIndexPositional(prefixDocs, col("doc_id"), col("text")),
          phrases)
        .collect().map(_.toString).sorted
      assert(fromLog.toSeq == batch.toSeq, s"epoch $i phrase serve diverged")
    }
  }

  test("compaction with tombstones equals a direct build on the survivors (both encodings)") {
    import graft.text.CorpusOps
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf).limit(90)
    val deleted = col("doc_id") % 7 === 3
    val deletes = docs.filter(deleted).select(col("doc_id"))
    val survivors = docs.filter(!deleted)
    // tf encoding
    val segs = (0 to 2).map(r => CorpusOps.invertedIndex(
        docs.filter(col("doc_id") % 3 === r), col("doc_id"), col("text")))
      .reduce(_ unionAll _)
    val afterDel = CorpusOps.compactPostingSegments(segs, deletes = Some(deletes))
      .collect().map(_.toString).sorted
    val direct = CorpusOps.invertedIndex(survivors, col("doc_id"), col("text"))
      .collect().map(_.toString).sorted
    assert(afterDel.nonEmpty && afterDel.toSeq == direct.toSeq)
    // positional encoding — phrase serving reflects the deletes too
    val psegs = (0 to 2).map(r => CorpusOps.invertedIndexPositional(
        docs.filter(col("doc_id") % 3 === r), col("doc_id"), col("text")))
      .reduce(_ unionAll _)
    val pAfter = CorpusOps.compactPositionalSegments(psegs, deletes = Some(deletes))
      .collect().map(_.toString).sorted
    val pDirect = CorpusOps.invertedIndexPositional(survivors, col("doc_id"), col("text"))
      .collect().map(_.toString).sorted
    assert(pAfter.nonEmpty && pAfter.toSeq == pDirect.toSeq)
  }

  test("fresh positional log serves the batch phrase answer (q74 vs p62)") {
    val viaStream = graft.streaming.StreamingQueries.phraseServeFresh(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("p62_phrase_search")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("fresh-stats streaming BM25 matches batch over the corpus-so-far at every epoch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.text.CorpusOps
    val queries = CorpusOps.bm25DemoQueries
    val terms = queries.flatMap(_._2).distinct
    val corpus = Tables.documents(spark, TestSpark.sf).limit(90)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect()
    val slices = corpus.grouped(30).toSeq
    val logDir = java.nio.file.Files.createTempDirectory("bm25_epoch_test").toString
    val postSchema = "doc_id LONG, term STRING, tf LONG, dl LONG"
    val statSchema = "n_docs LONG, sum_dl LONG"
    var seen = Seq.empty[(Long, String)]
    slices.foreach { slice =>
      // one epoch: append the slice's segment + stats row to the log
      val b = slice.toSeq.toDF("doc_id", "text")
      CorpusOps.bm25IndexSegment(b, col("doc_id"), col("text"), terms)
        .write.mode("append").parquet(s"$logDir/postings")
      b.select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("sum_dl"))
        .write.mode("append").parquet(s"$logDir/stats")
      seen = seen ++ slice
      // epoch-boundary scores from the LOG == batch ranker over the prefix
      val fromLog = CorpusOps.bm25FromIndex(
          spark.read.schema(postSchema).parquet(s"$logDir/postings"),
          spark.read.schema(statSchema).parquet(s"$logDir/stats"),
          queries, k = 15)
        .collect().map(_.toString).sorted
      val batch = CorpusOps.bm25TopK(seen.toDF("doc_id", "text"),
          col("doc_id"), col("text"), queries, k = 15)
        .collect().map(_.toString).sorted
      assert(fromLog.toSeq == batch.toSeq,
        s"epoch with ${seen.size} docs diverged from batch prefix ranking")
    }
  }

  test("BM25 deletions serve exactly the surviving corpus, stats and df included") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.text.CorpusOps
    val queries = CorpusOps.bm25DemoQueries
    val terms = queries.flatMap(_._2).distinct
    val corpus = Tables.documents(spark, TestSpark.sf).limit(90)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val entries = CorpusOps.bm25IndexSegment(corpus, col("doc_id"), col("text"), terms)
    val toks = corpus.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("sum_dl"))
    val doclens = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val dead = corpus.filter(col("doc_id") % 3 === 1).select(col("doc_id"))
    val served = CorpusOps.bm25FromIndex(entries, stats, queries, k = 15,
        deletes = Some(dead), doclens = Some(doclens))
      .collect().map(_.toString).sorted
    val batchOnSurvivors = CorpusOps.bm25TopK(
        corpus.filter(col("doc_id") % 3 =!= 1), col("doc_id"), col("text"),
        queries, k = 15)
      .collect().map(_.toString).sorted
    assert(served.nonEmpty && served.toSeq == batchOnSurvivors.toSeq)
    // deletions without the doclens sidecar cannot retract stats — loud
    intercept[IllegalArgumentException] {
      CorpusOps.bm25FromIndex(entries, stats, queries, deletes = Some(dead))
    }
  }

  test("streaming histogram quantiles equal the batch sketch (q61 vs p50)") {
    val viaStream = graft.streaming.StreamingQueries.histQuantiles(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("p50_hist_quantiles")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("streaming zero-state decontamination equals the batch gate (q63 vs p23)") {
    val viaStream = graft.streaming.StreamingQueries.decontaminate(spark, TestSpark.sf)
    val viaBatch = SparkEntry.queries("p23_decontam")(spark, TestSpark.sf)
    val s = viaStream.collect().map(_.toString).sorted
    val b = viaBatch.collect().map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq == b.toSeq)
  }

  test("stop removes what is left of a temporary checkpoint and keeps a given one") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    def counts(input: MemoryStream[Long]) =
      input.toDF().groupBy(col("value") % 3).count().writeStream.format("memory")
        .outputMode(OutputMode.Complete)
    def root(q: org.apache.spark.sql.streaming.StreamingQuery) = new java.io.File(
      new java.net.URI(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot))
    val input = MemoryStream[Long]
    val q = counts(input).queryName("ckpt_temp").start()
    input.addData(0L until 10L)
    q.processAllAvailable()
    val temp = root(q)
    assert(temp.getName.startsWith("temporary-") && temp.isDirectory)
    TestSpark.quietStop(q)
    assert(!temp.exists)
    // a state write that lands after Spark's own delete
    val late = new java.io.File(temp, "state/0/2/1.delta")
    late.getParentFile.mkdirs()
    java.nio.file.Files.write(late.toPath, Array[Byte](1))
    graft.streaming.StreamingQueries.stop(q)
    assert(!temp.exists)
    // a checkpointLocation the caller gave is the caller's to keep
    val given = graft.sources.Sinks.tempArtifactDir("ckpt_given")
    val input2 = MemoryStream[Long]
    val q2 = counts(input2).queryName("ckpt_given")
      .option("checkpointLocation", given).start()
    input2.addData(0L until 10L)
    q2.processAllAvailable()
    TestSpark.quietStop(q2)
    assert(new java.io.File(given, "offsets").isDirectory)
  }

  test("tail-read of the documents fixture round-trips every byte (q53)") {
    import org.apache.spark.sql.functions.{col, md5}
    val viaTail = graft.streaming.StreamingQueries.tailReadDocuments(spark, TestSpark.sf)
    val direct = graft.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
    val t = viaTail.collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val d = direct.collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(t.nonEmpty && t.toSeq == d.toSeq)
  }

  test("dead-letter routing splits failures per batch and replay recovers them") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.DeadLetter
    val dir = java.nio.file.Files.createTempDirectory("graft_dlq_").toString
    // Try-as-data attempt: ids divisible by 3 fail on first attempt
    val attempt = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("value", when(col("id") % 3 =!= 0, col("id") * 10))
        .withColumn("error", when(col("id") % 3 === 0, lit("mod3")))
    val input = MemoryStream[Long]
    input.addData(1L to 9L: _*)
    val q = DeadLetter.run(input.toDF().toDF("id"), attempt,
      s"$dir/out", s"$dir/dlq", s"$dir/ckpt")
    q.awaitTermination()
    val ok = spark.read.parquet(s"$dir/out").select("id").as[Long].collect().sorted
    val dead = spark.read.parquet(s"$dir/dlq").select("id").as[Long].collect().sorted
    assert(ok.toSeq == Seq(1L, 2L, 4L, 5L, 7L, 8L))
    assert(dead.toSeq == Seq(3L, 6L, 9L))
    assert(spark.read.parquet(s"$dir/dlq").columns.contains("batch_id"))
    // replay through the batch fixpoint with a retryWith that repairs
    // every dead letter (+1 makes each id indivisible by 3)
    val replayed = DeadLetter.replay(spark, s"$dir/dlq",
      attempt, failed => failed.withColumn("id", col("id") + 1), maxRetries = 2)
    assert(replayed.filter(col("error").isNull).count() == 3)
  }

  test("dead-letter routing lands a replayed batch exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.DeadLetter
    val dir = java.nio.file.Files.createTempDirectory("graft_dlq_replay_").toString
    val attempt = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("value", when(col("id") % 3 =!= 0, col("id") * 10))
        .withColumn("error", when(col("id") % 3 === 0, lit("mod3")))
    // three input files, one per micro-batch
    Seq(1L to 3L, 4L to 6L, 7L to 9L).foreach(ids =>
      ids.toDF("id").coalesce(1).write.mode("append").parquet(s"$dir/in"))
    def runOnce(): Unit = DeadLetter.run(
      spark.readStream.schema("id LONG").option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in"),
      attempt, s"$dir/out", s"$dir/dlq", s"$dir/ckpt").awaitTermination()
    runOnce()
    // a crash after the sink wrote the last batch but before Spark
    // committed it: the restart replays that batch id
    val commits = new java.io.File(s"$dir/ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(last == 2L)
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    runOnce()
    def ids(path: String) =
      spark.read.parquet(path).select("id").as[Long].collect().sorted.toSeq
    assert(ids(s"$dir/out") == Seq(1L, 2L, 4L, 5L, 7L, 8L))
    assert(ids(s"$dir/dlq") == Seq(3L, 6L, 9L))
  }

  test("rowLatencySink records per-row sink latency distributions per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val stats = scala.collection.mutable.ArrayBuffer[graft.operators.Timed.LatencyStats]()
    val sunk = new java.util.concurrent.atomic.AtomicLong(0)
    val base = System.currentTimeMillis() - 5000 // rows "ingested" 5 s ago
    val input = MemoryStream[(Long, Timestamp)]
    input.addData((1L, new Timestamp(base)), (2L, new Timestamp(base + 1000)))
    val q = input.toDF().toDF("id", "ingest_ts").writeStream
      .foreachBatch(graft.operators.Timed.rowLatencySink("ingest_ts",
        (b, _) => { sunk.addAndGet(b.count()); () })(s => { stats += s; () }))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(sunk.get() == 2)
    assert(stats.map(_.n).sum == 2)
    val s = stats.head
    assert(s.minMs >= 3000 && s.maxMs >= s.p95Ms && s.p95Ms >= s.minMs)
    assert(s.avgMs >= s.minMs && s.avgMs <= s.maxMs)
  }

  test("idempotentForeachBatch writes each batch id exactly once") {
    import graft.sources.Sinks
    val dir = java.nio.file.Files.createTempDirectory("graft_commit").toString
    val writes = new java.util.concurrent.atomic.AtomicLong(0)
    val sink = Sinks.idempotentForeachBatch(dir)((_, _) => { writes.incrementAndGet(); () })
    val batch = spark.range(3).toDF()
    sink(batch, 0L)
    sink(batch, 0L) // crash-replay of the same batch id: must be skipped
    sink(batch, 1L)
    assert(writes.get() == 2)
    // markers recorded for both committed ids
    val markers = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(markers == Set("0", "1"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rowLatencySink excludes null-timestamp rows from the population") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    val stats = scala.collection.mutable.ArrayBuffer[graft.operators.Timed.LatencyStats]()
    val sunk = new java.util.concurrent.atomic.AtomicLong(0)
    val base = System.currentTimeMillis() - 5000
    val input = MemoryStream[(Long, Option[Timestamp])]
    // 2 timed rows + 1 untimed row: n must be 2, not 3
    input.addData((1L, Some(new Timestamp(base))),
      (2L, Some(new Timestamp(base + 1000))), (3L, None))
    val q = input.toDF().toDF("id", "ingest_ts").writeStream
      .foreachBatch(graft.operators.Timed.rowLatencySink("ingest_ts",
        (b, _) => { sunk.addAndGet(b.count()); () })(s => { stats += s; () }))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(sunk.get() == 3)     // the sink still gets every row
    assert(stats.map(_.n).sum == 2) // the distribution counts only timed rows
    // an all-null batch records no stats row at all
    val stats2 = scala.collection.mutable.ArrayBuffer[graft.operators.Timed.LatencyStats]()
    val input2 = MemoryStream[(Long, Option[Timestamp])]
    input2.addData((1L, None), (2L, None))
    val q2 = input2.toDF().toDF("id", "ingest_ts").writeStream
      .foreachBatch(graft.operators.Timed.rowLatencySink("ingest_ts",
        (_, _) => ())(s => { stats2 += s; () }))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(stats2.isEmpty)
  }
}
