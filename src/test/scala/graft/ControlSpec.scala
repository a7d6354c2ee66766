package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Control, FeedbackLoop, Timed}

class ControlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("FeedbackLoop.iterate drains the feedback arc (collatz-ish)") {
    // feedback: halve even numbers until all odd; emit odds each round
    val init = Seq(8, 5, 12).toDF("n")
    val out = FeedbackLoop.iterate(init, maxRounds = 10) { fb =>
      (fb.filter(col("n") % 2 === 1), fb.filter(col("n") % 2 === 0).select((col("n") / 2).cast("int").as("n")))
    }
    assert(out.as[Int].collect().sorted.toSeq == Seq(1, 3, 5))
  }

  test("FeedbackLoop.iterate fails on overflow when asked") {
    val init = Seq(1).toDF("n")
    intercept[IllegalStateException] {
      FeedbackLoop.iterate(init, maxRounds = 2, failOnOverflow = true) { fb =>
        (fb.limit(0), fb) // never drains
      }
    }
  }

  test("FileTailSource admission control caps bytes per trigger") {
    val dir = Files.createTempDirectory("tailac").toFile
    val f = new File(dir, "x.bin")
    Files.write(f.toPath, Array.fill[Byte](100)(1))
    val stream = spark.readStream.format("graft.sources.FileTailSource")
      .option("path", f.getAbsolutePath)
      .option("maxChunkSize", "10")
      .option("maxChunksPerTrigger", "3") // ≤30 bytes per batch
      .load()
    val qn = "tail_ac"
    val q = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(25)).start()
    try {
      def bytes(): Long = spark.table(qn)
        .agg(coalesce(sum(length(col("data"))), lit(0L))).as[Long].head()
      val deadline = System.currentTimeMillis() + 60000
      while (bytes() < 100 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
      }
      assert(bytes() == 100)
      // at least 4 triggers were needed (100 bytes / 30-byte admissions)
      assert(spark.table(qn).count() == 10) // 10-byte chunks
    } finally TestSpark.quietStop(q)
  }

  test("TokenThrottleSource admits items only while the dynamic token feed lasts") {
    import graft.sources.TokenThrottleSource
    val feed = TokenThrottleSource.register("tt_items", (0 until 10).map(i => s"e$i"))
    val stream = spark.readStream.format("graft.sources.TokenThrottleSource")
      .option("items", "tt_items").option("tokens", "tt_items").load()
    val qn = "tt_out"
    val q = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(25)).start()
    try {
      def n(): Long = spark.table(qn).count()
      def awaitN(target: Long): Long = {
        val deadline = System.currentTimeMillis() + 60000
        while (n() < target && System.currentTimeMillis() < deadline) Thread.sleep(100)
        n()
      }
      Thread.sleep(500) // triggers fire, but no tokens → nothing admitted
      assert(n() == 0)
      feed.add(3)
      assert(awaitN(3) == 3)
      Thread.sleep(500) // tokens exhausted → admission stalls at 3
      assert(n() == 3)
      feed.add(4)
      assert(awaitN(7) == 7)
      // order preserved: exactly the first 7 items, in index order
      assert(spark.table(qn).orderBy(col("idx")).select("item").as[String]
        .collect().toSeq == (0 until 7).map(i => s"e$i"))
    } finally TestSpark.quietStop(q)
  }

  test("TokenThrottleSource charges cost(elem) tokens per element") {
    import graft.sources.TokenThrottleSource
    val feed = TokenThrottleSource.register("tt_cost", (0 until 5).map(i => s"c$i"),
      cost = s => if (s == "c2") 3L else 1L)
    val stream = spark.readStream.format("graft.sources.TokenThrottleSource")
      .option("items", "tt_cost").option("tokens", "tt_cost").load()
    val qn = "tt_cost_out"
    val q = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(25)).start()
    try {
      def n(): Long = spark.table(qn).count()
      def awaitN(target: Long): Long = {
        val deadline = System.currentTimeMillis() + 60000
        while (n() < target && System.currentTimeMillis() < deadline) Thread.sleep(100)
        n()
      }
      feed.add(4) // c0+c1 cost 2; c2 costs 3 > 2 remaining → blocks (no skip-ahead)
      assert(awaitN(2) == 2)
      Thread.sleep(500)
      assert(n() == 2)
      feed.add(1) // bucket back to 3 → c2 admitted; c3 unaffordable at 0
      assert(awaitN(3) == 3)
      Thread.sleep(500)
      assert(n() == 3)
    } finally TestSpark.quietStop(q)
  }

  test("Valve pauses and resumes a streaming query") {
    val dir = Files.createTempDirectory("valve").toFile
    val f = new File(dir, "v.bin")
    Files.write(f.toPath, "abc".getBytes)
    val qn = "valve_out"
    val valve = new Control.Valve(() =>
      spark.readStream.format("graft.sources.FileTailSource")
        .option("path", f.getAbsolutePath).load()
        .writeStream.format("memory").queryName(qn)
        .trigger(Trigger.ProcessingTime(25)).start())
    assert(valve.mode == "closed")
    val q = valve.flipOpen()
    assert(valve.mode == "open")
    q.processAllAvailable()
    assert(spark.table(qn).count() > 0)
    valve.flipClosed()
    assert(valve.mode == "closed" && !q.isActive)
  }

  test("DelayStrategy: linear backoff grows on failure and resets on success") {
    val d = new Control.LinearIncreasingDelay(stepMs = 10, maxMs = 25)
    assert(d.nextDelayMs(failed = true) == 10)
    assert(d.nextDelayMs(failed = true) == 20)
    assert(d.nextDelayMs(failed = true) == 25) // capped
    assert(d.nextDelayMs(failed = false) == 0) // reset
  }

  test("Retry.fixpoint paces rounds with the DelayStrategy (linear backoff)") {
    import graft.operators.Retry
    val recorded = scala.collection.mutable.ArrayBuffer[Long]()
    // row 1 succeeds on attempt 3, row 2 immediately
    val input = Seq((1, 3), (2, 0)).toDF("id", "succeeds_at")
    val attempt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df =>
      df.withColumn("value", when(col("succeeds_at") <= col("attempt"), col("id")))
        .withColumn("error", when(col("succeeds_at") > col("attempt"), lit("boom")))
    val out = Retry.fixpoint(input, attempt, identity, maxRetries = 5,
      delay = Some(new Control.LinearIncreasingDelay(stepMs = 10, maxMs = 100)),
      sleep = ms => recorded += ms)
    assert(out.filter(col("error").isNull).count() == 2)
    assert(out.filter(col("error").isNotNull).count() == 0)
    // one delay per retry round while failures remained, growing linearly;
    // no delay recorded once the failed set drained (early exit)
    assert(recorded.toSeq == Seq(10L, 20L, 30L))
  }

  test("Retry.fixpoint fails on cumulative retriesLimit overflow") {
    import graft.operators.Retry
    val input = Seq(1, 2, 3).toDF("id")
    val attempt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df =>
      df.withColumn("value", lit(null).cast("int")).withColumn("error", lit("always"))
    val ex = intercept[IllegalStateException] {
      Retry.fixpoint(input, attempt, identity, maxRetries = 5, retriesLimit = Some(4))
    }
    assert(ex.getMessage.contains("retriesLimit")) // 3+3 = 6 > 4 in round 2
  }

  test("Retry.fixpoint fails on bufferLimit overflow and passes under it") {
    import graft.operators.Retry
    val input = Seq(1, 2, 3).toDF("id")
    // every row succeeds immediately: 3 buffered successes up front
    val attempt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df =>
      df.withColumn("value", col("id")).withColumn("error", lit(null).cast("string"))
    val ex = intercept[IllegalStateException] {
      Retry.fixpoint(input, attempt, identity, maxRetries = 2, bufferLimit = Some(2))
    }
    assert(ex.getMessage.contains("bufferLimit"))
    val ok = Retry.fixpoint(input, attempt, identity, maxRetries = 2,
      bufferLimit = Some(3))
    assert(ok.count() == 3)
  }

  test("Retry.fixpoint roundTimeoutMs fails a stuck retry round loudly") {
    import graft.operators.Retry
    val input = Seq(1, 2, 3).toDF("id")
    // rows keep failing, and from attempt 1 on the attempt job hangs:
    // a per-row UDF sleep far beyond the watchdog deadline
    val stall = udf { (attempt: Int) =>
      if (attempt >= 1) Thread.sleep(30000L)
      "always"
    }
    val attempt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df =>
      df.withColumn("value", lit(null).cast("int"))
        .withColumn("error", stall(col("attempt")))
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      Retry.fixpoint(input, attempt, identity, maxRetries = 3,
        roundTimeoutMs = Some(2000L))
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(ex.getMessage.contains("roundTimeoutMs"))
    // the watchdog fired and cancelled instead of waiting out the 30 s sleeps
    assert(elapsedMs < 25000L, s"watchdog took ${elapsedMs}ms")
    // and a healthy run under the same timeout is untouched
    val fine: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df =>
      df.withColumn("value", col("id")).withColumn("error", lit(null).cast("string"))
    assert(Retry.fixpoint(input, fine, identity, maxRetries = 3,
      roundTimeoutMs = Some(30000L)).count() == 3)
  }

  test("Retry.fixpoint watchdog also covers the round-0 buffer count") {
    import graft.operators.Retry
    val input = Seq(1, 2, 3).toDF("id")
    // attempt 0 itself hangs; with bufferLimit set, the first Spark
    // action is the round-0 checkBuffer count — it must run under the
    // same deadline as every later round
    val stall = udf { (_: Int) => { Thread.sleep(30000L); null.asInstanceOf[String] } }
    val attempt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df =>
      df.withColumn("value", col("id")).withColumn("error", stall(col("attempt")))
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      Retry.fixpoint(input, attempt, identity, maxRetries = 3,
        bufferLimit = Some(100L), roundTimeoutMs = Some(2000L))
    }
    assert(ex.getMessage.contains("roundTimeoutMs"))
    assert((System.nanoTime() - t0) / 1000000L < 25000L)
  }

  test("observe metrics + TimingListener capture counts and wall time") {
    val listener = Timed.withTimingListener(spark)
    val df = Timed.observed(Seq(1, 2, 3).toDF("i"), "m",
      Seq(count(lit(1)).as("rows"), sum(col("i")).as("total")))
    df.collect()
    val obs = df.queryExecution.observedMetrics("m")
    assert(obs.getAs[Long]("rows") == 3 && obs.getAs[Long]("total") == 6)
    // listener events arrive asynchronously: drain the bus first
    org.apache.spark.graft.BusBridge.drain(spark.sparkContext)
    assert(listener.timings.nonEmpty)
  }

  test("operatorMetrics profiles every physical node after an action") {
    val df = Tables.documents(spark, TestSpark.sf)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    df.collect()
    val prof = Timed.operatorMetrics(df)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    // the scan produced rows and the aggregate's exchange is profiled
    assert(prof.exists { case (op, m, v) =>
      op.toLowerCase.contains("scan") && m == "numOutputRows" && v > 0 },
      s"no populated scan metric:\n${prof.take(20).mkString("\n")}")
    assert(prof.exists(_._1.contains("Exchange")),
      s"exchange node missing from profile:\n${prof.map(_._1).distinct.mkString(", ")}")
    // driver-side walk only: calling it twice is free and stable
    assert(Timed.operatorMetrics(df).count() == prof.length)
  }

  test("repeatEval generates elements from the rate clock") {
    val gen = udf(() => "gen")
    val df = graft.sources.Unfold.repeatEval(spark, rowsPerSecond = 100)
      .withColumn("g", gen())
    val qn = "repeat_out"
    val q = df.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(25)).start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table(qn).count() < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(spark.table(qn).count() >= 5)
      assert(spark.table(qn).select("g").distinct().as[String].head() == "gen")
    } finally TestSpark.quietStop(q)
  }
}
