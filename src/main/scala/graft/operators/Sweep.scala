package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval-overlap analytics by endpoint sweep — the classic
  * "peak concurrency" computation: every interval contributes a +1 at
  * its start and a −1 at its end; the running sum of deltas in global
  * time order IS the number of concurrently-open intervals at each
  * point.
  *
  * Scale shape — a GLOBAL running sum without a single-partition
  * window (the second instance of the distributed prefix-sum pattern
  * after [[graft.curation.Curation.epochShuffle]], here summing an
  * arbitrary value instead of counting rows): endpoints bucket by DAY;
  * per-day delta totals collapse in one map-combined aggregation to a
  * bounded artifact (one row per day — collected, prefix-summed on the
  * driver, broadcast back as exclusive offsets); the in-day running
  * sum rides ONE hash exchange on the day with an in-partition window.
  * At 100 TB each task holds one day's endpoints, and the plan never
  * funnels the timeline through a single task.
  */
object Sweep {

  private val MicrosPerDay = 86400000000L

  /** Concurrency at every interval endpoint. Endpoint order is total
    * and inclusive: at the same instant, starts (+1) sort before ends
    * (−1) — a zero-length interval still counts as concurrent with
    * itself — and `tiebreak` must make (ts, delta, tiebreak) unique or
    * the running sum's intermediate values are underdetermined.
    * Output: one row per endpoint with `ts`, `delta`, `concurrency`.
    */
  def concurrency(intervals: DataFrame, start: Column, end: Column,
                  tiebreak: Column, maxDays: Int = 100000): DataFrame = {
    // both endpoints from ONE scan of `intervals`: a union of two scans
    // reads each input partition twice in one stage
    val points = intervals
      .select(explode(array(
        struct(start.as("ts"), lit(1L).as("delta"), tiebreak.as("__tb")),
        struct(end.as("ts"), lit(-1L).as("delta"), tiebreak.as("__tb"))))
        .as("__pt"))
      .select(col("__pt.ts").as("ts"), col("__pt.delta").as("delta"),
        col("__pt.__tb").as("__tb"))
      .withColumn("__day", (unix_micros(col("ts")) / MicrosPerDay).cast("long"))
    val totals = points.groupBy(col("__day"))
      .agg(sum(col("delta")).as("t"))
      .orderBy(col("__day")).limit(maxDays + 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    require(totals.length <= maxDays,
      s"Sweep.concurrency: more than $maxDays day buckets — widen maxDays " +
        "or coarsen the bucket")
    val spark = intervals.sparkSession
    import spark.implicits._
    // exclusive prefix of day totals → each day's carry-in concurrency
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val offsetDf = broadcast(offsets.toDF("__day", "__off"))
    val w = Window.partitionBy(col("__day"))
      .orderBy(col("ts"), col("delta").desc, col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points.join(offsetDf, "__day")
      .withColumn("concurrency", col("__off") + sum(col("delta")).over(w))
      .drop("__day", "__off", "__tb")
  }
}
