package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming dead-letter routing — the reference Retry's give-up path
  * (`Retry.scala:42-53`: exhausted elements are EMITTED as failures, not
  * dropped) mapped to Structured Streaming: each micro-batch runs the
  * attempt, successes land in the output table, failures in a
  * dead-letter table with their batch id as provenance, and a
  * batch [[replay]] later re-drives the dead letters through
  * [[graft.operators.Retry.fixpoint]].
  *
  * `attempt` follows the engine-wide Try-as-data contract
  * (nullable `value` / `error` columns, never throws) — the same
  * function slots into the streaming path here and the batch fixpoint,
  * so retry semantics cannot drift between the two.
  *
  * Scale notes: the batch is persisted once and both splits read the
  * cached result (no double evaluation, no success/failure race).
  * Each batch lands exactly once: the write runs inside
  * [[graft.sources.Sinks.idempotentForeachBatch]], whose commit markers
  * live under the query's checkpoint (a checkpoint reset resets them
  * too), and both splits overwrite their own `batch_id=<id>` directory,
  * so a crash between the write and the marker replays into the same
  * directories instead of appending the batch a second time.
  */
object DeadLetter {

  /** Start the streaming query. Output rows land in
    * `<outPath>/batch_id=<id>`, failed rows in `<dlqPath>/batch_id=<id>`
    * (parquet; `batch_id` is the partition column a reader discovers).
    */
  def run(input: DataFrame, attempt: DataFrame => DataFrame,
          outPath: String, dlqPath: String, checkpoint: String): StreamingQuery =
    input.writeStream
      .foreachBatch(graft.sources.Sinks.idempotentForeachBatch(
          s"$checkpoint/dead_letter_commits") { (batch, id) =>
        val res = attempt(batch).persist()
        try {
          res.filter(col("error").isNull)
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$id")
          res.filter(col("error").isNotNull)
            .write.mode("overwrite").parquet(s"$dlqPath/batch_id=$id")
        } finally { res.unpersist(); () }
      })
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Re-drive accumulated dead letters through the bounded batch
    * fixpoint. Returns the fixpoint result (successes + still-failing
    * rows after `maxRetries`, per [[graft.operators.Retry.fixpoint]]).
    */
  def replay(spark: SparkSession, dlqPath: String,
             attempt: DataFrame => DataFrame,
             retryWith: DataFrame => DataFrame,
             maxRetries: Int): DataFrame =
    graft.operators.Retry.fixpoint(
      spark.read.parquet(dlqPath).drop("value", "error", "attempt", "batch_id"),
      attempt, retryWith, maxRetries)
}
