package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session configuration for streaming state at scale.
  *
  * The default state store keeps every key's state on the executor heap
  * (HDFSBackedStateStoreProvider) — fine for tests, fatal for 100 TB
  * streaming dedup or stream-stream join state. `scaleState` switches to
  * the RocksDB provider: state lives off-heap on local disk with
  * changelog checkpointing, so state size is bounded by disk, not heap,
  * and recovery replays the changelog instead of full snapshots.
  */
object StreamingConfig {

  def scaleState(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing: O(delta) per batch instead of O(state).
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // Bound memory across all RocksDB instances on an executor.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
  }

  /** Restore the default (in-memory) provider — test hygiene. */
  def defaultState(spark: SparkSession): Unit = {
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage")
  }
}
