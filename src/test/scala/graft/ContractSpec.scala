package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Input data contracts at the table boundary (round-6 lesson: a silent
  * upstream type change must fail with a message naming the mismatch,
  * never produce wrong answers).
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a silently retyped column fails loudly at load with the mismatch named") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_contract_").toString
    // events with ts re-typed to string — the class of upstream change
    // that round 6 proved can otherwise fan out garbage
    Seq((1L, "2024-01-01T00:00:00", 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("input contract violation"))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("string"))
    assert(e.getMessage.contains("accepted"))
  }

  test("Tables.table opens each table with the schema spark.read.parquet infers, for all 10 tables and a Spark-written copy, without a Spark job") {
    import TestSpark.jobsOf
    val copy = java.nio.file.Files.createTempDirectory("graft_footer_").toString
    try {
      Tables.names.foreach { t =>
        val path = s"${TestSpark.sf}/$t.parquet"
        val (inferred, inferJobs) = jobsOf(spark.read.parquet(path).schema)
        assert(inferJobs == 1, s"$t: inference ran $inferJobs jobs")
        val (opened, openJobs) = jobsOf(Tables.table(spark, TestSpark.sf, t).schema)
        assert(openJobs == 0, s"$t: Tables.table ran $openJobs jobs")
        assert(opened == inferred, t)
      }
      // a Spark-written copy, in several files: its footers carry Spark's
      // row-metadata schema, which inference prefers over the parquet one
      spark.read.parquet(s"${TestSpark.sf}/documents.parquet").repartition(3)
        .write.parquet(s"$copy/documents.parquet")
      val inferred = spark.read.parquet(s"$copy/documents.parquet").schema
      val (opened, openJobs) = jobsOf(Tables.table(spark, copy, "documents").schema)
      assert(openJobs == 0 && opened == inferred)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(copy))
    }
  }

  test("a missing contract column is named, with the found columns listed") {
    val e = intercept[IllegalArgumentException](
      Tables.checkContract("documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("body", StringType)))))
    assert(e.getMessage.contains("documents.text is missing"))
    assert(e.getMessage.contains("body"))
  }

  test("extra columns pass the contract (schema evolution adds, the engine pins what it reads)") {
    Tables.checkContract("region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType),
      StructField("r_comment", StringType))))
  }

  test("normalizeEventTime maps every accepted ts encoding to the same timestamps") {
    import spark.implicits._
    val micros = Seq(1700000000000000L, 1700000123456789L)
    val fromLong = Tables.normalizeEventTime(
      micros.map(_ * 1000L).toDF("ts")) // nanos-as-long
    val fromNtz = Tables.normalizeEventTime(
      micros.toDF("us").select(timestamp_micros(col("us"))
        .cast(TimestampNTZType).as("ts")))
    val fromTs = Tables.normalizeEventTime(
      micros.toDF("us").select(timestamp_micros(col("us")).as("ts")))
    val expect = micros
    for (df <- Seq(fromLong, fromNtz, fromTs)) {
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq == expect)
    }
  }

  test("normalizeEventTime rejects an unexpected encoding loudly") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      Tables.normalizeEventTime(Seq("x").toDF("ts")))
    assert(e.getMessage.contains("input contract violation"))
  }
}
