package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * All tables are single parquet files per scale factor. At 100 TB these
  * would be partitioned directories; the loaders take a directory and a
  * logical name so nothing else in the engine cares about layout.
  *
  * Every load passes through a LOUD input contract ([[checkContract]]):
  * schema-on-read means an upstream type change otherwise surfaces as
  * silently wrong answers (round 6: `events.ts` switched from
  * TIMESTAMP(NANOS)-as-int64 to TIMESTAMP(MICROS)/NTZ and a forced-Long
  * decode compressed all event time 1000×, inflating a stream-stream
  * join 394× with zero errors). A typed engine can't express that
  * failure; a schema-on-read engine must check at the boundary.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Accepted physical types per column, per table. Integer-like and
    * timestamp-like columns admit every encoding the loaders normalize;
    * anything else is a contract violation that must fail with a message
    * naming the table, column, found type, and accepted types.
    */
  private val intLike: Seq[DataType] = Seq(LongType, IntegerType)
  /** `ts`-like: TIMESTAMP(NANOS) read as Long via nanosAsLong, parquet
    * TIMESTAMP(MICROS) isAdjustedToUTC=false (Spark: TIMESTAMP_NTZ), or
    * an already-normalized session-zone timestamp.
    */
  private val tsLike: Seq[DataType] = Seq(LongType, TimestampNTZType, TimestampType)
  private val floatVec: Seq[DataType] = Seq(
    ArrayType(FloatType), ArrayType(FloatType, containsNull = false),
    ArrayType(DoubleType), ArrayType(DoubleType, containsNull = false))

  private val contracts: Map[String, Seq[(String, Seq[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> intLike, "r_name" -> Seq(StringType)),
    "nation" -> Seq("n_nationkey" -> intLike, "n_name" -> Seq(StringType),
      "n_regionkey" -> intLike),
    "customer" -> Seq("c_custkey" -> intLike, "c_name" -> Seq(StringType),
      "c_nationkey" -> intLike, "c_acctbal" -> Seq(DoubleType),
      "c_mktsegment" -> Seq(StringType)),
    "supplier" -> Seq("s_suppkey" -> intLike, "s_name" -> Seq(StringType),
      "s_nationkey" -> intLike, "s_acctbal" -> Seq(DoubleType)),
    "part" -> Seq("p_partkey" -> intLike, "p_name" -> Seq(StringType),
      "p_brand" -> Seq(StringType), "p_type" -> Seq(StringType),
      "p_size" -> intLike, "p_retailprice" -> Seq(DoubleType)),
    "orders" -> Seq("o_orderkey" -> intLike, "o_custkey" -> intLike,
      "o_orderstatus" -> Seq(StringType), "o_totalprice" -> Seq(DoubleType),
      "o_orderdate" -> tsLike, "o_orderpriority" -> Seq(StringType)),
    "lineitem" -> Seq("l_orderkey" -> intLike, "l_partkey" -> intLike,
      "l_suppkey" -> intLike, "l_linenumber" -> intLike,
      "l_quantity" -> Seq(DoubleType), "l_extendedprice" -> Seq(DoubleType),
      "l_discount" -> Seq(DoubleType), "l_tax" -> Seq(DoubleType),
      "l_returnflag" -> Seq(StringType), "l_linestatus" -> Seq(StringType),
      "l_shipdate" -> tsLike),
    "events" -> Seq("event_id" -> intLike, "ts" -> tsLike,
      "user_id" -> intLike, "event_type" -> Seq(StringType),
      "value" -> Seq(DoubleType), "props" -> Seq(StringType)),
    "documents" -> Seq("doc_id" -> intLike, "text" -> Seq(StringType),
      "lang" -> Seq(StringType), "source" -> Seq(StringType),
      "n_chars" -> intLike),
    "embeddings" -> Seq("vec_id" -> intLike, "embedding" -> floatVec,
      "label" -> intLike))

  /** Validate `schema` against the table's contract; throws
    * IllegalArgumentException naming every violation. Extra columns are
    * allowed (schema evolution adds, the contract pins what the engine
    * reads). Metadata-only — one footer read, no scan.
    */
  def checkContract(name: String, schema: StructType): Unit =
    contracts.get(name).foreach { cols =>
      val errs = cols.flatMap { case (c, accepted) =>
        schema.fields.find(_.name == c) match {
          case None =>
            Some(s"$name.$c is missing (found columns: ${schema.fieldNames.mkString(", ")})")
          case Some(f) if !accepted.contains(f.dataType) =>
            Some(s"$name.$c has physical type ${f.dataType.simpleString}; " +
              s"accepted: ${accepted.map(_.simpleString).mkString(", ")}")
          case _ => None
        }
      }
      if (errs.nonEmpty) throw new IllegalArgumentException(
        s"input contract violation: ${errs.mkString("; ")}")
    }

  /** Open one table. Its schema comes from one footer read on the
    * driver ([[org.apache.spark.sql.graft.ParquetFooter]]) and is given
    * to the read, so an open runs no schema-inference Spark job.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = org.apache.spark.sql.graft.ParquetFooter.schema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    checkContract(name, df.schema)
    df
  }

  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")

  /** Normalize a physical event-time column to session-zone
    * `TimestampType` — the ONE conversion point shared by the batch
    * loader and the streaming reader so the two paths cannot drift
    * (round 6's silent divergence). Accepted encodings:
    *
    *   - `LongType`: parquet TIMESTAMP(NANOS) read as raw nanos via
    *     `spark.sql.legacy.parquet.nanosAsLong` → truncate to micros,
    *     exactly what DuckDB's reader does, so oracles line up.
    *   - `TimestampNTZType`: parquet TIMESTAMP(MICROS) with
    *     isAdjustedToUTC=false. The cast reinterprets the wall-clock in
    *     the session zone — value-preserving ONLY under UTC, so the UTC
    *     session zone is asserted (every graft entrypoint sets it).
    *   - `TimestampType`: already normalized, pass through.
    *
    * Anything else fails loudly — never guess at time semantics.
    */
  def normalizeEventTime(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"NTZ event-time normalization requires UTC session zone, got $tz")
        df.withColumn(colName, df(colName).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"input contract violation: event-time column $colName has physical type " +
          s"${other.simpleString}; accepted: bigint (nanos), timestamp_ntz, timestamp")
    }

  /** `events.ts` arrives in whatever encoding the generator chose
    * (nanos-as-int64 through round 5, TIMESTAMP(MICROS)/NTZ since) —
    * [[normalizeEventTime]] maps every accepted encoding to session-zone
    * microsecond timestamps.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTime(table(spark, d, "events"))
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")
}
