package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators._

/** Reference-parity operators (SURVEY §2) as declared queries over the
  * `events` table, each with an exact DuckDB oracle.
  *
  * Time-based operators use EVENT time (the `ts` column) — the reference
  * is processing-time-only (SURVEY §1.1), but on replayed data event time
  * is the deterministic, testable semantics; processing-time variants are
  * the streaming helpers in [[graft.operators.Control]].
  */
object ParityQueries {

  type Q = (SparkSession, String) => DataFrame

  def defs: Seq[(String, Q, Option[String])] = Seq(

    // Sample.apply(nth) — Sample.scala:22
    ("q16_sample_nth", (s, d) => {
      Sample.everyNth(Tables.events(s, d), 100, Seq(col("event_id")))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type,
               row_number() OVER (ORDER BY event_id) AS rn FROM events) t
      WHERE rn % 100 = 0 ORDER BY event_id""")),

    // Accumulate — Accumulate.scala:26 (running fold)
    ("q17_running_sum", (s, d) => {
      Accumulate.runningSum(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("value"))
        .select(col("event_id"), col("user_id"), round(col("running_sum"), 2).as("running_value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id,
             round(sum("value") OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
      FROM events ORDER BY event_id""")),

    // AccumulateWhileUnchanged — AccumulateWhileUnchanged.scala:26-29
    ("q18_change_groups", (s, d) => {
      // event_type is CONSTANT within a change-group by construction, so
      // it belongs in the grouping keys — as min(event_type) it would be
      // a string-buffered aggregate, which demotes the whole aggregate
      // to SortAggregate (string buffers aren't hash-agg mutable)
      AccumulateWhileUnchanged.changeGroups(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("event_type"))
        .groupBy(col("user_id"), col("group_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_event_id"), max(col("event_id")).as("max_event_id"))
        .select(col("user_id"), col("group_id"), col("event_type"), col("n"),
          col("min_event_id"), col("max_event_id"))
        .orderBy(col("user_id"), col("group_id"))
    }, Some("""
      WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g2 AS (
        SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS group_id
        FROM g)
      SELECT user_id, group_id, event_type, count(*) AS n,
             min(event_id) AS min_event_id, max(event_id) AS max_event_id
      FROM g2 GROUP BY 1, 2, 3 ORDER BY 1, 2""")),

    // MergeByIndex — MergeByIndex.scala:41 (N-way ordered merge)
    ("q19_merge_by_index", (s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.filter(col("event_type") === "click")
      val purchases = e.filter(col("event_type") === "purchase")
      MergeByIndex(Seq(clicks, purchases), col("event_id"))
        .select(col("event_id"), col("event_type"), col("user_id"))
    }, Some("""
      SELECT event_id, event_type, user_id FROM events
      WHERE event_type IN ('click', 'purchase') ORDER BY event_id""")),

    // LastElement — LastElement.scala:22,39
    ("q20_last_element", (s, d) => {
      LastElement.perKey(Tables.events(s, d),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")),
          Seq("last_event_id" -> col("event_id"), "last_value" -> col("value"),
            "last_type" -> col("event_type")))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id, event_id AS last_event_id, "value" AS last_value,
             event_type AS last_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY user_id""")),

    // TimeWindow — TimeWindow.scala:33 (tumbling aggregate)
    ("q21_tumbling_window", (s, d) => {
      TimeWindow.tumbling(Tables.events(s, d), col("ts"), "1 hour", Seq(col("event_type")))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }, Some("""
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n, round(sum("value"), 2) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // AccumulateWhileUnchanged maxDuration flush analog: gap sessionization
    ("q22_session_window", (s, d) => {
      Sessionize.byGap(Tables.events(s, d), Seq(col("user_id")), col("ts"),
          col("event_id"), 1800L * 1000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_event_id"), max(col("event_id")).as("max_event_id"))
        .orderBy(col("user_id"), col("session_id"))
    }, Some("""
      WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      y AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
            FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      z AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM y)
      SELECT user_id, session_id, count(*) AS n_events,
             min(event_id) AS min_event_id, max(event_id) AS max_event_id
      FROM z GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Pulse — Pulse.scala:24 (at most one element per interval)
    ("q23_pulse", (s, d) => {
      TimeWindow.pulse(Tables.events(s, d), col("ts"), "10 minutes", Seq(col("user_id")),
          col("event_id"), Seq("event_id" -> col("event_id"), "value" -> col("value")))
        .select(col("user_id"), col("bucket_start"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("bucket_start"))
    }, Some("""
      SELECT user_id, time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
             event_id, "value" FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, time_bucket(INTERVAL '10 minutes', ts)
            ORDER BY ts, event_id) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY user_id, bucket_start""")),

    // KeepAliveConcat — KeepAliveConcat.scala:34 (heartbeat / gap fill)
    ("q24_gap_fill", (s, d) => {
      KeepAlive.gapFill(Tables.events(s, d), Seq("user_id"), col("ts"), 86400,
          Seq("n" -> count(lit(1)), "sum_value" -> round(sum(col("value")), 2)),
          Map("n" -> 0L, "sum_value" -> 0.0))
        .orderBy(col("user_id"), col("bucket"))
    }, Some("""
      WITH b AS (SELECT user_id, "value",
                   CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket FROM events),
      obs AS (SELECT user_id, bucket, count(*) AS n,
                     round(sum("value"), 2) AS sum_value FROM b GROUP BY 1, 2),
      span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
      grid AS (SELECT user_id, unnest(generate_series(lo, hi, 86400)) AS bucket FROM span)
      SELECT g.user_id, g.bucket, coalesce(n, 0) AS n,
             coalesce(sum_value, 0.0) AS sum_value
      FROM grid g LEFT JOIN obs o USING (user_id, bucket)
      ORDER BY 1, 2""")),

    // Timed.timedIntervalBetween — Timed.scala:71-86
    ("q25_interval_between", (s, d) => {
      Timed.intervalBetween(Tables.events(s, d), col("event_type") === "purchase",
          Seq(col("user_id")), col("ts"), Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("user_id"), col("interval_ms"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS interval_ms
      FROM events WHERE event_type = 'purchase' ORDER BY event_id""")),

    // PartitionWith — PartitionWith.scala:28 (Either-routing)
    ("q26_partition_with", (s, d) => {
      Routing.partitionWith(Tables.events(s, d), col("value") >= 100,
          col("value") + 100, -col("value"))
        .select(col("event_id"), col("side"), col("out"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id,
             CASE WHEN "value" >= 100 THEN 'left' ELSE 'right' END AS side,
             CASE WHEN "value" >= 100 THEN "value" + 100 ELSE -"value" END AS out
      FROM events ORDER BY event_id""")),

    // PassThroughFlow — PassThroughFlow.scala:91-94
    ("q27_pass_through", (s, d) => {
      Routing.passThrough(Tables.events(s, d), col("value") * 2, "doubled")
        .select(col("event_id"), col("value"), col("doubled"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, "value", "value" * 2 AS doubled
      FROM events ORDER BY event_id""")),

    // Retry / Retry.concat — Retry.scala:42-53,84-95 (driver-loop fixpoint)
    ("q28_retry_fixpoint", (s, d) => {
      val input = Tables.events(s, d).filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"))
      val attempt = (df: DataFrame) => df
        .withColumn("value",
          when((col("event_id") + col("attempt")) % 7 === 3,
            col("event_id") * 10 + col("attempt")).cast("long"))
        .withColumn("error", when(col("value").isNull, lit("fail")).cast("string"))
      Retry.fixpoint(input, attempt, identity, maxRetries = 4)
        .select(col("event_id"), col("attempt").cast("long").as("attempt"),
          col("value"), col("error"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT event_id FROM events WHERE event_type = 'error'),
      a AS (SELECT event_id,
              CAST(((3 - (event_id % 7)) % 7 + 7) % 7 AS BIGINT) AS astar FROM e)
      SELECT event_id,
             CASE WHEN astar <= 4 THEN astar ELSE 4 END AS attempt,
             CASE WHEN astar <= 4 THEN event_id * 10 + astar END AS value,
             CASE WHEN astar <= 4 THEN NULL ELSE 'fail' END AS error
      FROM a ORDER BY event_id""")),

    // As-of lookup (ordered re-pairing — latencyTimer.scala:62-68)
    ("q29_asof_lookup", (s, d) => {
      val tagged = Tables.events(s, d).filter(col("event_type").isin("click", "purchase"))
      AsOf.lastMatchingInStream(tagged, Seq(col("user_id")),
          Seq(col("ts"), col("event_id")),
          col("event_type") === "click", col("event_id"), "last_click_id")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("last_click_id"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH tagged AS (SELECT user_id, ts, event_id, event_type FROM events
                      WHERE event_type IN ('click', 'purchase')),
      w AS (SELECT *, last_value(CASE WHEN event_type = 'click' THEN event_id END
                                 IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
            FROM tagged)
      SELECT event_id, user_id, last_click_id FROM w
      WHERE event_type = 'purchase' ORDER BY event_id""")),

    // Sample.random(maxStep) — Sample.scala:32-35, step-exact variant:
    // exactly one seeded emission per aligned 100-element window. The
    // oracle recomputes the same md5 dice roll from the same 6 nibbles.
    ("q54_sample_random_step", (s, d) => {
      Sample.randomStep(Tables.events(s, d), 100, Seq(col("event_id")))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }, Some {
      val nib = (i: Int) =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(win AS VARCHAR) || ':42'), $i, 1)) - 1)"
      s"""
      WITH t AS (SELECT event_id, user_id, event_type,
                   row_number() OVER (ORDER BY event_id) AS rn FROM events),
      w AS (SELECT *, CAST((rn - 1) // 100 AS BIGINT) AS win,
                      CAST((rn - 1) % 100 AS BIGINT) AS pos FROM t),
      o AS (SELECT *, CAST((${nib(1)} * 1048576 + ${nib(2)} * 65536 + ${nib(3)} * 4096
                          + ${nib(4)} * 256 + ${nib(5)} * 16 + ${nib(6)}) % 100 AS BIGINT)
                      AS off FROM w)
      SELECT event_id, user_id, event_type FROM o
      WHERE pos = off ORDER BY event_id"""}),

    // ZipInputStreamSource — ZipInputStreamSource.scala:49: the zip
    // extraction path under the oracle gate (the q53 pattern applied to
    // the second readable source). Fixture: documents sharded into 4
    // archives by doc_id % 4, shard 3 riding INSIDE a nested inner.zip
    // (exercises the recursion); entries chunked at 256 B and
    // reassembled with an in-plan fold, so chunk offsets, ordering, and
    // every extracted byte are hash-checked against an independent md5
    // recompute in DuckDB.
    ("q55_zip_read", (s, d) => {
      val dir = zipFixture(s, d)
      graft.sources.ZipSource.read(s, dir, chunkSize = 256)
        .groupBy(col("archive"), col("entry"), col("nested"))
        .agg(array_sort(collect_list(struct(col("chunkOffset"), col("data")))).as("cs"))
        .select(col("entry").cast("long").as("doc_id"),
          md5(aggregate(col("cs"), lit(Array.emptyByteArray),
            (acc, x) => concat(acc, x.getField("data")))).as("text_md5"),
          col("nested"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, md5(text) AS text_md5, (doc_id % 4 = 3) AS nested
      FROM documents ORDER BY doc_id"""))
  )

  /** Entries that start a Structured Streaming query when called —
    * registered in [[graft.SparkEntry.streamingNames]]. */
  def streamingDefs: Seq[(String, Q, Option[String])] = Seq(
    // DirectoryChanges — DirectoryChanges.java:60: the directory-diff
    // source under the oracle gate. The snapshot diff must report each
    // fixture shard exactly once as a Creation; the event's path then
    // keys a binaryFile join and the file bytes are digest-compared
    // against DuckDB's ordered string_agg recompute — so both the
    // change detection AND the bytes it points at are hash-checked.
    ("q57_dirwatch_read", (s, d) => {
      val dir = dirFixture(s, d)
      val events = s.readStream.format("graft.sources.DirectoryChangesSource")
        .option("path", dir).load()
      val created = graft.streaming.StreamingQueries
        .runToMemory(events, mode = "append")
        .select(col("path"), col("change"))
      val files = s.read.format("binaryFile").load(dir)
        .select(regexp_replace(col("path"), "^file:", "").as("fpath"),
          md5(col("content")).as("file_md5"))
      created.join(files, col("fpath") === col("path"))
        .select(regexp_extract(col("path"), "shard_(\\d+)\\.txt", 1)
          .cast("long").as("shard"), col("change"), col("file_md5"))
        .orderBy(col("shard"))
    }, Some("""
      WITH l AS (SELECT doc_id % 64 AS shard, doc_id,
                        doc_id || ',' || md5(text) || chr(10) AS line
                 FROM documents)
      SELECT shard, 'Creation' AS change,
             md5(string_agg(line, '' ORDER BY doc_id)) AS file_md5
      FROM l GROUP BY shard ORDER BY shard""")),

    // PagedSource — PagedSource.scala:40: the keyed page walk under the
    // oracle gate (completes source-oracle coverage: every readable
    // DSv2 source is now hash-checked). A fetcher pages the documents
    // table 50-at-a-time in doc_id order; the stream walks page keys
    // one admission-controlled trigger at a time, and the oracle pins
    // BOTH the items and which page each landed on — a skipped,
    // repeated, or re-ordered page breaks the match.
    ("q58_paged_read", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      val pages = docs.grouped(50).toVector
      val fname = s"verify_docs_${Integer.toHexString(d.hashCode)}"
      graft.sources.PagedSource.register(fname, k => {
        val i = k.toInt
        if (i >= pages.length) graft.sources.PagedSource.Page(Nil, None)
        else graft.sources.PagedSource.Page(
          pages(i).map { case (id, h) => s"$id,$h" },
          if (i + 1 < pages.length) Some(i + 1L) else None)
      })
      val stream = s.readStream.format("graft.sources.PagedSource")
        .option("fetcher", fname).load()
      graft.streaming.StreamingQueries.runToMemoryPolling(stream)
        .select(col("page_key"),
          split(col("item"), ",").getItem(0).cast("long").as("doc_id"),
          split(col("item"), ",").getItem(1).as("text_md5"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT CAST((row_number() OVER (ORDER BY doc_id) - 1) // 50 AS BIGINT) AS page_key,
             doc_id, md5(text) AS text_md5
      FROM documents ORDER BY doc_id"""))
  )

  /** q57's fixture dir: documents sharded into 64 files
    * (`shard_<n>.txt`, n = doc_id % 64), each a sorted run of
    * `doc_id,md5(text)\n` lines. A fresh temp dir per call, so the
    * directory diff sees exactly these files.
    */
  private def dirFixture(s: SparkSession, d: String): String = {
    val dir = java.nio.file.Paths.get(
      graft.sources.Sinks.tempArtifactDir("dirwatch_fixture"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    docs.groupBy(_._1 % 64).foreach { case (shard, rows) =>
      val content = rows.sortBy(_._1)
        .map { case (id, h) => s"$id,$h\n" }.mkString
      java.nio.file.Files.write(dir.resolve(s"shard_$shard.txt"),
        content.getBytes("UTF-8"))
    }
    dir.toString
  }

  /** q55's fixture: the documents table re-materialized as zip archives
    * (driver-side test scaffolding, bounded by the verify-scale corpus —
    * NOT part of the operator under test). Shards 0-2 are plain
    * archives; shard 3's entries live inside a nested inner.zip.
    */
  private def zipFixture(s: SparkSession, d: String): String = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = java.nio.file.Paths.get(
      graft.sources.Sinks.tempArtifactDir("zip_fixture"))
    val docs = Tables.documents(s, d).select("doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    for (shard <- 0 until 4) {
      val zos = new ZipOutputStream(
        java.nio.file.Files.newOutputStream(dir.resolve(s"archive_$shard.zip")))
      val mine = docs.filter(_._1 % 4 == shard)
      def write(z: ZipOutputStream): Unit = mine.foreach { case (id, text) =>
        z.putNextEntry(new ZipEntry(id.toString))
        z.write(text.getBytes("UTF-8")); z.closeEntry()
      }
      if (shard == 3) {
        val bos = new java.io.ByteArrayOutputStream()
        val inner = new ZipOutputStream(bos)
        write(inner); inner.close()
        zos.putNextEntry(new ZipEntry("inner.zip"))
        zos.write(bos.toByteArray); zos.closeEntry()
      } else write(zos)
      zos.close()
    }
    dir.toString
  }
}
