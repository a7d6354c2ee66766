package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, Tables}
import graft.functions.Aggregators

/** Extended-surface queries: the SQL front-end (GROUPING SETS), typed
  * Aggregator UDAF, scalar UDF, and the native cosine expression through
  * SQL — each with a DuckDB oracle.
  */
object Extended {

  type Q = (SparkSession, String) => DataFrame

  def defs: Seq[(String, Q, Option[String])] = Seq(

    // SQL front-end + GROUPING SETS (finer than cube/rollup)
    ("q32_grouping_sets", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY rf, ls""")
    }, Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY rf, ls""")),

    // typed Aggregator (the reference's arbitrary (seed, aggregate) fold)
    ("q33_typed_aggregator", (s, d) => {
      val sumsq = udaf(Aggregators.SumSqCents)
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sumsq(col("value")).as("sum_sq_cents"), count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id,
             CAST(sum(CAST(round("value" * 100) AS BIGINT) *
                      CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS sum_sq_cents,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1""")),

    // scalar Scala UDF (the reference's per-element user lambdas)
    ("q34_scalar_udf", (s, d) => {
      val rev = udf((x: String) => if (x == null) null else x.reverse)
      Tables.events(s, d)
        .select(col("event_id"), rev(col("event_type")).as("type_rev"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, reverse(event_type) AS type_rev
      FROM events ORDER BY event_id""")),

    // native Catalyst expression through the SQL registry
    ("q35_cosine_sql", (s, d) => {
      GraftExtensions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("embeddings_v")
      s.sql("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(cosine_similarity(a.embedding, b.embedding), 6) AS cos
        FROM embeddings_v a JOIN embeddings_v b
          ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 100
        ORDER BY id_a""")
    }, Some("""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < 100
      ORDER BY id_a""")),

    // hot-key skew path: salted join + salted two-phase aggregation;
    // semantics identical to the plain forms (the oracle is plain SQL)
    ("q36_salted_revenue", (s, d) => {
      import graft.operators.Skew
      import graft.operators.Skew.SaltedAgg
      // saltedJoin joins USING(key): align the key name across both sides.
      val li = Tables.lineitem(s, d).withColumnRenamed("l_orderkey", "okey")
      val o = Tables.orders(s, d).withColumnRenamed("o_orderkey", "okey")
      Skew.saltedAgg(
        Skew.saltedJoin(li, o.select(col("okey"), col("o_orderpriority")), Seq("okey"), salts = 8),
        Seq("o_orderpriority"), salts = 8,
        Seq(SaltedAgg.Sum(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"),
          SaltedAgg.Count("n_items")))
        .select(col("o_orderpriority"), round(col("revenue"), 2).as("revenue"), col("n_items"))
        .orderBy(col("o_orderpriority"))
    }, Some("""
      SELECT o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""")),

    // full outer join (both null-extended sides exercised: customer
    // restricted so some order custkeys have no customer row)
    ("q38_full_outer_join", (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") <= 100)
        .select(col("c_custkey"), col("c_name"))
      val o = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"))
        .orderBy(col("custkey"))
    }, Some("""
      SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders
      FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 100) c
      FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                       FROM orders GROUP BY 1) o
        ON c_custkey = o_custkey
      ORDER BY 1""")),

    // JSON columns: typed from_json parse (schema-pruned at scale), agg
    ("q39_json_extract", (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY 1 ORDER BY 1""")),

    // analytic window functions not covered elsewhere: lead + ntile.
    // The global ntile is NOT `ntile(4).over(Window.orderBy(...))` — that
    // funnels every row through one task at scale. Instead: distributed
    // global row index (GlobalIndex: range-repartition + per-partition
    // offsets), a one-row broadcast count, and the exact ntile bucket
    // formula from (idx, n) — same answer, no single-partition window.
    ("q40_lead_ntile", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val base = Tables.orders(s, d).filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
      val idxed = graft.operators.GlobalIndex.withRowIndex(base,
        Seq(col("o_totalprice").desc, col("o_orderkey")), "gidx")
      idxed.join(broadcast(base.agg(count(lit(1)).as("n_total"))))
        .withColumn("price_quartile", expr(
          """CASE WHEN gidx <= (n_total % 4) * (n_total div 4 + 1)
             THEN (gidx - 1) div (n_total div 4 + 1) + 1
             ELSE (n_total % 4) +
                  (gidx - (n_total % 4) * (n_total div 4 + 1) - 1)
                    div (n_total div 4) + 1 END""").cast("long"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("next_orderkey"), col("price_quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
             lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS next_orderkey,
             CAST(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey)
                  AS BIGINT) AS price_quartile
      FROM orders WHERE o_custkey <= 50
      ORDER BY o_custkey, o_orderkey""")),

    // PIVOT (wide conditional aggregation) with an explicit value list —
    // the deterministic-schema form a production pipeline uses (an
    // inferred list would scan once just to learn the columns)
    ("q41_pivot", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value")), 2))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id,
             round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
             round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
             round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
             round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
             round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error
      FROM events GROUP BY 1 ORDER BY 1""")),

    // exact interpolated percentiles per group (both engines use the
    // same p·(n-1) linear-interpolation definition)
    ("q42_percentiles", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS p50,
             round(quantile_cont(value, 0.9), 4) AS p90,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1""")),

    // sliding (overlapping) time windows: 1 h window every 30 min — each
    // event lands in exactly 2 windows. Oracle: explicit 2-bucket unnest
    // (both engines' buckets align on 30-min boundaries from a midnight
    // epoch origin).
    ("q43_sliding_window", (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes")
            .getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }, Some("""
      WITH w AS (
        SELECT event_type, value,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                 AS window_start
        FROM events)
      SELECT window_start, event_type, count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM w GROUP BY 1, 2 ORDER BY 1, 2""")),

    // LATERAL correlated derived table (per-row top-n subquery) — the
    // ANSI form of top-n-per-group, planned by Spark as a rewritten
    // window/join, by DuckDB natively
    ("q45_lateral_topn", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_v c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_v o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 100
        ORDER BY c.c_custkey, t.o_orderkey""")
    }, Some("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c.c_custkey <= 100
      ORDER BY c.c_custkey, t.o_orderkey""")),

    // array aggregation: collect_set + array_sort + array_join — emitted
    // as a joined string because engines (and the compare harness) don't
    // share an array wire format; the sort makes the set deterministic
    ("q46_array_agg", (s, d) => {
      Tables.orders(s, d).filter(col("o_custkey") <= 200)
        .groupBy(col("o_custkey"))
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
            .as("priorities"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey"))
    }, Some("""
      SELECT o_custkey,
             array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
               AS priorities,
             count(*) AS n_orders
      FROM orders WHERE o_custkey <= 200 GROUP BY 1 ORDER BY 1""")),

    // value-RANGE window frame (vs q43's row/bucket forms): per user, a
    // rolling 10-minute sum/count over event time — the frame bound is a
    // VALUE offset on the epoch-second order key, so peers at the same
    // second enter the frame as a block in both engines. Epoch seconds
    // derived by integer floor in both (Spark timestamp→long cast;
    // DuckDB epoch_us // 1e6).
    ("q47_time_range_window", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("es"))
        .rangeBetween(-599, 0)
      Tables.events(s, d)
        .withColumn("es", col("ts").cast("long"))
        .select(col("event_id"), col("user_id"), col("es"),
          round(sum(col("value")).over(w), 2).as("sum_10m"),
          count(lit(1)).over(w).as("n_10m"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es, "value"
                 FROM events)
      SELECT event_id, user_id, CAST(es AS BIGINT) AS es,
             round(sum("value") OVER w, 2) AS sum_10m,
             CAST(count(*) OVER w AS BIGINT) AS n_10m
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es
                          RANGE BETWEEN 599 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")),

    // as-of join WITH tolerance (merge_asof semantics): each purchase
    // gets the most recent preceding error's value for its user, but
    // only if that error is at most 30 minutes old — staler matches are
    // nulled. Right side pre-aggregated to one row per (user, second)
    // for tie determinism; still the one-shuffle union-trick plan.
    ("q49_asof_tolerance", (s, d) => {
      import graft.operators.AsOf
      val ev = Tables.events(s, d).withColumn("es", col("ts").cast("long"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("es"))
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("es"))
        .agg(max(col("value")).as("err_value"))
      AsOf.join(purchases, errors, "user_id", "es", "err_value",
          tolerance = Some(lit(1800L)))
        .select(col("event_id"), col("user_id"), col("es"), col("err_value"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es
                 FROM events WHERE event_type = 'purchase'),
      e AS (SELECT user_id, epoch_us(ts) // 1000000 AS es,
                   max("value") AS err_value
            FROM events WHERE event_type = 'error' GROUP BY 1, 2),
      m AS (SELECT p.event_id, p.user_id, p.es,
              (SELECT max(e.es) FROM e
               WHERE e.user_id = p.user_id AND e.es <= p.es) AS rts
            FROM p)
      SELECT m.event_id, m.user_id, CAST(m.es AS BIGINT) AS es,
             CASE WHEN rts IS NOT NULL AND m.es - rts <= 1800
                  THEN (SELECT e.err_value FROM e
                        WHERE e.user_id = m.user_id AND e.es = rts) END
               AS err_value
      FROM m ORDER BY event_id""")),

    // Funnel analysis — the classic event-analytics workload: per user,
    // the earliest signup, the first click within 72 h AFTER it, and
    // the first purchase within 72 h after THAT (stage order enforced
    // by construction, not by regex). Scale shape: each stage shuffles
    // only ITS OWN event-type slice keyed on user_id (signup rows, then
    // click rows, then purchase rows — never the whole log twice), the
    // stage joins co-partition on the same key (AQE broadcasts the
    // shrinking stage tables at small SF), and there is no per-user
    // event collection and no self-join explosion.
    ("q89_funnel", (s, d) => {
      val ev = Tables.events(s, d)
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("signup_ts") &&
          col("ts") <= col("signup_ts") + expr("INTERVAL 72 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("click_ts") &&
          col("ts") <= col("click_ts") + expr("INTERVAL 72 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("signup_ts"), col("click_ts"),
          col("purchase_ts"),
          (lit(1L) + col("click_ts").isNotNull.cast("long")
            + col("purchase_ts").isNotNull.cast("long")).as("stage_reached"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH s1 AS (SELECT user_id, min(ts) AS signup_ts FROM events
                  WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(ts) AS click_ts
             FROM events e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND ts > signup_ts
               AND ts <= signup_ts + INTERVAL 72 HOURS GROUP BY 1),
      s3 AS (SELECT e.user_id, min(ts) AS purchase_ts
             FROM events e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND ts > click_ts
               AND ts <= click_ts + INTERVAL 72 HOURS GROUP BY 1)
      SELECT s1.user_id, signup_ts, click_ts, purchase_ts,
             CAST(1 + CASE WHEN click_ts IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN purchase_ts IS NULL THEN 0 ELSE 1 END
                  AS BIGINT) AS stage_reached
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      ORDER BY 1""")),

    // Weekly cohort retention — the other canonical event-analytics
    // matrix: cohort = week of a user's first event; each (cohort,
    // offset) cell counts distinct users active that many weeks later.
    // Two aggregations (first-seen per user, distinct user-weeks) and
    // one join, then a cell-level count — every stage keyed on user_id
    // or the bounded (cohort, offset) grid.
    ("q90_retention", (s, d) => {
      val ev = Tables.events(s, d)
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val active = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("w")).distinct()
      active.join(first, "user_id")
        .withColumn("week_offset",
          expr("(unix_timestamp(w) - unix_timestamp(cohort_week)) div 604800"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }, Some("""
      WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
                 FROM events GROUP BY 1),
      a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
      SELECT cohort_week,
             CAST((epoch(w) - epoch(cohort_week)) // 604800 AS BIGINT)
               AS week_offset,
             count(DISTINCT a.user_id) AS n_users
      FROM a JOIN f USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Sequential pattern mining — the top-20 event-type trigram paths:
    // per user, order events by (ts, event_id) and slide a 3-window via
    // lead; count path frequencies corpus-wide. Scale shape: ONE hash
    // exchange on user_id for the window (lead is in-partition), then
    // the path aggregation collapses to ≤ |types|³ rows with map-side
    // combine, and the top-20 is TakeOrdered — never a global sort.
    // Total order (n DESC, path) makes the reported SET deterministic.
    ("q91_event_paths", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
    }, Some("""
      WITH o AS (SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
      FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")),

    // Operational anomaly detection over the event log: each (hour,
    // type) count vs its trailing-24h baseline; anomalous when the hour
    // runs at over 1.5x the trailing mean with >= 12 baseline hours —
    // in pure integer arithmetic (n·hours·2 > 3·sum, the rational
    // factor never divides) so both engines agree exactly. The baseline
    // is a RANGE frame over the integer hour index: missing hours cost
    // nothing and cannot mis-slide the frame the way a ROWS frame
    // would. Scale shape: the raw log collapses to the (hour, type)
    // grid in one map-combined aggregation; the window then runs over
    // the tiny grid, partitioned by type.
    ("q92_anomaly_hours", Twinned { (s, d, t) =>
      import graft.operators.TimeWindow
      TimeWindow.trailingAnomaly(
          t.cut(TimeWindow.hourlyCounts(t.in(Tables.events(s, d)), col("ts"), col("event_type"))))
        .select(col("hour_idx"), col("key").as("event_type"), col("n"),
          col("base_sum"), col("base_hours"))
        .orderBy(col("event_type"), col("hour_idx"))
    }, Some("""
      WITH hourly AS (
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hour_idx,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      b AS (SELECT hour_idx, event_type, n,
              sum(n) OVER w AS base_sum,
              count(*) OVER w AS base_hours
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
                         RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT hour_idx, event_type, n,
             CAST(base_sum AS BIGINT) AS base_sum, base_hours
      FROM b
      WHERE base_hours >= 12 AND n * base_hours * 2 > 3 * base_sum
      ORDER BY event_type, hour_idx""")),

    // Peak concurrency — interval-overlap analytics: sessionize each
    // user's events (30-min gap), then sweep session endpoints (+1 at
    // start, −1 at end) and report each hour's maximum number of
    // simultaneously-open sessions. The sweep's global running sum is
    // the distributed prefix-sum pattern (Sweep.concurrency): per-day
    // delta totals become broadcast carry-in offsets, in-day windows
    // ride one hash exchange — the timeline never funnels through a
    // single task. Sessionization itself is one user_id exchange.
    ("q96_peak_concurrency", (s, d) => {
      import graft.operators.{Sessionize, Sweep}
      // one-shot: the sweep consumes the session frame twice (the
      // day-totals collect and the endpoint window) and each copy
      // re-ran the sessionize window over the full event stream —
      // materialize the (user, session, st, en) rows once. Trade
      // named: the frame is session-cardinality (sub-event but
      // corpus-order at 100 TB) and a localCheckpoint is
      // non-replayable on executor loss.
      val sess = Sessionize.byGap(Tables.events(s, d),
          Seq(col("user_id")), col("ts"), col("event_id"),
          gapMicros = 1800000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        .localCheckpoint(eager = false)
      Sweep.concurrency(sess, col("st"), col("en"), col("user_id"))
        .groupBy(expr("unix_timestamp(date_trunc('hour', ts)) div 3600")
          .as("hour_idx"))
        .agg(max(col("concurrency")).as("peak"))
        .orderBy(col("hour_idx"))
    }, Some("""
      WITH o AS (SELECT user_id, event_id, ts,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS prev
                 FROM events),
      s AS (SELECT user_id, ts,
              sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 1800000000
                       THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
            FROM o),
      iv AS (SELECT user_id, sid, min(ts) AS st, max(ts) AS en
             FROM s GROUP BY 1, 2),
      pts AS (SELECT user_id, st AS ts, 1 AS delta FROM iv
              UNION ALL SELECT user_id, en, -1 FROM iv),
      c AS (SELECT ts, delta,
              sum(delta) OVER (ORDER BY ts, delta DESC, user_id
                               ROWS UNBOUNDED PRECEDING) AS conc
            FROM pts)
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hour_idx,
             CAST(max(conc) AS BIGINT) AS peak
      FROM c GROUP BY 1 ORDER BY 1""")),

    // Rolling active users — DAU, trailing-7-day WAU, and the
    // stickiness ratio (dau·10⁶ div wau, integer micro-units): the
    // product-analytics staple. Each user-day contributes MAP-SIDE to
    // the 7 report days it is active within (bounded ×7 explode — no
    // range self-join), restricted to observed days; one distinct-count
    // exchange per report day.
    ("q97_rolling_active", Twinned { (s, d, t) =>
      import graft.operators.TimeWindow
      TimeWindow.rollingActive(t.cut(
          TimeWindow.dailyUsers(t.in(Tables.events(s, d)), col("ts"), col("user_id"))))
        .orderBy(col("day"))
    }, Some("""
      WITH du AS (SELECT DISTINCT
                    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
                    user_id
                  FROM events),
      dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
      w AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
            FROM (SELECT DISTINCT day FROM du) d
            JOIN du u ON u.day BETWEEN d.day - 6 AND d.day GROUP BY 1)
      SELECT day, dau, wau,
             CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_micro
      FROM dau JOIN w USING (day) ORDER BY day""")),

    // Integer fixed-point EWMA over the hourly event grid — an
    // order-dependent recurrence (e_t = (3·e_{t-1} + 10⁶·x_t) div 4,
    // seeded 10⁶·x_0) made engine-portable by doing the whole fold in
    // integer micro-units: any engine replaying the same hour order
    // reproduces it bit-for-bit (the oracle replays it as a recursive
    // CTE). Per-key series are time-bounded, so the in-partition fold
    // over each key's collected series is config-sized by construction.
    ("q99_ewma_hours", Twinned { (s, d, t) =>
      import graft.operators.TimeWindow
      TimeWindow.ewma(
          t.cut(TimeWindow.hourlyCounts(t.in(Tables.events(s, d)), col("ts"), col("event_type"))))
        .select(col("hour_idx"), col("key").as("event_type"), col("n"),
          col("ewma_micro"))
        .orderBy(col("event_type"), col("hour_idx"))
    }, Some("""
      WITH RECURSIVE hourly AS (
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hour_idx,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      g AS (SELECT event_type, hour_idx, n,
              row_number() OVER (PARTITION BY event_type ORDER BY hour_idx) AS rn
            FROM hourly),
      r AS (
        SELECT event_type, hour_idx, n, rn, 1000000 * n AS e
        FROM g WHERE rn = 1
        UNION ALL
        SELECT g.event_type, g.hour_idx, g.n, g.rn,
               (3 * r.e + 1000000 * g.n) // 4
        FROM r JOIN g ON g.event_type = r.event_type AND g.rn = r.rn + 1)
      SELECT hour_idx, event_type, n, CAST(e AS BIGINT) AS ewma_micro
      FROM r ORDER BY event_type, hour_idx""")),

    // Per-type traffic trend — least squares over the hourly grid as
    // EXACT integer numerators (slope_num = c·Σxy − Σx·Σy, slope_den =
    // c·Σx² − (Σx)²): no division, because integer division of a
    // possibly-NEGATIVE numerator is where engines disagree (Spark div
    // truncates, DuckDB // floors). x re-bases per key to its first
    // hour — slope-invariant and overflow-safe. Both aggregations ride
    // the grid's key exchange.
    ("q100_trend_slopes", Twinned { (s, d, t) =>
      import graft.operators.TimeWindow
      TimeWindow.trendSlopes(
          t.cut(TimeWindow.hourlyCounts(t.in(Tables.events(s, d)), col("ts"), col("event_type"))))
        .select(col("key").as("event_type"), col("n_hours"),
          col("slope_num"), col("slope_den"))
        .orderBy(col("event_type"))
    }, Some("""
      WITH hourly AS (
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hour_idx,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      m AS (SELECT event_type, min(hour_idx) AS mn FROM hourly GROUP BY 1),
      t AS (SELECT h.event_type, h.hour_idx - mn AS x, n AS y
            FROM hourly h JOIN m USING (event_type)),
      a AS (SELECT event_type, count(*) AS c, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM t GROUP BY 1)
      SELECT event_type, c AS n_hours,
             CAST(c * sxy - sx * sy AS BIGINT) AS slope_num,
             CAST(c * sxx - sx * sx AS BIGINT) AS slope_den
      FROM a ORDER BY 1""")),

    // Time-to-convert distribution — the conversion-latency summary
    // over q37's click→purchase pairs (per user, purchase within 1 h
    // after the click): exact integer second deltas, exact count and
    // extremes, interpolated percentiles rounded at the boundary (the
    // q42 parity). One shuffle per event-type slice on user_id; the
    // pair join co-partitions.
    ("q104_time_to_convert", (s, d) => {
      val ev = Tables.events(s, d)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
      c.join(p, col("user_id") === col("pu") &&
          col("pts") > col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
        .select(expr("(unix_micros(pts) - unix_micros(cts)) div 1000000")
          .as("dt"))
        .agg(count(lit(1)).as("n"),
          min(col("dt")).as("min_sec"), max(col("dt")).as("max_sec"),
          round(expr("percentile(dt, 0.5)"), 4).as("p50"),
          round(expr("percentile(dt, 0.9)"), 4).as("p90"))
    }, Some("""
      WITH c AS (SELECT user_id, ts AS cts FROM events
                 WHERE event_type = 'click'),
      p AS (SELECT user_id, ts AS pts FROM events
            WHERE event_type = 'purchase'),
      d AS (SELECT (epoch_us(pts) - epoch_us(cts)) // 1000000 AS dt
            FROM c JOIN p USING (user_id)
            WHERE pts > cts AND pts <= cts + INTERVAL 1 HOUR)
      SELECT count(*) AS n,
             CAST(min(dt) AS BIGINT) AS min_sec,
             CAST(max(dt) AS BIGINT) AS max_sec,
             round(quantile_cont(dt, 0.5), 4) AS p50,
             round(quantile_cont(dt, 0.9), 4) AS p90
      FROM d""")),

    // Session export — the per-session ordered event sequence a
    // sequence model trains on: 30-min-gap sessions, each exported as
    // its time-ordered event-type path plus exact size and duration.
    // The ordered materialization is one in-partition sort of each
    // session's collected structs — the sessionize exchange on user_id
    // is the only shuffle, and a session's events are bounded by the
    // gap rule.
    ("q105_session_export", (s, d) => {
      import graft.operators.Sessionize
      Sessionize.byGap(Tables.events(s, d), Seq(col("user_id")),
          col("ts"), col("event_id"), gapMicros = 1800000000L)
        .groupBy(col("user_id"), col("session_id").cast("long").as("session_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000")
            .as("duration_sec"),
          concat_ws(">", expr(
            "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"))
            .as("path"))
        .orderBy(col("user_id"), col("session_id"))
    }, Some("""
      WITH o AS (SELECT user_id, event_id, ts, event_type,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS prev
                 FROM events),
      s AS (SELECT user_id, ts, event_id, event_type,
              sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 1800000000
                       THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
            FROM o)
      SELECT user_id, CAST(sid AS BIGINT) AS session_id,
             count(*) AS n_events,
             CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
               AS duration_sec,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Marketing attribution — the revenue-assignment workload every
    // event pipeline grows: each purchase credits its LAST preceding
    // click ever (AsOf.lastMatchingInStream — the as-of operator, not a
    // join: one user exchange, rows-frame, (sec, event_id) total order)
    // and its FIRST click inside a 72 h lookback (value-RANGE frame;
    // earliest-click election = min over a (sec, event_id) STRUCT —
    // lexicographic min picks earliest second then smallest id in both
    // engines, with NO packed-long id bound to outgrow at scale). Both
    // windows share the ONE hashpartitioning(user_id) exchange; the
    // frames differ only in sort spec.
    ("q109_attribution", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.AsOf
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts").cast("long").as("sec"))
      val withLast = AsOf.lastMatchingInStream(ev, Seq(col("user_id")),
        Seq(col("sec"), col("event_id")), col("event_type") === "click",
        col("event_id"), "last_touch_id")
      val wRange = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-259200L, -1L)
      val clickKey = when(col("event_type") === "click",
        struct(col("sec").as("s"), col("event_id").as("i")))
      withLast
        .withColumn("__ft", min(clickKey).over(wRange))
        .withColumn("n_window_clicks",
          coalesce(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .over(wRange), lit(0L)))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("value"), col("last_touch_id"),
          col("__ft.i").as("first_touch_id"), col("n_window_clicks"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT event_id, user_id, event_type, "value",
                   epoch_us(ts) // 1000000 AS sec
                 FROM events),
      w AS (SELECT *,
              last_value(CASE WHEN event_type = 'click' THEN event_id END
                  IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY sec, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS last_touch_id,
              min(CASE WHEN event_type = 'click'
                       THEN {'s': sec, 'i': event_id} END)
                OVER (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 259200 PRECEDING AND 1 PRECEDING) AS ft,
              CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1
                                     ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 259200 PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_window_clicks
            FROM e)
      SELECT event_id, user_id, round("value", 2) AS "value", last_touch_id,
             ft.i AS first_touch_id, n_window_clicks
      FROM w WHERE event_type = 'purchase' ORDER BY event_id"""))
  )

  /** Entries that start a Structured Streaming query when called —
    * registered in [[graft.SparkEntry.streamingNames]]. */
  def streamingDefs: Seq[(String, Q, Option[String])] = Seq(
    // q22's sessions on the REAL streaming engine (session_window state
    // merging) against the same batch gaps-and-islands oracle
    ("q44_streaming_session", (s, d) =>
      graft.streaming.StreamingQueries.sessionWindow(s, d),
      Some("""
      WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      y AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
            FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      z AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM y)
      SELECT make_timestamp(min(us)) AS session_start, user_id,
             count(*) AS n_events,
             min(event_id) AS min_event_id, max(event_id) AS max_event_id
      FROM z GROUP BY user_id, session_id ORDER BY user_id, session_start"""))
  )
}
