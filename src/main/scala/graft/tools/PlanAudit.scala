package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev utility: sweep every declared query's physical plan for scale
  * anti-patterns — unpartitioned (global) windows, SortAggregates,
  * cartesian products, nested-loop joins — and print one line per
  * offender. Streaming queries (which start a stream when called) are
  * skipped: the skip set is [[graft.SparkEntry.streamingNames]].
  *
  * Accepted findings (each deliberate, documented at the operator):
  *  - p08/p12/p28/q12 NestedLoop: broadcast all-pairs scoring /
  *    centroid assignment / one-row scalar / range predicate — the
  *    non-equi broadcast join IS the intended plan.
  *  - p12/p24 globalWindow: dense-index windows over bounded tiny sets
  *    (centroid list, post-limit top-20).
  *  - p34 globalWindow + NestedLoop: IVF-PQ inherits exactly p12's
  *    centroid-index window and broadcast assignment joins.
  *  - p76 globalWindow + NestedLoop: the recall evaluation RUNS both
  *    p08 (broadcast all-pairs) and p34 (centroid window + assignment
  *    join) as its inputs and inherits their accepted shapes; the
  *    evaluation join itself is queries×k vs queries×k.
  *  - p37 NestedLoop: p08's broadcast all-pairs scoring shape over the
  *    media histograms (non-equi self-exclusion join).
  *  - p44 globalWindow + NestedLoop: p12's centroid-index window
  *    (bounded by k) and broadcast centroid-assignment join; the
  *    quadratic pass itself is an equi-join on centroid_id.
  *  - p45 NestedLoop: the one-row vocab-size scalar rides a broadcast
  *    cross join (BuildRight of a single row).
  *  - p47 NestedLoop: inherits p45's one-row vocab cross join (the
  *    perplexity gate inside the composed pipeline).
  *  - p49 NestedLoop: the one-row (N, sum_dl) corpus-stats scalar rides
  *    a broadcast cross join, p45's accepted one-row shape.
  *  - q68/q78 NestedLoop: bm25FromIndex sums the stats log to the same
  *    one-row (N, sum_dl) scalar and rides p49's broadcast cross join
  *    (q78 additionally folds the negative deletion slice into it).
  *  - p54/p69 NestedLoop: the one-row grand-total scalar rides a
  *    broadcast cross join, p45's accepted one-row shape (p69 composes
  *    familyOf in front of p54's chain and inherits it verbatim).
  *  - q20/q23/p66/q76/p73/q79 SortAggregate: max/min(struct) carrying
  *    the PAYLOAD row through the buffer — inherent to last-element/
  *    pulse/ledger-election semantics (q76, p73, and q79 inherit p66's
  *    liveFingerprints election verbatim); partial sort-agg still
  *    shuffles one row per key per partition.
  *  (p59 NestedLoop left this list in round 6: the probe table is now
  *  a collected driver-local bounded DataFrame, so the postings join
  *  plans as a broadcast HASH equi-join.)
  *  - q40 NestedLoop: the global ntile was rebuilt on GlobalIndex +
  *    a ONE-ROW broadcast count (no single-partition window remains),
  *    and that count rides p45's accepted one-row cross-join shape —
  *    the globalWindow flag this list used to carry is gone.
  *  - round-8 entries inheriting the accepted one-row broadcast
  *    cross-join shape (a config-sized or one-row scalar riding
  *    BuildRight): p106 (corpus-stats scalar), p108 (p94's stats),
  *    p113 (one-row budget totals), p115/p116 (one-row normalizer),
  *    p118 (+ SortAggregate from the max-struct election),
  *    p133 (two one-row rank/headroom totals), p136 (p49's one-row
  *    (N, sum_dlb, sum_dla) stats scalar), q83 (p84's shape).
  *  - round-9 entries: p162 SortAggregate (expandSitemaps'
  *    latest-lastmod max-struct election — q20's accepted carry-the-
  *    payload shape, one row per URL per partition); p169 NestedLoop
  *    (p113's one-row budget-totals scalar priced in byte tokens).
  *  - p189 SortAggregate: conditionalRequests' latest-stored-record
  *    election is a max(struct) carrying the validator payload —
  *    q20's accepted shape, one row per URL per partition.
  *  - p200/p201/p205/p206 NestedLoop: the Kneser–Ney one-row N1+(··)
  *    type-total scalar rides a broadcast cross join — p45's accepted
  *    one-row shape (q143/q146 run the same scorers stream-static;
  *    p206 scores held-out docs against the even-slice model).
  *  - also inheriting the same two accepted shapes (verified per
  *    entry): p81/p83/p93/p94/p95 (one-row corpus/stats/class-totals
  *    scalars riding broadcast cross joins — p45/p49's shape),
  *    p84/p89 (q83's sketch one-row grand-total), p150/p151/q128
  *    (one-row totals for negative pools / vocab coverage),
  *    p155 (p08's broadcast all-pairs recall evaluation over the
  *    query panel), p138/q120 (robots rule-group max-struct fold —
  *    q20's carry-the-payload SortAggregate; since round 11 the
  *    crawl front gates through robotsFilterWildcard's scan-stage
  *    HOF fold, so these no longer print at all).
  *  - round-11: p210 NestedLoop — p155's broadcast all-pairs recall
  *    evaluation shape, run twice (full-precision truth + the
  *    dequantized serve) over the same bounded query panel.
  *  - round-12: p218 NestedLoop — the SQ8 lifecycle serves through
  *    the same bruteForceTopK broadcast all-pairs shape as p210 (the
  *    store side reconstructs from codes; the panel broadcasts).
  *    The gated crawl front (p139/p145/p157/p217/p219 and the alias
  *    rewrite inside them) prints NOTHING: the alias map join is a
  *    hash join on the canonical key, the follow harvest is
  *    scan-stage, and the election folds are hash aggregates.
  *  - round-13: p228 NestedLoop — the SQ8 append entry publishes
  *    through publishSq8Store (the p218 recall-gate all-pairs panel
  *    shape) and serves through sq8TopKCurrent's broadcast all-pairs
  *    scan — both accepted shapes, inherited verbatim.
  *  - round-13: p225 NestedLoop — IVF-SQ8 inherits p12's broadcast
  *    centroid-assignment joins (coarse assign + per-query probes are
  *    non-equi broadcast joins over the stride-bounded centroid set)
  *    plus the recall gate inside publishSq8Store (p218's accepted
  *    all-pairs panel shape). p223 (harvest resolution), p224
  *    (lang-id routing), p226 (GIF compositing), and the composed
  *    soft-404 gate print NOTHING: all are scan-stage projections or
  *    mapPartitions codecs feeding hash aggregates.
  * Anything NEW this tool prints is a regression to investigate.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val skip = graft.SparkEntry.streamingNames
    // onQueryStarted runs synchronously inside start(), so the count is
    // exact by the time the sweep ends: a nonzero count names a stream
    // the registry is missing
    val started = new java.util.concurrent.atomic.AtomicInteger
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet()
        println(s"[audit] streaming query started: ${e.name}")
      }
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip.contains(name)) {
        try {
          val p = fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
          // a window with NO partition columns prints its first argument
          // as an ordering spec (".. ASC/DESC NULLS ..") — partitioned
          // windows lead with bare partition columns
          val flags = Seq(
            "globalWindow" -> "windowspecdefinition\\([^,)]*(ASC|DESC)".r
              .findFirstIn(p).isDefined,
            "SortAggregate" -> p.contains("SortAggregate"),
            "Cartesian" -> p.contains("CartesianProduct"),
            "NestedLoop" -> p.contains("BroadcastNestedLoopJoin"))
            .collect { case (f, true) => f }
          if (flags.nonEmpty) println(s"[audit] $name: ${flags.mkString(", ")}")
        } catch { case e: Throwable => println(s"[audit] $name ERROR ${e.getMessage}") }
      }
    }
    println(s"[audit] done; streaming queries started: ${started.get}")
    spark.stop()
  }
}
