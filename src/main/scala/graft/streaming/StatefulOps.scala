package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming stateful operators (`flatMapGroupsWithState`-based).
  *
  * These carry the reference's per-stage mutable state semantics
  * (SURVEY §1.1) into Structured Streaming: state lives in the state
  * store (checkpointed, spillable, partitioned by key) instead of one
  * JVM's heap — the 1000-executor version of a GraphStage's private vars.
  */
object StatefulOps {

  /** Element for keyed change-grouping: (key, seq, property, payload). */
  case class KeyedElement(key: Long, seq: Long, property: String, payload: Double)

  /** An emitted unchanged-run. */
  case class UnchangedGroup(key: Long, property: String, n: Long,
                            minSeq: Long, maxSeq: Long, sumPayload: Double)

  /** Open-run state per key. */
  case class RunState(property: String, n: Long, minSeq: Long, maxSeq: Long,
                      sumPayload: Double)

  /** Streaming AccumulateWhileUnchanged
    * (`AccumulateWhileUnchanged.scala:26-29` in akka/akka-stream-contrib):
    * per key, buffer elements while `property` stays equal; emit the
    * finished group when it changes, when the count cap is hit, or on
    * processing-time timeout (the reference's maxElements/maxDuration
    * flushes).
    *
    * Requires per-key in-order delivery of `seq` across micro-batches
    * (within a batch we sort); out-of-order input across batches is the
    * caller's watermarking problem, as with any ordered stateful op.
    */
  def accumulateWhileUnchanged(ds: Dataset[KeyedElement],
                               maxElements: Option[Int] = None,
                               timeoutMs: Option[Long] = None): Dataset[UnchangedGroup] = {
    implicit val groupEnc: Encoder[UnchangedGroup] = Encoders.product[UnchangedGroup]
    implicit val stateEnc: Encoder[RunState] = Encoders.product[RunState]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong

    val timeoutConf =
      if (timeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    def flush(st: RunState, key: Long): UnchangedGroup =
      UnchangedGroup(key, st.property, st.n, st.minSeq, st.maxSeq, st.sumPayload)

    ds.groupByKey(_.key)
      .flatMapGroupsWithState[RunState, UnchangedGroup](
        OutputMode.Append, timeoutConf) { (key, it, state: GroupState[RunState]) =>
        if (state.hasTimedOut) {
          val out = state.getOption.map(flush(_, key)).toSeq
          state.remove()
          out.iterator
        } else {
          val sorted = it.toSeq.sortBy(_.seq)
          var cur = state.getOption
          val out = Seq.newBuilder[UnchangedGroup]
          sorted.foreach { e =>
            cur match {
              case Some(st) if st.property == e.property &&
                  maxElements.forall(st.n < _) =>
                cur = Some(RunState(st.property, st.n + 1,
                  math.min(st.minSeq, e.seq), math.max(st.maxSeq, e.seq),
                  st.sumPayload + e.payload))
              case Some(st) =>
                out += flush(st, key)
                cur = Some(RunState(e.property, 1L, e.seq, e.seq, e.payload))
              case None =>
                cur = Some(RunState(e.property, 1L, e.seq, e.seq, e.payload))
            }
          }
          cur match {
            case Some(st) =>
              state.update(st)
              timeoutMs.foreach(state.setTimeoutDuration)
            case None => state.remove()
          }
          out.result().iterator
        }
      }
  }

  /** A keep-alive output row: pass-through data or a synthetic heartbeat. */
  case class Heartbeat(key: Long, seq: Long, property: String, payload: Double,
                       synthetic: Boolean)

  /** Keep-alive state: the element heartbeats extrapolate from, plus how
    * many heartbeats this idle period has already emitted.
    */
  case class KeepAliveState(lastSeq: Long, lastProperty: String,
                            lastPayload: Double, beats: Long)

  /** Streaming KeepAliveConcat (`KeepAliveConcat.scala:54-61,73-74` in
    * akka/akka-stream-contrib): pass elements through; when a key's input
    * goes idle past `idleMs`, inject extrapolated elements so downstream
    * keeps a base rate.
    *
    * Spark-first mapping: `flatMapGroupsWithState` with
    * `ProcessingTimeTimeout` — data batches pass rows through and re-arm
    * the per-key timer; a timeout fires a synthetic row extrapolated from
    * the last real element and re-arms, up to `failoverSize` consecutive
    * heartbeats (the reference's keepAliveFailoverSize buffer bound —
    * without it an abandoned key would heartbeat forever and its state
    * would never be reclaimed). New real data resets the budget. Timeouts
    * are evaluated per micro-batch, so heartbeat spacing is
    * max(idleMs, trigger interval) — the documented processing-time
    * granularity delta of the micro-batch model.
    *
    * `extrapolate` maps (last payload, heartbeat index 1..failoverSize) to
    * the synthetic payload; the default repeats the last value (the
    * reference's scaladoc example). Synthetic rows carry seq = lastSeq
    * and synthetic=true so downstream can tell them apart.
    */
  def keepAlive(ds: Dataset[KeyedElement], idleMs: Long, failoverSize: Int = 1,
                extrapolate: (Double, Long) => Double = (p, _) => p): Dataset[Heartbeat] = {
    implicit val outEnc: Encoder[Heartbeat] = Encoders.product[Heartbeat]
    implicit val stEnc: Encoder[KeepAliveState] = Encoders.product[KeepAliveState]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[KeepAliveState, Heartbeat](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) { (key, it, state) =>
        if (state.hasTimedOut) {
          state.getOption match {
            case Some(st) if st.beats < failoverSize =>
              state.update(st.copy(beats = st.beats + 1))
              state.setTimeoutDuration(idleMs)
              Iterator.single(Heartbeat(key, st.lastSeq, st.lastProperty,
                extrapolate(st.lastPayload, st.beats + 1), synthetic = true))
            case _ =>
              state.remove() // budget exhausted: stop heartbeating, free the state
              Iterator.empty
          }
        } else {
          val elems = it.toSeq.sortBy(_.seq)
          elems.lastOption.foreach { last =>
            state.update(KeepAliveState(last.seq, last.property, last.payload, 0L))
            state.setTimeoutDuration(idleMs)
          }
          elems.iterator.map(e =>
            Heartbeat(e.key, e.seq, e.property, e.payload, synthetic = false))
        }
      }
  }

  /** One exploded LSH band row: a document's key for one band. */
  case class BandedDoc(bandKey: String, docId: Long, ts: java.sql.Timestamp)

  /** A cross-document collision in one band: `earlierId` arrived first. */
  case class BandMatch(bandKey: String, earlierId: Long, laterId: Long)

  /** A document held in a band's state. */
  case class SeenDoc(id: Long, tsMs: Long)

  case class BandState(seen: List[SeenDoc])

  /** Recall-first streaming LSH: emit a match whenever a document shares
    * ANY band with a previously seen document — across micro-batches —
    * the online form of [[graft.dedup.Dedup.minhashCandidates]]'s
    * any-band semantics. The precision-first
    * [[StreamingQueries.minhashStreamingDedup]] keys state on the FULL
    * concatenated signature, so it only collapses docs agreeing on every
    * band; this operator keys state on each band independently and
    * catches partial-signature matches the full-signature form misses.
    *
    * State boundedness (the 100 TB story): one state row per band key,
    * holding ≤ `maxPerBand` (docId, ts) entries (the hot-band analog of
    * the batch `maxBucket` cap — docs beyond the cap still match against
    * the held set but are not added, so a pathological band costs
    * O(maxPerBand) memory and O(maxPerBand) emissions per arrival, never
    * m²). Entries older than `horizonMs` are pruned against the
    * watermark and an event-time timeout reclaims idle bands entirely —
    * matching is promised only within the horizon, exactly what an
    * online dedup with finite memory can promise.
    *
    * The same (a, b) pair surfaces once per shared band; downstream
    * `distinct` on (earlierId, laterId) collapses multi-band agreement,
    * same as the batch operator's final distinct.
    *
    * Input must carry a watermark on `ts` (the wrapper applies it);
    * within a batch, arrival order is (ts, docId) — deterministic under
    * replay.
    */
  def lshBandMatches(ds: Dataset[BandedDoc], horizonMs: Long,
                     maxPerBand: Int = 64): Dataset[BandMatch] = {
    implicit val outEnc: Encoder[BandMatch] = Encoders.product[BandMatch]
    implicit val stEnc: Encoder[BandState] = Encoders.product[BandState]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    ds.groupByKey(_.bandKey)
      .flatMapGroupsWithState[BandState, BandMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (key, it, state) =>
        if (state.hasTimedOut) {
          state.remove() // no arrival within horizon: reclaim the band
          Iterator.empty
        } else {
          val wm = state.getCurrentWatermarkMs()
          var seen = state.getOption.map(_.seen).getOrElse(Nil)
            .filter(_.tsMs + horizonMs > wm)
          val out = Seq.newBuilder[BandMatch]
          it.toSeq.sortBy(d => (d.ts.getTime, d.docId)).foreach { d =>
            // an at-least-once redelivery (or duplicate input row) of a
            // doc ALREADY HELD emits nothing at all — emitting against
            // the held set would re-pair it with docs that arrived
            // after its first delivery, with the orientation REVERSED
            // ((2, 1) after the original (1, 2)), so the documented
            // downstream distinct on (earlierId, laterId) would keep
            // both and earlierId would misstate arrival order (the
            // semanticStreamingDedup idempotent-redelivery rule)
            if (!seen.exists(_.id == d.docId)) {
              seen.foreach(s => out += BandMatch(key, s.id, d.docId))
              if (seen.size < maxPerBand)
                seen = seen :+ SeenDoc(d.docId, d.ts.getTime)
            }
          }
          if (seen.nonEmpty) {
            state.update(BandState(seen))
            // newest entry + horizon is strictly past the watermark by the
            // pruning filter above, as setTimeoutTimestamp requires
            state.setTimeoutTimestamp(seen.map(_.tsMs).max + horizonMs)
          } else state.remove()
          out.result().iterator
        }
      }
  }

  /** A vector already assigned to its nearest centroid (assignment is a
    * stateless map-side step — see
    * [[StreamingQueries.semanticStreamingDedup]]).
    */
  case class AssignedVec(centroidId: Long, vecId: Long, vec: Array[Double],
                         ts: java.sql.Timestamp)

  /** Per-vector verdict: kept, or dropped as a duplicate of `dupOf`
    * (-1 when kept).
    */
  case class SemanticVerdict(vecId: Long, centroidId: Long, kept: Boolean,
                             dupOf: Long)

  case class SeenVec(id: Long, v: Array[Double])

  case class ClusterState(seen: List[SeenVec])

  /** Streaming SemDeDup — the online form of
    * [[graft.dedup.Dedup.semanticDedup]]: state per centroid holds the
    * cluster's KEPT representatives (the live dedup index); an arriving
    * vector is dropped when its cosine to any held representative
    * reaches `threshold` (first-arrival-wins, the online analog of the
    * batch min-id election). Cosines compare at round-half-up 6 dp, the
    * batch operator's boundary rule.
    *
    * DOCUMENTED DIVERGENCE from batch [[graft.dedup.Dedup.semanticDedup]]
    * on transitive chains: batch dominates by any smaller-id
    * cluster-mate EVEN IF that mate was itself dropped (cos(1,2) ≥ t,
    * cos(2,3) ≥ t, cos(1,3) < t ⇒ batch drops both 2 and 3), while this
    * operator compares only against KEPT representatives (2 is dropped,
    * never enters state, so 3 survives) — the streaming form keeps
    * strictly MORE in dominated-by-dropped chains. This is inherent to
    * an online dedup index: holding dropped vectors too would make
    * state linear in the corpus instead of bounded by maxPerCluster.
    * When arrival order is id order AND no such chain exists, results
    * are identical (pinned in StreamingSpec, including the chain case).
    *
    * State boundedness: ≤ `maxPerCluster` representatives per centroid
    * (beyond the cap a vector is still judged against the held set but
    * not added — the [[lshBandMatches]] cap rule); no eviction, because
    * the representative set IS the product (dedup coverage would decay
    * with a horizon). At 100 TB the memory bound is
    * k · maxPerCluster · dim doubles across the state store's
    * partitions — sized by the same k that bounds the batch operator's
    * quadratic pass.
    */
  def semanticStreamingDedup(ds: Dataset[AssignedVec], threshold: Double,
                             maxPerCluster: Int = 1024): Dataset[SemanticVerdict] = {
    implicit val outEnc: Encoder[SemanticVerdict] = Encoders.product[SemanticVerdict]
    implicit val stEnc: Encoder[ClusterState] = Encoders.product[ClusterState]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(_.centroidId)
      .flatMapGroupsWithState[ClusterState, SemanticVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, it, state) =>
        var seen = state.getOption.map(_.seen).getOrElse(Nil)
        val out = Seq.newBuilder[SemanticVerdict]
        it.toSeq.sortBy(a => (a.ts.getTime, a.vecId)).foreach { a =>
          if (seen.exists(_.id == a.vecId)) {
            // at-least-once redelivery of a kept representative: re-emit
            // its verdict idempotently, never mark it a dup of itself
            out += SemanticVerdict(a.vecId, key, kept = true, dupOf = -1L)
          } else seen.find(s => cos6(s.v, a.vec) >= threshold) match {
            case Some(dom) =>
              out += SemanticVerdict(a.vecId, key, kept = false, dupOf = dom.id)
            case None =>
              out += SemanticVerdict(a.vecId, key, kept = true, dupOf = -1L)
              if (seen.size < maxPerCluster) seen = seen :+ SeenVec(a.vecId, a.vec)
          }
        }
        if (seen.nonEmpty) state.update(ClusterState(seen))
        out.result().iterator
      }
  }

  /** Cosine at round-half-up 6 dp — the comparison rule of the batch
    * operator's `round(cosine(v, w), 6)`.
    */
  private[streaming] def cos6(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** The panel member nearest `v` by [[cos6]], as (id, cos). `panel` is
    * sorted by id ascending, so strict `>` keeps the SMALLEST id on a
    * 6-dp tie — the batch packed-argmax rule. An empty panel gives
    * (-1, -Inf).
    */
  private[streaming] def nearest(panel: Array[(Long, Array[Double])],
                                 v: Array[Double]): (Long, Double) = {
    var best = -1L
    var bestCos = Double.NegativeInfinity
    panel.foreach { case (id, pv) =>
      val c = cos6(pv, v)
      if (c > bestCos) { best = id; bestCos = c }
    }
    (best, bestCos)
  }

  /** Streaming LastElement (`LastElement.scala:22,39`): per key, keep the
    * latest element by `seq`; emits the current last on every batch
    * (update-mode analog of the materialized `Future[Option[A]]`).
    */
  case class Last(key: Long, seq: Long, payload: Double)

  def lastElementPerKey(ds: Dataset[KeyedElement]): Dataset[Last] = {
    implicit val lastEnc: Encoder[Last] = Encoders.product[Last]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(_.key)
      .mapGroupsWithState[Last, Last](GroupStateTimeout.NoTimeout) { (key, it, state) =>
        val incoming = it.maxByOption(_.seq)
        val best = (state.getOption ++ incoming.map(e => Last(key, e.seq, e.payload)))
          .maxBy(_.seq)
        state.update(best)
        best
      }
  }

  /** A released element with its release round (1-based: round 1 is the
    * micro-batch the element arrived in).
    */
  case class PacedRelease(key: Long, seq: Long, payload: Double, round: Long)

  /** Per-key pacing backlog: pending elements in seq order, plus the
    * key's release-round counter.
    */
  case class PaceState(pending: Seq[KeyedElement], rounds: Long)

  /** Per-key politeness pacing — the honest micro-batch mapping of the
    * reference's per-element `DelayFlow` (`DelayFlow.scala:21,51` in
    * akka/akka-stream-contrib) for the crawler-politeness use ("at most
    * N requests per domain per interval"): each micro-batch RELEASES at
    * most `maxPerTrigger` elements per key, in seq order; the rest wait
    * in the state store (checkpointed, spillable, partitioned by key —
    * the 1000-executor version of a per-domain queue) and drain
    * `maxPerTrigger` per trigger. A key with a pending backlog arms a
    * processing-time timer so draining continues with NO new input for
    * the key — the half that makes it a paced queue rather than an
    * input-driven filter. Per-element wall-clock sleep does not exist
    * in vectorized micro-batch execution; per-key-per-trigger admission
    * against the trigger interval IS the delay knob (the
    * IntervalBasedRateLimiter argument), and the emitted `round` makes
    * the pacing schedule itself assertable.
    *
    * A backlog that would exceed `maxBuffer` fails LOUDLY (Retry
    * .concat's bufferLimit rule): unbounded buffering would disguise an
    * under-provisioned drain rate as silent state growth until the
    * state store dies.
    */
  def paceByKey(ds: Dataset[KeyedElement], maxPerTrigger: Int,
                maxBuffer: Int, drainIntervalMs: Long = 100L): Dataset[PacedRelease] = {
    require(maxPerTrigger >= 1, s"paceByKey: maxPerTrigger must be >= 1")
    require(maxBuffer >= maxPerTrigger,
      s"paceByKey: maxBuffer ($maxBuffer) must be >= maxPerTrigger ($maxPerTrigger)")
    paceByKeyRates(ds, _ => maxPerTrigger, maxBuffer, drainIntervalMs)
  }

  /** [[paceByKey]] with a PER-KEY release rate — the wiring that makes
    * robots `Crawl-delay` a live politeness control
    * ([[graft.graph.LinkGraph.robotsCrawlDelay]] →
    * [[graft.graph.LinkGraph.crawlDelayCaps]]' arithmetic at trigger
    * grain): `perTrigger(key)` is how many fetches the key's domain
    * absorbs per trigger interval (triggerMs div crawl_delay_ms,
    * floored at 1 when the domain is to be crawled at all). The rate
    * table is a DOMAIN-cardinality artifact riding the closure (the
    * bounded-model rule — it reaches every task once). Per-key
    * backlog, timer drain, and state-reclaim semantics are
    * [[paceByKey]]'s own: one code path, the rate lookup is the only
    * delta. A non-positive rate raises loudly in-group — a key that
    * must not be fetched belongs filtered OUT (cap 0 upstream in the
    * schedule), not silently starved inside the pacer's state store.
    */
  def paceByKeyRates(ds: Dataset[KeyedElement], perTrigger: Long => Int,
                     maxBuffer: Int,
                     drainIntervalMs: Long = 100L): Dataset[PacedRelease] = {
    require(maxBuffer >= 1,
      s"paceByKeyRates: maxBuffer must be >= 1, got $maxBuffer")
    implicit val outEnc: Encoder[PacedRelease] = Encoders.product[PacedRelease]
    implicit val stEnc: Encoder[PaceState] = Encoders.product[PaceState]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[PaceState, PacedRelease](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) { (key, it, state) =>
        val prior = state.getOption.getOrElse(PaceState(Vector.empty, 0L))
        val arrived = it.toSeq.sortBy(_.seq)
        val queue = prior.pending ++ arrived
        if (queue.size > maxBuffer)
          throw new IllegalStateException(
            s"paceByKeyRates: key $key backlog ${queue.size} exceeds " +
              s"maxBuffer $maxBuffer — raise the key's release rate " +
              "(maxPerTrigger when called via paceByKey), raise maxBuffer, " +
              "or shed load")
        val rate = perTrigger(key)
        if (rate < 1)
          throw new IllegalStateException(
            s"paceByKeyRates: non-positive rate $rate for key $key — a " +
              "do-not-fetch key belongs filtered out upstream (schedule " +
              "cap 0), not starved inside the pacer")
        val round = prior.rounds + 1
        val (release, rest) = queue.splitAt(rate)
        if (rest.nonEmpty) {
          state.update(PaceState(rest.toVector, round))
          state.setTimeoutDuration(drainIntervalMs)
        } else {
          // fully drained: reclaim the state (no timer → the key would
          // never be revisited, so keeping state here would leak). The
          // round counter is per pacing EPISODE by design — a later
          // burst starts a fresh schedule.
          state.remove()
        }
        release.iterator.map(e => PacedRelease(key, e.seq, e.payload, round))
      }
  }
}
