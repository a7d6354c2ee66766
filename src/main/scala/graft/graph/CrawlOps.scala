package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-FETCH-side operators — what the fetcher layer of a 100 TB
  * crawl runs between [[LinkGraph]]'s frontier math and the corpus
  * ingest: resolve redirect chains to their terminal URLs, estimate
  * per-URL change rates from the crawl ledger to schedule recrawls,
  * and detect crawler traps (domains minting unbounded URL spaces
  * over a handful of contents).
  *
  * No reference counterpart (akka-stream-contrib has no crawl
  * analytics); the iteration machinery follows the repo's bounded
  * driver-loop idiom ([[LinkGraph.pageRank]]) and every score is
  * exact integer micro-units (the p81 engine-portability rule).
  */
object CrawlOps {

  /** Resolve every redirecting URL to its terminal target by POINTER
    * DOUBLING — ⌈log₂ maxDepth⌉ self-join rounds instead of maxDepth
    * sequential ones (the PRAM pointer-jumping classic): after round
    * r each URL's pointer has skipped up to 2^r hops, so a 16-hop
    * chain costs 4 shuffles, not 16. At web scale the redirect map is
    * corpus-sized and chains are shallow-but-not-bounded (http→https
    * → www → CDN → tracking hop …); the doubling keeps the round
    * count logarithmic in the give-up depth while every round stays
    * ONE hash self-join of the map on the pointer key.
    *
    * Semantics: `redirects` is (src, dst) — "fetching src answered
    * 3xx to dst" — already canonicalized (that is
    * [[graft.functions.SourceFamily.canonicalizeUrl]]'s step). The
    * map is deduped; a src with two DISTINCT targets raises loudly (a
    * corrupt map would make resolution order-dependent — a ledger
    * bug, not data). Output, one row per redirecting URL:
    * `resolved = true` iff the chain reaches a terminal (a URL that
    * is not itself a redirect src) within `maxDepth` hops — the
    * give-up bound every HTTP client enforces; then `final_url` is
    * that terminal and `hops` the exact chain length. Unresolved URLs
    * (a redirect LOOP — the classic misconfiguration — or a chain
    * deeper than maxDepth) report `final_url = ''`, `hops = 0`,
    * `resolved = false`: absence is a value, never a missing row, and
    * a frontier drops unresolved URLs instead of fetching them.
    *
    * Hop counts stay exact under doubling (hops(u) += hops(ptr(u))
    * only when the pointer advances), and a terminal pointer is a
    * fixpoint of the round (the left join misses), so rounds beyond a
    * chain's length cannot overshoot. Scale shape: R = ⌈log₂
    * maxDepth⌉ rounds × one self-join each, lineage truncated per
    * round; the map never collects.
    */
  /** Meta-refresh REDIRECT edges — the HTML half of the redirect map
    * (p140's header Location rows are the other): pages whose first
    * `<meta http-equiv="refresh">` declares a target within
    * `maxDelaySeconds` become (src, dst, delay_s) rows in the SAME
    * canonical key space as every frontier operator, ready for
    * [[resolveRedirects]]. The target resolves through
    * [[graft.functions.ResolveHref.aliasTarget]]: absolute,
    * protocol-relative (`//host/x`) and root-relative (`/x`) forms
    * bind against the declaring page — real pages publish
    * `url=/new-page` constantly — while bare-delay reloads, slow
    * refreshes, PATH-relative targets (directory context on an alias
    * declaration is a collapse gamble) and non-fetchable schemes emit
    * nothing (no false edge beats a wrong one). Scan-stage
    * projection, zero shuffle.
    */
  def metaRefreshEdges(pages: DataFrame, url: Column, html: Column,
                       maxDelaySeconds: Long = 10L): DataFrame = {
    require(maxDelaySeconds >= 0,
      s"metaRefreshEdges: maxDelaySeconds must be >= 0, got $maxDelaySeconds")
    pages.select(url.as("__u"),
        // a <base href> rebases the refresh target exactly as it
        // rebases links (LinkGraph.effectiveBase — one base per page)
        LinkGraph.effectiveBase(url, html).as("__b"),
        graft.functions.TextFunctions.metaRefresh(html).as("__r"))
      .filter(col("__r").isNotNull &&
        col("__r.delay_s") <= maxDelaySeconds)
      .withColumn("__t",
        graft.functions.ResolveHref.aliasTarget(col("__b"),
          col("__r.target")))
      .filter(col("__t").isNotNull)
      .select(graft.functions.SourceFamily.canonicalizeUrl(col("__u"))
          .as("src"),
        graft.functions.SourceFamily.canonicalizeUrl(col("__t")).as("dst"),
        col("__r.delay_s").as("delay_s"))
  }

  /** rel=canonical ALIAS edges — the page-published half of the
    * redirect map ([[metaRefreshEdges]] is the HTML-redirect half,
    * p140's Location rows the HTTP one): pages whose first
    * `<link rel="canonical">` declares a DIFFERENT canonical key
    * become (src, dst) rows in the shared canonical key space.
    * Self-declarations (and the missing/relative→self default) emit
    * nothing — a self-edge in a pointer chain is a 1-cycle that would
    * read as a redirect loop. Scan-stage projection, zero shuffle.
    */
  def canonicalEdges(pages: DataFrame, url: Column, html: Column): DataFrame =
    LinkGraph.relCanonical(pages, url, html)
      .select(graft.functions.SourceFamily.canonicalizeUrl(col("page_url"))
          .as("src"),
        col("canonical_target").as("dst"))
      .filter(col("dst") =!= col("src"))

  /** The UNIONED page-published alias map — meta-refresh redirects
    * plus rel=canonical declarations, both in the shared canonical
    * key space, ready for ONE [[resolveRedirects]] pass so canonical
    * CHAINS (A's canonical B itself declares a canonical C) and mixed
    * chains (a canonical pointing at a meta-refresh page) resolve
    * through the same pointer doubling as every other redirect.
    * Precedence when one page declares BOTH: the refresh wins — it is
    * an actual redirect the browser executes; the canonical is an
    * advisory the refresh preempts — enforced with an anti-join on
    * the refresh srcs (same key as the map build's dedup, one
    * exchange) so the unique-src contract of [[resolveRedirects]]
    * holds by construction rather than raising on a both-forms page.
    */
  def pageAliasEdges(pages: DataFrame, url: Column, html: Column,
                     maxDelaySeconds: Long = 10L): DataFrame = {
    // the refresh side is consumed twice (the union and the
    // precedence anti-join's build side) and each copy re-ran the
    // corpus HTML parse — materialize the EDGE LIST once (alias-map-
    // sized, the same cardinality class as resolveRedirects' already-
    // checkpointed pointer map; never the corpus)
    val refresh = metaRefreshEdges(pages, url, html, maxDelaySeconds)
      .select(col("src"), col("dst"))
      .localCheckpoint(eager = false)
    val canon = canonicalEdges(pages, url, html)
    refresh.unionByName(
      canon.join(refresh.select(col("src")), Seq("src"), "left_anti"))
  }

  /** The COMPLETE alias map a real archive holds — HTTP Location
    * redirects (the 3xx rows p140's ledger carries) ∪ the
    * page-published pair ([[pageAliasEdges]]: meta-refresh ∪
    * rel=canonical), with PROTOCOL precedence: a header redirect is
    * the transport's own verdict and preempts anything the body
    * declares (a 3xx body is boilerplate no browser renders), and
    * within the body the refresh preempts the canonical (the
    * [[pageAliasEdges]] rule). Same anti-join-on-src enforcement, so
    * [[resolveRedirects]]' unique-src contract holds across all
    * three kinds and chains CROSS layers (a header redirect landing
    * on a canonical-declaring page resolves through both in one
    * pointer pass).
    */
  def fullAliasEdges(headerRedirects: DataFrame,
                     pages: DataFrame, url: Column, html: Column,
                     maxDelaySeconds: Long = 10L): DataFrame = {
    val hdr = headerRedirects.select(col("src"), col("dst"))
    // same trade as pageAliasEdges: the page map is consumed twice
    // (union + precedence anti-join) and each copy re-parsed the
    // corpus; one edge-list checkpoint runs the parse once
    val page = pageAliasEdges(pages, url, html, maxDelaySeconds)
      .localCheckpoint(eager = false)
    hdr.unionByName(
      page.join(hdr.select(col("src")), Seq("src"), "left_anti"))
  }

  /** Rewrite a frontier through a RESOLVED alias map
    * ([[resolveRedirects]] output over [[pageAliasEdges]]): rows whose
    * `canonical` is a resolved alias src are REWRITTEN to the terminal
    * key (and their `dst_family` re-derived — a refresh can cross
    * families); rows whose key sits in an alias LOOP or an over-deep
    * chain are DROPPED (a frontier must not spend fetches on URLs it
    * cannot name); everything else passes through untouched. All other
    * columns ride. The join keys on the same `canonical` the gate and
    * the frontier dedup key on, so the exchange is reused downstream;
    * callers needing distinct keys dedup AFTER the rewrite (two
    * frontier rows can legitimately collapse into one terminal).
    */
  def resolveFrontierAliases(rows: DataFrame, resolved: DataFrame): DataFrame = {
    val r = resolved.select(col("url").as("__asrc"),
      col("final_url").as("__afin"), col("resolved").as("__aok"))
    val passthrough = rows.columns.filterNot(_ == "dst_family")
      .map(c => col(c)).toSeq
    rows.join(r, col("canonical") === col("__asrc"), "left")
      .filter(col("__aok").isNull || col("__aok"))
      .withColumn("canonical",
        when(col("__aok"), col("__afin")).otherwise(col("canonical")))
      .withColumn("dst_family",
        graft.functions.SourceFamily.familyOf(col("canonical")))
      .select(passthrough :+ col("dst_family"): _*)
  }

  def resolveRedirects(redirects: DataFrame, maxDepth: Int = 8): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 1024,
      s"resolveRedirects: maxDepth must be in [1, 1024], got $maxDepth")
    val e = redirects.select(col("src"), col("dst")).distinct()
    val m = e.groupBy(col("src"))
      .agg(max(col("dst")).as("next"), count(lit(1)).as("__n"))
      .select(col("src"),
        when(col("__n") > 1, raise_error(concat(
            lit("resolveRedirects: conflicting redirect targets for "),
            col("src"))))
          .otherwise(col("next")).as("next"))
      .localCheckpoint(eager = false)
    // ⌈log₂ maxDepth⌉: after R rounds the pointer covers ≥ maxDepth
    // hops, so "resolved within maxDepth" is decidable exactly
    val rounds =
      if (maxDepth == 1) 0
      else 32 - Integer.numberOfLeadingZeros(maxDepth - 1)
    var ptr = m.select(col("src").as("url"), col("next"),
      lit(1L).as("hops"))
    for (_ <- 1 to rounds) {
      val b = ptr.select(col("url").as("__u"), col("next").as("__next"),
        col("hops").as("__hops"))
      ptr = ptr.join(b, ptr("next") === b("__u"), "left")
        .select(col("url"),
          coalesce(col("__next"), col("next")).as("next"),
          (col("hops") + coalesce(col("__hops"), lit(0L))).as("hops"))
        .localCheckpoint(eager = false)
    }
    val keys = m.select(col("src").as("__k"))
    ptr.join(keys, ptr("next") === col("__k"), "left")
      .select(col("url"),
        (col("__k").isNull && col("hops") <= maxDepth).as("__ok"),
        col("next"), col("hops"))
      .select(col("url"),
        when(col("__ok"), col("next")).otherwise(lit("")).as("final_url"),
        when(col("__ok"), col("hops")).otherwise(lit(0L)).as("hops"),
        col("__ok").as("resolved"))
  }

  /** Per-URL CHANGE-RATE estimation over the crawl ledger — the
    * freshness side of scheduling (Cho & Garcia-Molina's incremental-
    * crawler problem): a fetcher that recrawls everything at one
    * cadence wastes its budget on pages that never change and serves
    * stale copies of pages that change hourly.
    *
    * `log` is (url, day, fingerprint) — one row per fetch, the
    * content fingerprint from the fetch (md5 of the extracted text;
    * p88's manifest column). Duplicate (url, day) rows raise loudly —
    * the adjacency below would silently miscount on a corrupt ledger.
    * Per URL: `changes` counts ADJACENT-fetch fingerprint
    * differences (order by day — distinct-fingerprint counting would
    * miss A→B→A flapping), and the estimated change rate is the
    * Laplace-smoothed Bernoulli mean over the visits−1 adjacent
    * pairs, in integer micro-units:
    * `rate_micro = (changes+1)·10⁶ div (visits+1)` — a single-visit
    * URL reports the prior mean 500 000 (maximum uncertainty), never
    * a fake 0 or a division by zero.
    *
    * `score_micro = min(capMicro, rate_micro · staleness_days)` is
    * the recrawl priority: the LINEAR-hazard bound of the Poisson
    * 1−e^(−λt) (exact to O((λt)²) for rarely-changing pages — the
    * web's bulk — and capped at "certainly changed" where the
    * exponential saturates anyway), with staleness measured from
    * `asofDay`. A fetch day after `asofDay` raises loudly (a ledger
    * from the future is a clock bug). Ranking domains by summed
    * score and feeding [[LinkGraph.crawlBudgetWithCaps]] turns this
    * into the recrawl schedule.
    *
    * Scale shape: the lag window and the per-URL aggregate share ONE
    * url-keyed exchange (same partitioning key, no second shuffle);
    * per-URL series are bounded by the ledger's day range.
    */
  def changeRates(log: DataFrame, asofDay: Long,
                  capMicro: Long = 1000000L): DataFrame = {
    require(capMicro > 0,
      s"changeRates: capMicro must be positive, got $capMicro")
    val w = Window.partitionBy(col("url")).orderBy(col("day"))
    log.select(col("url"), col("day"), col("fingerprint"),
        lag(col("fingerprint"), 1).over(w).as("__prev"))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("visits"),
        count_distinct(col("day")).as("__nd"),
        sum(when(col("__prev").isNotNull &&
            col("__prev") =!= col("fingerprint"), 1L).otherwise(0L))
          .as("changes"),
        max(col("day")).as("__last"))
      .select(col("url"),
        when(col("__nd") =!= col("visits"), raise_error(concat(
            lit("changeRates: duplicate (url, day) ledger rows for "),
            col("url"))))
          .otherwise(col("visits")).as("visits"),
        col("changes"),
        expr("(changes + 1) * 1000000 div (visits + 1)").as("rate_micro"),
        when(col("__last") > asofDay, raise_error(concat(
            lit(s"changeRates: ledger day after asofDay $asofDay for "),
            col("url"))))
          .otherwise(lit(asofDay) - col("__last")).as("staleness_days"))
      .withColumn("score_micro",
        least(lit(capMicro), col("rate_micro") * col("staleness_days")))
  }

  /** Crawler-TRAP detection — the frontier guard against domains that
    * mint unbounded URL spaces over a handful of contents (calendar
    * pages, session-id links, faceted-search grids: the classic ways
    * a crawl budget dies). Signal: per domain family over the deduped
    * fetch log, the ratio of DISTINCT canonical URLs to DISTINCT
    * content fingerprints, in integer micro-units — a healthy domain
    * sits near 10⁶ (one page, one content); a trap serves the same
    * few contents under thousands of URLs. `trapped` requires BOTH
    * `n_urls ≥ minUrls` (a 3-URL domain cannot evidence a trap — the
    * ratio is noise at small n) and `ratio_micro > thresholdMicro`;
    * flagged families feed [[LinkGraph.crawlBudgetWithCaps]] as
    * cap = 0 (stop spending there), the p139 composition.
    *
    * Scale shape: one dedup of the fetch log to its distinct
    * (family, canonical, fingerprint) triples, then ONE per-family
    * aggregation (the two count-distincts expand ×2 over the already-
    * deduped triples — bounded by the unique-triple count, never the
    * raw fetch log). `n_fp ≥ 1` by construction (a family only
    * appears with at least one fetched content), so the ratio never
    * divides by zero.
    */
  def trapSignals(fetches: DataFrame, minUrls: Long = 100L,
                  thresholdMicro: Long = 10000000L): DataFrame =
    trapSignalsFromDistinct(trapTriples(fetches), minUrls, thresholdMicro)

  /** The dedup half of [[trapSignals]]: the fetch log's distinct
    * (family, canonical, fingerprint) triples.
    */
  private[graft] def trapTriples(fetches: DataFrame): DataFrame =
    fetches.select(col("family"), col("canonical"), col("fingerprint"))
      .distinct()

  /** The fetch WORKLIST — the crawl arc's last materialization: turn
    * the schedule's per-domain request counts into the actual URL
    * list a fetcher consumes this round. Each gate-allowed URL gets a
    * deterministic per-domain priority — md5 of its canonical key —
    * and a domain takes its first `n_requests` URLs in that order:
    * engine-portable (both engines md5 the same bytes), reproducible
    * across retries, and free of path-order bias (lexicographic order
    * would crawl the /a paths before the /z paths forever; the hash
    * spreads a domain's URL space uniformly).
    *
    * `allowed` is (canonical, dst_family) — the robots gate's allowed
    * slice; `schedule` is (node, n_requests) —
    * [[LinkGraph.crawlBudgetWithCaps]] output with the
    * `__UNASSIGNED` remainder row dropped by the caller (its presence
    * here raises loudly — a worklist row for the remainder would
    * fetch nothing). When the schedule was built with
    * cap = allowed-URL count (the p139 composition), n_requests ≤
    * n_allowed per domain, so the worklist spends EXACTLY the
    * scheduled requests.
    *
    * Scale shape: the schedule is domain-cardinality and BROADCAST,
    * and the per-domain selection is the two-phase bounded top-k
    * ([[graft.functions.Aggregators.UrlTopK]] — map-side partial
    * ≤`maxPerDomain` buffers, exact in-buffer dedup of multi-
    * discovered URLs), so ONE dst_family exchange carries k-row
    * buffers, never a domain's URL space: the single-task sort a
    * `row_number` window would make of a 10⁹-URL domain cannot
    * happen. `maxPerDomain` is the politeness constant the schedule
    * was built under; a schedule row above it raises loudly (the
    * buffer would silently truncate its spend otherwise).
    */
  def crawlWorklist(allowed: DataFrame, schedule: DataFrame,
                    maxPerDomain: Int = 10000): DataFrame =
    worklistSelect(frontierTopK(allowed, maxPerDomain), schedule)

  /** [[crawlWorklist]] with a PER-HOST politeness cap under the family
    * budget — the two-level production shape: the budget keys on the
    * registered-domain FAMILY ([[graft.functions.SourceFamily.familyOf]]
    * — that's where rank mass and robots rules live), but a fetcher
    * opens connections per HOST, and `blog1.example.com` must not
    * absorb the whole family budget while `blog2.example.com` starves
    * behind it. Selection: per (family, host) only the `hostCap`
    * md5-smallest URLs survive, then the family spends its
    * `n_requests` over the survivors in the SAME md5 order
    * [[crawlWorklist]] uses — so with `hostCap ≥ n_requests` the two
    * operators agree exactly (spec-pinned), and below it a family's
    * spend provably splits across its hosts.
    *
    * Scale shape: TWO bounded-buffer exchanges, each the
    * [[frontierTopK]] two-phase pattern — first keyed (family, host)
    * with ≤`hostCap` buffers (a 10⁹-URL host moves hostCap rows, not
    * its URL space), then keyed family over the ≤ hosts·hostCap
    * survivors; the domain-cardinality schedule broadcasts in the
    * shared [[worklistSelect]] finalize, whose fold-bound and
    * `__UNASSIGNED` contracts apply unchanged.
    */
  def crawlWorklistPerHost(allowed: DataFrame, schedule: DataFrame,
                           hostCap: Int,
                           maxPerDomain: Int = 10000): DataFrame = {
    require(hostCap >= 1 && hostCap <= maxPerDomain,
      s"crawlWorklistPerHost: hostCap must be in [1, maxPerDomain=" +
        s"$maxPerDomain], got $hostCap")
    val topk = udaf(new graft.functions.Aggregators.UrlTopK(hostCap))
    val survivors = allowed
      .select(col("dst_family"),
        graft.functions.SourceFamily.hostOf(col("canonical")).as("__host"),
        md5(col("canonical")).as("__prio"), col("canonical"))
      .groupBy(col("dst_family"), col("__host"))
      .agg(topk(col("__prio"), col("canonical")).as("tk"))
      .select(col("dst_family"), explode(col("tk.items")).as("__x"))
      .select(col("dst_family"), col("__x.url").as("canonical"))
    worklistSelect(frontierTopK(survivors, maxPerDomain), schedule)
  }

  /** The FOLD half of [[crawlWorklist]] — per dst_family, the bounded
    * md5-smallest-k URL buffer ([[graft.functions.Aggregators.UrlTopK]]
    * semantics). Split out because this half IS the streaming
    * frontier's cross-batch state (the trapSignalsFromDistinct rule):
    * the buffer is associative/commutative/deduping, so folding
    * discovery batches into it incrementally equals folding the full
    * allowed set at once — batch-identical by shared definition.
    * Output: (dst_family, tk, __k) where tk.items is the sorted ≤k
    * buffer and __k carries the fold's bound, so the select finalize
    * guards against the k it was ACTUALLY built with (a frontier
    * folded at k=1000 fed a schedule row of 5000 must raise, not
    * silently spend 1000).
    */
  def frontierTopK(allowed: DataFrame, maxPerDomain: Int): DataFrame = {
    require(maxPerDomain >= 1 && maxPerDomain <= 1000000,
      s"frontierTopK: maxPerDomain must be in [1, 1e6], got $maxPerDomain")
    val topk = udaf(new graft.functions.Aggregators.UrlTopK(maxPerDomain))
    allowed
      .select(col("dst_family"), md5(col("canonical")).as("__prio"),
        col("canonical"))
      .groupBy(col("dst_family"))
      .agg(topk(col("__prio"), col("canonical")).as("tk"))
      .withColumn("__k", lit(maxPerDomain.toLong))
  }

  /** The SELECT finalize of [[crawlWorklist]] over an already-folded
    * frontier (batch or streaming state — same definition): broadcast
    * the domain-cardinality schedule, explode each domain's buffer,
    * keep the first n_requests positions. Contract raises live here
    * so both execution surfaces share them; the buffer-truncation
    * guard reads the `__k` the fold actually used, never a caller
    * default.
    */
  def worklistSelect(frontier: DataFrame, schedule: DataFrame): DataFrame = {
    val s = schedule.select(col("node"),
      when(col("node") === "__UNASSIGNED", raise_error(lit(
          "crawlWorklist: drop the __UNASSIGNED remainder row before " +
            "building the worklist")))
        .otherwise(col("n_requests")).as("n_requests"))
    frontier
      .join(broadcast(s), col("dst_family") === col("node"))
      .select(col("dst_family"),
        when(col("n_requests") > col("__k"), raise_error(concat(
            lit("crawlWorklist: n_requests above the frontier's fold "
              + "bound ("), col("__k").cast("string"), lit(") for "),
            col("dst_family"))))
          .otherwise(col("n_requests")).as("n_requests"),
        posexplode(col("tk.items")).as(Seq("__p", "__x")))
      .filter(col("__p") + 1 <= col("n_requests"))
      .select(col("__x.url").as("canonical"), col("dst_family"),
        (col("__p") + 1).cast("long").as("pos"))
  }

  /** Conditional-request plan from a stored-response frame — the
    * recrawl economics every production crawler runs: a URL whose
    * stored copy carried validators revalidates with
    * `If-None-Match` (the ETag) / `If-Modified-Since` (the
    * Last-Modified date) instead of refetching, and an unchanged page
    * answers 304 with NO body — at 100 TB of recrawl traffic the
    * bytes saved are most of the fetch bill. Input is a
    * [[graft.sources.Warc.splitHttp]] frame (target_uri, warc_date,
    * http_status, http_headers); only status-200 rows carry a stored
    * representation worth revalidating (a stored 3xx/4xx has no body
    * to save). Per URL the LATEST stored record wins — a packed
    * max-struct election keyed on warc_date (ISO 8601, so the string
    * order IS the time order; date ties break on the validator
    * fields, deterministically), map-side combinable, never a window
    * over the archive. Output, one row per URL:
    * (target_uri, if_none_match, if_modified_since) — either
    * validator null when the stored copy did not carry it; a URL
    * with NEITHER validator drops from the plan (there is nothing to
    * send — the fetcher falls back to an unconditional GET).
    */
  def conditionalRequests(responses: DataFrame): DataFrame =
    responses.filter(col("http_status") === 200)
      .select(col("target_uri"),
        struct(col("warc_date").as("d"),
          element_at(col("http_headers"), "etag").as("etag"),
          element_at(col("http_headers"), "last-modified").as("lm"))
          .as("s"))
      .groupBy(col("target_uri"))
      .agg(max(col("s")).as("s"))
      .select(col("target_uri"),
        col("s.etag").as("if_none_match"),
        col("s.lm").as("if_modified_since"))
      .filter(col("if_none_match").isNotNull ||
        col("if_modified_since").isNotNull)

  /** Soft-404 score — the 200-status error page every real crawl is
    * full of (misconfigured servers answer "Page Not Found" with
    * status 200, so the HTTP layer cannot catch it): phrase markers
    * in the TITLE weigh 2 (a title that says "not found" is the
    * page declaring itself), body markers weigh 1, and a body under
    * `minTokens` tokens weighs 1 (error pages are near-empty) — all
    * integer, all engine-portable (the p81 rule). The marker list is
    * the standard public heuristic set; matching is lowercase
    * substring, so the SQL dual is a LIKE chain. Flag at
    * [[Soft404Threshold]] (>= 3): a marker title + either a marker
    * body or a thin body — one weak signal alone never kills a page.
    */
  def soft404Score(title: Column, body: Column,
                   minTokens: Int = 20): Column = {
    def marker(c: Column): Column = {
      val l = lower(coalesce(c, lit("")))
      when(Soft404Markers.map(m => l.contains(lit(m)))
        .reduce(_ || _), 1L).otherwise(0L)
    }
    marker(title) * 2 + marker(body) +
      when(size(graft.functions.TextFunctions.tokens(coalesce(body,
        lit("")))) < minTokens, 1L).otherwise(0L)
  }

  /** The phrase markers [[soft404Score]] matches (lowercase). Phrases,
    * not bare tokens — "404" alone would fire on any document whose
    * text mentions the number.
    */
  val Soft404Markers: Seq[String] = Seq(
    "not found", "does not exist", "no longer available", "error 404")

  /** [[soft404Score]]'s flag threshold. */
  val Soft404Threshold: Long = 3L

  /** The finalize half of [[trapSignals]] over an ALREADY-distinct
    * (family, canonical, fingerprint) triple set — shared with the
    * streaming twin, whose cross-batch state IS that triple set (the
    * `Dedup.chunkRows` rule: batch-identical by shared definition).
    */
  def trapSignalsFromDistinct(triples: DataFrame, minUrls: Long,
                              thresholdMicro: Long): DataFrame = {
    require(minUrls >= 1,
      s"trapSignals: minUrls must be >= 1, got $minUrls")
    require(thresholdMicro > 0,
      s"trapSignals: thresholdMicro must be positive, got $thresholdMicro")
    triples.groupBy(col("family"))
      .agg(count_distinct(col("canonical")).as("n_urls"),
        count_distinct(col("fingerprint")).as("n_fp"))
      .select(col("family"), col("n_urls"), col("n_fp"),
        expr("n_urls * 1000000 div n_fp").as("ratio_micro"))
      .withColumn("trapped",
        col("n_urls") >= minUrls && col("ratio_micro") > thresholdMicro)
  }
}
