package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SourceFamily, TextFunctions}

/** The crawl-side LINK GRAPH — what a frontier scheduler reads.
  *
  * A 100 TB crawl does not fetch pages in discovery order: it ranks
  * domains by link authority and spends its politeness-limited request
  * budget top-down (the Common Crawl harmonic-centrality move). These
  * two operators are that pipeline stage: harvest every page's
  * outlinks into a domain-family edge list, then rank the families
  * with a bounded-iteration integer PageRank.
  *
  * No reference counterpart (akka-stream-contrib has no graph
  * analytics); the iteration machinery follows the repo's own
  * fixpoint idiom ([[graft.operators.FeedbackLoop]],
  * `Dedup.connectedComponents`): a bounded driver loop over
  * DataFrames with `localCheckpoint(eager = false)` lineage
  * truncation per round.
  */
object LinkGraph {

  /** Outlink edges at DOMAIN-FAMILY granularity: one row per
    * (src_family, dst_family) pair with the raw link count and the
    * count of DISTINCT canonical target URLs (two messy fetches of
    * one page — tracking params, default ports, shuffled query order
    * — collide into one frontier key, so `n_links` 2 / `n_urls` 1
    * reads "one page, linked twice").
    *
    * `provenanceUrl` is the linking page's own URL (the src node);
    * hrefs harvest from the RAW markup (see
    * [[graft.functions.TextFunctions.extractHrefs]] — nav links are
    * real crawl edges). Everything up to the single (src, dst) group
    * aggregate is scan-stage codegen: regex harvest, explode,
    * canonicalization, family extraction are all per-row column
    * programs, so the only shuffle is the final family-pair rollup —
    * family-pair cardinality is O(F²) worst case but in practice the
    * observed-edge set, the same contract as `Dedup.sourceOverlap`.
    */
  def outlinkEdges(pages: DataFrame, provenanceUrl: Column,
                   html: Column): DataFrame = {
    linkRows(pages, provenanceUrl, html)
      .groupBy(col("src_family"), col("dst_family"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("canonical")).as("n_urls"))
  }

  /** The per-row half of [[outlinkEdges]] — one (src_family,
    * dst_family, canonical) row per harvested link, all scan-stage
    * codegen. Shared with the streaming twin (the `Dedup.chunkRows`
    * rule: the batch-identical guarantee is by shared definition, not
    * by copy), whose cross-batch state folds these at the finest
    * grain.
    *
    * Href RESOLUTION against the linking page (real markup links
    * mostly relatively) is the full RFC 3986 §5 rule set
    * ([[graft.functions.ResolveHref]], a codegen'd expression):
    * absolute URLs pass through; protocol-relative `//host/x`
    * inherits the page's scheme; root-relative `/x` inherits
    * scheme://host; PATH-relative `x/y` / `../y` / `./y` merges with
    * the page's directory and dot-segment-normalizes — exactly where
    * a browser would land. A `<base href>` REBASES the page first
    * (§5.1.1: the base itself resolves against the document URL, any
    * relative form; an unresolvable base falls back to the document
    * URL — never a silent wrong directory), so templated sites'
    * relative links land where the browser puts them. Non-fetchable
    * refs — `mailto:`, `javascript:`, `data:`, bare fragments — are
    * DROPPED, never passed to [[SourceFamily.canonicalizeUrl]] as a
    * non-URL that would mint a garbage frontier node.
    */
  def linkRows(pages: DataFrame, provenanceUrl: Column,
               html: Column): DataFrame =
    linkRowsOf(pages, provenanceUrl, TextFunctions.extractHrefs(html),
      TextFunctions.baseHref(html))

  /** [[linkRows]] under the page's INDEXING DIRECTIVES — the harvest
    * a ranking crawl runs: a page whose `<meta name="robots">`
    * carries `nofollow` (or `none`) contributes NO edges at all, and
    * within a followed page only anchors without no-weight `rel`
    * tokens survive ([[TextFunctions.extractFollowHrefs]] —
    * nofollow/sponsored/ugc). Same canonicalization chain, same
    * scan-stage shape: both gates are pure per-row projections on the
    * html the harvest already reads, so the follow harvest costs
    * exactly what the full harvest does.
    */
  def linkRowsFollow(pages: DataFrame, provenanceUrl: Column,
                     html: Column): DataFrame = {
    val pageToks = TextFunctions.metaRobots(html)
    linkRowsOf(
      pages.filter(!array_contains(pageToks, "nofollow") &&
        !array_contains(pageToks, "none")),
      provenanceUrl, TextFunctions.extractFollowHrefs(html),
      TextFunctions.baseHref(html))
  }

  /** Indexing-directive flags for one fetched page: `<meta
    * name="robots">` tokens ([[TextFunctions.metaRobots]]) unioned
    * with the `X-Robots-Tag` response-header tokens (the HTTP half —
    * RFC 9309's sibling convention; same comma grammar), most
    * restrictive wins, `none` = both. Output struct(noindex,
    * nofollow) — the two gates an index build and a link harvest
    * consume.
    */
  def robotsDirectiveFlags(metaToks: Column, headerVal: Column): Column = {
    // ',' splits tokens within a line; '\n' splits the repeated-header
    // lines splitHttp's map joins with
    val headerToks = filter(
      transform(split(coalesce(headerVal, lit("")), "[,\n]"),
        t => lower(trim(t))),
      t => t =!= "")
    // BOTH sides null-coalesce: a null meta array (null html upstream)
    // must not null the union and silently swallow a header noindex
    val all = array_union(
      coalesce(metaToks, array().cast("array<string>")), headerToks)
    struct(
      (array_contains(all, "noindex") || array_contains(all, "none"))
        .as("noindex"),
      (array_contains(all, "nofollow") || array_contains(all, "none"))
        .as("nofollow"))
  }

  /** The X-Robots-Tag directive names that take a VALUE after a
    * colon — anything else before a leading colon is a USER-AGENT
    * scope (the published header grammar: `X-Robots-Tag: googlebot:
    * noindex` binds only googlebot; `X-Robots-Tag: unavailable_after:
    * 2026-01-01` is a dated directive, not a scope).
    */
  private val XRobotsValueDirectives: Seq[String] = Seq(
    "unavailable_after", "max-snippet", "max-image-preview",
    "max-video-preview")

  /** Parse one `X-Robots-Tag` header VALUE into the directive tokens
    * binding for `agent` as of `asofDate` — the real header grammar
    * p211's flat comma-split used to flatten:
    *
    *   - an UNSCOPED header (`noindex, nofollow`) binds every agent;
    *   - a SCOPED header (`googlebot: noindex, nofollow`) binds ONLY
    *     the named agent — the scope is the text before the first
    *     colon when that text is not a value-taking directive, and it
    *     covers every directive in the header (the published
    *     convention: one header, one optional agent);
    *   - `unavailable_after: <ISO date>` binds as `noindex` once
    *     `asofDate` reaches the date (the page declared its own
    *     expiry), and as nothing before it — a crawl must pass its
    *     OWN clock in, never read the machine's (retry
    *     reproducibility);
    *   - an unparseable date nulls through `try_to_date` → the dated
    *     directive is dropped, never a silent noindex (fail-open on
    *     the DATED directive only — the page stays governed by its
    *     other signals; ANSI mode would otherwise fail the whole scan
    *     on one malformed header).
    *
    * Matching is case-insensitive throughout; output tokens are
    * trimmed/lowercased like [[TextFunctions.metaRobots]]'s. Pure
    * codegen'd column program.
    */
  def xRobotsTokens(headerVal: Column, agent: String,
                    asofDate: Column): Column = {
    require(agent.nonEmpty && !agent.contains(":") && !agent.contains(","),
      s"xRobotsTokens: '$agent' is not a header agent name")
    // one PHYSICAL header line at a time: splitHttp joins repeated
    // X-Robots-Tag lines with '\n' (a byte no parsed value carries),
    // and a scope covers exactly ITS line — parsing the joined value
    // flat would let a scoped first line swallow an unscoped second
    // one (`googlebot: noindex` + `noindex` must still bind everyone)
    def lineTokens(line: Column): Column = {
      val v = trim(line)
      val segs = transform(split(v, ","), t => trim(t))
      val fname = lower(trim(regexp_extract(element_at(segs, 1),
        "^([^:]+):", 1)))
      val valueDirs = array(XRobotsValueDirectives.map(lit): _*)
      val scoped = fname =!= "" && !array_contains(valueDirs, fname)
      val applies = !scoped || fname === lit(agent.toLowerCase)
      // the scope prefix rides the FIRST comma segment only
      val unprefixed = when(scoped,
          transform(segs, (t, i) => when(i === 0,
              trim(regexp_replace(t, "^[^:]+:", ""))).otherwise(t)))
        .otherwise(segs)
      val toks = transform(unprefixed, t => {
        val lt = lower(t)
        when(lt.rlike("^unavailable_after\\s*:"),
          when(try_to_date(
              trim(regexp_replace(t, "(?i)^unavailable_after\\s*:", "")))
              <= asofDate, lit("noindex"))
            .otherwise(lit("")))
          .otherwise(lt)
      })
      when(applies, filter(toks, t => t =!= ""))
        .otherwise(array().cast("array<string>"))
    }
    array_distinct(flatten(transform(
      split(coalesce(headerVal, lit("")), "\n"), l => lineTokens(l))))
  }

  /** [[robotsDirectiveFlags]] under the FULL X-Robots-Tag grammar —
    * meta tokens unioned with [[xRobotsTokens]]' scoped/dated parse
    * instead of the flat comma split. Same struct(noindex, nofollow)
    * output, most restrictive wins.
    */
  def robotsDirectiveFlagsScoped(metaToks: Column, headerVal: Column,
                                 agent: String, asofDate: Column): Column = {
    val all = array_union(
      coalesce(metaToks, array().cast("array<string>")),
      xRobotsTokens(headerVal, agent, asofDate))
    struct(
      (array_contains(all, "noindex") || array_contains(all, "none"))
        .as("noindex"),
      (array_contains(all, "nofollow") || array_contains(all, "none"))
        .as("nofollow"))
  }

  /** `<link rel="canonical">` resolution — the dedup signal the page
    * ITSELF publishes (the CMS knows its URL variants better than any
    * fingerprint): each page maps to its declared canonical target,
    * canonicalized through the SAME [[SourceFamily.canonicalizeUrl]]
    * as every other frontier key so a messy declaration collides with
    * the clean crawl-discovered form. Semantics: the FIRST canonical
    * link wins (the browser/search-engine convention when a page
    * mistakenly carries several), `rel` matching is attribute-guarded
    * (a stylesheet link or a data-rel can never bind), and the href
    * resolves through [[graft.functions.ResolveHref.aliasTarget]]:
    * absolute, protocol-relative (`//host/x`) and root-relative
    * (`/x`) declarations bind against the declaring page — CMSes
    * publish `<link rel=canonical href="/page">` constantly — while a
    * missing, PATH-relative, or non-fetchable declaration means SELF
    * (a canonical that needs directory context is a collapse gamble;
    * failing to self is the safe default: no false collapse). Pure
    * scan-stage projection; output (doc_id passthrough columns ride)
    * with `canonical_target`.
    */
  def relCanonical(pages: DataFrame, provenanceUrl: Column,
                   html: Column, passthrough: Column*): DataFrame = {
    val links = regexp_extract_all(html, lit("(?is)<link\\b[^>]*>"), lit(0))
    val canons = filter(links,
      l => l.rlike(TextFunctions.attrHasToken("rel", "canonical")))
    // try_element_at: a page with NO canonical link has an empty
    // array, which must read as null (self), not raise
    val href = TextFunctions.attrVal(try_element_at(canons, lit(1)), "href")
    // declarations resolve against the page's EFFECTIVE base — a
    // <base href> rebases rel=canonical exactly as it rebases links
    // (what browsers and search engines do)
    val resolved = graft.functions.ResolveHref.aliasTarget(
      effectiveBase(provenanceUrl, html), when(href =!= "", href))
    val target = SourceFamily.canonicalizeUrl(
      coalesce(resolved, provenanceUrl))
    pages.select(passthrough :+
      provenanceUrl.as("page_url") :+ target.as("canonical_target"): _*)
  }

  /** The page's EFFECTIVE resolution base (RFC 3986 §5.1.1): its
    * `<base href>` resolved against the document URL (any relative
    * form), the document URL itself when absent or unresolvable —
    * never a silent wrong directory. Shared by the link harvest and
    * the alias-declaration extractors, so every relative reference on
    * a page resolves against ONE base.
    */
  private[graft] def effectiveBase(documentUrl: Column,
                                   html: Column): Column =
    coalesce(graft.functions.ResolveHref(documentUrl,
        when(TextFunctions.baseHref(html) =!= "",
          TextFunctions.baseHref(html))),
      documentUrl)

  private def linkRowsOf(pages: DataFrame, provenanceUrl: Column,
                         hrefs: Column, baseRef: Column): DataFrame =
    pages
      .select(SourceFamily.familyOf(provenanceUrl).as("src_family"),
        // the page's effective base: its <base href> resolved against
        // the document URL (any relative form), the document URL when
        // absent or unresolvable
        coalesce(graft.functions.ResolveHref(provenanceUrl,
            when(baseRef =!= "", baseRef)),
          provenanceUrl).as("__page"),
        explode(hrefs).as("href"))
      .withColumn("__abs",
        graft.functions.ResolveHref(col("__page"), col("href")))
      .filter(col("__abs").isNotNull)
      .select(col("src_family"),
        SourceFamily.canonicalizeUrl(col("__abs")).as("canonical"))
      .select(col("src_family"), col("canonical"),
        SourceFamily.familyOf(col("canonical")).as("dst_family"))

  /** Bounded-iteration PageRank in exact integer MICRO-UNITS — the
    * frontier-priority score over [[outlinkEdges]] output (or any
    * (src, dst) string edge list; multi-edges are collapsed to the
    * DISTINCT edge set first, the unweighted-PageRank convention).
    *
    * Arithmetic is integer-exact so the score is engine-portable (the
    * p81 micro-unit rule): every rank starts at 1 000 000; each round
    * a node sends `rank div out_degree` along each out-edge (floored
    * ONCE per edge — order-independent under any partitioning), and
    * receives `base + (dampPermille · Σ contribs) div 1000` where
    * `base = (1000 − dampPermille) · 1000`. Floors and dangling nodes
    * (pure sinks: rank in, none out) both LEAK mass — deliberate:
    * renormalizing would reintroduce a global float boundary, and the
    * RANKING a frontier consumes is unaffected. A node with no
    * in-links reports exactly `base`, never disappears (the
    * recallAtK rule: absence is a value, not a missing row).
    *
    * Scale shape: per round, one src-keyed join (ranks against the
    * static out-degree-annotated edge list) and one dst-keyed sum —
    * the canonical two-exchange distributed PageRank step; ranks and
    * nodes stay DataFrames end-to-end (never collected), so a
    * 10⁸-domain web graph runs the same plan. `iters` bounds the
    * driver loop (fixed-depth unrolled, lineage truncated per round);
    * frontier scheduling wants a handful of rounds, not convergence.
    */
  /** Anchor-TEXT harvest — what the web calls each domain, the
    * classic off-page retrieval signal (anchor terms describe the
    * TARGET better than the target's own text; search stacks fold
    * them into the target's index fields): every `<a …>…</a>` element
    * yields (target family, anchor term) pairs, the inner markup
    * cleaned through the SAME [[TextFunctions.htmlExtract]] kernel
    * (a `<b>` or an entity inside an anchor is routine), tokenized,
    * and counted per (dst_family, term). One aggregate exchange;
    * everything before it is scan-stage codegen (regex element
    * harvest + per-element HOF extraction).
    *
    * Same regex-markup contract as [[TextFunctions.extractHrefs]];
    * anchors without an href (named anchors) are dropped.
    */
  def anchorTerms(pages: DataFrame, html: Column): DataFrame = {
    val elems = regexp_extract_all(html, lit("(?is)<a\\s[^>]*>.*?</a>"),
      lit(0))
    pages.select(explode(elems).as("e"))
      // href anchored INSIDE the opening tag ([^>]*? forbids crossing
      // its '>'): an hrefless anchor whose inner TEXT contains a
      // literal href="…" must stay dropped, not adopt that target
      .select(regexp_extract(col("e"), "(?is)^<a[^>]*?href=\"([^\"]*)\"", 1)
          .as("href"),
        regexp_extract(col("e"), "(?is)^<a[^>]*>(.*)</a>$", 1).as("inner"))
      .filter(col("href") =!= "")
      .select(SourceFamily
          .familyOf(SourceFamily.canonicalizeUrl(col("href")))
          .as("dst_family"),
        explode(TextFunctions.tokens(TextFunctions.htmlExtract(col("inner"))))
          .as("term"))
      .groupBy(col("dst_family"), col("term"))
      .agg(count(lit(1)).as("n"))
  }

  /** Spend a politeness-limited request budget by rank — the step
    * that makes [[pageRank]] actionable: each domain is allocated
    * `budget · rank div Σrank` requests, capped at `maxPerDomain`
    * (politeness: no rank justifies hammering one host), and the
    * capped domains' surplus is redistributed across domains with
    * headroom in ONE integer-exact pass (`mixturePlan`'s
    * largest-remainder rule: `extra = deficit · head div Σhead`,
    * which never exceeds headroom when feasible; an infeasible
    * budget — deficit beyond total headroom — raises loudly instead
    * of silently over-fetching). The integer-division remainder is
    * an explicit `__UNASSIGNED` row (the no-silent-caps rule: a
    * schedule that quietly spent budget−r requests would read as
    * "budget met").
    *
    * Input: [[pageRank]] output (node, rank_micro). Output: (node,
    * rank_micro, n_requests, capped) + the `__UNASSIGNED` row. All
    * arithmetic nonneg integer `div` (engine-portable); scale shape:
    * two one-row broadcast totals over the domain table — no
    * corpus-sized work at all.
    */
  def crawlBudget(ranks: DataFrame, budget: Long,
                  maxPerDomain: Long): DataFrame = {
    require(maxPerDomain > 0,
      s"crawlBudget: maxPerDomain must be positive, got $maxPerDomain")
    crawlBudgetWithCaps(ranks.withColumn("cap", lit(maxPerDomain)), budget)
  }

  /** Compile [[robotsCrawlDelay]] output into the per-domain CAP
    * column [[crawlBudgetWithCaps]] consumes — the wiring between the
    * politeness knob a domain PUBLISHES and the schedule that spends
    * the crawl budget: over a fetch round of `windowMs`, a domain
    * asking for `crawl_delay_ms` between requests can absorb at most
    * `windowMs div crawl_delay_ms` fetches, so its cap is the MIN of
    * that and the global politeness default. A domain with no delay
    * row keeps `defaultCap`; a published delay of 0 means "no
    * constraint" (cap = default), never a division by zero; a delay
    * longer than the whole window caps the domain at 0 — it asked to
    * be left alone this round. Input `ranks` (node, rank_micro);
    * `delays` (family, crawl_delay_ms). Domain-cardinality broadcast
    * join, no corpus-sized work.
    */
  def crawlDelayCaps(ranks: DataFrame, delays: DataFrame, windowMs: Long,
                     defaultCap: Long): DataFrame = {
    require(windowMs > 0,
      s"crawlDelayCaps: windowMs must be positive, got $windowMs")
    require(defaultCap >= 0,
      s"crawlDelayCaps: defaultCap must be nonnegative, got $defaultCap")
    // one delay row per family BEFORE the join: robots fetches arrive
    // one row per (family, txt) and re-fetches duplicate families — an
    // un-aggregated join would fan a duplicated family's rank row out
    // and double-count its mass in the downstream budget election.
    // MAX is the politest reading of several observed delays (the
    // robotsCrawlDelay max-of-several rule applied across fetches).
    val oneDelay = delays.select(col("family"), col("crawl_delay_ms"))
      .groupBy(col("family"))
      .agg(max(col("crawl_delay_ms")).as("crawl_delay_ms"))
    ranks.join(broadcast(oneDelay),
        ranks("node") === col("family"), "left")
      .withColumn("cap",
        when(col("crawl_delay_ms").isNull || col("crawl_delay_ms") <= 0L,
          lit(defaultCap))
        .otherwise(least(lit(defaultCap),
          expr(s"${windowMs}L div crawl_delay_ms"))))
      .drop("family", "crawl_delay_ms")
  }

  /** [[crawlBudget]] with PER-DOMAIN caps — the production shape: a
    * domain's fetch ceiling is not one global politeness constant but
    * whatever binds tighter per host (its robots crawl-delay, its
    * observed error rate, or simply how many of its URLs the
    * [[robotsFilter]] gate left fetchable — a domain with rank but
    * zero allowed pages must get cap 0, not a politeness default).
    * Input: (node, rank_micro, cap); caps must be ≥ 0 (checked
    * loudly row-side — a negative cap is a rule-compiler bug, not a
    * schedule). Same integer-exact largest-remainder pass, same
    * `__UNASSIGNED` remainder row, same infeasibility raise.
    */
  def crawlBudgetWithCaps(ranks: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"crawlBudget: budget must be positive, got $budget")
    // the `budget · rank_micro` proportioning must stay inside int64
    // (a hub on a 10⁸-node graph can hold ~N·10⁶ micro-units);
    // budget is a plan-time literal, so the bound is one codegen
    // comparison — loud, the trendSlopes convention
    // both proportioning multiplies must stay inside int64 (the
    // trendSlopes loud-guard convention): `budget · rank_micro`
    // (a hub on a 10⁸-node graph holds ~N·10⁶ micro-units) and the
    // redistribution's `deficit · head` where deficit ≤ budget and
    // head ≤ cap — budget is a plan-time literal, so each bound is
    // one codegen comparison
    val maxRank = Long.MaxValue / budget
    val guarded = ranks.withColumn("cap",
      when(col("cap") < 0, raise_error(concat(
          lit("crawlBudgetWithCaps: negative cap for "), col("node"))))
        .when(col("cap") > maxRank, raise_error(concat(
          lit(s"crawlBudgetWithCaps: cap above the int64 redistribution " +
            s"headroom ($maxRank at budget $budget) for "), col("node"))))
        .otherwise(col("cap")))
      .withColumn("rank_micro",
        when(col("rank_micro") > maxRank, raise_error(concat(
            lit(s"crawlBudgetWithCaps: rank_micro above the int64 " +
              s"proportioning headroom ($maxRank at budget $budget) for "),
            col("node"))))
          .otherwise(col("rank_micro")))
    // zero total mass (legal: the all-unreached slice of a
    // personalizedPageRank result) or an empty table would otherwise
    // NULL-cascade through `div sr` into a garbage schedule
    val tot = guarded.agg(
      when(coalesce(sum(col("rank_micro")), lit(0L)) <= 0L,
        raise_error(lit("crawlBudgetWithCaps: total rank mass is zero " +
          "or the ranks table is empty — nothing to proportion by")))
        .otherwise(sum(col("rank_micro"))).as("sr"))
    val a = guarded.join(broadcast(tot))
      .withColumn("ideal", expr(s"${budget}L * rank_micro div sr"))
      .withColumn("take1", least(col("ideal"), col("cap")))
      .withColumn("head", col("cap") - col("take1"))
    val t2 = a.agg(sum(col("take1")).as("st"), sum(col("head")).as("sh"))
    val planned = a.join(broadcast(t2))
      .withColumn("deficit", lit(budget) - col("st"))
      .withColumn("sh_ok", when(col("deficit") <= col("sh"), col("sh"))
        .otherwise(raise_error(concat(
          lit("crawlBudget: budget infeasible at the politeness cap — " +
            "deficit "), col("deficit").cast("string"),
          lit(" requests exceeds total headroom "),
          col("sh").cast("string")))))
      .withColumn("extra", when(col("sh_ok") > 0,
        expr("deficit * head div sh_ok")).otherwise(lit(0L)))
      .withColumn("n_requests", col("take1") + col("extra"))
      .withColumn("capped", col("ideal") > col("cap"))
      // both union branches below scan this subtree; persist-backed
      // lineage truncation computes the (domain-sized) schedule once
      .localCheckpoint(eager = false)
    val rows = planned.select(col("node"), col("rank_micro"),
      col("n_requests"), col("capped"))
    val un = planned
      .agg((lit(budget) - sum(col("n_requests"))).as("n_requests"))
      .select(lit("__UNASSIGNED").as("node"), lit(0L).as("rank_micro"),
        col("n_requests"), lit(false).as("capped"))
    rows.unionByName(un)
  }

  /** Bounded-iteration HITS (hubs & authorities) in exact integer
    * MICRO-UNITS — PageRank's complement for frontier curation: a
    * crawl wants authorities (pages the web points AT) as fetch
    * targets and hubs (pages whose outlinks find new authorities) as
    * link-discovery seeds; one score cannot serve both roles, which
    * is why HITS keeps two. Mutual recursion over the edge set and
    * its transpose: each round `auth(n) = Σ hub(s)` over in-edges
    * then `hub(n) = Σ auth(d)` over out-edges, each half re-scaled so
    * the MAX score is exactly 1 000 000 (max-normalization instead of
    * the textbook L2: one integer-exact one-row aggregate, no float
    * boundary, and the ranking — all a frontier consumes — is
    * identical). Integer floors once per node per half;
    * order-independent under any partitioning, engine-portable.
    *
    * A node nobody links to reports `auth_micro = 0` (and a node
    * linking nowhere `hub_micro = 0`) — absence is a value, never a
    * missing row. Multi-edges collapse to the DISTINCT edge set (the
    * [[pageRank]] convention). Overflow is guarded LOUDLY at the
    * one-row max (the trendSlopes convention): the re-scale multiply
    * needs `max raw sum · 10⁶` inside int64, i.e. in-/out-degree
    * ≤ ~9·10⁶ — beyond any registered-domain graph's degree.
    *
    * Scale shape per round: two src-/dst-keyed join+sum passes (the
    * same two-exchange step as [[pageRank]], once per direction) plus
    * two one-row broadcast maxes; scores stay DataFrames end-to-end,
    * lineage truncated per round. `iters = 0` returns the init state
    * (every hub 1 000 000, every auth 0).
    */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 0 && iters <= 50,
      s"hits: iters must be in [0, 50], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(eager = false)
    // one scan of `e` for both endpoints, and eager: round one reads
    // the node table twice in concurrent stages (the init scores and
    // the score join), which raced for its lazy checkpoint's partitions
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
      .localCheckpoint()
    // one half-round: fold `scores` along the edge key (src for the
    // auth half, dst for the hub half), re-scale max → 10⁶
    def half(scores: DataFrame, value: String, from: Column, to: Column,
             out: String): DataFrame = {
      val raw = e.join(scores, from === scores("node"))
        .groupBy(to.as("node")).agg(sum(col(value)).as("s"))
      val m = raw.agg(max(when(col("s") > 9000000000000L,
          raise_error(concat(lit(s"hits: $out raw sum "),
            col("s").cast("string"),
            lit(" exceeds the 9e12 re-scale headroom — degree above ~9e6"))))
        .otherwise(col("s"))).as("m"))
      nodes.join(raw, Seq("node"), "left").join(broadcast(m))
        .select(col("node"),
          expr("coalesce(s, CAST(0 AS BIGINT)) * 1000000 div m").as(out))
        // eager: the next half-round (and the result) reads it in two
        // concurrent stages, which raced for a lazy checkpoint's
        // partitions
        .localCheckpoint()
    }
    var hubs = nodes.select(col("node"), lit(1000000L).as("h"))
    var auths = nodes.select(col("node"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      auths = half(hubs, "h", e("src"), e("dst"), "a")
      hubs = half(auths, "a", e("dst"), e("src"), "h")
    }
    nodes.join(auths, "node").join(hubs, "node")
      .select(col("node"), col("a").as("auth_micro"),
        col("h").as("hub_micro"))
  }

  /** Robots-rule gate over the harvested frontier — the step a crawl
    * legally cannot skip, with the Robots Exclusion Protocol's
    * (RFC 9309) match semantics: among a domain family's rules whose
    * path-prefix matches the URL's path+query, the LONGEST prefix
    * wins; an exact length tie resolves to allow (least-restrictive);
    * a URL matching no rule is allowed (the protocol's default).
    *
    * `urls` is frontier output — (canonical, dst_family) rows, e.g.
    * [[linkRows]] — deduped here to the distinct URL set (the grain a
    * fetcher consults robots at). `rules` is (family, prefix, allow),
    * the parsed per-family rule table. Output: (canonical,
    * dst_family, allowed, rule_prefix) with `rule_prefix = ''` for
    * the default-allow case — absence is a value.
    *
    * Scale shape: the rule table is registered-domain-sized and
    * BROADCAST; matching is one LEFT broadcast join (the unmatched
    * row carries the protocol default as a (length 0, allow, '')
    * candidate, so no second pass recovers default-allow URLs) and
    * the longest-match election is ONE max(struct) aggregate on the
    * deduped URL key — no self-join, no corpus-sized shuffle beyond
    * the frontier dedup itself, and the single-lineage plan also
    * analyzes over streaming memory-sink views (a self-join there
    * trips attribute deduplication). Ties beyond (length, allow)
    * cannot differ (two same-length prefixes of one path are equal),
    * so the election is deterministic by construction.
    */
  def robotsFilter(urls: DataFrame, rules: DataFrame): DataFrame = {
    // scheme grammar matches canonicalizeUrl's OUTPUT form (lowercase
    // `[a-z][a-z0-9+.-]*`): a narrower strip (plain `[a-z]+`) would
    // leave `android-app://…`-style URLs with a non-path `path`,
    // matching no rule and silently failing OPEN
    val u = urls.select(col("canonical"), col("dst_family")).distinct()
      .withColumn("path",
        regexp_replace(col("canonical"), "^[a-z][a-z0-9+.-]*://[^/]*", ""))
    val r = rules.select(col("family"), col("prefix"), col("allow"))
    u.join(broadcast(r), u("dst_family") === r("family") &&
        u("path").startsWith(r("prefix")), "left")
      .groupBy(col("canonical"), col("dst_family"))
      .agg(max(struct(
        coalesce(length(col("prefix")), lit(0)).as("l"),
        coalesce(col("allow"), lit(true)).as("allow"),
        coalesce(col("prefix"), lit("")).as("prefix"))).as("m"))
      .select(col("canonical"), col("dst_family"),
        col("m.allow").as("allowed"), col("m.prefix").as("rule_prefix"))
  }

  /** robots.txt PARSING — the step the gate fixture assumed: turn the
    * raw per-family robots.txt text into the (family, prefix, allow)
    * rule table [[robotsFilter]] consumes, honoring RFC 9309's group
    * grammar for the wildcard agent:
    *
    *  - a GROUP is one or more consecutive `User-agent:` lines (the
    *    header set) followed by its rules; a group applies iff any of
    *    its header agents is `*`;
    *  - a `User-agent:` line after rules have started begins a NEW
    *    group (it does not extend the previous header);
    *  - directives are case-insensitive; `#` comments strip (inline
    *    too); whitespace trims; BLANK lines are ignored entirely (they
    *    do not split a header set); unknown directives (crawl-delay,
    *    sitemap) belong to the group body but emit nothing;
    *  - an EMPTY `Disallow:` means "no restriction" (RFC 9309 §2.2.2)
    *    and emits no rule;
    *  - CRLF line endings and a UTF-8 BOM (the real-world norm) are
    *    handled — either would otherwise break every directive match
    *    and FAIL the gate OPEN;
    *  - a TRAILING `*` is normalized away (redundant under prefix
    *    matching); any other `*` or a `$` anchor cannot be expressed
    *    as a prefix rule and RAISES loudly (a literal match would
    *    silently fail open — the one wrong default for a gate).
    *
    * Output one row per kept rule: (family, rule_idx — appearance
    * order within the family, prefix, allow).
    *
    * Scale shape: SHUFFLE-FREE — the whole line fold is one
    * higher-order `aggregate` per (family, text) row; robots files are
    * KiB-sized by construction.
    */
  def parseRobots(df: DataFrame, family: Column, txt: Column): DataFrame =
    parseRobotsWith(df, family, txt, "prefix", """
      if(regexp_replace(x.v, '\\*$', '') rlike '[*$]',
        cast(raise_error(concat(
          'parseRobots: RFC 9309 wildcard pattern "', x.v,
          '" is not expressible as a prefix rule — a ',
          'literal match would silently FAIL OPEN; use ',
          'parseRobotsPatterns + robotsFilterWildcard for this file'))
          as string),
        regexp_replace(x.v, '\\*$', ''))""")

  /** [[parseRobots]] for the FULL RFC 9309 pattern grammar: rule
    * values keep their `*` wildcards and `$` anchors VERBATIM (the
    * [[robotsFilterWildcard]] matcher consumes them), so no file is
    * refused. Same group grammar, same fold — the two parses share
    * one implementation and differ only in the rule-value projection.
    * Output: (family, rule_idx, pattern, allow).
    */
  def parseRobotsPatterns(df: DataFrame, family: Column, txt: Column): DataFrame =
    parseRobotsWith(df, family, txt, "pattern", "x.v")

  /** The shared robots.txt group fold (doc on [[parseRobots]]);
    * `pExpr` is the SQL projection of a kept rule's value (the one
    * point the prefix and wildcard tiers differ on).
    */
  private def parseRobotsWith(df: DataFrame, family: Column, txt: Column,
                              ruleCol: String, pExpr: String): DataFrame =
    df.select(family.as("family"),
        // real-world robots.txt: CRLF line endings and a UTF-8 BOM are
        // the norm, and trim() strips neither — un-handled, the
        // wildcard header never matches and the gate FAILS OPEN
        regexp_replace(txt, "\\uFEFF", "").as("__txt"))
      .withColumn("__r", expr("""
        aggregate(
          transform(split(__txt, '\r?\n'), l -> named_struct(
            'd', lower(regexp_extract(trim(element_at(split(l, '#'), 1)),
                   '^([A-Za-z-]+)\\s*:', 1)),
            'v', trim(regexp_replace(trim(element_at(split(l, '#'), 1)),
                   '^[A-Za-z-]+\\s*:', '')),
            'blank', trim(element_at(split(l, '#'), 1)) = '')),
          named_struct('h', false, 'a', false,
            'r', cast(array() as array<struct<p:string, al:boolean>>)),
          (acc, x) -> case
            when x.blank then acc
            when x.d = 'user-agent' then named_struct(
              'h', true,
              'a', if(acc.h, acc.a or x.v = '*', x.v = '*'),
              'r', acc.r)
            when (x.d = 'allow' or x.d = 'disallow') and x.v != ''
            then named_struct('h', false, 'a', acc.a,
              'r', if(acc.a,
                concat(acc.r, array(named_struct(
                  'p', __P_EXPR__,
                  'al', x.d = 'allow'))),
                acc.r))
            else named_struct('h', false, 'a', acc.a, 'r', acc.r)
          end).r""".replace("__P_EXPR__", pExpr)))
      .select(col("family"),
        posexplode(col("__r")).as(Seq("__i", "__x")))
      .select(col("family"), col("__i").cast("long").as("rule_idx"),
        col("__x.p").as(ruleCol), col("__x.al").as("allow"))

  /** sitemap.xml PARSING — the third discovery input beside the
    * outlink harvest and the robots gate: raw per-family sitemap text
    * → (family, url_idx — `<url>` block order, canonical, lastmod).
    * `<loc>` values are whitespace-trimmed, XML-entity-decoded
    * (`&amp;` LAST, the htmlExtract rule), then canonicalized with
    * the SAME [[graft.functions.SourceFamily.canonicalizeUrl]] as the
    * outlink harvest — a sitemap row and a crawl-discovered messy
    * variant of the same page MUST collide into one frontier key.
    * `<lastmod>` is optional (null when absent — a recrawl prior
    * consumer must see the absence, not a fake date); a `<url>` block
    * without `<loc>` emits nothing (its idx leaves a gap — block
    * order is provenance, not a dense rank).
    *
    * Scale shape: SHUFFLE-FREE — one regex pass per file row;
    * sitemaps are ≤50k URLs by spec, so a file row is MB-bounded.
    */
  def parseSitemap(df: DataFrame, family: Column, xml: Column): DataFrame = {
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(trim(regexp_extract(col("__u"),
        "(?s)<loc>\\s*(.*?)\\s*</loc>", 1))) {
        case (c, (ent, ch)) => regexp_replace(c, ent, ch)
      }
    df.select(family.as("family"),
        regexp_extract_all(xml, lit("(?s)<url[\\s>].*?</url>"), lit(0))
          .as("__b"))
      .select(col("family"), posexplode(col("__b")).as(Seq("__i", "__u")))
      .select(col("family"), col("__i").cast("long").as("url_idx"),
        decoded.as("__loc"),
        trim(regexp_extract(col("__u"),
          "(?s)<lastmod>\\s*(.*?)\\s*</lastmod>", 1)).as("__lm"))
      .filter(col("__loc") =!= "")
      .select(col("family"), col("url_idx"),
        graft.functions.SourceFamily.canonicalizeUrl(col("__loc"))
          .as("canonical"),
        when(col("__lm") === "", lit(null).cast("string"))
          .otherwise(col("__lm")).as("lastmod"))
  }

  /** robots.txt `Crawl-delay` for the wildcard agent — the per-domain
    * POLITENESS knob the fetch schedule must consume (a domain asking
    * for 5 s between requests caps a 1-hour crawl round at 720
    * fetches no matter what its rank earns —
    * [[crawlDelayCaps]] does that wiring). Group grammar is
    * [[parseRobots]]'s own (header sets, blank lines ignored, case-
    * insensitive directives, comments strip): a delay belongs to the
    * group whose header includes `*`; delays in foreign-agent groups
    * do NOT apply. Seconds may be fractional ("0.5") — output is
    * integer `crawl_delay_ms` (the micro-unit rule); several
    * applicable delays keep the MAX (the conservative read). A
    * non-numeric or negative value in an applicable group raises
    * loudly — a gate input that silently parses to "no delay" would
    * hammer the one domain that asked not to be. Families without an
    * applicable delay emit NO row (absence is a missing row here —
    * the consumer's left join + default, not a fake 0).
    *
    * Scale shape: SHUFFLE-FREE — one higher-order line fold per
    * (family, text) row, like [[parseRobots]].
    */
  /** Restrict a per-family politeness artifact (crawl-delay table,
    * parsed rule set, sitemap directives) to the families actually
    * present in a frontier — the semi-join every driver-side snapshot
    * must pass through BEFORE it collects: at a 10⁸-domain archive
    * the artifact is archive-sized, but a crawl ROUND's frontier is
    * round-sized, and the snapshot a pacer or gate closure carries
    * must be bounded by the round, not the archive (the operating
    * contract documented at [[robotsFilterWildcard]], packaged).
    * `frontier` is any frame with a `dst_family` column; one
    * left-semi hash join on the family key, nothing collected here.
    */
  def restrictToFrontier(artifact: DataFrame, familyCol: Column,
                         frontier: DataFrame): DataFrame =
    artifact.join(
      frontier.select(col("dst_family").as("__frontier_fam")).distinct(),
      familyCol === col("__frontier_fam"), "left_semi")

  def robotsCrawlDelay(df: DataFrame, family: Column, txt: Column): DataFrame =
    df.select(family.as("family"),
        regexp_replace(txt, "\\uFEFF", "").as("__txt"))
      .withColumn("__cd", expr("""
        aggregate(
          transform(split(__txt, '\r?\n'), l -> named_struct(
            'd', lower(regexp_extract(trim(element_at(split(l, '#'), 1)),
                   '^([A-Za-z-]+)\\s*:', 1)),
            'v', trim(regexp_replace(trim(element_at(split(l, '#'), 1)),
                   '^[A-Za-z-]+\\s*:', '')),
            'blank', trim(element_at(split(l, '#'), 1)) = '')),
          named_struct('h', false, 'a', false, 'cd', cast(null as bigint)),
          (acc, x) -> case
            when x.blank then acc
            when x.d = 'user-agent' then named_struct(
              'h', true,
              'a', if(acc.h, acc.a or x.v = '*', x.v = '*'),
              'cd', acc.cd)
            when x.d = 'crawl-delay' and x.v != '' and acc.a
            then named_struct('h', false, 'a', acc.a,
              'cd', greatest(acc.cd,
                if(try_cast(x.v as decimal(18, 3)) is null
                     or try_cast(x.v as decimal(18, 3)) < 0,
                  cast(raise_error(concat(
                    'robotsCrawlDelay: unparseable Crawl-delay "', x.v,
                    '" — silently reading it as "no delay" would hammer ',
                    'the one domain that asked not to be; handle this ',
                    'file out of band')) as bigint),
                  cast(try_cast(x.v as decimal(18, 3)) * 1000 as bigint))))
            else named_struct('h', false, 'a', acc.a, 'cd', acc.cd)
          end).cd"""))
      .filter(col("__cd").isNotNull)
      .select(col("family"), col("__cd").as("crawl_delay_ms"))

  /** robots.txt `Sitemap:` directives — how sitemaps are DISCOVERED
    * on a real crawl (the index layer is fetched from here, not
    * guessed): per RFC 9309 §2.3 / sitemaps.org the directive is
    * INDEPENDENT of agent groups, so every `Sitemap:` line in the
    * file applies regardless of position. URLs are canonicalized with
    * the SAME [[graft.functions.SourceFamily.canonicalizeUrl]] as
    * every other frontier key. Output (family, sm_idx — appearance
    * order among sitemap lines, sitemap_url); a family with no
    * directive emits no row. Shuffle-free single line pass.
    */
  def robotsSitemaps(df: DataFrame, family: Column, txt: Column): DataFrame =
    df.select(family.as("family"),
        regexp_replace(txt, "\\uFEFF", "").as("__txt"))
      .select(col("family"), posexplode(expr("""
        filter(transform(split(__txt, '\r?\n'),
          l -> if(lower(trim(element_at(split(l, '#'), 1)))
                    rlike '^sitemap\\s*:',
            trim(regexp_replace(trim(element_at(split(l, '#'), 1)),
              '^[A-Za-z-]+\\s*:', '')),
            null)),
          v -> v is not null and v != '')"""))
        .as(Seq("__i", "__u")))
      .select(col("family"), col("__i").cast("long").as("sm_idx"),
        graft.functions.SourceFamily.canonicalizeUrl(col("__u"))
          .as("sitemap_url"))

  /** `<sitemapindex>` PARSING — the dominant real-world sitemap
    * format's TOP layer: every large site publishes an index of child
    * sitemaps, so discovery hits this before any `<urlset>`. Same
    * extraction rules as [[parseSitemap]] (trim, entity-decode with
    * `&amp;` last, canonicalize, optional `<lastmod>`, loc-less
    * blocks drop leaving their idx gap), over `<sitemap>` blocks
    * instead of `<url>` blocks. Output (family, sm_idx, child_url,
    * lastmod). Shuffle-free one regex pass; index files are ≤50k
    * entries by spec.
    */
  def parseSitemapIndex(df: DataFrame, family: Column, xml: Column): DataFrame = {
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(trim(regexp_extract(col("__u"),
        "(?s)<loc>\\s*(.*?)\\s*</loc>", 1))) {
        case (c, (ent, ch)) => regexp_replace(c, ent, ch)
      }
    df.select(family.as("family"),
        // `[\s>]` keeps `<sitemapindex>` itself from matching; the
        // literal `</sitemap>` close cannot match `</sitemapindex>`
        regexp_extract_all(xml, lit("(?s)<sitemap[\\s>].*?</sitemap>"),
          lit(0)).as("__b"))
      .select(col("family"), posexplode(col("__b")).as(Seq("__i", "__u")))
      .select(col("family"), col("__i").cast("long").as("sm_idx"),
        decoded.as("__loc"),
        trim(regexp_extract(col("__u"),
          "(?s)<lastmod>\\s*(.*?)\\s*</lastmod>", 1)).as("__lm"))
      .filter(col("__loc") =!= "")
      .select(col("family"), col("sm_idx"),
        graft.functions.SourceFamily.canonicalizeUrl(col("__loc"))
          .as("child_url"),
        when(col("__lm") === "", lit(null).cast("string"))
          .otherwise(col("__lm")).as("lastmod"))
  }

  /** Sniff-and-decode a fetched sitemap PAYLOAD column — the byte
    * layer under [[parseSitemap]]/[[parseSitemapIndex]]: real sites
    * publish sitemaps GZIPPED (the sitemaps.org convention), so the
    * fetch table holds bytes that are a gzip member for some rows and
    * plain XML for others. Rows starting with the gzip magic
    * (1f 8b) inflate through the bounded
    * [[graft.functions.GunzipText]] codegen kernel (zip-bomb loud
    * cap); everything else casts through as UTF-8. Scan-stage only —
    * `parseSitemap(df, fam, sitemapText(col("payload")))` is the
    * mixed-fetch composition, spec-pinned equal to parsing the plain
    * text.
    */
  def sitemapText(payload: Column): Column =
    when(substring(payload, 1, 2) ===
        lit(Array(0x1f.toByte, 0x8b.toByte)),
      graft.functions.GunzipText(payload))
    .otherwise(payload.cast("string"))

  /** Sitemap-tree EXPANSION — follow [[robotsSitemaps]]' discovered
    * roots down through nested `<sitemapindex>` layers to the page
    * URLs: `fetched` is the sitemap FETCH TABLE (family, url, xml) —
    * what the fetcher brought back, keyed by canonical URL — and
    * `roots` is (family, sitemap_url) discovery output. Each round,
    * the current frontier joins to its fetched bodies; `<sitemapindex>`
    * bodies contribute their children to the NEXT frontier (minus
    * every URL already visited — a cyclic index must terminate, not
    * loop), all other bodies parse as `<urlset>` page rows. A root or
    * child never fetched contributes nothing (an unfetched sitemap is
    * absence of data, not an error — the fetch ledger owns that gap).
    * Index nodes still unexpanded after `maxDepth` rounds RAISE
    * loudly — the spec says indexes must not nest, the real web nests
    * a level or two, and a depth cut that silently drops a subtree's
    * URLs is the one wrong failure mode for discovery.
    *
    * Output: one row per (family, canonical) with the LATEST lastmod
    * across the sitemaps that mention it (null only if never dated).
    *
    * Scale shape: a bounded driver loop over FILE-cardinality frames
    * (sitemap trees are KiB–MB artifacts, orders below the corpus);
    * each round is one join on the canonical key, lineage truncated
    * ([[pageRank]]'s idiom). Page rows stay distributed throughout.
    */
  def expandSitemaps(fetched: DataFrame, roots: DataFrame,
                     maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 16,
      s"expandSitemaps: maxDepth must be in [1, 16], got $maxDepth")
    val bodies = fetched.select(col("family"), col("url"), col("xml"))
    var frontier = roots.select(col("family"), col("sitemap_url").as("url"))
      .distinct().localCheckpoint(eager = false)
    var seen = frontier
    var pages: DataFrame = null
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      val cur = frontier.join(bodies, Seq("family", "url"))
      // classify by the ROOT element, not substring-anywhere: a
      // <urlset> whose prolog comment merely mentions
      // '<sitemapindex' must not be routed to the index parser (it
      // would contribute neither children nor pages — a silent drop
      // of its whole URL set). The root is the first element after
      // the xml declaration and any leading comments.
      val isIdx = col("xml").rlike(
        "(?s)^\\s*(?:<\\?[^>]*\\?>\\s*)*(?:<!--.*?-->\\s*)*<sitemapindex[\\s>]")
      val p = parseSitemap(cur.filter(!isIdx), col("family"), col("xml"))
        .select(col("family"), col("canonical"), col("lastmod"))
      pages = if (pages == null) p else pages.unionByName(p)
      frontier = parseSitemapIndex(cur.filter(isIdx), col("family"),
          col("xml"))
        .select(col("family"), col("child_url").as("url")).distinct()
        .join(seen, Seq("family", "url"), "left_anti")
        .localCheckpoint(eager = false)
      seen = seen.unionByName(frontier).localCheckpoint(eager = false)
      depth += 1
    }
    if (!frontier.isEmpty)
      throw new IllegalArgumentException(
        s"expandSitemaps: sitemap index still unexpanded after maxDepth=" +
          s"$maxDepth rounds — a depth cut would silently drop a " +
          "subtree's URLs; raise maxDepth explicitly")
    if (pages == null)
      parseSitemap(fetched.limit(0), col("family"), col("xml"))
        .select(col("family"), col("canonical"), col("lastmod"))
    else pages.groupBy(col("family"), col("canonical"))
      .agg(max(col("lastmod")).as("lastmod"))
  }

  /** The robots gate under the FULL RFC 9309 pattern grammar — what
    * the prefix tier ([[robotsFilter]]) loudly refuses: `*` anywhere,
    * trailing `$` anchors, matched by the codegen'd
    * [[graft.functions.RobotsMatch]] kernel. Precedence is
    * §2.2.2's most-specific-match: the matching rule with the LONGEST
    * pattern wins (OCTET length of the raw pattern string, wildcards
    * and anchor included — RFC 9309 matches octets and the reference
    * parsers elect by byte count, so a multi-byte UTF-8 pattern keeps
    * its full weight; one definition, shared verbatim with the p204
    * oracle), ties break to `allow` (the least-restrictive RFC rule),
    * then to the lexicographically greatest pattern (a fixed total
    * order, shared with the oracle, so a full tie cannot desync the
    * reported rule).
    *
    * Scale shape: rules collapse to a per-family broadcast array and
    * the election is a per-row scan-stage fold — no per-URL
    * aggregation and no dedup (one output row per input row), so the
    * streaming twin runs it at ingest with ZERO state rows and the
    * streaming crawl frontier stacks its one stateful fold under it;
    * never a urls×rules shuffle. The broadcast hint is sized to the
    * operating contract: the rule table is a per-crawl-round snapshot
    * (the domains the ROUND touches — politeness metadata, not
    * corpus), exactly like the prefix tier's. A caller holding a full
    * 10⁸-domain rule ARCHIVE should pre-filter it to the frontier's
    * families (one semi-join) before gating — the filter is the same
    * family key the join uses.
    */
  def robotsFilterWildcard(urls: DataFrame, rules: DataFrame): DataFrame = {
    val r = rules.groupBy(col("family"))
      .agg(collect_list(struct(col("pattern"), col("allow"))).as("__rules"))
    val accType = "struct<l:int, allow:boolean, pattern:string>"
    urls.select(col("canonical"), col("dst_family"))
      .withColumn("path",
        regexp_replace(col("canonical"), "^[a-z][a-z0-9+.-]*://[^/]*", ""))
      .join(broadcast(r), col("dst_family") === col("family"), "left")
      // a family with no rules rides __rules = null straight through
      // the null-safe HOFs to the default-allow coalesce
      .withColumn("__m", aggregate(
        filter(col("__rules"),
          rr => graft.functions.RobotsMatch(col("path"),
            rr.getField("pattern"))),
        lit(null).cast(accType),
        (acc, rr) => {
          // specificity is the OCTET length of the raw pattern —
          // RFC 9309 matches octets, and the reference parsers elect
          // by byte count, so a multi-byte UTF-8 pattern must not
          // lose precedence to a shorter-in-bytes ASCII one the way
          // a code-point length() election would rank it
          val cand = struct(
            octet_length(rr.getField("pattern")).as("l"),
            rr.getField("allow").as("allow"),
            rr.getField("pattern").as("pattern"))
          when(acc.isNull || cand > acc, cand).otherwise(acc)
        }))
      .select(col("canonical"), col("dst_family"),
        coalesce(col("__m.allow"), lit(true)).as("allowed"),
        coalesce(col("__m.pattern"), lit("")).as("rule_pattern"))
  }

  def pageRank(edges: DataFrame, iters: Int = 5,
               dampPermille: Int = 850): DataFrame =
    pageRankImpl(edges, iters, dampPermille, seeds = None)

  /** PERSONALIZED PageRank — the focused-crawl variant: teleport mass
    * lands ONLY on the `seeds` (the domains the pipeline already
    * trusts), so the score reads "authority AS REACHABLE FROM what we
    * trust" instead of global authority — the ranking a topical crawl
    * expands its frontier by (and the farm-resistance move: a spam
    * cluster nobody trusted links into scores exactly 0, where global
    * PageRank still grants it `base` per node).
    *
    * Same integer micro-unit arithmetic as [[pageRank]] with two
    * deltas: rank starts at 1 000 000 on seeds and 0 elsewhere, and
    * the per-round `base` term applies to seeds only — non-seed rank
    * is purely inherited. Seeds are a DataFrame (`node` column), so a
    * million-seed allowlist broadcasts instead of inlining into the
    * plan; unknown seed nodes (not in the edge set) are ignored by
    * construction of the node table.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5,
                           dampPermille: Int = 850): DataFrame =
    pageRankImpl(edges, iters, dampPermille,
      seeds = Some(seeds.select(col("node")).distinct()))

  /** WARM-START PageRank — iterate from a PREVIOUS rank artifact
    * instead of uniform init: the incremental shape a live crawl needs
    * (q119 accumulates the link graph continuously; recomputing ranks
    * from scratch each epoch throws away the previous epoch's
    * convergence). `init` is any (node, rank_micro) frame — typically
    * the saved artifact of the last run, loaded back parquet-first.
    * Nodes NEW to the graph start at the cold 1 000 000; nodes that
    * left the graph drop (the node table always comes from the
    * current edges). The round body is the SAME code path as
    * [[pageRank]], so `pageRankFrom(e, pageRank(e, k), m)` equals
    * `pageRank(e, k + m)` EXACTLY by construction — the identity the
    * p165 oracle gates — and on a PERTURBED graph the warm start
    * reaches the new fixpoint in fewer rounds (spec-pinned via
    * [[pageRankConverged]]).
    */
  def pageRankFrom(edges: DataFrame, init: DataFrame, iters: Int,
                   dampPermille: Int = 850): DataFrame =
    pageRankImpl(edges, iters, dampPermille, seeds = None,
      init = Some(init.select(col("node"), col("rank_micro"))))

  /** Iterate global PageRank to the EXACT integer fixpoint (integer
    * micro-unit rounds are eventually stationary: updates shrink with
    * the damping power and the floors quantize them to 0), returning
    * (ranks, rounds used). `init` warm-starts when given; `maxIters`
    * bounds the loop LOUDLY — a graph that has not pinned down by
    * then needs an explicit larger budget, not a silently unconverged
    * artifact. The convergence probe is one domain-cardinality
    * anti-join count per round — the artifact grain, never corpus
    * work.
    */
  def pageRankConverged(edges: DataFrame, init: Option[DataFrame] = None,
                        maxIters: Int = 50,
                        dampPermille: Int = 850): (DataFrame, Int) = {
    require(maxIters >= 1 && maxIters <= 200,
      s"pageRankConverged: maxIters must be in [1, 200], got $maxIters")
    require(dampPermille >= 0 && dampPermille <= 1000,
      s"pageRank: dampPermille must be in [0, 1000], got $dampPermille")
    val g = prSetup(edges, None)
    var ranks = prInit(g, init.map(_.select(col("node"), col("rank_micro"))))
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxIters) {
      val next = prRound(g, ranks, dampPermille)
      stable = next.alias("n")
        .join(ranks.alias("p"), Seq("node"))
        .filter(col("n.rank_micro") =!= col("p.rank_micro"))
        .isEmpty
      ranks = next
      rounds += 1
    }
    if (!stable)
      throw new IllegalArgumentException(
        s"pageRankConverged: not stationary after maxIters=$maxIters " +
          "rounds — raise the budget explicitly rather than shipping an " +
          "unconverged rank artifact")
    (ranks, rounds)
  }

  /** The per-graph static side every rank round reuses: the node
    * table with seed flags and the (src, dst, deg) weighted edges.
    */
  private final case class PrGraph(nodes: DataFrame, ew: DataFrame)

  private def prSetup(edges: DataFrame, seeds: Option[DataFrame]): PrGraph = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(eager = false)
    // both endpoints from ONE scan of `e`: a union of two scans reads
    // each partition of the lazy checkpoint twice in one stage
    val nodes0 = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
    // (node, is_seed) — the static teleport side; global PageRank is
    // the every-node-is-a-seed special case. Eager: round one reads it
    // twice in concurrent stages (the init scores and the teleport
    // join), which raced for a lazy checkpoint's partitions
    val nodes = seeds.fold(nodes0.withColumn("is_seed", lit(true))) { sd =>
      nodes0.join(broadcast(sd.withColumn("is_seed", lit(true))),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    }.localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // the static side of every round's join: (src, dst, deg)
    PrGraph(nodes, e.join(outdeg, "src").localCheckpoint(eager = false))
  }

  /** Cold init: 1e6 on seeds (uniform for global). Warm init: the
    * previous artifact's value where known, the cold value for nodes
    * new to the graph; nodes absent from the current edge set drop.
    */
  private def prInit(g: PrGraph, init: Option[DataFrame]): DataFrame =
    init match {
      case None => g.nodes.select(col("node"),
        when(col("is_seed"), lit(1000000L)).otherwise(lit(0L)).as("rank_micro"))
      case Some(prev) => g.nodes
        .join(prev.select(col("node"), col("rank_micro").as("__warm")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__warm"),
          when(col("is_seed"), lit(1000000L)).otherwise(lit(0L)))
          .as("rank_micro"))
        .localCheckpoint(eager = false)
    }

  private def prRound(g: PrGraph, ranks: DataFrame, dampPermille: Int,
                      eager: Boolean = false): DataFrame = {
    val base = (1000L - dampPermille) * 1000L
    val contrib = g.ew
      .join(ranks, g.ew("src") === ranks("node"))
      .select(g.ew("dst").as("node"),
        expr("rank_micro div deg").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("cs"))
    val next = g.nodes.join(contrib, Seq("node"), "left")
      .select(col("node"),
        (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
          expr(s"($dampPermille * coalesce(cs, CAST(0 AS BIGINT))) div 1000"))
          .as("rank_micro"))
    // per-round lineage truncation: the every-4th-round experiment
    // (r14) measured SLOWER on the driver's conditions (+29%) and the
    // r15 A/B confirmed every-round is the faster cadence (min-of-6
    // 1.89 s vs 2.03-2.06 s) — 4-deep un-truncated plans re-plan per
    // AQE round and cost more than the cache round-trip they save.
    // The LAST round is eager: its caller may read the ranks in
    // concurrent stages (crawlBudgetWithCaps' totals and rows), which
    // raced for a lazy checkpoint's partitions
    next.localCheckpoint(eager)
  }

  private def pageRankImpl(edges: DataFrame, iters: Int,
                           dampPermille: Int,
                           seeds: Option[DataFrame],
                           init: Option[DataFrame] = None): DataFrame = {
    require(iters >= 0 && iters <= 50,
      s"pageRank: iters must be in [0, 50], got $iters")
    require(dampPermille >= 0 && dampPermille <= 1000,
      s"pageRank: dampPermille must be in [0, 1000], got $dampPermille")
    val g = prSetup(edges, seeds)
    var ranks = prInit(g, init)
    for (i <- 1 to iters)
      ranks = prRound(g, ranks, dampPermille, eager = i == iters)
    ranks
  }
}
