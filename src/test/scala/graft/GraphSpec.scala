package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.LinkGraph

/** [[graft.graph.LinkGraph]] — hand-computed integer-PageRank pins
  * (the oracle gates the fixture graph; these pin the arithmetic on
  * graphs small enough to verify by hand) and the outlink-harvest
  * canonicalization collision.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: hand-computed two-iteration ranks on an asymmetric graph") {
    // a → b, a → c, b → c. deg: a=2, b=1; c is a dangling sink.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val r = LinkGraph.pageRank(edges, iters = 2)
      .as[(String, Long)].collect().toMap
    // iter1: a=150000 (no in-links = exactly base);
    //   b=150000+(850·(1000000 div 2)) div 1000 = 575000;
    //   c=150000+(850·(500000+1000000)) div 1000 = 1425000.
    // iter2: contribs b: 150000 div 2 = 75000; c: 75000+575000=650000;
    //   b=150000+63750=213750; c=150000+552500=702500.
    assert(r == Map("a" -> 150000L, "b" -> 213750L, "c" -> 702500L))
  }

  test("pageRank: iters=0 is the init; multi-edges collapse to one; bounds enforced") {
    val edges = Seq(("a", "b"), ("a", "b"), ("a", "b")).toDF("src", "dst")
    val r0 = LinkGraph.pageRank(edges, iters = 0)
      .as[(String, Long)].collect().toMap
    assert(r0 == Map("a" -> 1000000L, "b" -> 1000000L))
    // collapsed to ONE distinct edge: deg(a)=1, a's full rank flows
    val r1 = LinkGraph.pageRank(edges, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 == Map("a" -> 150000L, "b" -> 1000000L))
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(edges, iters = 51)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(edges, dampPermille = 1001)
    }
  }

  test("pageRank/personalized/hits: random graphs equal a driver-side integer reference") {
    // seeded random graphs against independent plain-Scala recomputes
    // of the exact integer arithmetic (the span-self-dedup randomized
    // reference pattern): any divergence in floor placement, join
    // shape, or normalization shows up as a value diff, not a
    // tolerance miss.
    val rnd = new scala.util.Random(20260814L)
    def refPageRank(edges: Set[(String, String)], iters: Int,
                    seeds: Option[Set[String]]): Map[String, Long] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2))
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      def isSeed(v: String) = seeds.forall(_.contains(v))
      var rank = nodes.map(v => v -> (if (isSeed(v)) 1000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        val c = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for ((s, d) <- edges) c(d) += rank(s) / outdeg(s)
        rank = nodes.map(v => v ->
          ((if (isSeed(v)) 150000L else 0L) + 850L * c(v) / 1000L)).toMap
      }
      rank
    }
    def refHits(edges: Set[(String, String)], iters: Int): Map[String, (Long, Long)] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2))
      var hub = nodes.map(_ -> 1000000L).toMap
      var auth = nodes.map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        val rawA = nodes.map(v =>
          v -> edges.filter(_._2 == v).toSeq.map(e => hub(e._1)).sum).toMap
        val mA = rawA.values.max
        auth = nodes.map(v => v -> rawA(v) * 1000000L / mA).toMap
        val rawH = nodes.map(v =>
          v -> edges.filter(_._1 == v).toSeq.map(e => auth(e._2)).sum).toMap
        val mH = rawH.values.max
        hub = nodes.map(v => v -> rawH(v) * 1000000L / mH).toMap
      }
      nodes.map(v => v -> ((auth(v), hub(v)))).toMap
    }
    for (_ <- 1 to 3) {
      val names = (0 until 4 + rnd.nextInt(5)).map(i => s"n$i")
      val edges = (1 to 6 + rnd.nextInt(12)).map(_ =>
        (names(rnd.nextInt(names.size)), names(rnd.nextInt(names.size))))
        .filter(e => e._1 != e._2).toSet
      if (edges.nonEmpty) {
        val df = edges.toSeq.toDF("src", "dst")
        val it = 1 + rnd.nextInt(4)
        assert(LinkGraph.pageRank(df, iters = it)
          .as[(String, Long)].collect().toMap ==
          refPageRank(edges, it, None), s"pageRank $edges")
        val seedSet = edges.flatMap(e => Seq(e._1, e._2))
          .filter(_ => rnd.nextBoolean())
        if (seedSet.nonEmpty) {
          assert(LinkGraph.personalizedPageRank(df,
              seedSet.toSeq.toDF("node"), iters = it)
            .as[(String, Long)].collect().toMap ==
            refPageRank(edges, it, Some(seedSet)), s"ppr $edges $seedSet")
        }
        assert(LinkGraph.hits(df, iters = it)
          .as[(String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap ==
          refHits(edges, it), s"hits $edges")
      }
    }
  }

  test("robotsFilter: longest prefix wins, length tie resolves to allow, no match allows") {
    val urls = Seq(
      ("https://a.com/private/page", "a.com"),
      ("https://a.com/private/ok/page", "a.com"),
      ("https://a.com/open", "a.com"),
      ("https://b.com/x", "b.com"),
      ("https://c.com/anything", "c.com"),
      // scheme with digits/dashes: the path strip must still find the
      // path, or the gate silently fails OPEN on a blanket disallow
      ("android-app://a.com.pkg/private/z", "a.com"))
      .toDF("canonical", "dst_family")
    val rules = Seq(
      ("a.com", "/private", false), ("a.com", "/private/ok", true),
      ("b.com", "/x", true), ("b.com", "/x", false))
      .toDF("family", "prefix", "allow")
    val out = LinkGraph.robotsFilter(urls, rules)
      .as[(String, String, Boolean, String)].collect().toSet
    assert(out == Set(
      ("https://a.com/private/page", "a.com", false, "/private"),
      // the longer allow overrides the shorter disallow
      ("https://a.com/private/ok/page", "a.com", true, "/private/ok"),
      ("https://a.com/open", "a.com", true, ""),      // no match: allow
      ("https://b.com/x", "b.com", true, "/x"),       // tie: allow wins
      ("https://c.com/anything", "c.com", true, ""),  // no rules at all
      ("android-app://a.com.pkg/private/z", "a.com", false, "/private")))
  }

  test("personalizedPageRank: seed-only teleport, hand-computed; unreached cluster scores 0") {
    // a → b → c with seed {a}, plus a two-node cycle x ↔ y nobody
    // trusted links into — the link-farm case global PageRank cannot
    // zero out.
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    // init: a=1e6, rest 0. iter1: a=150000 (seed base, no in-links);
    //   b=850·1000000 div 1000=850000; c=0; x=y=0.
    // iter2: a=150000; b=850·150000 div 1000=127500;
    //   c=850·850000 div 1000=722500; x=y=0 forever.
    val r = LinkGraph.personalizedPageRank(edges, seeds, iters = 2)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 150000L, "b" -> 127500L, "c" -> 722500L,
      "x" -> 0L, "y" -> 0L))
    // every-node-is-a-seed == global pageRank, exactly
    val all = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val pers = LinkGraph.personalizedPageRank(edges, all, iters = 3)
      .as[(String, Long)].collect().toMap
    val glob = LinkGraph.pageRank(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    assert(pers == glob)
  }

  test("crawlBudgetWithCaps: per-domain caps bind, zero-cap domain gets 0, negative cap raises") {
    // Σr=1e6, budget 10: ideal a=3, b=1, c=6; take1 a=2 (cap), b=1,
    // c=0 (cap 0); head 0/7/0; deficit 7 = Σhead → extra b=7;
    // n_requests 2/8/0, remainder 0.
    val ranks = Seq(("a", 300000L, 2L), ("b", 100000L, 8L),
      ("c", 600000L, 0L)).toDF("node", "rank_micro", "cap")
    val out = LinkGraph.crawlBudgetWithCaps(ranks, budget = 10L)
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(out == Set(("a", 300000L, 2L, true), ("b", 100000L, 8L, false),
      ("c", 600000L, 0L, true), ("__UNASSIGNED", 0L, 0L, false)))
    val bad = intercept[Exception] {
      LinkGraph.crawlBudgetWithCaps(
        Seq(("a", 1L, -1L)).toDF("node", "rank_micro", "cap"), 5L).collect()
    }
    assert(bad.getMessage.contains("negative cap") ||
      bad.getCause != null && bad.getCause.getMessage.contains("negative cap"))
    // all-zero rank mass (the unreached slice of a personalized run)
    // must raise loudly, not NULL-cascade through `div sr`
    val zero = intercept[Exception] {
      LinkGraph.crawlBudgetWithCaps(
        Seq(("a", 0L, 5L), ("b", 0L, 5L)).toDF("node", "rank_micro", "cap"),
        5L).collect()
    }
    assert(zero.getMessage.contains("rank mass") ||
      zero.getCause != null && zero.getCause.getMessage.contains("rank mass"))
  }

  test("hits: hand-computed two-iteration hubs/authorities; iters=0 init; multi-edge collapse") {
    // a → b, a → c, b → c: a is the pure hub (no in-links, auth 0),
    // c the pure authority (no out-links, hub 0), b both.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("b", "c"))
      .toDF("src", "dst") // duplicate b→c collapses to one edge
    // r1: rawAuth b=1e6, c=2e6, max 2e6 → auth (0, 500000, 1000000);
    //     rawHub a=1500000, b=1000000, max 1.5e6 →
    //     hub (1000000, 1e12 div 1.5e6 = 666666, 0).
    // r2: rawAuth b=1e6, c=1666666, max → auth b = 1e12 div 1666666
    //     = 600000, c=1000000; rawHub a=1600000, b=1000000 →
    //     hub a=1000000, b = 1e12 div 1.6e6 = 625000.
    val r2 = LinkGraph.hits(edges, iters = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(r2 == Set(("a", 0L, 1000000L), ("b", 600000L, 625000L),
      ("c", 1000000L, 0L)))
    val r0 = LinkGraph.hits(edges, iters = 0)
      .as[(String, Long, Long)].collect().toSet
    assert(r0 == Set(("a", 0L, 1000000L), ("b", 0L, 1000000L),
      ("c", 0L, 1000000L)))
    intercept[IllegalArgumentException] { LinkGraph.hits(edges, iters = 51) }
  }

  test("crawlBudget: proportional + cap + remainder, hand-computed; infeasible raises") {
    val ranks = Seq(("hub", 300000L), ("tail", 100000L))
      .toDF("node", "rank_micro")
    // budget 10, cap 8: ideal = 10·300000 div 400000 = 7 / 2;
    // nothing caps (7 < 8), st = 9, deficit 1, Σhead = 1+6 = 7,
    // extra = 1·head div 7 = 0 for both → remainder 1 UNASSIGNED.
    val out = LinkGraph.crawlBudget(ranks, budget = 10L, maxPerDomain = 8L)
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(out == Set(("hub", 300000L, 7L, false),
      ("tail", 100000L, 2L, false), ("__UNASSIGNED", 0L, 1L, false)))
    // budget 20, cap 8: hub ideal 15 caps at 8 (head 0), tail ideal 5
    // (head 3); deficit 7 > Σhead 3 → infeasible, loud
    val bad = intercept[Exception] {
      LinkGraph.crawlBudget(ranks, budget = 20L, maxPerDomain = 8L)
        .collect()
    }
    assert(bad.getMessage.contains("infeasible") ||
      bad.getCause != null &&
        bad.getCause.getMessage.contains("infeasible"))
  }

  test("anchorTerms: inner markup cleaned via htmlExtract; hrefless anchors dropped; families roll up") {
    val pages = Seq(
      "<a href=\"https://x.com/p\">data &amp; <b>hub</b></a>" +
        "<a name=\"top\">skip me</a>" +
        "<a href=\"https://cdn2.x.com/q\">hub</a>").toDF("html")
    val out = LinkGraph.anchorTerms(pages, col("html"))
      .as[(String, String, Long)].collect().toSet
    // the named anchor has no href → dropped; cdn2.x.com → x.com, so
    // 'hub' counts twice for the family; the entity decodes to '&'
    assert(out == Set(("x.com", "data", 1L), ("x.com", "&", 1L),
      ("x.com", "hub", 2L)))
    // an hrefless anchor whose inner TEXT quotes a literal href="…"
    // must stay dropped — the extraction is anchored inside the
    // opening tag, not scanned over the whole element
    val tricky = Seq("<a name=\"n\">see href=\"http://evil.com/x\" here</a>")
      .toDF("html")
    assert(LinkGraph.anchorTerms(tricky, col("html")).count() == 0)
  }

  test("outlinkEdges: messy fetches of one page collide — n_links counts links, n_urls pages") {
    val pages = Seq(
      ("https://www.me.com/",
        "<a href=\"https://WWW.X.COM:443/p?b=2&a=1&utm_source=t#f\">1</a>" +
          "<a href=\"https://www.x.com/p?a=1&b=2\">2</a>" +
          "<a href=\"https://cdn7.x.com/q\">3</a>"))
      .toDF("page_url", "html")
    val out = LinkGraph.outlinkEdges(pages, col("page_url"), col("html"))
      .as[(String, String, Long, Long)].collect().toSet
    // three links, one dst family (cdn7.x.com rolls up to x.com), and
    // the two messy variants of /p collide into ONE canonical URL
    assert(out == Set(("me.com", "x.com", 3L, 2L)))
  }

  test("linkRows resolves root-/protocol-/path-relative hrefs against the page; drops non-edges") {
    val pages = Seq(
      ("https://www.me.com:443/section/page?x=1",
        "<a href=\"/about\">a</a>" +          // root-relative
          "<a href=\"//cdn.x.com/lib\">b</a>" + // protocol-relative
          "<a href=\"https://abs.com/p\">c</a>" +
          "<a href=\"docs/intro\">d</a>" +    // path-relative: dir merge
          "<a href=\"../up\">g</a>" +         // dot segments resolve
          "<a href=\"mailto:a@b.com\">e</a>" +
          "<a href=\"#top\">f</a>"))
      .toDF("page_url", "html")
    val out = LinkGraph.linkRows(pages, col("page_url"), col("html"))
      .as[(String, String, String)].collect().toSet
    // /about inherits scheme://host (canonicalization then drops the
    // default :443); //cdn.x.com inherits the scheme and the cdn
    // label rolls up to x.com; docs/intro merges with the page's
    // /section/ directory; ../up climbs out of it (note the page's
    // :443 rides the authority until canonicalization strips it)
    assert(out == Set(
      ("me.com", "https://www.me.com/about", "me.com"),
      ("me.com", "https://cdn.x.com/lib", "x.com"),
      ("me.com", "https://abs.com/p", "abs.com"),
      ("me.com", "https://www.me.com/section/docs/intro", "me.com"),
      ("me.com", "https://www.me.com/up", "me.com")))
  }

  test("resolveRedirects: exact hops, loop/self/deep unresolved, depth boundary") {
    import graft.graph.CrawlOps
    // chain a1→a2→a3→a4→T (4 hops from a1), loop x↔y, self s→s
    val edges = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a4"), ("a4", "T"),
      ("x", "y"), ("y", "x"), ("s", "s")).toDF("src", "dst")
    val r4 = CrawlOps.resolveRedirects(edges, maxDepth = 4)
      .as[(String, String, Long, Boolean)].collect().toSet
    assert(r4 == Set(
      ("a1", "T", 4L, true), ("a2", "T", 3L, true),
      ("a3", "T", 2L, true), ("a4", "T", 1L, true),
      ("x", "", 0L, false), ("y", "", 0L, false), ("s", "", 0L, false)))
    // maxDepth 3: a1's 4-hop chain now exceeds the give-up bound —
    // unresolved, while the 3-hop tail still resolves exactly
    val r3 = CrawlOps.resolveRedirects(edges, maxDepth = 3)
      .as[(String, String, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(r3("a1") == (("", 0L, false)))
    assert(r3("a2") == (("T", 3L, true)))
    // maxDepth 1 (zero doubling rounds): only the direct hop resolves
    val r1 = CrawlOps.resolveRedirects(edges, maxDepth = 1)
      .as[(String, String, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(r1("a4") == (("T", 1L, true)))
    assert(r1("a3") == (("", 0L, false)))
  }

  test("resolveRedirects: duplicate edges collapse; conflicting targets raise") {
    import graft.graph.CrawlOps
    val dup = Seq(("a", "b"), ("a", "b")).toDF("src", "dst")
    assert(CrawlOps.resolveRedirects(dup, maxDepth = 2)
      .as[(String, String, Long, Boolean)].collect().toSet ==
      Set(("a", "b", 1L, true)))
    val bad = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val e = intercept[Exception] {
      CrawlOps.resolveRedirects(bad, maxDepth = 2).collect()
    }
    assert(e.getMessage != null)
    intercept[IllegalArgumentException] {
      CrawlOps.resolveRedirects(dup, maxDepth = 0)
    }
  }

  test("changeRates: flapping counts per adjacency; single visit reports the prior mean") {
    import graft.graph.CrawlOps
    val log = Seq(
      // u1 flaps A→B→A: 2 changes over 2 adjacent pairs (distinct-fp
      // counting would report 1)
      ("u1", 0L, "A"), ("u1", 1L, "B"), ("u1", 2L, "A"),
      // u2 stable over 2 visits; u3 seen once
      ("u2", 0L, "C"), ("u2", 2L, "C"), ("u3", 1L, "D"))
      .toDF("url", "day", "fingerprint")
    val r = CrawlOps.changeRates(log, asofDay = 5L)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    // u1: rate = 3·10⁶ div 4 = 750000; staleness 3; score capped at 10⁶
    assert(r("u1") == ("u1", 3L, 2L, 750000L, 3L, 1000000L))
    // u2: rate = 1·10⁶ div 3 = 333333; staleness 3; score 999999
    assert(r("u2") == ("u2", 2L, 0L, 333333L, 3L, 999999L))
    // u3: the Laplace prior mean — (0+1)·10⁶ div (1+1) = 500000
    assert(r("u3") == ("u3", 1L, 0L, 500000L, 4L, 1000000L))
  }

  test("changeRates: duplicate (url, day) rows and future days raise loudly") {
    import graft.graph.CrawlOps
    val dup = Seq(("u", 0L, "A"), ("u", 0L, "B"))
      .toDF("url", "day", "fingerprint")
    val e1 = intercept[Exception] {
      CrawlOps.changeRates(dup, asofDay = 5L).collect()
    }
    assert(e1.getMessage.contains("duplicate") ||
      e1.getCause != null)
    val future = Seq(("u", 9L, "A")).toDF("url", "day", "fingerprint")
    val e2 = intercept[Exception] {
      CrawlOps.changeRates(future, asofDay = 5L).collect()
    }
    assert(e2.getMessage != null)
  }

  test("trapSignals: ratio and minUrls both bind; re-fetches dedup") {
    import graft.graph.CrawlOps
    val log = Seq(
      // trap.com: 4 URLs, 1 content — ratio 4·10⁶ (plus a re-fetch
      // duplicate row that must not change any count)
      ("trap.com", "t/1", "X"), ("trap.com", "t/2", "X"),
      ("trap.com", "t/3", "X"), ("trap.com", "t/4", "X"),
      ("trap.com", "t/1", "X"),
      // ok.com: 3 URLs, 3 contents — ratio exactly 10⁶
      ("ok.com", "o/1", "a"), ("ok.com", "o/2", "b"), ("ok.com", "o/3", "c"),
      // tiny.com: high ratio but under the minUrls floor
      ("tiny.com", "y/1", "Z"), ("tiny.com", "y/2", "Z"))
      .toDF("family", "canonical", "fingerprint")
    val r = CrawlOps.trapSignals(log, minUrls = 3L,
        thresholdMicro = 2000000L)
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    assert(r == Set(
      ("trap.com", 4L, 1L, 4000000L, true),
      ("ok.com", 3L, 3L, 1000000L, false),
      ("tiny.com", 2L, 1L, 2000000L, false)))
  }
  test("crawlWorklist: spends exactly the schedule, md5-ordered, dense pos; remainder row raises") {
    import graft.graph.CrawlOps
    import org.apache.spark.sql.functions.{col, md5}
    val allowed = Seq(
      ("https://a.com/1", "a.com"), ("https://a.com/2", "a.com"),
      ("https://a.com/3", "a.com"), ("https://a.com/1", "a.com"), // dup dedups
      ("https://b.com/x", "b.com"), ("https://b.com/y", "b.com"),
      ("https://c.com/only", "c.com"))
      .toDF("canonical", "dst_family")
    val schedule = Seq(("a.com", 2L), ("b.com", 5L), ("c.com", 0L))
      .toDF("node", "n_requests")
    val out = CrawlOps.crawlWorklist(allowed, schedule)
      .as[(String, String, Long)].collect()
    val byDom = out.groupBy(_._2).view.mapValues(_.sortBy(_._3)).toMap
    // a.com: 3 allowed, 2 scheduled -> exactly 2; b.com: 2 allowed,
    // 5 scheduled -> all 2; c.com: scheduled 0 -> none
    assert(byDom("a.com").size == 2 && byDom("b.com").size == 2)
    assert(!byDom.contains("c.com"))
    assert(byDom("a.com").map(_._3).toSeq == Seq(1L, 2L))
    // the taken URLs are the md5-smallest of the domain's allowed set
    val md = Seq("https://a.com/1", "https://a.com/2", "https://a.com/3")
      .map(u => u -> java.security.MessageDigest.getInstance("MD5")
        .digest(u.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .sortBy(_._2).map(_._1)
    assert(byDom("a.com").map(_._1).toSeq == md.take(2))
    val bad = Seq(("a.com", 1L), ("__UNASSIGNED", 3L))
      .toDF("node", "n_requests")
    intercept[Exception] {
      CrawlOps.crawlWorklist(allowed, bad).collect()
    }
  }

  test("parseRobots: RFC grammar hazards; parsed rules gate identically to the fixture") {
    import graft.queries.PipelineQueries
    val parsed = LinkGraph.parseRobots(
        PipelineQueries.robotsTxtFixture.toDF("family", "txt"),
        col("family"), col("txt"))
      .as[(String, Long, String, Boolean)].collect()
    // the authored text parses to EXACTLY the p138 rule fixture
    assert(parsed.map(r => (r._1, r._3, r._4)).toSet ==
      PipelineQueries.robotsRulesFixture.toSet)
    // appearance order survives per family
    assert(parsed.filter(_._1 == "src2.co.uk").sortBy(_._2)
      .map(r => (r._3, r._4)).toSeq == Seq(("/", true), ("/", false)))
    // gate equivalence: filtering through the parsed table == fixture
    val urls = Seq(("https://src0.com/hub", "src0.com"),
      ("https://src0.com/other", "src0.com"),
      ("https://src1.com/page", "src1.com"),
      ("https://example.com/x", "example.com"))
      .toDF("canonical", "dst_family")
    val viaParsed = LinkGraph.robotsFilter(urls,
        LinkGraph.parseRobots(
          PipelineQueries.robotsTxtFixture.toDF("family", "txt"),
          col("family"), col("txt"))
        .select(col("family"), col("prefix"), col("allow")))
      .as[(String, String, Boolean, String)].collect().toSet
    val viaFixture = LinkGraph.robotsFilter(urls,
        PipelineQueries.robotsRulesFixture
          .toDF("family", "prefix", "allow"))
      .as[(String, String, Boolean, String)].collect().toSet
    assert(viaParsed == viaFixture)
    // rules before any User-agent line belong to no group: nothing
    val orphan = LinkGraph.parseRobots(
      Seq(("x.com", "Disallow: /a\nUser-agent: *\nDisallow: /b\n"))
        .toDF("f", "t"), col("f"), col("t"))
      .as[(String, Long, String, Boolean)].collect()
    assert(orphan.map(r => (r._3, r._4)).toSeq == Seq(("/b", false)))
    // a file with only foreign sections emits no rows at all
    assert(LinkGraph.parseRobots(
      Seq(("y.com", "User-agent: megabot\nDisallow: /\n")).toDF("f", "t"),
      col("f"), col("t")).count() == 0)
  }

  test("the crawl front's wildcard fixture parses to its pinned rule table") {
    import graft.queries.PipelineQueries
    val parsed = LinkGraph.parseRobotsPatterns(
        PipelineQueries.robotsWildTxtFixture.toDF("family", "txt"),
        col("family"), col("txt"))
      .as[(String, Long, String, Boolean)].collect()
    // the authored wildcard-bearing files parse to EXACTLY the rules
    // the gate oracle's VALUES carry (the sharedOracle rule: the text
    // form and the table form cannot drift)
    assert(parsed.map(r => (r._1, r._3, r._4)).toSet ==
      PipelineQueries.robotsPatternRulesFixture.toSet)
    assert(parsed.length == PipelineQueries.robotsPatternRulesFixture.length)
  }

  test("prefix-only robots files gate identically through both tiers") {
    import graft.queries.PipelineQueries
    // the prefix grammar is a SUB-grammar of the pattern grammar: on
    // a wildcard-free file, parse+gate through either tier must agree
    // verdict-for-verdict and rule-for-rule — the pin that makes the
    // wildcard tier a safe drop-in for the whole crawl front
    val txts = PipelineQueries.robotsTxtFixture.toDF("family", "txt")
    val urls = Seq(
      ("https://src0.com/hub?a=1", "src0.com"),
      ("https://src0.com/p?id=3", "src0.com"),
      ("https://src0.com/", "src0.com"),
      ("https://src1.com/p?id=8", "src1.com"),
      ("https://src1.com/hub", "src1.com"),
      ("https://example.com/x", "example.com"),
      ("https://src2.co.uk/", "src2.co.uk"),
      ("https://nowhere.net/a", "nowhere.net"))
      .toDF("canonical", "dst_family")
    val viaPrefix = LinkGraph.robotsFilter(urls,
        LinkGraph.parseRobots(txts, col("family"), col("txt"))
          .select(col("family"), col("prefix"), col("allow")))
      .as[(String, String, Boolean, String)].collect().toSet
    val viaWild = LinkGraph.robotsFilterWildcard(urls,
        LinkGraph.parseRobotsPatterns(txts, col("family"), col("txt"))
          .select(col("family"), col("pattern"), col("allow")))
      .as[(String, String, Boolean, String)].collect().toSet
    assert(viaPrefix == viaWild)
  }

  test("parseRobots: CRLF and BOM files parse identically; wildcard patterns raise") {
    // the real-world norm: CRLF endings and a UTF-8 BOM - either one,
    // unhandled, breaks every directive match and fails the gate OPEN
    val crlf = LinkGraph.parseRobots(
      Seq(("x.com", "\ufeffUser-agent: *\r\nDisallow: /p\r\nAllow: /p/ok\r\n"))
        .toDF("f", "t"), col("f"), col("t"))
      .as[(String, Long, String, Boolean)].collect()
    assert(crlf.map(r => (r._3, r._4)).toSeq ==
      Seq(("/p", false), ("/p/ok", true)))
    // a trailing * is redundant under prefix matching: normalized away
    val trail = LinkGraph.parseRobots(
      Seq(("x.com", "User-agent: *\nDisallow: /tmp*\n")).toDF("f", "t"),
      col("f"), col("t"))
      .as[(String, Long, String, Boolean)].collect()
    assert(trail.map(r => (r._3, r._4)).toSeq == Seq(("/tmp", false)))
    // interior * / $ anchors cannot be a prefix rule: loud, never a
    // dead literal the gate silently fails open on
    val e = intercept[Exception] {
      TestSpark.quietly(LinkGraph.parseRobots(
        Seq(("x.com", "User-agent: *\nDisallow: /*?sessionid=\n"))
          .toDF("f", "t"), col("f"), col("t")).collect())
    }
    assert(e.getMessage.contains("FAIL OPEN") ||
      Option(e.getCause).exists(_.getMessage.contains("FAIL OPEN")))
  }

  test("worklistSelect: a schedule row above the frontier's OWN fold bound raises") {
    import graft.graph.CrawlOps
    val allowed = Seq(("https://a.com/1", "a.com"), ("https://a.com/2", "a.com"),
      ("https://a.com/3", "a.com")).toDF("canonical", "dst_family")
    // frontier folded at k=2; a schedule spending 3 would silently
    // truncate to the 2 buffered URLs - must raise on the REAL bound,
    // not a caller default
    val frontier = CrawlOps.frontierTopK(allowed, maxPerDomain = 2)
    val sched = Seq(("a.com", 3L)).toDF("node", "n_requests")
    val e = intercept[Exception] {
      TestSpark.quietly(CrawlOps.worklistSelect(frontier, sched).collect())
    }
    assert(e.getMessage.contains("fold") ||
      Option(e.getCause).exists(_.getMessage.contains("fold")))
    // at or under the bound it spends exactly the schedule
    val ok = CrawlOps.worklistSelect(frontier,
      Seq(("a.com", 2L)).toDF("node", "n_requests")).collect()
    assert(ok.length == 2)
  }

  test("parseSitemap: entity-decode + canonical collide, idx gap, null lastmod") {
    import graft.queries.PipelineQueries
    val out = LinkGraph.parseSitemap(
        PipelineQueries.sitemapXmlFixture.toDF("family", "xml"),
        col("family"), col("xml"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getString(3))))
    // the messy entity-encoded loc canonicalizes to the SAME key a
    // crawl-discovered clean variant gets - one frontier key
    val clean = Seq("https://www.src0.com/hub?a=1&b=2").toDF("u")
      .select(graft.functions.SourceFamily.canonicalizeUrl(col("u")))
      .collect()(0).getString(0)
    assert(out.find(r => r._1 == "src0.com" && r._2 == 0L).get._3 == clean)
    // a loc-less block drops but keeps its idx gap (0,1,2 here - the
    // gap would appear only past the dropped block)
    assert(out.filter(_._1 == "src0.com").map(_._2).sorted.toSeq ==
      Seq(0L, 1L, 2L))
    // lastmod absent -> null, never a fake date
    assert(out.find(r => r._3.endsWith("/nolastmod")).get._4.isEmpty)
    assert(out.find(r => r._3.endsWith("/fresh")).get._4.contains("2026-08-14"))
  }

  test("robotsCrawlDelay: wildcard-group only, fractional to ms, max of several, bad value raises") {
    val txts = Seq(
      // applies: in the * group; foreign group's delay must NOT
      ("a.com", "User-agent: megabot\nCrawl-delay: 99\n" +
        "User-agent: *\nDisallow: /x\nCrawl-delay: 5\n"),
      // fractional seconds -> integer ms; two applicable -> MAX
      ("b.com", "User-agent: *\nCrawl-delay: 0.5\n\n" +
        "User-agent: *\nCrawl-delay: 2.25\n"),
      // only a foreign group has one -> NO row
      ("c.com", "User-agent: otherbot\nCrawl-delay: 7\n"),
      // delay before any header is groupless -> ignored
      ("d.com", "Crawl-delay: 9\nUser-agent: *\nDisallow: /\n"),
      // CRLF + BOM (the parseRobots hazards) must not break the fold
      ("e.com", "﻿User-agent: *\r\nCrawl-Delay: 3 # polite\r\n"))
      .toDF("family", "txt")
    val out = LinkGraph.robotsCrawlDelay(txts, col("family"), col("txt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a.com" -> 5000L, "b.com" -> 2250L, "e.com" -> 3000L))
    // the committed robots fixture: src0.com publishes 5 in its * group
    val fx = LinkGraph.robotsCrawlDelay(
        graft.queries.PipelineQueries.robotsTxtFixture.toDF("family", "txt"),
        col("family"), col("txt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fx("src0.com") == 5000L)
    // unparseable value in an APPLICABLE group raises loudly
    val e = intercept[Exception] {
      TestSpark.quietly(LinkGraph.robotsCrawlDelay(
          Seq(("f.com", "User-agent: *\nCrawl-delay: soon\n"))
            .toDF("family", "txt"),
          col("family"), col("txt")).collect())
    }
    assert(e.getMessage.contains("unparseable"))
  }

  test("robotsSitemaps: group-independent, canonicalized, appearance order") {
    val txts = Seq(
      ("a.com", "Sitemap: https://WWW.A.COM:443/sitemap.xml?b=2&a=1\n" +
        "User-agent: otherbot\nDisallow: /\n" +
        "sitemap: https://a.com/news.xml # daily\n"),
      ("b.com", "User-agent: *\nDisallow: /x\n")).toDF("family", "txt")
    val out = LinkGraph.robotsSitemaps(txts, col("family"), col("txt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // both lines apply (one sits inside a FOREIGN group - the
    // directive is group-independent per RFC 9309 2.3), both
    // canonicalize, idx follows appearance order; b.com emits nothing
    assert(out.toSeq == Seq(
      ("a.com", 0L, "https://www.a.com/sitemap.xml?a=1&b=2"),
      ("a.com", 1L, "https://a.com/news.xml")))
  }

  test("parseSitemapIndex: sitemap blocks only, entity decode, idx gap, null lastmod") {
    val xml =
      "<?xml version=\"1.0\"?>\n" +
        "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "  <sitemap><loc> https://A.com/s1.xml?b=2&amp;a=1 </loc>\n" +
        "    <lastmod>2026-08-01</lastmod></sitemap>\n" +
        "  <sitemap><lastmod>2026-08-02</lastmod></sitemap>\n" +
        "  <sitemap><loc>https://a.com/s2.xml</loc></sitemap>\n" +
        "</sitemapindex>\n"
    val out = LinkGraph.parseSitemapIndex(
        Seq(("a.com", xml)).toDF("family", "xml"), col("family"), col("xml"))
      .collect().map(r => (r.getLong(1), r.getString(2), Option(r.getString(3))))
    // <sitemapindex> itself never matches a <sitemap> block; the
    // loc-less middle block drops leaving idx 0,2
    assert(out.toSeq == Seq(
      (0L, "https://a.com/s1.xml?a=1&b=2", Some("2026-08-01")),
      (2L, "https://a.com/s2.xml", None)))
  }

  test("expandSitemaps: nested index walks to pages, cycles terminate, depth cut raises") {
    def urlset(us: (String, String)*): String =
      "<urlset>" + us.map { case (u, lm) =>
        s"<url><loc>$u</loc>" +
          (if (lm == null) "" else s"<lastmod>$lm</lastmod>") + "</url>"
      }.mkString + "</urlset>"
    def index(children: String*): String =
      "<sitemapindex>" +
        children.map(c => s"<sitemap><loc>$c</loc></sitemap>").mkString +
        "</sitemapindex>"
    val fetched = Seq(
      // root index -> one urlset child + one NESTED index child that
      // also points BACK at the root (a cycle that must terminate)
      ("a.com", "https://a.com/root.xml",
        index("https://a.com/s1.xml", "https://a.com/sub.xml")),
      ("a.com", "https://a.com/s1.xml",
        urlset(("https://a.com/p1", "2026-08-01"),
          ("https://a.com/p2", null))),
      ("a.com", "https://a.com/sub.xml",
        index("https://a.com/s2.xml", "https://a.com/root.xml")),
      // the same page again, LATER lastmod - the max must win
      ("a.com", "https://a.com/s2.xml",
        urlset(("https://a.com/p1", "2026-08-09"))))
      .toDF("family", "url", "xml")
    val roots = Seq(("a.com", "https://a.com/root.xml"))
      .toDF("family", "sitemap_url")
    val out = LinkGraph.expandSitemaps(fetched, roots)
      .collect().map(r => (r.getString(1), Option(r.getString(2)))).toMap
    assert(out == Map(
      "https://a.com/p1" -> Some("2026-08-09"), // latest across sitemaps
      "https://a.com/p2" -> None))
    // an unfetched child contributes nothing (the fetch ledger owns
    // that gap); a root pointing at nothing yields an EMPTY frame
    val sparse = LinkGraph.expandSitemaps(
      fetched.filter(col("url") =!= "https://a.com/s1.xml"), roots)
    assert(sparse.collect().map(_.getString(1)).toSeq ==
      Seq("https://a.com/p1"))
    // an index chain deeper than maxDepth RAISES - a silent depth cut
    // would drop the subtree's URLs from discovery
    val deep = Seq(
      ("a.com", "https://a.com/root.xml", index("https://a.com/l1.xml")),
      ("a.com", "https://a.com/l1.xml", index("https://a.com/l2.xml")),
      ("a.com", "https://a.com/l2.xml", urlset(("https://a.com/p9", null))))
      .toDF("family", "url", "xml")
    val e = intercept[IllegalArgumentException] {
      LinkGraph.expandSitemaps(deep, roots, maxDepth = 2)
    }
    assert(e.getMessage.contains("maxDepth"))
    assert(LinkGraph.expandSitemaps(deep, roots, maxDepth = 3)
      .collect().map(_.getString(1)).toSeq == Seq("https://a.com/p9"))
    // classification is by the ROOT element: a urlset whose prolog
    // comment mentions '<sitemapindex' still parses as a urlset (a
    // substring test would route it to the index parser and silently
    // drop its whole URL set)
    val commented = Seq(("a.com", "https://a.com/root.xml",
        "<?xml version=\"1.0\"?><!-- generator: not a <sitemapindex> -->" +
          urlset(("https://a.com/pc", null))))
      .toDF("family", "url", "xml")
    assert(LinkGraph.expandSitemaps(commented, roots)
      .collect().map(_.getString(1)).toSeq == Seq("https://a.com/pc"))
  }

  test("crawlDelayCaps: published delay binds the cap; schedule spends less there") {
    val ranks = Seq(("fast.com", 600000L), ("slow.com", 400000L))
      .toDF("node", "rank_micro")
    val delays = Seq(("slow.com", 5000L)).toDF("family", "crawl_delay_ms")
    // 60 s window, 5 s delay -> 12 fetches max; fast.com keeps default
    val caps = LinkGraph.crawlDelayCaps(ranks, delays,
        windowMs = 60000L, defaultCap = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(caps == Map("fast.com" -> 100L, "slow.com" -> 12L))
    // wired through the budget: slow.com is capped at 12 and the
    // remainder flows to fast.com - the delay provably shrank spend
    val sched = LinkGraph.crawlBudgetWithCaps(
        LinkGraph.crawlDelayCaps(ranks, delays, 60000L, 100L), budget = 50L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(sched("slow.com") == 12L)
    assert(sched("fast.com") == 38L)
    assert(sched("__UNASSIGNED") == 0L)
    // delay 0 = no constraint; delay > window = 0 cap (left alone)
    val edge = LinkGraph.crawlDelayCaps(ranks,
        Seq(("fast.com", 0L), ("slow.com", 120000L))
          .toDF("family", "crawl_delay_ms"), 60000L, 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(edge == Map("fast.com" -> 100L, "slow.com" -> 0L))
    // DUPLICATE family rows (re-fetched robots) must not fan out the
    // rank row — that would double-count its mass in the budget
    // election; several observed delays fold to the politest (max)
    val dup = LinkGraph.crawlDelayCaps(ranks,
        Seq(("slow.com", Some(5000L)), ("slow.com", Some(7500L)),
          ("slow.com", Option.empty[Long]))
          .toDF("family", "crawl_delay_ms"), 60000L, 100L)
      .collect()
    assert(dup.length == 2, dup.mkString(", "))
    assert(dup.map(r => r.getString(0) -> r.getLong(2)).toMap ==
      Map("fast.com" -> 100L, "slow.com" -> 8L)) // 60000 div 7500
  }

  test("crawlWorklistPerHost: host cap splits family spend; wide cap equals crawlWorklist") {
    import graft.graph.CrawlOps
    // one family, two hosts, 6 URLs each; budget 8 with hostCap 4:
    // NEITHER host may exceed 4 even if md5 order favors it
    val allowed = (0 until 6).flatMap { i =>
      Seq((s"https://a.fam.com/p/$i", "fam.com"),
        (s"https://b.fam.com/p/$i", "fam.com"))
    }.toDF("canonical", "dst_family")
    val sched = Seq(("fam.com", 8L)).toDF("node", "n_requests")
    val out = CrawlOps.crawlWorklistPerHost(allowed, sched,
        hostCap = 4, maxPerDomain = 100)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(out.length == 8)
    assert(out.map(_._2).sorted.toSeq == (1L to 8L)) // dense pos
    val byHost = out.map(_._1).groupBy(u =>
      u.stripPrefix("https://").takeWhile(_ != '.'))
    assert(byHost("a").length == 4 && byHost("b").length == 4,
      s"8 requests over hostCap 4 must split 4/4, got $byHost")
    // hostCap >= n_requests: per-host pruning cannot bind, so the
    // two operators agree exactly
    val wide = CrawlOps.crawlWorklistPerHost(allowed, sched,
        hostCap = 12, maxPerDomain = 100)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    val base = CrawlOps.crawlWorklist(allowed, sched, maxPerDomain = 100)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(wide == base)
  }

  test("sitemapText: gzipped payloads inflate and parse identically; bomb and garbage raise") {
    import graft.functions.GunzipUtil
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    val xml = "<urlset><url><loc>https://a.com/p1</loc>" +
      "<lastmod>2026-08-01</lastmod></url>" +
      "<url><loc> https://A.com/p2?b=2&amp;a=1 </loc></url></urlset>"
    // a MIXED fetch table: one row gzipped, one plain — the sniff
    // routes each correctly and the parse is byte-identical
    val mixed = Seq(("a.com", gz(xml)), ("b.com", xml.getBytes("UTF-8")))
      .toDF("family", "payload")
    val out = LinkGraph.parseSitemap(mixed, col("family"),
        LinkGraph.sitemapText(col("payload")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(
      ("a.com", 0L, "https://a.com/p1"),
      ("a.com", 1L, "https://a.com/p2?a=1&b=2"),
      ("b.com", 0L, "https://a.com/p1"),
      ("b.com", 1L, "https://a.com/p2?a=1&b=2")))
    // round trip at the kernel level
    assert(new String(GunzipUtil.gunzip(gz(xml), GunzipUtil.MaxOut),
      "UTF-8") == xml)
    // the zip-bomb cap: a tiny member inflating past the bound raises
    // LOUDLY instead of eating the executor
    val bomb = gz("x" * 100000)
    val e = intercept[IllegalArgumentException] {
      GunzipUtil.gunzip(bomb, maxOut = 1024)
    }
    assert(e.getMessage.contains("bomb"))
    // a malformed SECOND member raises with its offset — the JDK
    // stream swallows it as EOF ("ignore any malformed"), which one
    // layer up would be a silently truncated archive
    val truncTail = gz("first member") ++
      Array[Byte](0x1f.toByte, 0x8b.toByte, 9, 0, 0)
    val e2 = intercept[IllegalArgumentException] {
      GunzipUtil.gunzip(truncTail, GunzipUtil.MaxOut)
    }
    assert(e2.getMessage.contains("byte"), e2.getMessage)
    // bytes wearing the gzip magic but not a gzip member fail the
    // format check, not silently decode
    intercept[Exception] {
      TestSpark.quietly(
        Seq(("c.com", Array(0x1f.toByte, 0x8b.toByte, 0x00.toByte)))
          .toDF("family", "payload")
          .select(LinkGraph.sitemapText(col("payload"))).collect())
    }
  }

  test("pageRankFrom: warm k+m rounds equal cold; warm start reconverges faster on a perturbed graph") {
    def rk(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e1 = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a")).toDF("src", "dst")
    // the constructive identity: warm-starting from the k-round
    // artifact and running m more rounds IS the (k+m)-round cold run
    assert(rk(LinkGraph.pageRankFrom(e1, LinkGraph.pageRank(e1, iters = 3),
        iters = 2)) ==
      rk(LinkGraph.pageRank(e1, iters = 5)))
    // integer rounds go exactly stationary; perturbing a 20-deep chain
    // DAG near its TAIL (one new outlink on n17, reaching a brand-new
    // cold-seeded node) leaves all upstream fixpoint values valid, so
    // the warm run reconverges in the few rounds the ripple needs
    // while the cold run re-propagates rank down the whole chain —
    // the warm-start payoff, pinned: same fixpoint, fewer rounds
    val chain = (0 until 19).map(i => (s"n$i", s"n${i + 1}")) ++
      (0 until 20).map(i => (s"n$i", "s"))
    val g1 = chain.toDF("src", "dst")
    val (f1, n1) = LinkGraph.pageRankConverged(g1)
    assert(n1 >= 1 && rk(LinkGraph.pageRankFrom(g1, f1, iters = 1)) == rk(f1))
    val g2 = g1.unionByName(Seq(("n17", "e")).toDF("src", "dst"))
    val (f2cold, n2) = LinkGraph.pageRankConverged(g2)
    val (f2warm, n3) = LinkGraph.pageRankConverged(g2, Some(f1))
    assert(rk(f2warm) == rk(f2cold), "one fixpoint, both trajectories")
    assert(n3 < n2, s"warm $n3 rounds vs cold $n2")
    // the loud unconverged contract: a budget too small raises rather
    // than shipping a half-iterated artifact
    val e = intercept[IllegalArgumentException] {
      LinkGraph.pageRankConverged(e1, maxIters = 1)
    }
    assert(e.getMessage.contains("maxIters"))
  }

  test("RobotsMatchUtil: RFC 9309 wildcard grammar — anchors, interior stars, prefix semantics") {
    import graft.functions.RobotsMatchUtil.{matches => m}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // unanchored pattern matches any PREFIX of the path
    assert(m(u("/p/fish/salmon"), u("/p/fish")))
    assert(!m(u("/p/fis"), u("/p/fish")))
    // trailing * is redundant under prefix semantics but legal
    assert(m(u("/p/fishheads/x"), u("/p/fish*")))
    // interior * spans any byte run, including /
    assert(m(u("/p/deep/cat.php"), u("/p/*.php")))
    assert(m(u("/p/a/b/c.php?x"), u("/p/*.php")))
    // $ anchors: the whole path must be consumed
    assert(m(u("/p/cat.php"), u("/p/*.php$")))
    assert(!m(u("/p/cat.php?x=1"), u("/p/*.php$")))
    // terminal *$ absorbs the remainder
    assert(m(u("/p/anything"), u("/p/*$")))
    // two stars backtrack independently
    assert(m(u("/a/xx/b/yy.html"), u("/a/*/b/*.html$")))
    assert(!m(u("/a/xx/c/yy.html"), u("/a/*/b/*.html$")))
    // empty pattern matches everything; bare $ only the empty path
    assert(m(u("/q"), u("")))
    assert(m(u(""), u("$")) && !m(u("/q"), u("$")))
  }

  test("RobotsMatchUtil agrees with a regex reference on random pattern/path pairs") {
    import graft.functions.RobotsMatchUtil.{matches => m}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val rnd = new scala.util.Random(42)
    val chars = "ab/."
    def randStr(n: Int) = (0 until n).map(_ => chars(rnd.nextInt(chars.length))).mkString
    var checked = 0
    for (_ <- 0 until 4000) {
      val rawPat = (0 until rnd.nextInt(6)).map(_ =>
        if (rnd.nextInt(4) == 0) "*" else chars(rnd.nextInt(chars.length)).toString).mkString
      val anchored = rnd.nextBoolean()
      val pat = rawPat + (if (anchored) "$" else "")
      val path = randStr(rnd.nextInt(8))
      val rx = rawPat.map {
        case '*' => ".*"
        case c if "./".contains(c) => "\\" + c
        case c => c.toString
      }.mkString
      val expected =
        if (anchored) path.matches(rx)
        else path.matches(rx + ".*")
      assert(m(u(path), u(pat)) == expected, s"path='$path' pat='$pat'")
      checked += 1
    }
    assert(checked == 4000)
  }

  test("parseRobotsPatterns keeps wildcards verbatim where parseRobots refuses") {
    import spark.implicits._
    val txt = "User-agent: bot\nDisallow: /\n\n" +
      "User-agent: *\nAllow: /p/fish*\nDisallow: /p/*.php$\nDisallow:\n"
    val df = Seq(("x", txt)).toDF("family", "txt")
    val rules = LinkGraph.parseRobotsPatterns(df, col("family"), col("txt"))
      .orderBy(col("rule_idx"))
      .collect().map(r => (r.getString(2), r.getBoolean(3))).toSeq
    // decoy group dropped, empty Disallow dropped, patterns verbatim
    assert(rules == Seq(("/p/fish*", true), ("/p/*.php$", false)))
    val e = intercept[Exception] {
      LinkGraph.parseRobots(df, col("family"), col("txt")).collect()
    }
    assert(e.getMessage.contains("wildcard pattern"))
  }

  test("robotsFilterWildcard: longest pattern wins, ties go to allow, no match allows") {
    import spark.implicits._
    val rules = Seq(
      ("x", "/p/fish*", true), ("x", "/p/fish/", false),
      ("x", "/p/*.php$", false))
      .toDF("family", "pattern", "allow")
    val urls = Seq(
      "https://x.com/p/fish/salmon", // 8-char tie -> allow
      "https://x.com/p/fish.php",    // 9 beats 8 -> disallow
      "https://x.com/p/cat.php?x=1", // anchor does not over-match -> default
      "https://x.com/q/other")       // no match -> default allow
      .map((_, "x")).toDF("canonical", "dst_family")
    val out = LinkGraph.robotsFilterWildcard(urls, rules)
      .collect().map(r => r.getString(0) -> (r.getBoolean(2), r.getString(3))).toMap
    assert(out("https://x.com/p/fish/salmon") == ((true, "/p/fish*")))
    assert(out("https://x.com/p/fish.php") == ((false, "/p/*.php$")))
    assert(out("https://x.com/p/cat.php?x=1") == ((true, "")))
    assert(out("https://x.com/q/other") == ((true, "")))
    // a family with no rules at all rides the null path to default
    val noRules = LinkGraph.robotsFilterWildcard(
      Seq(("https://y.com/a", "y")).toDF("canonical", "dst_family"), rules)
      .collect().head
    assert(noRules.getBoolean(2) && noRules.getString(3) == "")
  }

  test("robotsFilterWildcard elects by OCTET length: a multi-byte pattern keeps its byte weight") {
    import spark.implicits._
    // path /€ab: '/€' is 2 code points but 4 BYTES (disallow), '*ab'
    // is 3 of both (allow). Code-point election would rank 3 > 2 and
    // ALLOW; RFC 9309's octet election ranks 4 > 3 and disallows —
    // the byte-wise answer the reference parsers give
    val rules = Seq(("x", "/€", false), ("x", "*ab", true))
      .toDF("family", "pattern", "allow")
    val urls = Seq(("https://x.com/€ab", "x")).toDF("canonical", "dst_family")
    val out = LinkGraph.robotsFilterWildcard(urls, rules).collect().head
    assert(!out.getBoolean(2) && out.getString(3) == "/€")
  }

  test("pageAliasEdges: refresh beats canonical on a both-forms page; self-declarations emit nothing") {
    import spark.implicits._
    import graft.graph.CrawlOps
    val pages = Seq(
      // both forms: the refresh must win (it is the executed redirect)
      (1L, "https://s.com/a",
        "<link rel=\"canonical\" href=\"https://s.com/canon-loser\">" +
          "<meta http-equiv=\"refresh\" content=\"0; url=https://s.com/r\">"),
      // canonical only
      (2L, "https://s.com/b",
        "<link rel=\"canonical\" href=\"https://s.com/target\">"),
      // SELF canonical: a 1-cycle must not enter the pointer chain
      (3L, "https://s.com/c",
        "<link rel=\"canonical\" href=\"https://s.com/c\">"),
      // slow refresh beside a canonical: only the canonical edges
      (4L, "https://s.com/d",
        "<meta http-equiv=\"refresh\" content=\"600; url=https://s.com/slow\">" +
          "<link rel=\"canonical\" href=\"https://s.com/e\">"),
      // no declarations at all
      (5L, "https://s.com/f", "<html><body>plain</body></html>"))
      .toDF("doc_id", "page_url", "html")
    val edges = CrawlOps.pageAliasEdges(pages, col("page_url"), col("html"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(edges == Map(
      "https://s.com/a" -> "https://s.com/r",
      "https://s.com/b" -> "https://s.com/target",
      "https://s.com/d" -> "https://s.com/e"))
  }

  test("fullAliasEdges: header beats both body kinds; EMPTY header map is identical to pageAliasEdges") {
    import spark.implicits._
    import graft.graph.CrawlOps
    val pages = Seq(
      // all three forms on one page: the header must win over the
      // refresh, which itself wins over the canonical
      (1L, "https://s.com/a",
        "<link rel=\"canonical\" href=\"https://s.com/canon-loser\">" +
          "<meta http-equiv=\"refresh\" content=\"0; url=https://s.com/r\">"),
      // body declarations on a page the header map does NOT name ride
      (2L, "https://s.com/b",
        "<link rel=\"canonical\" href=\"https://s.com/target\">"))
      .toDF("doc_id", "page_url", "html")
    val hdr = Seq(("https://s.com/a", "https://s.com/hdr"))
      .toDF("src", "dst")
    val full = CrawlOps.fullAliasEdges(hdr, pages, col("page_url"),
        col("html"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(full == Map(
      "https://s.com/a" -> "https://s.com/hdr",
      "https://s.com/b" -> "https://s.com/target"))
    // directive-free identity: with an EMPTY header map the union IS
    // pageAliasEdges, row for row
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val viaFull = CrawlOps.fullAliasEdges(empty, pages, col("page_url"),
        col("html"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaPage = CrawlOps.pageAliasEdges(pages, col("page_url"),
        col("html"))
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaFull == viaPage && viaFull.nonEmpty)
  }

  test("resolveFrontierAliases: rewrites resolved keys, drops loop keys, passes the rest; families re-derive") {
    import spark.implicits._
    import graft.graph.CrawlOps
    val aliases = Seq(
      ("https://a.com/old", "https://b.com/mid"),
      ("https://b.com/mid", "https://b.com/new"),
      ("https://l.com/x", "https://l.com/y"),
      ("https://l.com/y", "https://l.com/x")) // 2-cycle
      .toDF("src", "dst")
    val resolved = CrawlOps.resolveRedirects(aliases, maxDepth = 4)
    val frontier = Seq(
      ("https://a.com/old", "a.com", "f1"),  // 2-hop rewrite, family moves
      ("https://l.com/x", "l.com", "f2"),    // loop: dropped
      ("https://c.com/keep", "c.com", "f3")) // untouched passthrough
      .toDF("canonical", "dst_family", "tag")
    // output column order: passthrough (canonical, tag) then the
    // re-derived dst_family appended last
    val out = CrawlOps.resolveFrontierAliases(frontier, resolved)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._2)
    assert(out.toSeq == Seq(
      ("https://b.com/new", "f1", "b.com"),
      ("https://c.com/keep", "f3", "c.com")))
  }

  test("xRobotsTokens: agent scoping, unavailable_after dating, fail-open on bad dates") {
    import spark.implicits._
    val asof = lit("2026-08-01").cast("date")
    def toks(h: String, agent: String = "graftbot"): Seq[String] =
      Seq(h).toDF("h")
        .select(LinkGraph.xRobotsTokens(col("h"), agent, asof).as("t"))
        .as[Seq[String]].collect().head
    // unscoped binds every agent; tokens trim/lower/dedupe
    assert(toks("NoIndex, nofollow , noindex") == Seq("noindex", "nofollow"))
    // scoped to us binds; scope matching is case-insensitive
    assert(toks("Graftbot: noindex, nofollow") == Seq("noindex", "nofollow"))
    // scoped to a FOREIGN agent binds nothing — including the
    // directives after the comma (one header, one scope)
    assert(toks("megabot: noindex, nofollow") == Seq())
    // a dated expiry binds as noindex once asof reaches it
    assert(toks("unavailable_after: 2026-01-15") == Seq("noindex"))
    assert(toks("unavailable_after: 2099-01-01") == Seq())
    // scope + dated directive in one header
    assert(toks("graftbot: unavailable_after: 2026-01-15") == Seq("noindex"))
    assert(toks("megabot: unavailable_after: 2026-01-15") == Seq())
    // unparseable date: the DATED directive drops (loud null from
    // to_date), the other directives still bind
    assert(toks("unavailable_after: not-a-date, nofollow") == Seq("nofollow"))
    // REPEATED header lines arrive '\n'-joined (splitHttp's map): a
    // scope covers exactly ITS line — the unscoped second line binds
    // even though the first is foreign-scoped, and a scoped-to-us
    // line unions with an unscoped one
    assert(toks("megabot: noindex\nnofollow") == Seq("nofollow"))
    assert(toks("graftbot: noindex\nnofollow") == Seq("noindex", "nofollow"))
    assert(toks("noindex\nmegabot: nofollow") == Seq("noindex"))
    // null header: empty
    val n = Seq(Option.empty[String]).toDF("h")
      .select(LinkGraph.xRobotsTokens(col("h"), "graftbot", asof).as("t"))
      .as[Seq[String]].collect().head
    assert(n == Seq())
    intercept[IllegalArgumentException](
      LinkGraph.xRobotsTokens(lit("x"), "bad:agent", asof))
  }

  test("restrictToFrontier: politeness artifacts shrink to the round's families before any collect") {
    import spark.implicits._
    val artifact = Seq(("a.com", 5000L), ("b.com", 1000L), ("z.com", 9L))
      .toDF("family", "ms")
    val frontier = Seq(("https://a.com/x", "a.com"),
      ("https://b.com/y", "b.com")).toDF("canonical", "dst_family")
    val got = LinkGraph.restrictToFrontier(artifact, col("family"), frontier)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a.com" -> 5000L, "b.com" -> 1000L))
  }

  test("directive-free pages compose identically: follow harvest == full harvest, empty alias map == identity") {
    import spark.implicits._
    import graft.graph.CrawlOps
    import graft.queries.PipelineQueries
    // the gated chain must be a strict generalization: on pages with
    // no rel tokens, no robots meta, and no alias declarations, the
    // follow harvest and the alias rewrite are both no-ops, so the
    // composed crawl front degenerates to the round-10 ungated one
    val docs = spark.range(0, 60).toDF("doc_id")
      .withColumn("source", concat(lit("src"),
        (col("doc_id") % 20).cast("string")))
      .withColumn("text", lit("plain body text"))
    val pages = docs.select(col("doc_id"),
      PipelineQueries.messyUrlFixture.as("page_url"),
      PipelineQueries.htmlFixtureText.as("html"))
    val full = LinkGraph.linkRows(pages, col("page_url"), col("html"))
    val follow = LinkGraph.linkRowsFollow(pages, col("page_url"), col("html"))
    assert(full.exceptAll(follow).isEmpty && follow.exceptAll(full).isEmpty)
    // an alias map with no hits leaves every row byte-identical
    val emptyResolved = CrawlOps.resolveRedirects(
      Seq(("https://nowhere.example/a", "https://nowhere.example/b"))
        .toDF("src", "dst"))
    val rewritten = CrawlOps.resolveFrontierAliases(follow, emptyResolved)
    assert(follow.exceptAll(rewritten).isEmpty &&
      rewritten.exceptAll(follow).isEmpty)
  }

  test("soft404Gate: the planted error page vanishes, a marker-mentioning long page survives, clean corpora pass untouched") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    // ids chosen so every stripe binds at least once: 7 and 26 are
    // %19==7 (error pages), 11 and 34 are %23==11 (legit mentioners),
    // the rest are plain — including 0, whose text is deliberately a
    // THIN marker-phrase body (the worst a clean-titled page can do
    // is score 2, still under the threshold)
    val docs = Seq(
      (0L, "this page was not found sorry"),
      (1L, "plain body text that goes on for long enough " * 3),
      (7L, "whatever the corpus text says the title decides"),
      (11L, "a genuine article " * 10),
      (26L, "second error page body"),
      (34L, "another genuine article " * 10))
      .toDF("doc_id", "text")
    val kept = PipelineQueries.soft404Gate(docs)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 11L, 34L))
    // identity: a frame with no error-page stripe passes row-for-row
    val clean = docs.filter(col("doc_id") % 19 =!= 7)
    val out = PipelineQueries.soft404Gate(clean)
    assert(clean.exceptAll(out).isEmpty && out.exceptAll(clean).isEmpty)
  }

  test("RobotsMatchUtil: a non-terminal dollar is a literal octet, not an anchor") {
    import graft.functions.RobotsMatchUtil.{matches => m}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // '$' only anchors at the very end (the reference parser
    // convention); anywhere else it must match a literal '$' byte
    assert(m(u("/a$b/c"), u("/a$b")))
    assert(!m(u("/ab/c"), u("/a$b")))
    // terminal anchor after a literal dollar: '/a$$' = literal '/a$'
    // anchored
    assert(m(u("/a$"), u("/a$$")))
    assert(!m(u("/a$x"), u("/a$$")))
    // '*$' on the empty path: star spans zero bytes
    assert(m(u(""), u("*$")))
  }
}
