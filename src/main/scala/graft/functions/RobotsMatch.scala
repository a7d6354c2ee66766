package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC 9309 (robots.txt) path-pattern matching — the FULL wildcard
  * grammar the prefix tier ([[graft.graph.LinkGraph.robotsFilter]])
  * loudly refuses: `*` matches any byte sequence (anywhere in the
  * pattern), a TRAILING `$` anchors the match to the end of the path,
  * and an unanchored pattern matches any PREFIX of the path (§2.2.3).
  * A `$` anywhere but the end is a literal octet (the reference
  * parser convention). Matching is byte-wise over the UTF-8 forms —
  * RFC 9309 matches octets, and byte-wise is exactly what a
  * percent-encoded canonical URL needs.
  *
  * The kernel is the classic iterative wildcard walk with greedy `*`
  * and single-pointer backtracking — O(|path|·|pattern|) worst case,
  * linear on real rule sets. Codegen'd so the gate stays inside
  * whole-stage codegen (it runs once per (url, rule) candidate in the
  * scan stage).
  */
object RobotsMatchUtil {

  /** Does `pattern` match `path` under RFC 9309 §2.2.3? */
  def matches(path: UTF8String, pattern: UTF8String): Boolean = {
    val s = path.getBytes
    val pFull = pattern.getBytes
    val anchored = pFull.length > 0 && pFull(pFull.length - 1) == '$'
    val p = if (anchored) java.util.Arrays.copyOf(pFull, pFull.length - 1)
            else pFull
    var i = 0 // path cursor
    var j = 0 // pattern cursor
    var starJ = -1 // pattern index just past the last '*'
    var starI = -1 // path index the last '*' currently spans to
    while (true) {
      if (j == p.length) {
        // pattern exhausted: an unanchored pattern has matched a
        // prefix; an anchored one must ALSO have consumed the path —
        // unless a trailing '*' can absorb the remainder
        if (!anchored || i == s.length) return true
        if (starJ == p.length) return true // last '*' is terminal
        if (starJ < 0) return false
        starI += 1
        if (starI > s.length) return false
        i = starI; j = starJ
      } else if (p(j) == '*') {
        starJ = j + 1; starI = i; j += 1
      } else if (i < s.length && p(j) == s(i)) {
        i += 1; j += 1
      } else if (starJ >= 0 && starI < s.length) {
        starI += 1; i = starI; j = starJ
      } else return false
    }
    false // unreachable
  }
}

/** [[RobotsMatchUtil.matches]] per (path, pattern) row: the per-rule
  * gate predicate [[graft.graph.LinkGraph.robotsFilterWildcard]] runs
  * inside its scan-stage rule fold.
  */
object RobotsMatch {
  def apply(path: Column, pattern: Column): Column =
    ColumnBridge.kernel("robots_match", RobotsMatchUtil, "matches",
      BooleanType, Seq(path -> StringType, pattern -> StringType))
}
