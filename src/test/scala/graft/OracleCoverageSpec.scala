package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Verify tripwire, mirrored into the test suite: every query MUST
  * carry a DuckDB oracle unless it is deliberately allowlisted here —
  * a query without an oracle gets only the driver's weaker rows-only
  * check, and adding one silently would shrink the hash-verified
  * surface without anyone noticing. Keys-only comparison: no session
  * needed.
  */
class OracleCoverageSpec extends AnyFunSuite {

  /** Queries deliberately shipped without an oracle. EMPTY as of round
    * 8 (embed_semdedup_2level gained its two-pass Lloyd's oracle);
    * adding a name here is a reviewed decision, not a default.
    */
  private val noOracleAllowlist: Set[String] = Set.empty

  test("every query has an oracle unless deliberately allowlisted") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val undeclared = missing -- noOracleAllowlist
    assert(undeclared.isEmpty,
      s"queries without an oracle and not allowlisted: ${undeclared.toSeq.sorted.mkString(", ")}")
  }

  test("the allowlist is not stale (no allowlisted query has an oracle or is gone)") {
    val stale = noOracleAllowlist.filter(n =>
      SparkEntry.oracleSql.contains(n) || !SparkEntry.queries.contains(n))
    assert(stale.isEmpty,
      s"allowlist entries that have an oracle or no longer exist: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("no orphan oracle (every oracle's query exists)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracle entries with no matching query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("every bench headline name resolves to a registered query") {
    // Bench filters headline through the query map, so a typo would
    // silently DROP the entry from the perf gate instead of failing
    val unknown = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty,
      s"bench headline entries with no matching query: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  test("the registry build rejects a query name declared twice") {
    // a map keeps the last of two equal keys, so without this check a
    // mistyped name would silently drop a query from the oracle gate
    val q = graft.queries.QuerySpec("dup_name", (s, _) => s.emptyDataFrame, "SELECT 1")
    val ex = intercept[IllegalArgumentException](
      graft.queries.QuerySpec.unique(Seq(q, q.copy(oracle = "SELECT 2"))))
    assert(ex.getMessage.contains("dup_name"), ex.getMessage)
  }
}
