package graft

import graft.queries.{Query, Role}
import org.scalatest.funsuite.AnyFunSuite

/** Pure inventory invariants over [[SparkEntry]] — the contract that keeps
  * the driver's correctness artifact free of oracle-less rows (VERDICT r6
  * #2), checked on the views derived from the query declarations. No
  * SparkSession needed: these are map-shape checks only.
  */
class EntryInventorySpec extends AnyFunSuite {

  test("every benchOnly name is a real query") {
    val missing = SparkEntry.benchOnly -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"benchOnly names without a query: $missing")
  }

  test("every benchOnly name has a hash-gated _contract sibling with an oracle") {
    val noSibling = SparkEntry.benchOnly
      .filterNot(n => SparkEntry.queries.contains(s"${n}_contract"))
    assert(noSibling.isEmpty, s"benchOnly without _contract sibling: $noSibling")
    val noOracle = SparkEntry.benchOnly
      .filterNot(n => SparkEntry.oracleSql.contains(s"${n}_contract"))
    assert(noOracle.isEmpty, s"_contract sibling without oracle: $noOracle")
  }

  test("every verified query (non-benchOnly) has an oracle — 0 err rows by construction") {
    val unOracled = SparkEntry.queries.keySet -- SparkEntry.benchOnly --
      SparkEntry.oracleSql.keySet
    assert(unOracled.isEmpty,
      s"queries Verify will dump without an oracle (driver would record err): $unOracled")
  }

  test("every oracle points at a real query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracleSql entries without a query: $dangling")
  }

  test("benchOnly names are never _contract rows themselves") {
    assert(SparkEntry.benchOnly.forall(!_.endsWith("_contract")))
  }

  test("roles partition the 249 queries: 193 timed + 32 contract + 5 validation-only + 19 bench-only") {
    val byRole = SparkEntry.declared.groupMapReduce(_.role match {
      case _: Role.Timed => "timed"
      case _: Role.Contract => "contract"
      case _: Role.ValidationOnly => "validation-only"
      case _: Role.BenchOnly => "bench-only"
    })(_ => 1)(_ + _)
    assert(byRole == Map("timed" -> 193, "contract" -> 32, "validation-only" -> 5,
      "bench-only" -> 19))
    assert(SparkEntry.queries.size == 249)
    // a Contract is exactly a `_contract` name, and a bench-only face
    // carries the sibling named after it
    assert(SparkEntry.declared.forall(q =>
      q.role.isInstanceOf[Role.Contract] == q.name.endsWith("_contract")))
    assert(SparkEntry.declared.forall {
      case Query(name, _, Role.BenchOnly(contract)) => contract.name == s"${name}_contract"
      case _ => true
    })
  }

  test("Bench times exactly 212 queries and Verify's default set is exactly 230") {
    val timed = SparkEntry.queries.keySet.filterNot(Bench.benchExcluded)
    assert(timed.size == 212 && timed == SparkEntry.timed)
    val verified = SparkEntry.queries.keySet.filterNot(SparkEntry.benchOnly.contains)
    assert(verified.size == 230 && verified == SparkEntry.oracleSql.keySet)
  }

  test("every Plans.Headline name and every smoke ceiling names a real query") {
    val headline = Plans.Headline.filterNot(SparkEntry.queries.contains)
    assert(headline.isEmpty, s"Plans.Headline names without a query: $headline")
    val ceilings = BenchSmoke.readFlatJson(java.nio.file.Paths.get("scripts/smoke_ceilings.json"))
    assert(ceilings.nonEmpty, "scripts/smoke_ceilings.json not found or empty")
    val stale = ceilings.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"smoke ceilings without a query: $stale")
  }

  test("a name filter with an unknown name fails and lists every unknown name") {
    assert(SparkEntry.select(Seq("q1_agg", "a3_count")) == Set("q1_agg", "a3_count"))
    assert(SparkEntry.select(Nil).isEmpty)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_agg", "q1_agg_typo", "no_such_query")))
    assert(e.getMessage.contains("no_such_query, q1_agg_typo"), e.getMessage)
    // Verify resolves its name arguments the same way, before any session
    // starts or any output is written
    val out = java.nio.file.Files.createTempDirectory("verify-names")
    try {
      intercept[IllegalArgumentException](
        Verify.main(Array("/nonexistent-sf", out.resolve("o").toString, "q1_agg", "q1_agg_typo")))
      assert(!java.nio.file.Files.exists(out.resolve("o")))
    } finally java.nio.file.Files.delete(out)
  }
}
