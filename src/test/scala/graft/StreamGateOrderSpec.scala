package graft

import org.scalatest.funsuite.AnyFunSuite

/** The near-dup gate's bench face and its contract share one fixture, so
  * their verdict must not depend on which of them a session runs first.
  * The face re-gates batch 2 as its timed body; that re-gate has to be a
  * true replay, leaving the kept table the contract checks unchanged.
  */
class StreamGateOrderSpec extends AnyFunSuite with SparkTestBase {

  // 500 documents, as at sf0.01: the fixture's batch 2 keeps rows here
  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String): Array[org.apache.spark.sql.Row] =
    CacheScope.withScope(SparkEntry.queries(name)(spark, sfDir).collect())

  test("d_stream_gate run before d_stream_gate_contract leaves the contract empty") {
    val face = run("d_stream_gate")
    val violations = run("d_stream_gate_contract")
    assert(violations.isEmpty,
      s"${violations.length} violations: ${violations.take(3).mkString("; ")}")
    assert(face.nonEmpty, "the face's replay of batch 2 kept no rows")
  }
}
