package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query of the driver contract: how to build its frame over an
  * sf dir, and its [[Role]], which carries its oracle. Every query is
  * declared once, in the family object under this package that matches its
  * SURVEY.md §2 operator group.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, role: Role)

/** What the harness does with a query: whether `Bench` times it, and the
  * DuckDB SQL `Verify` hash-compares its output against.
  */
sealed abstract class Role(val sql: Option[String], val timed: Boolean)

object Role {
  /** A production query: timed by Bench, hash-checked against `oracle`. */
  final case class Timed(oracle: String) extends Role(Some(oracle), timed = true)

  /** A `_contract` row: re-derives an operator's guarantee (error bound,
    * recall floor, per-pair recompute, replay) as a provably-empty frame.
    * Hash-checked against `oracle`; Bench skips it, since its cost is the
    * verification, not the engine.
    */
  final case class Contract(oracle: String) extends Role(Some(oracle), timed = false)

  /** An O(n²) brute-force oracle that anchors an LSH path at small scale:
    * hash-checked against `oracle`, never timed (at sf0.1 it would only
    * measure the cross join).
    */
  final case class ValidationOnly(oracle: String) extends Role(Some(oracle), timed = false)

  /** A timing face of an approximate or sketch pipeline whose raw output is
    * engine-specific (HLL estimates, LSH neighbor sets, rolling
    * fingerprints, learned BPE pairs, pHash pair sets), so it has no DuckDB
    * oracle. Bench times it; Verify skips it, and `contract`, its
    * `_contract` sibling, is its correctness gate. This keeps the timed plan
    * the production operator alone and the correctness artifact free of
    * oracle-less rows.
    */
  final case class BenchOnly(contract: Query) extends Role(None, timed = true)
}
