package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — the operator inventory of SURVEY.md §2 (+ the
  * large-scale pipeline extensions) exposed as named queries over the
  * harness test tables, each with a DuckDB oracle where SQL-expressible.
  *
  * Each query is declared once, with its build, oracle and role, in a
  * family object under [[graft.queries]]; the maps and sets here are views
  * of those declarations, built once.
  *
  * Naming convention: the prefix ties each query to its SURVEY.md §2
  * operator id (s5 = fixed-width scan, p* = projections/filters, j* = joins,
  * a* = aggregations, w* = windows, u* = set ops, f* = scalar functions,
  * g* = generators, e* = events, and t_, d_, s_ = text / dedup / similarity
  * extensions).
  */
object SparkEntry {

  /** Flagship: the CSPro spine end-to-end — render rows to fixed-width
    * lines, re-parse them with the DAT reader, and run a padded-key join +
    * aggregation on the result. Driver smoke-checks rows > 0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("s5_fixedwidth_scan")(spark, "/root/testdata/sf0.001")

  /** Every declared query; a bench-only face is followed by its `_contract`
    * sibling.
    */
  val declared: Seq[Query] = {
    val all = Seq(RelationalQueries.all, FixedWidthQueries.all, WarehouseQueries.all,
      EventQueries.all, TextQueries.all, CurationQueries.all, DedupQueries.all,
      MultimodalQueries.all, SimilarityQueries.all).flatten.flatMap { q =>
      q.role match {
        case Role.BenchOnly(contract) => Seq(q, contract)
        case _ => Seq(q)
      }
    }
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"query names declared twice: ${repeated.mkString(", ")}")
    all
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** DuckDB SQL per verified query. */
  val oracleSql: Map[String, String] =
    declared.flatMap(q => q.role.sql.map(q.name -> _)).toMap

  /** Timing faces without an oracle: [[Bench]] times them, [[Verify]] skips
    * them (see [[Role.BenchOnly]]).
    */
  val benchOnly: Set[String] =
    declared.collect { case Query(name, _, Role.BenchOnly(_)) => name }.toSet

  /** The queries [[Bench]] times. */
  val timed: Set[String] = declared.filter(_.role.timed).map(_.name).toSet

  /** `names` as a set, once each one is a query. An unknown name fails here,
    * listing every unknown one, so a misspelt filter cannot quietly shrink a
    * run.
    */
  def select(names: Iterable[String]): Set[String] = {
    val unknown = names.filterNot(queries.contains).toSeq.distinct.sorted
    require(unknown.isEmpty, s"not a query name: ${unknown.mkString(", ")}")
    names.toSet
  }
}
