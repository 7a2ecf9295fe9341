package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Metadata-catalog dataflow operators.
  *
  * These are the reference's stage-03/04 reconciliation queries re-expressed
  * as reusable DataFrame transforms (SURVEY.md §2.4, §2.3-J3, §2.5-W3):
  * schema merge (union of columns, max width), full-outer diff with
  * indicator, duplicate detection, and lexical-version top-1 selection.
  * All are plain Catalyst plans; spec tables are small, so callers should
  * `broadcast()` them when joining against data tables.
  */
object SpecCatalog {

  /** Union-of-columns schema merge: for each (record, lowercased column
    * name), the maximum declared width/start/type across all loaded surveys
    * — the warehouse schema for that record type
    * (ref: lib04_Update_Table_Data.py:161-171, doc/Data_Format.md:214-216).
    * Rows come out ordered by (recordname, start). The merged spec is small,
    * so it is sorted in one partition rather than by a global `orderBy`,
    * whose range partitioner costs a sampling job and a second exchange.
    */
  def mergeColumns(
      specs: DataFrame,
      recordCol: String = "recordName",
      nameCol: String = "name",
      lenCol: String = "len",
      startCol: String = "start"
  ): DataFrame =
    specs.groupBy(col(recordCol).as("recordname"), lower(col(nameCol)).as("name"))
      .agg(max(col(lenCol)).as("len"), max(col(startCol)).as("start"))
      .coalesce(1)
      .sortWithinPartitions(col("recordname"), col("start"))

  /** Full-outer diff with indicator, the reference's reload trigger
    * (ref: 03_DHS_Update_Metadata.ipynb:824-838): classify every key as
    * `both` / `left_only` / `right_only`. Any one-sided row means the two
    * spec sources disagree.
    */
  def diffIndicator(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame = {
    val l = left.select(on.map(col): _*).distinct().withColumn("_l", lit(1))
    val r = right.select(on.map(col): _*).distinct().withColumn("_r", lit(1))
    l.join(r, on, "full_outer")
      .withColumn("merge_status",
        when(col("_l").isNotNull && col("_r").isNotNull, "both")
          .when(col("_l").isNotNull, "left_only")
          .otherwise("right_only"))
      .drop("_l", "_r")
  }

  /** Duplicate detection: GROUP BY key HAVING count > minCount
    * (ref: 03.ipynb:1003-1006,1124-1127).
    */
  def duplicates(df: DataFrame, keys: Seq[String], minCount: Long = 1L): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > minCount)

  /** Latest version per group by LEXICAL order ("version is alphanumeric but
    * lexical comparison works", ref 03.ipynb:784-814): top-1-per-group via
    * row_number, deterministic tiebreak on the remaining columns.
    */
  def latestVersion(df: DataFrame, groupCols: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(versionCol).desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Column-width audit: observed max string length per column of a
    * DataFrame (ref lib03_Update_Metadata.py:284-287) — drives VARCHAR
    * widening when sinking to a JDBC store.
    */
  def observedWidths(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
    if (stringCols.isEmpty) df.sparkSession.emptyDataFrame
    else {
      val aggs: Seq[Column] = stringCols.map(c => max(length(col(c))).as(c))
      df.agg(aggs.head, aggs.tail: _*)
    }
  }
}
