package graft.load

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JDBC schema-evolution planner: the reference's stage-04 DDL generation
  * (create table / add column / widen column / create indexes / delete
  * survey slice) re-expressed as a pure planner that returns SQL, with
  * execution as a separate driver-side step.
  *
  * Reference behavior mirrored (SURVEY.md §2.1-S14, §1.3):
  *  - create: columns from the merged spec (union of columns, max width),
  *    keys first, all VARCHAR(n) (ref lib04_Update_Table_Data.py:85-121,
  *    161-200; doc/Data_Format.md:212-222);
  *  - wide/country-specific tables: key columns + one jsonb `data` column
  *    (ref lib04:140-152,188-200);
  *  - evolve: ADD missing columns, widen VARCHAR when a new survey declares
  *    a longer Len (ref lib04:274-383);
  *  - indexes: per-key B-tree + covering(all keys) + covering(keys minus
  *    last) (ref lib04:203-271);
  *  - idempotent reload: delete the survey slice then append
  *    (ref lib04:509-541).
  *
  * Everything is dry-run by default — [[DdlPlan]] is a list of statements the
  * caller can print (the reference's dry_run mode, lib04:26-36) or execute.
  * DDL must run on the driver BEFORE any executor starts writing partitions:
  * schema evolution under concurrent partition writes is a race, so the plan/
  * execute split is load-bearing, not cosmetic.
  */
object DdlManager {

  /** One planned column: lowercased name and VARCHAR width. */
  case class ColumnDef(name: String, width: Int)

  /** An ordered list of SQL statements; `describe` renders the dry-run. */
  case class DdlPlan(statements: Seq[String]) {
    def describe: String = statements.mkString(";\n")
    def ++(other: DdlPlan): DdlPlan = DdlPlan(statements ++ other.statements)
  }
  val EmptyPlan: DdlPlan = DdlPlan(Nil)

  /** Quote an identifier, escaping embedded quotes — identifiers originate
    * from DCF item names (external survey files), so a stray '"' must not
    * break out of the quoted identifier in generated DDL.
    */
  private[load] def q(ident: String): String =
    "\"" + ident.toLowerCase.replace("\"", "\"\"") + "\""

  /** Quote a possibly schema-qualified table name: `analytics.rech0` →
    * `"analytics"."rech0"`. The data sinks (JdbcSink/CopySink) pass dotted
    * names through to the driver as qualification, so DDL must quote each
    * part — quoting the whole string as ONE identifier would create (and
    * index) a different table than the one the load writes.
    */
  private[load] def qTable(table: String): String =
    table.split('.').map(q).mkString(".")

  /** A dotted table name flattened for use INSIDE an index identifier. */
  private[load] def indexStem(table: String): String =
    table.toLowerCase.replace('.', '_')

  // ---------------------------------------------------------------- create

  /** CREATE TABLE with keys first, then data columns; all text. A `surveyid`
    * column is always present (injected by the loader, never in the DCF).
    */
  def createTableSql(table: String, keys: Seq[ColumnDef], cols: Seq[ColumnDef]): String = {
    val keySet = keys.map(_.name.toLowerCase).toSet
    val dataCols = cols.filterNot(c => keySet.contains(c.name.toLowerCase))
    val all = (keys ++ dataCols)
      .map(c => s"${q(c.name)} VARCHAR(${c.width})")
    s"CREATE TABLE IF NOT EXISTS ${qTable(table)} (${all.mkString(", ")})"
  }

  /** CREATE TABLE for a JSON-packed (wide or country-specific) table: keys
    * stay first-class, everything else lives in one jsonb column.
    */
  def createJsonTableSql(table: String, keys: Seq[ColumnDef], dataCol: String = "data"): String = {
    val keyCols = keys.map(c => s"${q(c.name)} VARCHAR(${c.width})")
    s"CREATE TABLE IF NOT EXISTS ${qTable(table)} (${(keyCols :+ s"${q(dataCol)} JSONB").mkString(", ")})"
  }

  // ---------------------------------------------------------------- evolve

  def addColumnSql(table: String, col: ColumnDef): String =
    s"ALTER TABLE ${qTable(table)} ADD COLUMN IF NOT EXISTS ${q(col.name)} VARCHAR(${col.width})"

  def widenColumnSql(table: String, col: ColumnDef): String =
    s"ALTER TABLE ${qTable(table)} ALTER COLUMN ${q(col.name)} TYPE VARCHAR(${col.width})"

  /** Diff target schema against the current one: plan ADDs for missing
    * columns and widens where the declared width grew. Never narrows, never
    * drops (the warehouse schema is append-only, ref doc/Data_Format.md:214).
    */
  def evolvePlan(table: String, current: Map[String, Int], target: Seq[ColumnDef]): DdlPlan = {
    val cur = current.map { case (k, v) => k.toLowerCase -> v }
    DdlPlan(target.flatMap { c =>
      cur.get(c.name.toLowerCase) match {
        case None => Some(addColumnSql(table, c))
        case Some(w) if c.width > w => Some(widenColumnSql(table, c))
        case _ => None
      }
    })
  }

  // ---------------------------------------------------------------- indexes

  /** The reference's index battery over the predicted join keys: one B-tree
    * per key, a covering index on all keys, and a covering index on all keys
    * minus the last (the "parent key" access path).
    */
  def indexPlan(table: String, keys: Seq[String]): DdlPlan = {
    val ks = keys.map(_.toLowerCase)
    val perKey = ks.map(k => s"CREATE INDEX IF NOT EXISTS idx_${indexStem(table)}_$k ON ${qTable(table)} (${q(k)})")
    val covering =
      if (ks.size > 1)
        Seq(s"CREATE INDEX IF NOT EXISTS idx_${indexStem(table)}_all ON ${qTable(table)} (${ks.map(q).mkString(", ")})") ++
          (if (ks.size > 2)
            Seq(s"CREATE INDEX IF NOT EXISTS idx_${indexStem(table)}_parent ON ${qTable(table)} (${ks.init.map(q).mkString(", ")})")
          else Nil)
      else Nil
    DdlPlan(perKey ++ covering)
  }

  /** Drop the battery [[indexPlan]] creates (the DROP INDEX half of the
    * reference's DDL sink, SURVEY.md §2.1 S14). Both covering names are
    * always listed; `IF EXISTS` makes the ones a short key list never
    * created harmless.
    */
  def dropIndexPlan(table: String, keys: Seq[String]): DdlPlan = {
    val ks = keys.map(_.toLowerCase)
    val names = ks.map(k => s"idx_${indexStem(table)}_$k") ++
      Seq(s"idx_${indexStem(table)}_all", s"idx_${indexStem(table)}_parent")
    DdlPlan(names.map(n => s"DROP INDEX IF EXISTS $n"))
  }

  // ------------------------------------------------------------- idempotence

  /** Drop-and-reload at survey granularity: the reference's idempotence unit
    * (delete the slice, then append fresh rows).
    */
  def deleteSurveySliceSql(table: String, surveyId: String): String =
    s"DELETE FROM ${qTable(table)} WHERE ${q("surveyid")} = '${surveyId.replace("'", "''")}'"

  // ---------------------------------------------------------------- planning

  /** Full prepare plan for one record-type table from its merged column spec
    * (the output shape of SpecCatalog.mergeColumns: name + len, keys
    * detected by the reference heuristic).
    */
  def prepareTablePlan(
      table: String,
      mergedCols: Seq[ColumnDef],
      countrySpecific: Boolean = false,
      surveyIdWidth: Int = 8): DdlPlan = {
    val withSurvey =
      if (mergedCols.exists(_.name.equalsIgnoreCase("surveyid"))) mergedCols
      else ColumnDef("surveyid", surveyIdWidth) +: mergedCols
    val keys = withSurvey.filter(c => JsonPack.isKeyColumn(c.name))
    val create =
      if (JsonPack.shouldPack(withSurvey.size, countrySpecific))
        createJsonTableSql(table, keys)
      else
        createTableSql(table, keys, withSurvey)
    DdlPlan(Seq(create)) ++ indexPlan(table, keys.map(_.name))
  }

  /** Observed widths of a spec DataFrame's (name, len) rows → ColumnDefs,
    * driver-collected (spec tables are small by construction).
    */
  def columnDefs(merged: DataFrame, nameCol: String = "name", lenCol: String = "len"): Seq[ColumnDef] =
    merged.select(lower(col(nameCol)).cast("string"), col(lenCol).cast("int"))
      .collect().map(r => ColumnDef(r.getString(0), r.getInt(1))).toSeq

  // ---------------------------------------------------------------- execute

  /** Execute a plan over plain JDBC on the driver, serializing all DDL before
    * any executor write begins. Returns per-statement results.
    */
  def execute(plan: DdlPlan, url: String, props: java.util.Properties): Seq[Int] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try plan.statements.map(st.executeUpdate)
      finally st.close()
    } finally conn.close()
  }
}
