package graft.load

import java.sql.Connection
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.jdbc.JdbcDialects

/** JDBC data sink: the reference's load path (COPY/INSERT append, survey-
  * slice idempotence, SURVEY.md §2.1 S10-S13).
  *
  * - Every append runs the create-if-missing step on the driver first,
  *   with the calls Spark's writer makes (`JdbcUtils.tableExists`, then
  *   `JdbcUtils.createTable` with `createTableColumnTypes`), and resolves
  *   the target columns the way the writer does.
  * - The rows then go through [[CopySink]]'s row writer: COPY on Postgres
  *   (the reference's "WAY faster" load, lib04:417-434), batched INSERTs
  *   elsewhere. Driver-resident rows (`df.isLocal`: a frame made by
  *   `createDataFrame` from a local list, such as the DCF parser's spec and
  *   value rows) are written on the driver over one connection and never
  *   become a Spark job, which for a few hundred rows would cost four tasks,
  *   four connections and 110-190 ms. Any other frame is written per
  *   partition, each over its own connection, in one job.
  * - `maxWriters` caps writer concurrency: a thousand executors opening a
  *   thousand connections is a DB outage, not a fast load.
  * - Idempotent per-survey reload = driver-side DELETE of the slice, then
  *   append (ref lib04:509-541) — DDL/DML on the driver strictly before
  *   executor writes (same serialization rule as DdlManager).
  */
object JdbcSink {

  /** Append a frame, creating the table when it is missing.
    *
    * One driver connection checks for the table, creates it the way Spark's
    * writer would, and resolves the target columns. A driver-resident frame
    * (`df.isLocal`) is then inserted over that connection in one
    * transaction and runs no Spark job: this is the catalog path — the
    * parsed spec and value rows of every file. Any other frame is written
    * per partition into the resolved columns ([[CopySink]]), so a NULL
    * string binds as VARCHAR on every path.
    *
    * `columnTypes` feeds Spark's `createTableColumnTypes`: pass the
    * DdlManager-planned VARCHAR widths so a created table gets real
    * VARCHAR(n) columns, not the dialect's unbounded default (Derby maps
    * StringType to CLOB, which is not even comparable in a WHERE).
    */
  def append(
      df: DataFrame, url: String, table: String, props: Properties,
      batchSize: Int = 10000, maxWriters: Int = 8,
      columnTypes: Option[String] = None): Unit = {
    val local = df.isLocal
    val options = writeOptions(url, table, props, columnTypes)
    val conn = JdbcDialects.get(url).createConnectionFactory(options)(-1)
    val columns =
      try {
        val columns = createIfMissing(conn, df, options)
        if (local) CopySink.appendLocal(conn, df, url, table, columns, batchSize)
        columns
      } finally conn.close()
    if (!local) CopySink.appendPartitions(df, url, table, props, columns, batchSize, maxWriters)
  }

  /** The writer options `df.write.jdbc(url, table, props)` would build. */
  private def writeOptions(
      url: String, table: String, props: Properties,
      columnTypes: Option[String]): JdbcOptionsInWrite = {
    val params = props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k)).toMap
    new JdbcOptionsInWrite(url, table,
      params ++ columnTypes.map(JDBCOptions.JDBC_CREATE_TABLE_COLUMN_TYPES -> _))
  }

  /** Create the table when missing, as Spark's jdbc writer does in append
    * mode, and return the target column names in frame order. For an
    * existing table they are its own names, matched to the frame's the way
    * the writer matches them (case-insensitively unless
    * `spark.sql.caseSensitive`); a new table takes the frame's names.
    */
  private def createIfMissing(
      conn: Connection, df: DataFrame, options: JdbcOptionsInWrite): Seq[String] = {
    val caseSensitive = df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    if (JdbcUtils.tableExists(conn, options)) {
      val tableColumns = JdbcUtils.getSchemaOption(conn, options).toSeq.flatMap(_.fieldNames)
      df.columns.toSeq.map { c =>
        tableColumns.find(t => if (caseSensitive) t == c else t.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"column $c not found in table ${options.table} (${tableColumns.mkString(", ")})"))
      }
    } else {
      JdbcUtils.createTable(conn, options.table, df.schema, caseSensitive, options)
      df.columns.toSeq
    }
  }

  /** Render DdlManager column defs as a `createTableColumnTypes` clause. */
  def columnTypesClause(defs: Seq[DdlManager.ColumnDef]): String =
    defs.map(c => s"${c.name} VARCHAR(${c.width})").mkString(", ")

  /** Replace the whole table (survey-listing cache semantics, S13). */
  def overwrite(df: DataFrame, url: String, table: String, props: Properties): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** Read back (S10): pushdown-capable jdbc source. Filters/pruning applied
    * on the returned frame reach the database as WHERE/SELECT via Spark's
    * JDBC relation (`PushedFilters` in explain).
    */
  def read(spark: org.apache.spark.sql.SparkSession, url: String, table: String,
      props: Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Reject identifiers that cannot be safely interpolated into SQL text.
    * Table/column names here come from external survey files, so anything
    * beyond word characters and dots (schema qualification) is refused
    * rather than quoted — quoting would silently change case resolution for
    * every existing unquoted table.
    */
  private def safeIdent(ident: String): String = {
    val ok = ident.matches("[A-Za-z0-9_.]+") || // plain, optionally qualified
      ident.matches("\"([^\"]|\"\")*\"")        // pre-quoted, quotes doubled
    require(ok, s"unsafe SQL identifier: $ident")
    ident
  }

  /** Delete one survey's slice on the driver, then append its fresh rows —
    * the reference's drop-and-reload idempotence unit.
    */
  def reloadSurveySlice(
      df: DataFrame, url: String, table: String, surveyId: String,
      props: Properties, surveyCol: String = "surveyid"): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.prepareStatement(
        s"DELETE FROM ${safeIdent(table)} WHERE ${safeIdent(surveyCol)} = ?")
      try { st.setString(1, surveyId); st.executeUpdate() } finally st.close()
    } finally conn.close()
    append(df, url, table, props)
  }

  /** Row count of a survey slice (the reference's load/skip probe,
    * ref lib04:517-524).
    */
  def sliceRowCount(
      url: String, table: String, surveyId: String, props: Properties,
      surveyCol: String = "surveyid"): Long = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.prepareStatement(
        s"SELECT COUNT(*) FROM ${safeIdent(table)} WHERE ${safeIdent(surveyCol)} = ?")
      try {
        st.setString(1, surveyId)
        val rs = st.executeQuery()
        rs.next(); rs.getLong(1)
      } finally st.close()
    } finally conn.close()
  }
}
