package graft.load

import java.sql.{Connection, DriverManager}
import java.util.Properties

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.{StringType, StructType}

/** Postgres COPY-parity bulk sink (SURVEY.md §2.1 S11).
  *
  * The reference's single biggest hand-rolled optimization is streaming CSV
  * through `COPY ... FROM STDIN` instead of row INSERTs ("WAY faster", ref
  * lib04_Update_Table_Data.py:417-434, lib03:255-264). Here one row writer
  * streams rows through one COPY per connection, rendered in Postgres TEXT
  * format with the reference's `null=''` contract (empty string ⇔ NULL,
  * SURVEY §1.4-4; ref lib04:432-434). The same writer runs in two places: on
  * the driver, over one connection, for a frame whose rows are already in
  * driver memory; and inside `foreachPartition`, one connection per
  * partition, for a distributed frame. [[JdbcSink.append]] is the one
  * append verb: it creates the table when missing and picks the face.
  *
  * pgjdbc is not a compile-time dependency — the `CopyManager` is reached by
  * reflection from the live connection, so this compiles and tests against
  * any JDBC driver and lights up only when the runtime driver is Postgres.
  * Non-Postgres connections (and reflection failure) fall back to batched
  * prepared INSERTs on the same connection — same rows, same nulls.
  *
  * Scale note: `maxWriters` bounds connection fan-out exactly like
  * [[JdbcSink.append]] — a thousand executors each COPYing is a database
  * outage, not a fast load.
  */
object CopySink {

  // ------------------------------------------------------------- rendering

  /** Escape one value for COPY TEXT format: backslash, tab, newline and
    * carriage return must be escaped or they terminate the field/row.
    */
  def escapeCopyText(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Render one row as a COPY TEXT line (no trailing newline): fields tab-
    * joined; NULL renders as the empty string — the reference's `null=''`
    * contract, under which empty string and NULL are deliberately the same
    * value (SURVEY §1.4-4). Binary renders as bytea hex (`\x…`, backslash
    * escaped per TEXT rules); numbers/booleans/dates/timestamps render in
    * their Postgres-accepted toString forms.
    */
  def renderCopyRow(values: Seq[Any]): String =
    values.map {
      case null           => ""
      case s: String      => escapeCopyText(s)
      case b: Array[Byte] => "\\\\x" + b.map("%02x".format(_)).mkString
      case other          => escapeCopyText(other.toString)
    }.mkString("\t")

  /** Types renderCopyRow can serialize faithfully (the reference's data
    * model is all-VARCHAR; the rest are the common envelope types). Array/
    * map/struct columns must go through `df.write.jdbc` instead — refusing
    * up front beats corrupting a warehouse with `WrappedArray(...)` strings.
    */
  def checkCopyableSchema(schema: StructType): Unit = {
    import org.apache.spark.sql.types._
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType | BooleanType | ByteType | ShortType | IntegerType |
            LongType | FloatType | DoubleType | DateType | TimestampType |
            BinaryType | _: DecimalType => ()
        case dt => throw new IllegalArgumentException(
          s"CopySink cannot render column '${f.name}' of type ${dt.simpleString}; " +
            "use df.write.jdbc for nested/array columns")
      }
    }
  }

  /** Quote one column identifier case-PRESERVED (Spark's jdbc writer and
    * DdlManager both create quoted columns, so the COPY column list must
    * match the DataFrame's case exactly, not a lowercased copy).
    */
  private def qcol(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""

  /** The table reference, passed through verbatim so name resolution matches
    * `df.write.jdbc`'s raw interpolation: plain (optionally schema-qualified)
    * names stay unquoted (Postgres folds them exactly as it did at CREATE),
    * pre-quoted names stay quoted. Anything else is refused.
    */
  private[load] def tableRef(table: String): String = {
    val ok = table.matches("[A-Za-z0-9_.]+") || table.matches("\"([^\"]|\"\")*\"")
    require(ok, s"unsafe table name for COPY: $table")
    table
  }

  /** The COPY statement a partition streams into. */
  def copySql(table: String, columns: Seq[String]): String = {
    val cols = columns.map(qcol).mkString(", ")
    s"COPY ${tableRef(table)} ($cols) FROM STDIN WITH (FORMAT text, NULL '')"
  }

  /** Adapt an iterator of rendered lines into the Reader COPY consumes —
    * rows stream through a line-sized buffer, never materializing the
    * partition.
    */
  final class LinesReader(lines: Iterator[String]) extends java.io.Reader {
    private var cur: String = ""
    private var pos: Int = 0
    override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
      while (pos >= cur.length) {
        if (!lines.hasNext) return -1
        cur = lines.next() + "\n"
        pos = 0
      }
      val n = math.min(len, cur.length - pos)
      cur.getChars(pos, pos + n, cbuf, off)
      pos += n
      n
    }
    override def close(): Unit = ()
  }

  // --------------------------------------------------------------- writing

  /** True when this connection can be unwrapped to a Postgres connection
    * with a CopyManager (pgjdbc on the runtime classpath).
    */
  def copyCapable(conn: Connection): Boolean =
    try {
      val pg = Class.forName("org.postgresql.PGConnection")
      conn.isWrapperFor(pg.asInstanceOf[Class[java.sql.Connection]])
    } catch { case _: ClassNotFoundException | _: java.sql.SQLException => false }

  /** Stream the rows through one COPY via the reflected CopyManager. */
  private def copyPartition(
      conn: Connection, table: String, columns: Seq[String],
      rows: Iterator[Seq[Any]]): Unit = {
    val pgClass = Class.forName("org.postgresql.PGConnection")
    val pg = conn.unwrap(pgClass.asInstanceOf[Class[java.sql.Connection]])
    val copyManager = pgClass.getMethod("getCopyAPI").invoke(pg)
    val copyIn = copyManager.getClass
      .getMethod("copyIn", classOf[String], classOf[java.io.Reader])
    copyIn.setAccessible(true)
    copyIn.invoke(copyManager, copySql(table, columns),
      new LinesReader(rows.map(renderCopyRow)))
  }

  /** Batched prepared-INSERT fallback for non-Postgres drivers: same rows,
    * same null semantics (empty string stays distinct only if the target
    * engine distinguishes it — Postgres parity is the COPY path's job).
    * NULLs bind with the column's JDBC type from [[nullTypes]].
    */
  private def insertPartition(
      conn: Connection, table: String, columns: Seq[String], nullTypes: Array[Int],
      rows: Iterator[Seq[Any]], batchSize: Int): Unit = {
    val sql = s"INSERT INTO ${tableRef(table)} (${columns.map(qcol).mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")})"
    val st = conn.prepareStatement(sql)
    try {
      var inBatch = 0
      rows.foreach { vals =>
        var i = 0
        while (i < vals.length) {
          vals(i) match {
            case null      => st.setNull(i + 1, nullTypes(i))
            case s: String => st.setString(i + 1, s)
            case other     => st.setObject(i + 1, other)
          }
          i += 1
        }
        st.addBatch()
        inBatch += 1
        if (inBatch >= batchSize) { st.executeBatch(); inBatch = 0 }
      }
      if (inBatch > 0) st.executeBatch()
    } finally st.close()
  }

  /** The JDBC NULL type of each column: the one Spark's jdbc writer binds,
    * except VARCHAR for strings. Derby's dialect binds a NULL string as
    * CLOB, which Derby refuses for the VARCHAR(n) columns that
    * `createTableColumnTypes` plans.
    */
  private def nullTypes(schema: StructType, url: String): Array[Int] = {
    val dialect = JdbcDialects.get(url)
    schema.fields.map(_.dataType match {
      case StringType => java.sql.Types.VARCHAR
      case dt => JdbcUtils.getJdbcType(dt, dialect).jdbcNullType
    })
  }

  /** The row writer: COPY when `conn` is Postgres, batched INSERTs
    * otherwise, in one transaction on `conn`. It is the only writer; it runs
    * on the driver for a driver-resident frame and inside `foreachPartition`
    * for a distributed one.
    */
  private def writeRows(
      conn: Connection, table: String, columns: Seq[String], nullTypes: Array[Int],
      rows: Iterator[Seq[Any]], batchSize: Int): Unit = {
    conn.setAutoCommit(false)
    try {
      if (copyCapable(conn)) copyPartition(conn, table, columns, rows)
      else insertPartition(conn, table, columns, nullTypes, rows, batchSize)
      conn.commit()
    } catch {
      case NonFatal(e) =>
        try conn.rollback() catch { case NonFatal(r) => e.addSuppressed(r) }
        throw e
    }
  }

  /** Append a driver-resident frame (`df.isLocal`) over `conn`: its rows are
    * already in driver memory, so they go straight to [[writeRows]] with no
    * Spark job. `columns` names the target columns in frame order (the
    * frame's own names unless the caller resolved them against the table).
    */
  private[load] def appendLocal(
      conn: Connection, df: DataFrame, url: String, table: String,
      columns: Seq[String], batchSize: Int): Unit = {
    checkCopyableSchema(df.schema)
    tableRef(table)
    val rows = df.collect()
    if (rows.nonEmpty)
      writeRows(conn, table, columns, nullTypes(df.schema, url),
        rows.iterator.map(_.toSeq), batchSize)
  }

  /** Append a distributed frame per partition, each partition over its own
    * connection, into `columns` (the target names in frame order).
    */
  private[load] def appendPartitions(
      df: DataFrame, url: String, table: String, props: Properties,
      columns: Seq[String], batchSize: Int, maxWriters: Int): Unit = {
    checkCopyableSchema(df.schema)
    tableRef(table) // fail on the driver, not per-partition
    val nulls = nullTypes(df.schema, url)
    // repartition, NOT coalesce: coalesce folds the UPSTREAM stages into
    // maxWriters tasks too, so an expensive lineage (shingling, feature
    // math) would compute on 8 cores of a 64-core cluster before writing.
    // The extra shuffle buys full upstream parallelism; only the write
    // fan-out is bounded.
    val bounded =
      if (df.rdd.getNumPartitions > maxWriters) df.repartition(maxWriters) else df
    // Properties is not serializable-friendly across closures; flatten
    val propPairs = {
      val it = props.stringPropertyNames().iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val k = it.next(); b += k -> props.getProperty(k) }
      b.result()
    }
    // the closure must capture only these locals: a local def here would
    // drag the (non-serializable) CopySink module into the task
    bounded.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val p = new Properties()
        propPairs.foreach { case (k, v) => p.setProperty(k, v) }
        val conn = DriverManager.getConnection(url, p)
        try writeRows(conn, table, columns, nulls, rows.map(_.toSeq), batchSize)
        finally conn.close()
      }
    }
  }
}
