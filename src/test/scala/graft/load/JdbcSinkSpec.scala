package graft.load

import java.util.Properties

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** JDBC sink/source round-trip against embedded Derby (in Spark's jars) —
  * exercises S10/S12 and the drop-and-reload idempotence unit for real, not
  * as SQL strings.
  */
class JdbcSinkSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  // Derby folds unquoted idents to upper case; Spark's writer quotes them,
  // so raw SQL in the sink helpers must quote too.
  private val col = "\"surveyid\""

  test("append + read back + slice count + reload idempotence") {
    val t = "graft_load_test"
    val df1 = Seq(("511", "a", 1L), ("511", "b", 2L), ("522", "c", 3L))
      .toDF("surveyid", "name", "v")
    val widths = JdbcSink.columnTypesClause(Seq(
      DdlManager.ColumnDef("surveyid", 8), DdlManager.ColumnDef("name", 32)))
    JdbcSink.append(df1, url, t, props, columnTypes = Some(widths))
    assert(JdbcSink.sliceRowCount(url, t, "511", props, col) == 2L)

    // read back through the jdbc source (S10)
    val back = spark.read.jdbc(url, t, props)
    assert(back.count() == 3)
    assert(back.columns.map(_.toLowerCase).sorted.toSeq == Seq("name", "surveyid", "v"))

    // drop-and-reload survey 511 with different rows: no duplication
    val df2 = Seq(("511", "a2", 10L)).toDF("surveyid", "name", "v")
    JdbcSink.reloadSurveySlice(df2, url, t, "511", props, col)
    val after = spark.read.jdbc(url, t, props)
    assert(after.count() == 2) // 1 × 511 + 1 × 522
    assert(JdbcSink.sliceRowCount(url, t, "511", props, col) == 1L)
  }

  test("overwrite replaces the table (survey-listing cache semantics)") {
    val t = "graft_cache_test"
    JdbcSink.append(Seq(("1", "x")).toDF("surveyid", "name"), url, t, props)
    JdbcSink.overwrite(Seq(("2", "y"), ("3", "z")).toDF("surveyid", "name"), url, t, props)
    assert(spark.read.jdbc(url, t, props).count() == 2)
  }

  test("JdbcSink.read round-trips through the jdbc source (S10)") {
    val t = "graft_read_test"
    val widths = JdbcSink.columnTypesClause(Seq(
      DdlManager.ColumnDef("surveyid", 8), DdlManager.ColumnDef("name", 32)))
    JdbcSink.append(Seq(("611", "r1"), ("622", "r2")).toDF("surveyid", "name"),
      url, t, props, columnTypes = Some(widths))
    val back = JdbcSink.read(spark, url, t, props)
    assert(back.count() == 2)
    assert(back.filter(back("surveyid") === "611").count() == 1)
  }

  test("slice helpers reject injection-shaped identifiers") {
    intercept[IllegalArgumentException] {
      JdbcSink.sliceRowCount(url, "t; DROP TABLE x", "511", props)
    }
    intercept[IllegalArgumentException] {
      JdbcSink.sliceRowCount(url, "t", "511", props, "\"a\" = '' OR \"b\"")
    }
  }

  // ------------------------------------------------------------- COPY sink

  test("COPY TEXT rendering: null='' contract, control chars escaped") {
    // the reference loads with COPY ... null='' (lib04:432-434): NULL and
    // empty string both render as the empty field
    assert(CopySink.renderCopyRow(Seq("a", null, "", "b")) == "a\t\t\tb")
    // backslash/tab/newline/CR must not terminate fields or rows
    assert(CopySink.escapeCopyText("a\tb") == "a\\tb")
    assert(CopySink.escapeCopyText("a\nb\rc") == "a\\nb\\rc")
    assert(CopySink.escapeCopyText("c:\\path") == "c:\\\\path")
    assert(CopySink.renderCopyRow(Seq("x\ty", null, "z")) == "x\\ty\t\tz")
  }

  test("COPY statement: plain/qualified tables pass through, columns quoted case-preserved") {
    // plain + qualified names stay unquoted so resolution matches the jdbc
    // writer's raw interpolation; columns match the DataFrame case exactly
    assert(CopySink.copySql("rec01", Seq("caseid", "v010")) ==
      "COPY rec01 (\"caseid\", \"v010\") FROM STDIN WITH (FORMAT text, NULL '')")
    assert(CopySink.copySql("public.rec01", Seq("SurveyId")) ==
      "COPY public.rec01 (\"SurveyId\") FROM STDIN WITH (FORMAT text, NULL '')")
    assert(CopySink.copySql("\"Mixed Case\"", Seq("a")).startsWith("COPY \"Mixed Case\""))
    intercept[IllegalArgumentException] { CopySink.copySql("t; DROP TABLE x", Seq("a")) }
  }

  test("COPY rendering: binary as bytea hex; nested types refused up front") {
    assert(CopySink.renderCopyRow(Seq(Array[Byte](0x0a, 0x41, -1))) == "\\\\x0a41ff")
    intercept[IllegalArgumentException] {
      CopySink.checkCopyableSchema(StructType(Seq(
        StructField("ok", StringType), StructField("bad", ArrayType(LongType)))))
    }
    CopySink.checkCopyableSchema(StructType(Seq(
      StructField("s", StringType), StructField("b", BinaryType),
      StructField("t", TimestampType), StructField("d", DecimalType(10, 2)))))
  }

  test("LinesReader streams rendered rows exactly as COPY would consume them") {
    val rows = Iterator(Seq("511", "a b", null), Seq("522", "c\td", "x"))
      .map(CopySink.renderCopyRow)
    val r = new CopySink.LinesReader(rows)
    val sb = new StringBuilder
    val buf = new Array[Char](7) // deliberately tiny to hit buffer boundaries
    var n = r.read(buf, 0, buf.length)
    while (n >= 0) { sb.appendAll(buf, 0, n); n = r.read(buf, 0, buf.length) }
    assert(sb.toString == "511\ta b\t\n522\tc\\td\tx\n")
  }

  test("COPY byte stream: golden-file exact from real DataFrame partitions (VERDICT r6 #6)") {
    // The full protocol surface a Postgres server would receive, driven
    // from REAL DataFrame partitions through Row.toSeq → renderCopyRow →
    // LinesReader, UTF-8 encoded, byte-compared against a committed golden
    // file. Covers: tab/newline/CR/backslash escaping, the null='' contract
    // (NULL and empty string both render ""), bytea hex with TEXT-escaped
    // backslash, unicode multibyte, boolean/long/decimal rendering, and the
    // two-partition split (each partition is its own COPY stream; their
    // ordered concatenation is the golden).
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("n", LongType),
      StructField("t", StringType), StructField("b", BinaryType),
      StructField("f", BooleanType), StructField("d", DecimalType(10, 2))))
    val rows = Seq(
      Row("plain", 1L, null, Array[Byte](0, 127, -1), true, new java.math.BigDecimal("12.30")),
      Row("tab\there", 2L, "", Array[Byte](), false, null),
      Row("line\nbreak", 3L, "ünïcødé", Array[Byte](0xde.toByte, 0xad.toByte), null,
        new java.math.BigDecimal("-0.01")),
      Row(null, null, "back\\slash\rCR", null, true, new java.math.BigDecimal("999.99")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema) // slices keep order
    val streams = df.rdd.mapPartitionsWithIndex { (idx, it) =>
      val r = new CopySink.LinesReader(it.map(row => CopySink.renderCopyRow(row.toSeq)))
      val sb = new StringBuilder
      val buf = new Array[Char](7) // tiny buffer: cross line boundaries
      var n = r.read(buf, 0, buf.length)
      while (n >= 0) { sb.appendAll(buf, 0, n); n = r.read(buf, 0, buf.length) }
      Iterator((idx, sb.toString))
    }.collect().sortBy(_._1)
    assert(streams.length == 2 && streams.forall(_._2.nonEmpty),
      "expected two non-empty partition streams")
    val got = streams.map(_._2).mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val golden = {
      val in = getClass.getResourceAsStream("/copy_stream_golden.bin")
      try in.readAllBytes() finally in.close()
    }
    assert(java.util.Arrays.equals(got, golden),
      s"COPY stream drifted from golden:\n---got---\n${new String(got, "UTF-8")}" +
        s"\n---golden---\n${new String(golden, "UTF-8")}")
    // the statement those bytes stream into, pinned alongside
    assert(CopySink.copySql("warehouse.t", Seq("s", "n")) ==
      """COPY warehouse.t ("s", "n") FROM STDIN WITH (FORMAT text, NULL '')""")
    // timestamp/date rendering is TZ-stable (local-field toString)
    assert(CopySink.renderCopyRow(Seq(
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678"),
      java.sql.Date.valueOf("2024-01-02"), 3.5d, 42, null)) ==
      "2024-01-02 03:04:05.678\t2024-01-02\t3.5\t42\t")
  }

  private val nullableSchema = StructType(Seq(
    StructField("surveyid", StringType), StructField("name", StringType),
    StructField("n", LongType), StructField("k", IntegerType)))
  private val nullableRows = Seq(
    Row("811", "a", 1L, 10), Row("811", null, 2L, null),
    Row("822", "c", null, 30), Row(null, null, null, null))
  private val nullableWidths = JdbcSink.columnTypesClause(Seq(
    DdlManager.ColumnDef("surveyid", 8), DdlManager.ColumnDef("name", 32)))

  test("CopySink falls back to batched INSERTs on a non-Postgres connection") {
    val t = "graft_copy_fallback"
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      // quoted lowercase columns — the shape Spark's jdbc writer / DdlManager
      // create, which the sink's case-preserved quoting must match
      try st.executeUpdate(s"""CREATE TABLE $t ("surveyid" VARCHAR(8), "name" VARCHAR(32), """ +
        """"n" BIGINT, "k" INTEGER)""")
      finally st.close()
      assert(!CopySink.copyCapable(conn)) // Derby, no pgjdbc on classpath
    } finally conn.close()
    // a frame made from a local list is driver-resident (written on the
    // driver); the parallelize input is distributed (written per partition,
    // the path whose task closure must serialize). Same rows, NULLs in the
    // VARCHAR, BIGINT and INTEGER columns: each must land once per path.
    val local = spark.createDataFrame(nullableRows.asJava, nullableSchema)
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(nullableRows, 2), nullableSchema)
    assert(local.isLocal && !distributed.isLocal)
    CopySink.append(local, url, t, props, batchSize = 2)
    CopySink.append(distributed, url, t, props, batchSize = 2)
    val back = spark.read.jdbc(url, t, props).collect().toSeq.map(_.toSeq)
    assert(back.groupBy(identity).map { case (r, copies) => r -> copies.size } ==
      nullableRows.map(r => r.toSeq -> 2).toMap)
  }

  // ----------------------------------------------- driver-resident appends

  /** Spark jobs this thread starts while `body` runs. A fence job closes
    * the window: the listener bus delivers events in order, so once the
    * fence's JobEnd has arrived every earlier JobStart has too.
    */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jdbcsink-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val fenceEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var fenceId = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "fence") fenceId = e.jobId
          else started.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceId) fenceEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobDescription("fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenceEnded.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never ended")
      started.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** (TYPE_NAME, COLUMN_SIZE) per lowercased column, from DatabaseMetaData. */
  private def columnTypes(table: String): Map[String, (String, Int)] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getColumns(null, null, table.toUpperCase, null)
      val b = Map.newBuilder[String, (String, Int)]
      while (rs.next())
        b += rs.getString("COLUMN_NAME").toLowerCase -> (rs.getString("TYPE_NAME") -> rs.getInt("COLUMN_SIZE"))
      b.result()
    } finally conn.close()
  }

  test("a driver-resident append runs no Spark job and creates the planned VARCHAR widths") {
    val t = "graft_local_append"
    val df = spark.createDataFrame(nullableRows.asJava, nullableSchema)
    assert(df.isLocal)
    val jobs = jobsRunBy(JdbcSink.append(df, url, t, props, columnTypes = Some(nullableWidths)))
    assert(jobs == 0, s"driver-resident append ran $jobs Spark jobs")
    // created the way Spark's writer creates it: createTableColumnTypes
    // widths, not Derby's CLOB default for strings
    val types = columnTypes(t)
    assert(types("surveyid") == ("VARCHAR" -> 8))
    assert(types("name") == ("VARCHAR" -> 32))
    assert(types("n")._1 == "BIGINT" && types("k")._1 == "INTEGER")
    // a second append finds the table and only inserts
    assert(jobsRunBy(JdbcSink.append(df, url, t, props, columnTypes = Some(nullableWidths))) == 0)
    assert(spark.read.jdbc(url, t, props).count() == 2L * nullableRows.size)
    // without planned widths strings get the dialect's CLOB; NULLs land too
    JdbcSink.append(df, url, t + "_clob", props)
    assert(columnTypes(t + "_clob")("name")._1 == "CLOB")
    assert(spark.read.jdbc(url, t + "_clob", props).filter("name IS NULL").count() == 2)
  }

  test("an append matches an existing table's columns as the writer does") {
    // unquoted DDL: Derby folds the columns to upper case, the frame's are lower
    val t = "graft_local_existing"
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE $t (surveyid VARCHAR(8), name VARCHAR(32), n BIGINT, k INTEGER)")
      finally st.close()
    } finally conn.close()
    val df = spark.createDataFrame(nullableRows.asJava, nullableSchema)
    assert(jobsRunBy(JdbcSink.append(df, url, t, props)) == 0)
    // a distributed frame lands in the same resolved upper-case columns
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(nullableRows, 2), nullableSchema)
    assert(jobsRunBy(JdbcSink.append(distributed, url, t, props)) == 1)
    val back = spark.read.jdbc(url, t, props).collect().toSeq.map(_.toSeq)
    assert(back.groupBy(identity).map { case (r, copies) => r -> copies.size } ==
      nullableRows.map(r => r.toSeq -> 2).toMap)
    val extra = spark.createDataFrame(java.util.List.of(Row("x")),
      StructType(Seq(StructField("absent", StringType))))
    intercept[IllegalArgumentException](JdbcSink.append(extra, url, t, props))
  }

  // the NULL name: Spark's own jdbc writer binds a NULL string as CLOB on
  // Derby, which Derby refuses for a VARCHAR(n) column
  private val writerRows = Seq(
    Row("811", "a", 1L, 10), Row("811", "b", 2L, null),
    Row("822", "c", null, 30), Row("833", "d", null, null),
    Row("844", null, 4L, 40))

  test("a distributed frame appends per partition in one Spark job") {
    val t = "graft_distributed_append"
    val df = spark.createDataFrame(spark.sparkContext.parallelize(writerRows, 2), nullableSchema)
    assert(!df.isLocal)
    val jobs = jobsRunBy(JdbcSink.append(df, url, t, props, columnTypes = Some(nullableWidths)))
    assert(jobs == 1, s"a distributed append ran $jobs Spark jobs")
    assert(columnTypes(t)("surveyid") == ("VARCHAR" -> 8))
    assert(columnTypes(t)("name") == ("VARCHAR" -> 32))
    assert(spark.read.jdbc(url, t, props).collect().map(_.toSeq).toSet ==
      writerRows.map(_.toSeq).toSet)
  }

  test("driver-resident and distributed appends to one table read back identical rows") {
    val t = "graft_mixed_append"
    val withSide = StructType(StructField("side", StringType) +: nullableSchema.fields)
    def tagged(side: String) = writerRows.map(r => Row.fromSeq(side +: r.toSeq))
    val local = spark.createDataFrame(tagged("local").asJava, withSide)
    val distributed = spark.createDataFrame(
      spark.sparkContext.parallelize(tagged("dist"), 2), withSide)
    val widths = Some("side VARCHAR(8), " + nullableWidths)
    JdbcSink.append(local, url, t, props, columnTypes = widths)   // creates, no job
    JdbcSink.append(distributed, url, t, props, columnTypes = widths) // per partition
    val back = spark.read.jdbc(url, t, props)
    def side(s: String): Seq[Seq[Any]] =
      back.filter(back("side") === s).drop("side").collect().toSeq.map(_.toSeq)
        .sortBy(_.mkString("|"))
    assert(side("local") == side("dist"))
    assert(side("local").toSet == writerRows.map(_.toSeq).toSet)
  }
}
