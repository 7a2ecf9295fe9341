package perfbench

import java.io.File
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.{Reconcile, SpecCatalog}
import graft.cspro.{CharsetSniffer, DatReader, DcfParser}
import graft.load.{DdlManager, JdbcSink, JsonPack, Warehouse}
import graft.query.RelationJoins
import graft.sources.Organize
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import perfbench.DhsCorpus.{Delivery, FileDelivery}

/** A DHS landing area, spec catalog (embedded Derby) and Parquet warehouse:
  * the state one ingest or extract run works against.
  */
final class DhsStore(spark: SparkSession, val root: File, db: String, tracer: Tracer) {
  val url = s"jdbc:derby:memory:$db;create=true"
  val props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }
  val staging = new File(root, "staging")
  val wh = new File(root, "warehouse")
  // Derby folds unquoted identifiers to upper case; Spark's writer quotes
  private val SurveyCol = "\"surveyid\""

  def specTable(ft: String) = s"dhs_specs_${ft.toLowerCase}"
  def valueTable(ft: String) = s"dhs_values_${ft.toLowerCase}"
  val HouseholdTable = "rech0"

  private val specSchema = StructType(Seq("surveyid", "filetype", "version", "itemtype", "recordname",
    "recordtypevalue", "recordlabel", "name", "label").map(StructField(_, StringType)) ++
    Seq(StructField("start", IntegerType), StructField("len", IntegerType)))
  private val specTypes = "surveyid VARCHAR(8), filetype VARCHAR(4), version VARCHAR(4), " +
    "itemtype VARCHAR(24), recordname VARCHAR(16), recordtypevalue VARCHAR(8), " +
    "recordlabel VARCHAR(64), name VARCHAR(16), label VARCHAR(96)"
  private val valueSchema = StructType(Seq("surveyid", "filetype", "name", "value", "valuedesc",
    "valuetype").map(StructField(_, StringType)))
  private val valueTypes = "surveyid VARCHAR(8), filetype VARCHAR(4), name VARCHAR(16), " +
    "value VARCHAR(16), valuedesc VARCHAR(64), valuetype VARCHAR(24)"

  // counters of the load layer (driver-side bookkeeping)
  var ddlStatements = 0L
  var jdbcRows = 0L
  var datBytesScanned = 0L
  var datBytesLoaded = 0L
  private val ddlState = mutable.Map.empty[String, Map[String, Int]]
  /** (staged DAT path, parsed items) of every file whose data was loaded. */
  val loadedDats = mutable.ArrayBuffer.empty[(String, Seq[graft.model.ColumnSpec], Long)]

  private def specRows(p: DcfParser.ParseResult, sid: String, ft: String, version: String): Seq[Row] =
    p.items.map(i => Row(sid, ft, version, i.itemType, i.recordName, i.recordTypeValue,
      i.recordLabel, i.name, i.label, i.start, i.len))

  private def valueRows(p: DcfParser.ParseResult, sid: String, ft: String): Seq[Row] =
    p.values.map(v => Row(sid, ft, v.name, v.value, v.valueDesc, v.valueType))

  def specFrame(p: DcfParser.ParseResult, sid: String, ft: String, version: String): DataFrame =
    spark.createDataFrame(specRows(p, sid, ft, version).asJava, specSchema)

  def valueFrame(p: DcfParser.ParseResult, sid: String, ft: String): DataFrame =
    spark.createDataFrame(valueRows(p, sid, ft).asJava, valueSchema)

  def initCatalog(): Unit = Seq("HR", "IR").foreach { ft =>
    JdbcSink.append(spark.createDataFrame(java.util.Collections.emptyList[Row](), specSchema),
      url, specTable(ft), props, columnTypes = Some(specTypes))
    JdbcSink.append(spark.createDataFrame(java.util.Collections.emptyList[Row](), valueSchema),
      url, valueTable(ft), props, columnTypes = Some(valueTypes))
  }

  def shutdown(): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true", props)
    catch { case _: java.sql.SQLException => () } // Derby signals a drop with an exception

  private def versionsInDb(ft: String, sid: String): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.prepareStatement(
        s"""SELECT DISTINCT "version" FROM ${specTable(ft)} WHERE $SurveyCol = ?""")
      try {
        st.setString(1, sid)
        val rs = st.executeQuery()
        val b = mutable.ArrayBuffer.empty[String]
        while (rs.next()) b += rs.getString(1)
        b.toSeq
      } finally st.close()
    } finally conn.close()
  }

  private def writeSlice(df: DataFrame, table: String, sid: String, reload: Boolean,
      types: Option[String]): Unit =
    if (reload) JdbcSink.reloadSurveySlice(df, url, table, sid, props, SurveyCol)
    else JdbcSink.append(df, url, table, props, columnTypes = types)

  private def hadoopBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Stages 02-04 for one delivered survey zip, in the reference's order.
    * Returns the reconcile decision per file and the DAT lines loaded.
    */
  def loadDelivery(d: Delivery): (Seq[String], Long) = tracer.span("bench", "survey_load", d.key) {
    val staged = tracer.span("sources", "unzip") {
      Organize.unzipAndSort(d.zip, d.surveyId, staging.getPath)
    }
    val perFile = d.files.map { f =>
      val stem = s"${d.surveyId}.${f.fileCode}FL"
      val dcfPath = staged.find(_.endsWith(s"$stem.DCF")).get
      val datPath = staged.find(_.endsWith(s"$stem.DAT")).get
      val (charset, parsed) = tracer.span("cspro", "dcf_parse") {
        val cs = CharsetSniffer.detectFile(datPath)
        val text = CharsetSniffer.decode(java.nio.file.Files.readAllBytes(new File(dcfPath).toPath))
        (cs, DcfParser.parse(text, f.fileCode))
      }
      val fileSpecs = specFrame(parsed, d.surveyId, f.ft, f.version)
      val decision = tracer.span("catalog", "reconcile") {
        Reconcile.decide(versionsInDb(f.ft, d.surveyId), f.version, fileSpecs,
          JdbcSink.read(spark, url, specTable(f.ft), props).filter(col("surveyid") === d.surveyId),
          Reconcile.ColumnSpecDiffCols)
      }
      val lines = decision match {
        case _: Reconcile.Skip => 0L
        case dec =>
          val reload = dec.isInstanceOf[Reconcile.Reload]
          tracer.span("load", "jdbc_append", "spec catalog") {
            writeSlice(fileSpecs, specTable(f.ft), d.surveyId, reload, Some(specTypes))
            writeSlice(valueFrame(parsed, d.surveyId, f.ft), valueTable(f.ft), d.surveyId, reload,
              Some(valueTypes))
          }
          jdbcRows += parsed.items.size + parsed.values.size
          val merged = tracer.span("catalog", "merge") {
            val all = JdbcSink.read(spark, url, specTable(f.ft), props)
              .filter(col("itemtype") =!= "RecordDesciption")
            SpecCatalog.mergeColumns(all).collect().toSeq
              .groupBy(_.getString(0)).map { case (rec, rows) =>
                rec -> rows.map(r => DdlManager.ColumnDef(r.getString(1), r.getInt(2)))
              }
          }
          val csRecords = parsed.items.filter(_.recordLabel.startsWith("cs:")).map(_.recordName).toSet
          tracer.span("load", "ddl_plan") {
            // planned, not executed: the DDL dialect is PostgreSQL's
            merged.toSeq.sortBy(_._1).foreach { case (rec, defs) =>
              val table = rec.toLowerCase
              val plan = ddlState.get(table) match {
                case None => DdlManager.prepareTablePlan(table, defs, countrySpecific = csRecords(rec))
                case Some(cur) => DdlManager.evolvePlan(table, cur, defs)
              }
              ddlStatements += plan.statements.size
              ddlState(table) = ddlState.getOrElse(table, Map.empty) ++ defs.map(c => c.name -> c.width)
            }
          }
          val read0 = hadoopBytesRead()
          val scan = tracer.span("cspro", "read_dat") {
            DatReader.readDat(spark, datPath, parsed.items, Some(d.surveyId), Some(charset.name))
          }
          try scan.tables.toSeq.sortBy(_._1).foreach { case (rec, df) =>
            val out =
              if (JsonPack.shouldPack(df.columns.length, csRecords(rec)))
                tracer.span("load", "json_pack")(JsonPack.packAuto(df))
              else df
            tracer.span("load", "warehouse_write") {
              Warehouse.overwritePartitionsDynamic(out, new File(wh, rec).getPath, Seq("surveyid"))
            }
            if (rec == "RECH0") tracer.span("load", "jdbc_append", "household") {
              val defs = merged(rec) :+ DdlManager.ColumnDef("surveyid", 8)
              writeSlice(df, HouseholdTable, d.surveyId, reload,
                Some(JdbcSink.columnTypesClause(defs.filter(c => df.columns.contains(c.name)))))
              jdbcRows += f.rows(rec).size
            }
          } finally scan.release()
          datBytesScanned += hadoopBytesRead() - read0
          datBytesLoaded += f.datBytes
          loadedDats += ((datPath, parsed.items, f.dat.size.toLong))
          f.dat.size.toLong
      }
      (decision.getClass.getSimpleName, lines)
    }
    (perFile.map(_._1), perFile.map(_._2).sum)
  }

  /** Read a warehouse record table back across surveys (schemas merged). */
  def table(rec: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(new File(wh, rec).getPath)
      .withColumn("surveyid", col("surveyid").cast("string"))
}

/** Checks of the ingest spine, and the extraction families of the read side. */
object Dhs {

  final case class Check(name: String, ok: Boolean, detail: String)

  private def strRow(r: Row): Seq[String] =
    (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i).toString)

  /** Compare the warehouse, the household JDBC slices and the decisions to
    * the generator's bookkeeping for every delivery loaded.
    */
  def checkIngest(spark: SparkSession, store: DhsStore, loaded: Seq[Delivery],
      decisions: Seq[Seq[String]]): Seq[Check] = {
    val checks = mutable.ArrayBuffer.empty[Check]
    loaded.zip(decisions).foreach { case (d, got) =>
      val want = d.files.map(_.decision)
      checks += Check(s"decision ${d.key} (${d.kind})", got == want, s"got $got want $want")
    }
    // final expected state: the last non-skipped delivery per (survey, file type)
    val state = mutable.LinkedHashMap.empty[(String, String), FileDelivery]
    loaded.foreach(d => d.files.filter(_.decision != "Skip").foreach(f => state((d.surveyId, f.ft)) = f))
    val records = state.values.flatMap(_.rows.keys).toSeq.distinct.sorted
    records.foreach { rec =>
      val df = store.table(rec)
      val bySurvey = df.collect().groupBy(_.getAs[String]("surveyid"))
      state.foreach { case ((sid, _), f) =>
        f.rows.get(rec).foreach { rows =>
          val got = bySurvey.getOrElse(sid, Array.empty[Row])
          val cols = f.columns(rec)
          val gotHash = try Stats.rowsHash(got.iterator.map(r => cols.map(c => r.getAs[String](c))))
          catch { case e: Exception => (-1L, e.getMessage.hashCode.toLong) }
          val wantHash = Stats.rowsHash(rows.iterator)
          checks += Check(s"warehouse $rec/$sid", gotHash == wantHash,
            s"rows got ${gotHash._1} want ${wantHash._1}")
        }
      }
    }
    state.keys.filter(_._2 == "HR").foreach { case (sid, ft) =>
      val want = state((sid, ft)).rows("RECH0").size.toLong
      val got = JdbcSink.sliceRowCount(store.url, store.HouseholdTable, sid, store.props, "\"surveyid\"")
      checks += Check(s"jdbc rech0/$sid", got == want, s"rows got $got want $want")
    }
    checks.toSeq
  }

  // ------------------------------------------------------------- extraction

  /** The generator's truth for one survey, keyed by record name. */
  final case class Truth(sid: String, hr: FileDelivery, ir: FileDelivery) {
    def rows(rec: String): Seq[Map[String, String]] = {
      val f = if (hr.rows.contains(rec)) hr else ir
      f.rows(rec).map(r => f.columns(rec).zip(r).toMap)
    }
  }

  final case class Extraction(family: String, param: String, run: () => Seq[Seq[String]],
      expected: () => Seq[Seq[String]])

  val Families = Seq("pooled_join", "survey_join", "decode_labels", "json_unpack",
    "relation_joins", "variable_pull")

  def extraction(spark: SparkSession, store: DhsStore, truths: Seq[Truth],
      rels: Seq[graft.model.RelationshipSpec], family: String, rnd: java.util.Random): Extraction = {
    // per-survey families pick among the small surveys (the common case,
    // all the same size), so every seed asks for the same amount of work
    val small = truths.filter(_.hr.rows("RECH0").size == truths.map(_.hr.rows("RECH0").size).min)
    val t = small(rnd.nextInt(small.size))
    val sid = t.sid
    def hhRows = (rec: String, ts: Seq[Truth]) => ts.flatMap(x => x.rows(rec).map(_ + ("surveyid" -> x.sid)))
    def joinExpected(ts: Seq[Truth]): Seq[Seq[String]] = {
      val hh = hhRows("RECH0", ts).map(r => r("hhid") -> r).toMap
      hhRows("REC01", ts).flatMap { w =>
        hh.get(w("caseid").substring(0, 12)).map(h =>
          Seq(w("caseid"), w("v012"), h("hhid"), h("hv024"), h("hv025"), h("surveyid")))
      }
    }
    def joinFrame(filter: Option[String]): Seq[Seq[String]] = {
      def sl(df: DataFrame) = filter.fold(df)(s => df.filter(col("surveyid") === s))
      val women = sl(store.table("REC01")).select("caseid", "v012")
      val hh = sl(store.table("RECH0")).select("hhid", "hv024", "hv025", "surveyid")
      RelationJoins.joinHousehold(women, hh)
        .select("caseid", "v012", "hhid", "hv024", "hv025", "surveyid").collect().toSeq.map(strRow)
    }
    family match {
      case "pooled_join" =>
        Extraction(family, "all", () => joinFrame(None), () => joinExpected(truths))
      case "survey_join" =>
        Extraction(family, sid, () => joinFrame(Some(sid)), () => joinExpected(Seq(t)))
      case "decode_labels" =>
        val v = Seq("V106", "V130")(rnd.nextInt(2))
        Extraction(family, v, () => {
          val labels = JdbcSink.read(spark, store.url, store.valueTable("IR"), store.props)
            .filter(col("name") === v).select(col("surveyid"), col("value"), col("valuedesc"))
          val recs = store.table("REC11").filter(col(v.toLowerCase).isNotNull)
            .select(col("surveyid"), col(v.toLowerCase).as("value"))
          recs.join(labels, Seq("surveyid", "value")).groupBy("valuedesc").count()
            .collect().toSeq.map(strRow)
        }, () => {
          val desc = DhsCorpus.irRecords(2, withV130 = true).flatMap(_.items)
            .find(_.name == v).get.values.toMap
          hhRows("REC11", truths).flatMap(r => r.get(v.toLowerCase)).groupBy(identity)
            .toSeq.map { case (value, xs) => Seq(desc(value), xs.size.toString) }
        })
      case "json_unpack" =>
        val withCs = small.filter(_.hr.rows.contains(DhsCorpus.PackedRecord))
        val t = withCs(rnd.nextInt(withCs.size))
        val sid = t.sid
        val item = f"hcs${1 + rnd.nextInt(DhsCorpus.CsItems)}%03d"
        Extraction(family, s"$sid/$item", () => {
          JsonPack.unpack(store.table(DhsCorpus.PackedRecord).filter(col("surveyid") === sid))
            .select(col("hhid"), col("data_map").getItem(item)).collect().toSeq.map(strRow)
        }, () => {
          val names = (1 to DhsCorpus.CsItems).map(i => f"hcs$i%03d")
          t.hr.rows(DhsCorpus.PackedRecord).map { r =>
            val vals = r(1).stripPrefix("{").stripSuffix("}").split(",").map(kv =>
              kv.split(":", 2)(1).stripPrefix("\"").stripSuffix("\""))
            Seq(r(0), vals(names.indexOf(item)))
          }
        })
      case "relation_joins" =>
        Extraction(family, sid, () => {
          val tables = Seq("REC01", "REC11", "REC21").map(r =>
            r -> store.table(r).filter(col("surveyid") === sid).drop("surveyid")).toMap
          val (joined, _) = RelationJoins.joinAll(rels, tables)
          joined.map { case (rel, df) => Seq(rel.relName, df.count().toString) }
        }, () => {
          val women = t.rows("REC01").map(_("caseid")).groupBy(identity).map { case (k, v) => k -> v.size }
          Seq("REC11" -> "WOMAN_EDUCATION", "REC21" -> "WOMAN_BIRTHS").map { case (rec, name) =>
            Seq(name, t.rows(rec).map(r => women.getOrElse(r("caseid"), 0)).sum.toString)
          }
        })
      case "variable_pull" =>
        Extraction(family, "V130", () => {
          val carriers = JdbcSink.read(spark, store.url, store.specTable("IR"), store.props)
            .filter(col("name") === "V130").select("surveyid").distinct()
            .collect().map(_.getString(0)).toSeq
          store.table("REC11").filter(col("surveyid").isin(carriers: _*))
            .select("caseid", "v130", "surveyid").collect().toSeq.map(strRow)
        }, () => hhRows("REC11", truths).filter(_.contains("v130"))
          .map(r => Seq(r("caseid"), r("v130"), r("surveyid"))))
    }
  }
}
