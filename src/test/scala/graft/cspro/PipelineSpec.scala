package graft.cspro

import graft.SparkTestBase
import graft.catalog.SpecCatalog
import graft.load.{CsvIO, DdlManager, JsonPack}
import graft.model.ColumnSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end spine: DCF text → parsed specs → DAT projection → CSV
  * round-trip → schema merge across surveys → DDL plan → JSON packing.
  * This is SURVEY.md §7.2's "minimum end-to-end slice" widened to cover the
  * CSV sink/source (S7/S8) and the load-side policies.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // DCF fragment shaped like the reference's doc sample (doc/Data_Format.md:36-117)
  private val dcf =
    """[Dictionary]
      |Version=CSPro 6.3
      |Label=Pipeline survey
      |Name=RECODE7
      |RecordTypeStart=16
      |RecordTypeLen=3
      |Positions=Absolute
      |ZeroFill=No
      |DecimalChar=No
      |
      |[Level]
      |Label=HOUSEHOLD
      |Name=HOUSEHOLD
      |
      |[IdItems]
      |
      |[Item]
      |Label=Case Identification
      |Name=HHID
      |Start=1
      |Len=12
      |DataType=Alpha
      |
      |[Record]
      |Label=Household's basic data
      |Name=RECH0
      |RecordTypeValue='H00'
      |
      |[Item]
      |Label=Country code and phase
      |Name=HV000
      |Start=19
      |Len=3
      |DataType=Alpha
      |
      |[Item]
      |Label=Cluster number
      |Name=HV001
      |Start=22
      |Len=3
      |""".stripMargin

  private val datLines = Seq(
    "     100   7   H00BJ7 42", // HV001 cols 22-24 = " 42"
    "     100   8   H00BJ7  7",
    "     100   8   X99junkjunk") // unknown tag → skipped

  test("DCF → DAT → CSV sink → all-string source round-trip") {
    val parsed = DcfParser.parse(dcf, "BJHR71")
    assert(parsed.items.exists(_.name == "HV001"))

    val tables = DatReader.projectLines(datLines.toDF("value"), parsed.items, surveyId = Some("511"))
    assert(tables.keySet == Set("RECH0"))
    val rech0 = tables("RECH0")
    val rows = rech0.orderBy("hv001").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("hhid")).toSet == Set("     100   7", "     100   8"))
    assert(rows.map(_.getAs[String]("hv001")).toSeq == Seq("42", "7")) // trimmed, string sort

    val tmp = graft.Fixtures.dir("pipe").toString
    CsvIO.writeRecordTables(tables, s"$tmp/tables")
    val back = CsvIO.readAllString(spark, s"$tmp/tables/RECH0")
    // all columns read back as strings, no sniffed ints
    assert(back.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    assert(back.count() == 2)
    // CSV cannot round-trip trailing-padded keys by default unless quoted —
    // values must still join: re-read hhid is unpadded only if writer trimmed,
    // so assert exact equality (Spark csv writer quotes nothing but preserves
    // spaces inside values)
    val hhids = back.select("hhid").as[String].collect().toSet
    assert(hhids == Set("     100   7", "     100   8"))
  }

  test("parquet warehouse evolution: per-survey writes union by mergeSchema") {
    // the Spark-managed-storage analog of the reference's ALTER ADD COLUMN:
    // each survey writes its own column set; the warehouse read is the
    // union of columns with nulls where a survey lacks one
    val tmp = graft.Fixtures.dir("wh").toString
    Seq(("  1 0 10    ", "BJ7", "511")).toDF("hhid", "hv000", "surveyid")
      .write.parquet(s"$tmp/rech0/sv=511")
    Seq(("  2 0 20    ", "42", "522")).toDF("hhid", "hv001", "surveyid")
      .write.parquet(s"$tmp/rech0/sv=522")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/rech0")
    assert(merged.columns.toSet == Set("hhid", "hv000", "hv001", "surveyid", "sv"))
    val bySurvey = merged.collect().map(r => r.getAs[String]("surveyid") -> r).toMap
    assert(bySurvey("511").getAs[String]("hv000") == "BJ7" && bySurvey("511").getAs[String]("hv001") == null)
    assert(bySurvey("522").getAs[String]("hv001") == "42" && bySurvey("522").getAs[String]("hv000") == null)
    // survey-partition pruning: predicate on sv prunes to one file
    val pruned = merged.filter(col("sv") === 511)
    assert(pruned.count() == 1)
  }

  test("schema merge across two surveys + DDL plan + JSON pack") {
    val s1 = DcfParser.parse(dcf, "BJHR71").items
    // second survey declares HV001 wider and adds a new column
    val s2 = DcfParser.parse(dcf
      .replace("Name=HV001\nStart=22\nLen=3", "Name=HV001\nStart=22\nLen=5")
      + "\n[Item]\nLabel=New question\nName=HV002\nStart=27\nLen=2\n", "BJHR72").items

    val all = (s1 ++ s2).filter(_.itemType != "RecordDesciption").toDF()
    val merged = SpecCatalog.mergeColumns(all)
    val cols = merged.collect().map(r => (r.getString(1), r.getInt(2))).toMap
    assert(cols("hv002") == 2)
    assert(cols("hhid") == 12)

    val defs = DdlManager.columnDefs(merged)
    val plan = DdlManager.prepareTablePlan("rech0", defs)
    assert(plan.statements.head.startsWith("CREATE TABLE IF NOT EXISTS \"rech0\""))
    assert(plan.statements.head.contains("\"surveyid\" VARCHAR(8)"))
    assert(plan.statements.exists(_.contains("idx_rech0_hhid")))

    // evolution: existing narrow hv001 must widen, hv002 must be added
    val evolve = DdlManager.evolvePlan("rech0",
      current = Map("hhid" -> 12, "hv000" -> 3, "hv001" -> 3),
      target = defs)
    assert(evolve.statements.exists(_.contains("\"hv002\"")))

    // JSON pack keeps keys first-class and quotes all values
    val tables = DatReader.projectLines(datLines.toDF("value"), s1, surveyId = Some("511"))
    val packed = JsonPack.pack(tables("RECH0"), Seq("hhid", "surveyid"))
    assert(packed.columns.toSeq == Seq("hhid", "surveyid", "data"))
    val data = packed.orderBy("data").select("data").as[String].collect()
    assert(data.forall(_.contains("\"hv000\":\"BJ7\"")))
    val unpacked = JsonPack.unpack(packed)
    assert(unpacked.select(map_keys(col("data_map"))).head().getSeq[String](0).toSet == Set("hv000", "hv001"))
  }
}
