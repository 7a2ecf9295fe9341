package graft.cspro

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkTestBase
import graft.catalog.SpecCatalog
import org.scalatest.funsuite.AnyFunSuite

class DcfSourceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def dcf(clusterLen: Int, label: String = "Cluster") =
    s"""[Dictionary]
       |Name=R
       |RecordTypeStart=16
       |RecordTypeLen=3
       |
       |[Level]
       |Label=HH
       |Name=HH
       |
       |[Record]
       |Label=Rec
       |Name=RECH0
       |RecordTypeValue='H00'
       |
       |[Item]
       |Label=$label
       |Name=HV001
       |Start=19
       |Len=$clusterLen
       |""".stripMargin

  test("parseFiles: one task per file, executor-side parse, fileCode from name") {
    val dir = graft.Fixtures.dir("dcfs")
    Files.writeString(dir.resolve("511.BJHR71.DCF"), dcf(3))
    Files.writeString(dir.resolve("522.TDHR61.DCF"), dcf(6))
    val parsed = DcfSource.parseFiles(spark, s"$dir/*.DCF")
    val byCode = parsed.collect().map(p => p.fileCode -> p).toMap
    assert(byCode.keySet == Set("BJHR71", "TDHR61"))
    assert(byCode("BJHR71").items.exists(i => i.name == "HV001" && i.len == 3))
    assert(byCode("TDHR61").items.exists(i => i.name == "HV001" && i.len == 6))
  }

  test("allValues/allRelations: every file's value labels and relations, as the parser emits them") {
    val withExtras = dcf(3) +
      """
        |[ValueSet]
        |Label=Cluster
        |Name=HV001_VS1
        |Value=1;Urban
        |Value=2;Rural
        |
        |[Record]
        |Label=Members
        |Name=RECH1
        |RecordTypeValue='H01'
        |
        |[Item]
        |Label=Line number
        |Name=HVIDX
        |Start=19
        |Len=2
        |
        |[Relation]
        |Name=HHMembers
        |Primary=RECH0
        |Secondary=RECH1
        |SecondaryLink=HVIDX
        |""".stripMargin
    val dir = graft.Fixtures.dir("dcfs_vr")
    Files.writeString(dir.resolve("511.BJHR71.DCF"), withExtras)
    Files.writeString(dir.resolve("522.TDHR61.DCF"), dcf(6))
    val parsed = DcfSource.parseFiles(spark, s"$dir/*.DCF")
    val direct = DcfParser.parse(withExtras, "BJHR71")
    assert(direct.values.map(v => (v.name, v.value, v.valueDesc)) ==
      Seq(("HV001", "1", "Urban"), ("HV001", "2", "Rural")))
    assert(direct.relations.map(r => (r.primaryTable, r.secondaryTable, r.secondaryLink)) ==
      Seq(("RECH0", "RECH1", "HVIDX")))
    // the Dataset verbs carry exactly the per-file parser output, fileCode
    // stamped; the file with neither contributes nothing
    assert(DcfSource.allValues(parsed).collect().toSet == direct.values.toSet)
    assert(DcfSource.allRelations(parsed).collect().toSet == direct.relations.toSet)
    assert(direct.values.forall(_.fileCode == "BJHR71"))
  }

  test("schema merge over distributed parse: max width wins across surveys") {
    val dir = graft.Fixtures.dir("dcfs2")
    Files.writeString(dir.resolve("511.BJHR71.DCF"), dcf(3))
    Files.writeString(dir.resolve("522.TDHR61.DCF"), dcf(6))
    val items = DcfSource.allItems(DcfSource.parseFiles(spark, s"$dir/*.DCF"))
      .filter(_.itemType == "Item").toDF()
    val merged = SpecCatalog.mergeColumns(items).collect()
    val hv001 = merged.find(_.getString(1) == "hv001").get
    assert(hv001.getInt(2) == 6) // MAX(len) across the two surveys
  }

  test("UTF-8 BOM is stripped: [Dictionary] header still recognized") {
    val dir = graft.Fixtures.dir("dcfs_bom")
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    Files.write(dir.resolve("544.GHHR82.DCF"), bom ++ dcf(3).getBytes("UTF-8"))
    val parsed = DcfSource.parseFiles(spark, s"$dir/*.DCF").collect().head
    // BOM left in place would break the [Dictionary] chunk and drop the
    // record-type locator row entirely
    assert(parsed.items.exists(_.itemType == "RecordDesciption"))
    assert(parsed.items.exists(i => i.name == "HV001" && i.len == 3))
  }

  test("non-UTF-8 DCF is sniffed and decoded (cp1252 é in a label)") {
    val dir = graft.Fixtures.dir("dcfs3")
    val content = dcf(3, label = "Numéro de grappe")
    Files.write(dir.resolve("533.SNHR81.DCF"), content.getBytes("windows-1252"))
    // the cp1252 é (0xE9) is malformed UTF-8, so an unsniffed read would mangle it
    assert(!new String(content.getBytes("windows-1252"), StandardCharsets.UTF_8).contains("Numéro"))
    val parsed = DcfSource.parseFiles(spark, s"$dir/*.DCF").collect().head
    assert(parsed.items.exists(_.label == "Numéro de grappe"))
  }

  test("one-pass routed write: partitioned by record name, unknown tags dropped, projection intact") {
    val specs = Seq(
      graft.model.ColumnSpec("RecordDesciption", "F", "*", "*", "*", "", "", 16, 3, 1, false, false, 0, "L", "L"),
      graft.model.ColumnSpec("IdItem", "F", "RECH0", "H00", "RECH0", "HHID", "HHID", 1, 12, 1, false, false, 0, "L", "L"),
      graft.model.ColumnSpec("Item", "F", "RECH0", "H00", "RECH0", "HV001", "HV001", 19, 3, 1, false, false, 0, "L", "L"),
      graft.model.ColumnSpec("IdItem", "F", "RECH1", "H01", "RECH1", "HHID", "HHID", 1, 12, 1, false, false, 0, "L", "L"),
      graft.model.ColumnSpec("Item", "F", "RECH1", "H01", "RECH1", "HVIDX", "HVIDX", 19, 2, 1, false, false, 0, "L", "L"))
    val lines = Seq(
      "     100   7   H00 42",
      "     100   7   H01 1 ",
      "     100   7   H01 2 ",
      "     100   7   X99junk").toDF("value")
    val out = graft.Fixtures.dir("routed").toString
    DatReader.routeToStorage(lines, specs, out)

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("recordname=RECH0", "recordname=RECH1")) // X99 dropped

    val rech0 = DatReader.readRouted(spark, out, specs, "RECH0", surveyId = Some("511"))
    assert(rech0.collect().map(r => (r.getAs[String]("hhid"), r.getAs[String]("hv001"))).toSeq ==
      Seq(("     100   7", "42")))
    val rech1 = DatReader.readRouted(spark, out, specs, "RECH1")
    assert(rech1.count() == 2)
  }
}
