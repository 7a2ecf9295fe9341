package graft.cspro

import graft.SparkTestBase
import graft.model.ColumnSpec
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-width DAT reader tests, driven by the reference's in-repo 3-line
  * sample (ref: doc/Data_Format.md:192-196) plus synthetic padded-key lines
  * covering the CASEID/HHID no-trim invariant (SURVEY.md §1.4-1,2).
  */
class DatReaderSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def spec(itemType: String, rec: String, tag: String, name: String,
                   start: Int, len: Int): ColumnSpec =
    ColumnSpec(itemType, "BJHR71", rec, tag, rec, name, name, start, len, 1,
      zeroFill = false, decimalChar = false, decimal = 0, "HOUSEHOLD", "HOUSEHOLD")

  // the doc sample: record-type tag at 16-18; RECH0 fields per the doc fragment
  private val docSpecs = Seq(
    spec("RecordDesciption", "*", "*", "", 16, 3),
    spec("IdItem", "RECH0", "H00", "HHID", 1, 12),
    spec("Item", "RECH0", "H00", "HV000", 19, 3),
    spec("Item", "RECH0", "H00", "HV001", 22, 6),
    spec("IdItem", "RECH1", "H01", "HHID", 1, 12),
    spec("Item", "RECH1", "H01", "HVIDX", 19, 2))

  private val docLines = Seq(
    "       1   3  4W98 2 011100 201010101010101100101010100001111101",
    "       1   9   H00BJ7     1     9 24   1 1129772 1201814174312934 5 03433 91292  103   0   1   2 2 12 0       0  100 8001    9 226 511  1  3  3014461747961 1 22018141843132",
    "       1   9   H01 1 1101450   00       1100000   0")

  test("doc sample: dispatch on tag, 1-based substring, conditional trim") {
    val lines = docLines.toDF("value")
    val tables = DatReader.projectLines(lines, docSpecs)
    assert(tables.keySet == Set("RECH0", "RECH1"))

    val rech0 = tables("RECH0").collect()
    assert(rech0.length == 1)
    val row = rech0.head
    assert(row.getAs[String]("hhid") == "       1   9") // padding preserved
    assert(row.getAs[String]("hv000") == "BJ7")
    assert(row.getAs[String]("hv001") == "1") // "     1" trimmed

    val rech1 = tables("RECH1").collect()
    assert(rech1.length == 1)
    assert(rech1.head.getAs[String]("hhid") == "       1   9")
    assert(rech1.head.getAs[String]("hvidx") == "1")
  }

  test("multi-byte charsets are rejected by the raw-byte line reader with a routing hint") {
    // TextInputFormat splits on raw 0x0A bytes — exact for single-byte
    // charsets only. UTF-16's '\n' is 0A 00, so every split would land
    // mid-character and decode to garbage SILENTLY; the reader must refuse
    // and point at the fixedwidth DSv2 source instead.
    val dir = graft.Fixtures.dir("datmb")
    val f = dir.resolve("x.DAT")
    java.nio.file.Files.write(f, "       1   9   H00BJ7\n".getBytes("UTF-16LE"))
    val e = intercept[IllegalArgumentException] {
      DatReader.readDat(spark, f.toString, docSpecs, charset = Some("UTF-16LE"))
    }
    assert(e.getMessage.contains("multi-byte") && e.getMessage.contains("fixedwidth"))
    // the single-byte fallback family still reads fine through the same arg
    val g = dir.resolve("y.DAT")
    java.nio.file.Files.write(g, docLines.mkString("", "\n", "\n").getBytes("windows-1252"))
    val scan = DatReader.readDat(spark, g.toString, docSpecs, charset = Some("windows-1252"))
    try assert(scan("RECH0").count() == 1L) finally scan.release()
  }

  test("EBCDIC-family single-byte charsets are rejected: 0x0A is not '\\n' there") {
    // IBM037 is single-byte (passes the width guard) but encodes '\n' as
    // 0x25 — raw-0x0A splitting would chop records mid-byte-stream
    // silently. The reader must probe the newline byte and refuse.
    val dir = graft.Fixtures.dir("datebcdic")
    val f = dir.resolve("x.DAT")
    java.nio.file.Files.write(f, "       1   9   H00BJ7\n".getBytes("IBM037"))
    val e = intercept[IllegalArgumentException] {
      DatReader.readDat(spark, f.toString, docSpecs, charset = Some("IBM037"))
    }
    assert(e.getMessage.contains("0x0A"))
  }

  test("unknown record types are skipped and reportable") {
    val lines = docLines.toDF("value")
    val unknown = DatReader.unknownRecordTypes(lines, docSpecs).collect()
    assert(unknown.map(r => (r.getString(0), r.getLong(1))).toSet == Set(("W98", 1L)))
  }

  test("declared-but-absent record type yields an empty DataFrame, not an error") {
    val specs = docSpecs :+ spec("Item", "RECH2", "H02", "HV101", 19, 2)
    val tables = DatReader.projectLines(docLines.toDF("value"), specs)
    assert(tables("RECH2").isEmpty)
  }

  test("surveyid injection") {
    val tables = DatReader.projectLines(docLines.toDF("value"), docSpecs, surveyId = Some("511"))
    assert(tables("RECH0").columns.contains("surveyid"))
    assert(tables("RECH0").select("surveyid").head().getString(0) == "511")
  }

  test("padded CASEID/HHID join integrity: hhid = substring(caseid, 1, 12)") {
    // individual-level record keyed by 15-char CASEID = HHID + 3 chars
    val specs = Seq(
      spec("RecordDesciption", "*", "*", "", 16, 3),
      spec("IdItem", "RECH0", "H00", "HHID", 1, 12),
      spec("Item", "RECH0", "H00", "HV009", 19, 2),
      spec("IdItem", "REC01", "I01", "CASEID", 1, 15),
      spec("Item", "REC01", "I01", "V012", 19, 2))
    // layout: cols 1-12 HHID (padded), 13-15 CASEID tail, 16-18 tag, 19-20 data
    val hhid12 = "  1 0 10    "
    val lines = Seq(
      hhid12 + "   " + "H00" + "04",
      hhid12 + " 2 " + "I01" + "31", // same person id "2", padded differently
      hhid12 + "  2" + "I01" + "28"
    )
    val tables = DatReader.projectLines(lines.toDF("value"), specs)
    val h = tables("RECH0")
    val p = tables("REC01")
    import org.apache.spark.sql.functions._
    val joined = p.join(h, h("hhid") === substring(p("caseid"), 1, 12), "inner")
    assert(joined.count() == 2) // both individuals land in the one household
    // and a trimmed join would break: caseids differ only in their padding tail
    val caseids = p.select("caseid").as[String].collect().toSet
    assert(caseids == Set(hhid12 + " 2 ", hhid12 + "  2"))
  }

  test("a packed wide record's projection compiles: no failed codegen, exact JSON") {
    // a country-specific record wider than JsonPack.MaxColumnThreshold: its
    // 520 trimmed fields must compile (a per-field regex trim pushed the
    // generated method past 64 KB, a failure Janino re-pays on every load)
    val n = graft.load.JsonPack.MaxColumnThreshold + 20
    val items = (1 to n).map(i => f"HCS$i%03d")
    val specs = spec("RecordDesciption", "*", "*", "", 16, 3) +:
      spec("IdItem", "RECHCS", "HCS", "HHID", 1, 12) +:
      items.zipWithIndex.map { case (name, i) =>
        spec("Item", "RECHCS", "HCS", name, 19 + 2 * i, 2).copy(recordLabel = "cs: module")
      }
    // field i of row r holds (7r + i) % 100 right-aligned in 2 characters
    val value = (r: Int, i: Int) => (7 * r + i) % 100
    val rows = 0 until 20
    val dir = graft.Fixtures.dir("datwide")
    val dat = dir.resolve("wide.DAT")
    java.nio.file.Files.writeString(dat, rows.map { r =>
      f"$r%12d" + "   HCS" + items.indices.map(i => f"${value(r, i)}%2d").mkString + "\n"
    }.mkString)
    val scan = DatReader.readDat(spark, dat.toString, specs)
    try {
      val packed = graft.load.JsonPack.packAuto(scan("RECHCS"))
      assert(packed.columns.toSeq == Seq("hhid", "data"))
      val stats = org.apache.spark.sql.execution.debug
        .codegenStringSeq(packed.queryExecution.executedPlan).map(_._3)
      assert(stats.nonEmpty)
      assert(stats.forall(_.maxMethodCodeSize != -1), s"codegen failed: $stats")
      val expected = rows.map { r =>
        f"$r%12d" -> items.zipWithIndex
          .map { case (name, i) => s""""${name.toLowerCase}":"${value(r, i)}"""" }
          .mkString("{", ",", "}")
      }.toMap
      assert(packed.as[(String, String)].collect().toMap == expected)
    } finally scan.release()
  }
}
