package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class FixedWidthSourceSpec extends AnyFunSuite with SparkTestBase {

  private val dcf =
    """[Dictionary]
      |Name=R
      |RecordTypeStart=16
      |RecordTypeLen=3
      |
      |[Level]
      |Label=HH
      |Name=HH
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
      |Label=Rec
      |Name=RECH0
      |RecordTypeValue='H00'
      |
      |[Item]
      |Label=Country
      |Name=HV000
      |Start=19
      |Len=3
      |DataType=Alpha
      |
      |[Item]
      |Label=Cluster
      |Name=HV001
      |Start=22
      |Len=3
      |""".stripMargin

  private def writeFixture(): (String, String) = {
    val dir = graft.Fixtures.dir("fw")
    val dcfPath = dir.resolve("511.BJHR71.DCF")
    Files.writeString(dcfPath, dcf)
    val datPath = dir.resolve("511.BJHR71.DAT")
    Files.writeString(datPath,
      """     100   7   H00BJ7 42
        |     100   8   H00BJ7  7
        |     100   8   X99junkjunk
        |""".stripMargin)
    (dcfPath.toString, datPath.toString)
  }

  test("format(fixedwidth): schema from DCF, tag dispatch, conditional trim, surveyid") {
    val (dcfPath, datPath) = writeFixture()
    val df = spark.read.format("fixedwidth")
      .option("dcf", dcfPath).option("record", "RECH0").option("surveyid", "511")
      .load(datPath)
    assert(df.columns.toSeq == Seq("hhid", "hv000", "hv001", "surveyid"))
    val rows = df.orderBy("hv001").collect()
    assert(rows.length == 2) // X99 skipped
    assert(rows.map(_.getString(0)).toSet == Set("     100   7", "     100   8")) // padded
    assert(rows.map(_.getString(2)).toSeq == Seq("42", "7")) // trimmed
    assert(rows.forall(_.getString(3) == "511"))
  }

  test("column pruning is pushed into the source scan") {
    val (dcfPath, datPath) = writeFixture()
    val df = spark.read.format("fixedwidth")
      .option("dcf", dcfPath).option("record", "RECH0")
      .load(datPath)
      .select("hv001")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("reading 1"), s"scan did not prune: $scan")
    assert(df.collect().map(_.getString(0)).toSet == Set("42", "7"))
  }

  test("results agree with the composable DatReader plan") {
    val (dcfPath, datPath) = writeFixture()
    import graft.cspro.{DatReader, DcfParser}
    val v2 = spark.read.format("fixedwidth")
      .option("dcf", dcfPath).option("record", "RECH0").load(datPath)
      .collect().map(_.toSeq).toSet
    val specs = DcfParser.parse(Files.readString(java.nio.file.Paths.get(dcfPath)), "BJHR71").items
    val composable = DatReader.projectLines(
      spark.read.text(datPath), specs)("RECH0").collect().map(_.toSeq).toSet
    assert(v2 == composable)
  }

  test("tab/control-padded fields trim identically in connector and DatReader") {
    // \t and \f inside field extents: Python str.strip() removes them; so
    // must both engine paths (Spark's trim() would keep them). The second
    // line's HV000 ends in " \u2028": U+2028 is not in the trim set, so
    // the space before it stays (a `\s+$` regex would drop it, since Java's
    // `$` matches before a final line terminator)
    val dir = graft.Fixtures.dir("fwtrim")
    val dcfPath = dir.resolve("511.BJHR71.DCF")
    Files.writeString(dcfPath, dcf)
    val datPath = dir.resolve("511.BJHR71.DAT")
    Files.writeString(datPath,
      "     100   7   H00\tBJ\f 4\t\n" +
      "     100   8   H00B \u2028  5\n")
    val v2 = spark.read.format("fixedwidth")
      .option("dcf", dcfPath.toString).option("record", "RECH0")
      .load(datPath.toString).collect().map(_.toSeq).toSet
    import graft.cspro.{DatReader, DcfParser}
    val specs = DcfParser.parse(Files.readString(dcfPath), "BJHR71").items
    val composable = DatReader.projectLines(
      spark.read.text(datPath.toString), specs)("RECH0").collect().map(_.toSeq).toSet
    assert(v2 == composable)
    assert(v2.size == 2)
    val row = v2.find(_(0) == "     100   7").get // HHID padding load-bearing
    assert(row(1) == "BJ")            // leading \t stripped
    assert(row(2) == "4")             // \f and space stripped
    val sep = v2.find(_(0) == "     100   8").get
    assert(sep(1) == "B \u2028")      // U+2028 ends the field: the space stays
    assert(sep(2) == "5")
  }

  test("large file streams through the reader: cp1252 head-sniff + BOM intact") {
    // ~160k lines (~4 MB): the reader must stream (head-sniffed charset +
    // BufferedReader), never buffering the whole file. Non-UTF8 byte (0xE9,
    // é in cp1252) beyond the record tag checks sniff-from-head semantics;
    // a UTF-8 BOM variant checks first-line tag recovery.
    val dir = graft.Fixtures.dir("fwbig")
    val dcfPath = dir.resolve("511.BJHR71.DCF")
    Files.writeString(dcfPath, dcf)
    val datPath = dir.resolve("511.BJHR71.DAT")
    val out = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(datPath))
    val n = 160000
    (0 until n).foreach { i =>
      val hhid = f"$i%12d"
      val line = s"$hhid   H00BJé${f"${i % 999}%3d"}\n"
      out.write(line.getBytes("windows-1252"))
    }
    out.close()
    val df = spark.read.format("fixedwidth")
      .option("dcf", dcfPath.toString).option("record", "RECH0")
      .load(datPath.toString)
    assert(df.count() == n)
    // cp1252 sniff: the é decoded correctly in hv000
    assert(df.select("hv000").limit(1).collect().head.getString(0) == "BJé")

    // BOM'd UTF-8 file: the first line's tag must survive BOM stripping
    val bomPath = dir.resolve("512.BJHR71.DAT")
    val bomOut = java.nio.file.Files.newOutputStream(bomPath)
    bomOut.write(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    bomOut.write("     100   7   H00BJ7 42\n".getBytes("UTF-8"))
    bomOut.close()
    val bomDf = spark.read.format("fixedwidth")
      .option("dcf", dcfPath.toString).option("record", "RECH0")
      .load(bomPath.toString)
    assert(bomDf.count() == 1)
  }

  test("UTF-16 DAT end-to-end: the route readDat fails fast toward actually decodes") {
    // DatReader.readDat REFUSES multi-byte charsets (raw-0x0A splitting
    // would corrupt them) and points at this source; drive that route with
    // real multi-byte data. Reference charset behavior: DCF_Parser.py:34-42,
    // DAT_Parser.py:62-68 (BOM sniff, decode, parse decoded text).
    val dir = graft.Fixtures.dir("fwutf16")
    val dcfPath = dir.resolve("511.BJHR71.DCF")
    Files.writeString(dcfPath, dcf)
    val lines = Seq(
      "     100   7   H00BJé 42", // é: multi-byte-relevant non-ASCII
      "     100   8   H00BJ7  7",
      "     100   8   X99junkjunk")
    for ((cs, name) <- Seq(("UTF-16LE", "le.DAT"), ("UTF-16BE", "be.DAT"))) {
      val datPath = dir.resolve(name)
      val out = java.nio.file.Files.newOutputStream(datPath)
      // explicit BOM, then the body in the same charset — the sniffer
      // detects the charset from the BOM, the reader strips the decoded
      // BOM off the first line's record tag
      val bom = if (cs == "UTF-16LE") Array[Byte](0xFF.toByte, 0xFE.toByte)
                else Array[Byte](0xFE.toByte, 0xFF.toByte)
      out.write(bom)
      out.write(lines.mkString("", "\n", "\n").getBytes(cs))
      out.close()
      val df = spark.read.format("fixedwidth")
        .option("dcf", dcfPath.toString).option("record", "RECH0")
        .option("surveyid", "511")
        .load(datPath.toString)
        .orderBy("hv001")
      val got = df.select("hhid", "hv000", "hv001", "surveyid")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      // golden: the same logical content decodes identically to what the
      // single-byte path yields on a UTF-8 copy of the file
      assert(got.toSeq == Seq(
        ("     100   7", "BJé", "42", "511"),
        ("     100   8", "BJ7", "7", "511")), s"charset $cs")
    }
  }

  test("a DCF-declared SURVEYID item wins over the injected surveyid option") {
    val dir = graft.Fixtures.dir("fwsid")
    val dcfSid = dcf.replace(
      "[Item]\nLabel=Cluster\nName=HV001\nStart=22\nLen=3",
      "[Item]\nLabel=Declared survey id field\nName=SURVEYID\nStart=22\nLen=3\nDataType=Alpha")
    val dcfPath = dir.resolve("511.X.DCF"); Files.writeString(dcfPath, dcfSid)
    val datPath = dir.resolve("511.X.DAT")
    Files.writeString(datPath, "     100   7   H00BJ7abc\n")
    val df = spark.read.format("fixedwidth")
      .option("dcf", dcfPath.toString).option("record", "RECH0")
      .option("surveyid", "999") // must NOT shadow the declared field
      .load(datPath.toString)
    assert(df.columns.count(_ == "surveyid") == 1)
    assert(df.select("surveyid").collect().map(_.getString(0)).toSeq == Seq("abc"))
  }

  test("a DCF rewritten under its old mtime serves the new item set") {
    val (dcfPath, datPath) = writeFixture()
    def columns = spark.read.format("fixedwidth")
      .option("dcf", dcfPath).option("record", "RECH0").load(datPath).columns.toSeq
    assert(columns == Seq("hhid", "hv000", "hv001"))
    val f = new java.io.File(dcfPath)
    val mtimeA = f.lastModified()
    // DCF B: HV001 is gone, HV002 takes its place
    Files.writeString(f.toPath,
      dcf.replace("Label=Cluster\nName=HV001", "Label=Household\nName=HV002"))
    assert(f.setLastModified(mtimeA) && f.lastModified() == mtimeA)
    assert(columns == Seq("hhid", "hv000", "hv002"))
  }

  test("missing record type is a clear error") {
    val (dcfPath, datPath) = writeFixture()
    val e = intercept[Exception] {
      spark.read.format("fixedwidth")
        .option("dcf", dcfPath).option("record", "NOPE").load(datPath).collect()
    }
    assert(e.getMessage.contains("NOPE"))
  }
}
