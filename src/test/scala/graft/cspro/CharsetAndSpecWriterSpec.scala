package graft.cspro

import java.nio.charset.StandardCharsets

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class CharsetAndSpecWriterSpec extends AnyFunSuite with SparkTestBase {

  test("charset: BOMs, clean utf-8, and cp1252 fallback") {
    import CharsetSniffer.detect
    assert(detect(Array(0xEF, 0xBB, 0xBF, 'a').map(_.toByte)) == StandardCharsets.UTF_8)
    assert(detect(Array(0xFF, 0xFE, 'a', 0).map(_.toByte)) == StandardCharsets.UTF_16LE)
    assert(detect(Array(0xFE, 0xFF, 0, 'a').map(_.toByte)) == StandardCharsets.UTF_16BE)
    // UTF-32 BOMs share a prefix with UTF-16's and must win
    assert(detect(Array(0xFF, 0xFE, 0, 0).map(_.toByte)).name == "UTF-32LE")
    assert(detect(Array(0, 0, 0xFE, 0xFF).map(_.toByte)).name == "UTF-32BE")
    assert(detect("plain ascii [Dictionary]".getBytes) == StandardCharsets.UTF_8)
    assert(detect("café utf8".getBytes(StandardCharsets.UTF_8)) == StandardCharsets.UTF_8)
    // 0xE9 alone (latin-1 é) is malformed utf-8 → cp1252
    assert(detect(Array('c', 'a', 'f', 0xE9, ' ', 'x').map(_.toByte)).name == "windows-1252")
  }

  test("charset: truncated trailing multibyte sequence is not misclassified") {
    val utf8 = "café".getBytes(StandardCharsets.UTF_8)
    val truncated = utf8.dropRight(1) // cut the é in half
    assert(CharsetSniffer.detect(truncated) == StandardCharsets.UTF_8)
  }

  test("CSV readWithFallback detects cp1252 by sniffing, not by catch") {
    // Spark never throws on bad UTF-8, so only detection can catch this
    val dir = graft.Fixtures.dir("cp1252csv")
    val f = dir.resolve("data.csv")
    java.nio.file.Files.write(f, "name\ncafé-résumé\n".getBytes("windows-1252"))
    val df = graft.load.CsvIO.readWithFallback(spark, f.toString)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("café-résumé"))
    // and a clean utf-8 file still round-trips
    val f2 = dir.resolve("utf8.csv")
    java.nio.file.Files.write(f2, "name\ncafé\n".getBytes(StandardCharsets.UTF_8))
    assert(graft.load.CsvIO.readWithFallback(spark, f2.toString)
      .collect().head.getString(0) == "café")
  }

  test("CSV readWithFallback decodes UTF-16/32 with record-aligned line splits") {
    // without an explicit lineSep Spark splits on raw 0x0A bytes, which
    // misaligns 2-/4-byte code units (every line after the first starts with
    // a stray NUL under UTF-16LE) — these files must decode cleanly
    val dir = graft.Fixtures.dir("utf16csv")
    for ((enc, fname) <- Seq(("UTF-16LE", "u16le.csv"), ("UTF-16BE", "u16be.csv"),
                             ("UTF-32LE", "u32le.csv"), ("UTF-32BE", "u32be.csv"))) {
      val f = dir.resolve(fname)
      val bom = enc match {
        case "UTF-16LE" => Array(0xFF, 0xFE).map(_.toByte)
        case "UTF-16BE" => Array(0xFE, 0xFF).map(_.toByte)
        case "UTF-32LE" => Array(0xFF, 0xFE, 0x00, 0x00).map(_.toByte)
        case "UTF-32BE" => Array(0x00, 0x00, 0xFE, 0xFF).map(_.toByte)
      }
      java.nio.file.Files.write(f, bom ++ "name,v\ncafé,1\nrésumé,2\n".getBytes(enc))
      val df = graft.load.CsvIO.readWithFallback(spark, f.toString)
      // BOM stripped from the first header cell, all rows record-aligned
      assert(df.columns.toSeq == Seq("name", "v"), enc)
      assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
        Set(("café", "1"), ("résumé", "2")), enc)
    }
  }

  test("UTF-16 CSV edge shapes: CRLF endings, headerless BOM, generic charset refused") {
    val dir = graft.Fixtures.dir("utf16edge")
    val bomLE = Array(0xFF, 0xFE).map(_.toByte)
    // Windows-origin CRLF: explicit lineSep splits at \n, the stray \r on
    // the last field must be stripped
    val crlf = dir.resolve("crlf.csv")
    java.nio.file.Files.write(crlf, bomLE ++ "name,v\r\ncafé,1\r\nrésumé,2\r\n".getBytes("UTF-16LE"))
    val df = graft.load.CsvIO.readWithFallback(spark, crlf.toString)
    assert(df.columns.toSeq == Seq("name", "v"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("café", "1"), ("résumé", "2")))
    // headerless: the BOM lands in row 1's first VALUE, not a column name
    val nohdr = dir.resolve("nohdr.csv")
    java.nio.file.Files.write(nohdr, bomLE ++ "café,1\nrésumé,2\n".getBytes("UTF-16LE"))
    val df2 = graft.load.CsvIO.readAllString(spark, nohdr.toString, "UTF-16LE", header = false)
    assert(df2.collect().map(_.getString(0)).toSet == Set("café", "résumé"))
    // generic UTF-16 cannot encode a record delimiter (Java BOM-prefixes it)
    val e = intercept[IllegalArgumentException] {
      graft.load.CsvIO.readAllString(spark, nohdr.toString, "UTF-16")
    }
    assert(e.getMessage.contains("endianness-explicit"))
  }

  test("spec writer emits the reference's three flat tables with exact columns") {
    val dcf =
      """[Dictionary]
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
        |Label=Cluster
        |Name=HV001
        |Start=19
        |Len=3
        |
        |[ValueSet]
        |Label=Cluster
        |Name=HV001_VS1
        |Value=1;First
        |
        |[Relation]
        |Name=REL1
        |Primary=RECH0
        |Secondary=RECH1
        |SecondaryLink=HVIDX
        |""".stripMargin
    val r = DcfParser.parse(dcf, "BJHR71")
    val rec = SpecWriter.recordSpecs(spark, r)
    assert(rec.columns.toSeq == SpecWriter.RecordSpecCols)
    val hv001 = rec.filter(rec("Name") === "HV001").collect().head
    assert(hv001.getAs[String]("FMETYPE") == "fme_char(3)")
    assert(hv001.getAs[String]("RecordTypeValue") == "H00")

    val vals = SpecWriter.valueSpecs(spark, r)
    assert(vals.columns.toSeq == SpecWriter.ValueSpecCols)
    assert(vals.collect().exists(v => v.getAs[String]("Value") == "1" &&
      v.getAs[String]("ValueDesc") == "First"))

    val rels = SpecWriter.relationSpecs(spark, r)
    assert(rels.columns.toSeq == SpecWriter.RelationSpecCols)
    val rel = rels.collect().head
    assert(rel.getAs[String]("PrimaryLink") == "*ROWID*")
    assert(rel.getAs[String]("SecondaryLink") == "HVIDX")

    // CSV round trip preserves the contract
    val tmp = graft.Fixtures.dir("specs").toString
    SpecWriter.writeAll(spark, r, "BJHR71", tmp)
    val back = graft.load.CsvIO.readAllString(spark, s"$tmp/BJHR71.FlatRecordSpec")
    assert(back.columns.toSeq == SpecWriter.RecordSpecCols)
  }
}
