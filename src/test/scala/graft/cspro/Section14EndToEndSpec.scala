package graft.cspro

import graft.SparkTestBase
import graft.catalog.SpecCatalog
import graft.load.{CopySink, CsvIO, DdlManager, JsonPack}
import graft.sources.Organize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-scenario §1.4 integration case (VERDICT r6 #8 / r7 #3): a
  * multi-record, multi-survey synthetic corpus driven through the FULL
  * spine — zip → Organize → charset sniff → DcfParser → DatReader →
  * SpecCatalog merge → DDL evolution → CSV/COPY/JSON load faces — with
  * every one of SURVEY.md §1.4's correctness traps 1–8 asserted inside
  * the single pass (reference spec: doc/Data_Format.md:36-117 for the
  * dictionary grammar, :151-157 for the key-padding contract, :192-196
  * for the load-side NULL handling).
  *
  * Trap inventory asserted here, with the reference behavior each pins:
  *  1. CASEID/HHID keep their whitespace padding; HHID = CASEID[:-3] is a
  *     SUBSTRING, not a trim (DAT_Parser.py:86-105).
  *  2. Fixed-width extraction is 1-based inclusive; the record-type
  *     locator comes from the [Dictionary] header fudge
  *     (DAT_Parser.py:40-42,102-105; DCF_Parser.py:196-213).
  *  3. Unknown record tags are skipped (warn), declared-but-absent
  *     records yield no rows (DAT_Parser.py:76-79,114-117).
  *  4. Empty string ⇔ NULL at the COPY boundary (null='', lib04:432-434);
  *     JSON tables keep quoted empty strings (lib04:448-455).
  *  5. Column order = IdItems first, then fields by (RecordTypeValue,
  *     Start) (DAT_Parser.py:47-48; DCF_Parser.py:236-261).
  *  6. Charset sniffed per file, cp1252 fallback (DCF_Parser.py:34-42,
  *     DAT_Parser.py:62-68, 04_DHS_Load_New_Tables.ipynb:440-444).
  *  7. Duplicate record names: matching label warns, mismatched label is
  *     fatal (DCF_Parser.py:221-228,263-271).
  *  8. ValueSet attaches to the MOST RECENT item positionally, with a
  *     warn-only fuzzy label check (DCF_Parser.py:278-288).
  */
class Section14EndToEndSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Survey-parameterized DCF: CASEID id item (1–15), REC01 'I01'
    * (V010/V013/V525), REC02 'I02' (B001), REC03 'I03' declared but never
    * present in data (trap 3b). V010's valueset label matches its item;
    * V013's is dissimilar (trap 8 warn face). `extra` lets survey 2 widen
    * V525 and append items (schema evolution). Trap 7's duplicate-record
    * faces are exercised as parse variants of this same dictionary (a
    * duplicate declaration re-emits the IdItem rows — reference behavior,
    * DCF_Parser.py:236-271 appends id items before the duplicate check —
    * so the data pass uses the clean declaration).
    */
  private def dcfText(v525Len: Int, extra: String): String =
    s"""[Dictionary]
       |Version=CSPro 6.3
       |Label=Trap survey
       |Name=RECODE7
       |RecordTypeStart=16
       |RecordTypeLen=3
       |Positions=Absolute
       |ZeroFill=No
       |DecimalChar=No
       |
       |[Level]
       |Label=INDIVIDUAL
       |Name=INDIVIDUAL
       |
       |[IdItems]
       |
       |[Item]
       |Label=Case Identification
       |Name=CASEID
       |Start=1
       |Len=15
       |DataType=Alpha
       |
       |[Record]
       |Label=Respondent basic data
       |Name=REC01
       |RecordTypeValue='I01'
       |
       |[Item]
       |Label=Year of birth
       |Name=V010
       |Start=19
       |Len=2
       |
       |[ValueSet]
       |Label=Year of birth
       |Name=V010_VS1
       |Value=0:99
       |
       |[Item]
       |Label=De facto age
       |Name=V013
       |Start=21
       |Len=1
       |
       |[ValueSet]
       |Label=Completely unrelated words
       |Name=V013_VS1
       |Value=1;Group one
       |Value=9;Other group
       |
       |[Item]
       |Label=Weight for height
       |Name=V525
       |Start=22
       |Len=$v525Len
       |DataType=Alpha
       |$extra
       |[Record]
       |Label=Birth history
       |Name=REC02
       |RecordTypeValue='I02'
       |
       |[Item]
       |Label=Order number
       |Name=B001
       |Start=19
       |Len=2
       |
       |[Record]
       |Label=Never observed
       |Name=REC03
       |RecordTypeValue='I03'
       |
       |[Item]
       |Label=Phantom field
       |Name=C001
       |Start=19
       |Len=2
       |""".stripMargin

  private def zip(path: String, entries: (String, Array[Byte])*): String = {
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try entries.foreach { case (name, bytes) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    } finally zos.close()
    path
  }

  test("traps 1-8 hold through one multi-record multi-survey zip->parse->read->catalog->load pass") {
    val root = graft.Fixtures.dir("sec14").toString
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")

    // ---- survey 511 (BJIR71FL, ASCII): layout 1-15 CASEID, 16-18 tag,
    // REC01: 19-20 V010, 21 V013, 22-23 V525; REC02: 19-20 B001
    val dat511 = Seq(
      "  1234567890 01I01853 7",    // V525 = " 7" -> trimmed "7"
      "  1234567890 02I01859  ",    // V525 all spaces -> "" (trap 4)
      "  1234567890 01I0277",       // REC02 row sharing the household prefix
      "  9999999999 99X99junk")     // unknown tag -> skipped (trap 3a)
      .mkString("\n")
    val zip511 = zip(s"$root/b511.zip",
      "bjir71fl.dcf" -> dcfText(2, "").getBytes(ascii),
      "bjir71fl.dat" -> dat511.getBytes(ascii))

    // ---- survey 522 (KEIR72FL, cp1252): V525 widened to 3 (22-24), new
    // Alpha item VNAME at 25-30 carrying an 0xE9 'é' byte (trap 6)
    val extra522 =
      """
        |[Item]
        |Label=First name
        |Name=VNAME
        |Start=25
        |Len=6
        |DataType=Alpha
        |""".stripMargin
    val dat522 = "  2234567890 01I01772  8Herg\u00e9 "
    val zip522 = zip(s"$root/k522.zip",
      "keir72fl.dcf" -> dcfText(3, extra522).getBytes(cp1252),
      "keir72fl.dat" -> dat522.getBytes(cp1252))

    // ---- Organize: extract + rename to <survey>.<MEMBER> (S1/S3)
    val files511 = Organize.unzipAndSort(zip511, "511", s"$root/staged")
    val files522 = Organize.unzipAndSort(zip522, "522", s"$root/staged")
    assert(files511.map(f => new java.io.File(f).getName).toSet ==
      Set("511.BJIR71FL.DCF", "511.BJIR71FL.DAT"))
    def staged(survey: String, ext: String): String =
      (files511 ++ files522).find(f => f.contains(survey) && f.endsWith(ext)).get

    // ---- trap 6: per-file charset sniff; the cp1252 'é' byte fails
    // strict UTF-8 and lands on the windows-1252 fallback
    val cs511 = CharsetSniffer.detectFile(staged("511", "DAT"))
    val cs522 = CharsetSniffer.detectFile(staged("522", "DAT"))
    assert(cs511 == java.nio.charset.StandardCharsets.UTF_8) // pure ASCII head
    assert(cs522 == cp1252)

    // ---- DCF parse (decode via the same sniffer)
    def parseDcf(survey: String, fileCode: String) = DcfParser.parse(
      CharsetSniffer.decode(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(staged(survey, "DCF")))), fileCode)
    val p511 = parseDcf("511", "BJIR71")
    val p522 = parseDcf("522", "KEIR72")

    // trap 2 (header fudge): the record-type locator row carries the
    // [Dictionary] header's RecordTypeStart/Len
    val rd = p511.items.head
    assert(rd.itemType == "RecordDesciption" && rd.start == 16 && rd.len == 3)

    // trap 7: REC02 re-declared with the SAME label parses with a warning
    // only; the mismatched-label re-declaration is fatal
    assert(p511.warnings.forall(!_.contains("duplicate record")))
    val dupSame = dcfText(2, "") +
      "\n[Record]\nLabel=Birth history\nName=REC02\nRecordTypeValue='I02'\n"
    assert(DcfParser.parse(dupSame, "BJIR71").warnings
      .exists(_.contains("duplicate record name/label")))
    val dupMismatch = dcfText(2, "") +
      "\n[Record]\nLabel=A DIFFERENT label\nName=REC02\nRecordTypeValue='I02'\n"
    intercept[DcfParser.DcfParseException] { DcfParser.parse(dupMismatch, "BJIR71") }

    // trap 8: V013's valueset attached POSITIONALLY to V013 (the most
    // recent item) despite the dissimilar label — warn-only; V010's
    // matching-label valueset warns nothing
    val v013Vals = p511.values.filter(_.name == "V013")
    assert(v013Vals.map(_.value) == Vector("1", "9"))
    assert(p511.warnings.exists(w =>
      w.contains("Completely unrelated words") && w.contains("De facto age")))
    assert(!p511.warnings.exists(_.contains("Year of birth")))

    // ---- DAT read, charset threaded through (trap 6)
    val scan511 = DatReader.readDat(spark, staged("511", "DAT"), p511.items,
      surveyId = Some("511"), charset = Some(cs511.name))
    val scan522 = DatReader.readDat(spark, staged("522", "DAT"), p522.items,
      surveyId = Some("522"), charset = Some(cs522.name))
    try {
      // trap 5: IdItems lead, then (RecordTypeValue, Start) order; the
      // injected surveyid lands last
      assert(scan511("REC01").columns.toSeq ==
        Seq("caseid", "v010", "v013", "v525", "surveyid"))
      assert(scan511("REC02").columns.toSeq == Seq("caseid", "b001", "surveyid"))

      val rec01 = scan511("REC01").orderBy("v013").collect()
      assert(rec01.length == 2)

      // trap 1: CASEID padding preserved byte-for-byte (leading AND
      // internal spaces), every non-key field trimmed
      assert(rec01.map(_.getAs[String]("caseid")).toSet ==
        Set("  1234567890 01", "  1234567890 02"))
      assert(rec01.head.getAs[String]("v525") == "7") // " 7" trimmed

      // trap 2: 1-based inclusive extraction — an off-by-one would read
      // "53" (0-based) or "13" (shifted left) instead of "85"
      assert(rec01.forall(_.getAs[String]("v010") == "85"))

      // trap 1 (referential integrity): HHID = substring(CASEID, 1, 12)
      // joins REC01 to REC02 ONLY because padding survived
      val joined = scan511("REC01").select(substring(col("caseid"), 1, 12).as("hhid"))
        .join(scan511("REC02").select(substring(col("caseid"), 1, 12).as("hhid")), "hhid")
      assert(joined.count() == 2) // both REC01 rows match the one REC02 row
      assert(joined.head().getAs[String]("hhid") == "  1234567890")

      // trap 3: unknown tag X99 skipped (surfaced, not fatal); declared-
      // but-absent REC03 exists as a table with zero rows
      val lines511 = spark.read.text(staged("511", "DAT"))
      val unknown = DatReader.unknownRecordTypes(lines511, p511.items).collect()
      assert(unknown.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("X99", 1L)))
      assert(scan511.tables.keySet == Set("REC01", "REC02", "REC03"))
      assert(scan511("REC03").count() == 0)

      // trap 6 payoff: the cp1252 byte decoded to 'é' through the sniffed
      // encoding (a UTF-8 read would have produced U+FFFD)
      val r522 = scan522("REC01").head()
      assert(r522.getAs[String]("vname") == "Herg\u00e9")
      assert(r522.getAs[String]("v525") == "8") // "  8" (len 3) trimmed

      // trap 4: empty ⇔ NULL at the COPY boundary — the all-spaces V525
      // renders exactly like SQL NULL under null=''; the JSON face instead
      // keeps the empty string as a QUOTED value
      val emptyRow = rec01.find(_.getAs[String]("v013") == "9").get
      assert(emptyRow.getAs[String]("v525") == "")
      assert(CopySink.renderCopyRow(Seq(emptyRow.getAs[String]("v525"))) ==
        CopySink.renderCopyRow(Seq(null)))
      val packed = JsonPack.pack(scan511("REC01"), Seq("caseid", "surveyid"))
      assert(packed.filter(col("data").contains("\"v525\":\"\"")).count() == 1)

      // ---- multi-survey catalog: widths union across surveys; the DDL
      // plan widens V525 (2 -> 3) and adds VNAME
      val allItems = (p511.items ++ p522.items)
        .filter(_.itemType != "RecordDesciption").toDF()
      val merged = SpecCatalog.mergeColumns(allItems)
      val widths = merged.collect().map(r => (r.getString(1), r.getInt(2))).toMap
      assert(widths("v525") == 3 && widths("vname") == 6 && widths("caseid") == 15)
      val evolve = DdlManager.evolvePlan("rec01",
        current = Map("caseid" -> 15, "v010" -> 2, "v013" -> 1, "v525" -> 2),
        target = DdlManager.columnDefs(merged))
      assert(evolve.statements.exists(s => s.contains("\"v525\"") && s.contains("VARCHAR(3)")))
      assert(evolve.statements.exists(_.contains("\"vname\"")))

      // ---- CSV round-trip keeps the padded key and all-string schema
      CsvIO.writeRecordTables(scan511.tables.filter(_._2.take(1).nonEmpty), s"$root/csv511")
      val back = CsvIO.readAllString(spark, s"$root/csv511/REC01")
      assert(back.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
      assert(back.select("caseid").as[String].collect().toSet ==
        Set("  1234567890 01", "  1234567890 02"))
    } finally { scan511.release(); scan522.release() }
  }
}
