package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded synthetic DHS landing batch: CSPro DCF+DAT pairs for a household
  * (HR) and an individual (IR) recode per survey, zipped one survey per
  * archive, plus the generator's own bookkeeping of what a correct load
  * must produce (parsed rows per record type, row hashes, reconcile
  * decisions).
  *
  * Shape, fixed for every seed (the seed only draws the contents, so
  * figures from different seeds compare):
  *  - blocks of 20 surveys in a fixed size pattern: 16 small (10
  *    households), 3 medium (60) and 1 large (300). Real DHS surveys
  *    hold thousands of households each; these sizes are cut down so that
  *    a run loads several surveys within its time budget, and keep only
  *    the skew (most surveys small, a few large);
  *  - right after every 5th survey (the 1st, 6th, ...) a re-delivery of
  *    it, cycling through changed IR spec (IR Reload, HR Skip), bumped
  *    version (Reload both) and identical (Skip);
  *  - HHID = cluster(8) + household(4) and CASEID = HHID + line(3), all
  *    right-justified, so both keys carry leading and inner blanks;
  *  - record types with ValueSets and [Relation] blocks, one
  *    country-specific record (label "cs:", 520 items) that gets JSON-packed
  *    and that one survey in ten carries (the first of each ten), V130
  *    present only in even-numbered surveys, a few unknown-tag lines, and
  *    one windows-1252 survey (the first in the batch).
  */
object DhsCorpus {

  final case class Item(name: String, label: String, start: Int, len: Int,
      alpha: Boolean = false, values: Seq[(String, String)] = Nil, range: Option[(Int, Int)] = None)
  final case class Record(name: String, label: String, tag: String, items: Seq[Item])
  final case class Relation(name: String, primary: String, pLink: String, secondary: String, sLink: String)

  /** One DCF/DAT pair of a delivery with its expected load. */
  final case class FileDelivery(
      ft: String, fileCode: String, version: String, charset: Charset,
      dcf: String, dat: Seq[String],
      /** record name -> lower-cased columns as DatReader emits them (surveyid excluded) */
      columns: Map[String, Seq[String]],
      /** record name -> expected rows over `columns`; packed records hold (hhid, json) */
      rows: Map[String, Seq[Seq[String]]],
      decision: String) {
    def datBytes: Long = dat.map(_.getBytes(charset).length + 1L).sum
  }

  final case class Delivery(seq: Int, surveyId: String, kind: String, zip: String,
      files: Seq[FileDelivery]) {
    def key: String = s"$surveyId#$seq"
  }

  val PackedRecord = "RECHCS"
  val CsItems = 520
  private val Countries = Seq("KE", "BJ", "NG", "GH", "SN", "ML", "BF", "UG", "TZ", "RW",
    "ZM", "MW", "MZ", "ET", "CM", "CI", "GN", "NE", "TD", "MD")
  private val Places = Seq("Nairobi", "Mombasa", "Kisumu", "Nakuru", "Eldoret", "Thika",
    "Malindi", "Kitale", "Garissa", "Kakamega")
  private val PlacesCp1252 = Seq("Bouaké", "Sikasso Sud", "Ségou", "Kayes Nord", "Mopti Bé",
    "Tombouctou", "Kidal", "Gao Ville", "Koulikoro", "Bamako Île")

  private def vs(xs: (Int, String)*): Seq[(String, String)] = xs.map { case (v, d) => v.toString -> d }

  def hrRecords(countrySpecific: Boolean): Seq[Record] = Seq(
    Record("RECH0", "Household's basic data", "H00", Seq(
      Item("HV000", "Country code and phase", 16, 3, alpha = true),
      Item("HV001", "Cluster number", 19, 8),
      Item("HV002", "Household number", 27, 4),
      Item("HV005", "Household sample weight (6 decimals)", 31, 8),
      Item("HV024", "Region", 39, 2, values = vs((1 to 6).map(i => i -> s"Region $i"): _*)),
      Item("HV025", "Type of place of residence", 41, 1, values = vs(1 -> "Urban", 2 -> "Rural")),
      Item("HV026", "Place name", 42, 12, alpha = true))),
    Record("RECH1", "Household schedule", "H01", Seq(
      Item("HVIDX", "Line number", 16, 2),
      Item("HV101", "Relationship to head", 18, 2, values = vs(1 -> "Head", 2 -> "Wife or husband",
        3 -> "Son/daughter", 4 -> "Son/daughter-in-law", 5 -> "Grandchild", 6 -> "Parent",
        12 -> "Not related", 98 -> "Don't know")),
      Item("HV104", "Sex of household member", 20, 1, values = vs(1 -> "Male", 2 -> "Female")),
      Item("HV105", "Age of household members", 21, 2, range = Some((0, 97))))),
    Record("RECH2", "Household characteristics", "H02", Seq(
      Item("HV201", "Source of drinking water", 16, 2, values = vs(11 -> "Piped into dwelling",
        12 -> "Piped to yard/plot", 21 -> "Tube well or borehole", 31 -> "Protected well",
        41 -> "Surface water", 96 -> "Other")),
      Item("HV206", "Has electricity", 18, 1, values = vs(0 -> "No", 1 -> "Yes")),
      Item("HV270", "Wealth index", 19, 1, values = vs(1 -> "Poorest", 2 -> "Poorer",
        3 -> "Middle", 4 -> "Richer", 5 -> "Richest"))))) ++
    (if (!countrySpecific) Nil else Seq(
      Record(PackedRecord, "cs: Country specific household module", "HCS",
        (1 to CsItems).map(i => Item(f"HCS$i%03d", s"Country specific item $i", 15 + i, 1,
          values = if (i == 1) vs(0 -> "No", 1 -> "Yes") else Nil)))))

  def irRecords(ageLen: Int, withV130: Boolean): Seq[Record] = Seq(
    Record("REC01", "Respondent's basic data", "I01", Seq(
      Item("V000", "Country code and phase", 19, 3, alpha = true),
      Item("V001", "Cluster number", 22, 8),
      Item("V002", "Household number", 30, 4),
      Item("V003", "Respondent's line number", 34, 2),
      Item("V005", "Women's individual sample weight", 36, 8),
      Item("V012", "Respondent's current age", 44, ageLen, range = Some((15, 49))))),
    Record("REC11", "Education and religion", "I11", Seq(
      Item("V106", "Highest educational level", 19, 1, values = vs(0 -> "No education",
        1 -> "Primary", 2 -> "Secondary", 3 -> "Higher")),
      Item("V107", "Highest year of education", 20, 1, range = Some((0, 8)))) ++
      (if (withV130) Seq(Item("V130", "Religion", 21, 2, values = vs(1 -> "Catholic",
        2 -> "Protestant", 3 -> "Muslim", 4 -> "Traditional", 96 -> "Other"))) else Nil)),
    Record("REC21", "Birth history", "I21", Seq(
      Item("BIDX", "Birth column number", 19, 2),
      Item("B2", "Year of birth", 21, 4),
      Item("B4", "Sex of child", 25, 1, values = vs(1 -> "Male", 2 -> "Female")))))

  val hrRelations = Seq(Relation("HH_SCHEDULE", "RECH0", "HHID", "RECH1", "HHID"),
    Relation("HH_CHARACTERISTICS", "RECH0", "HHID", "RECH2", "HHID"))
  val irRelations = Seq(Relation("WOMAN_EDUCATION", "REC01", "CASEID", "REC11", "CASEID"),
    Relation("WOMAN_BIRTHS", "REC01", "CASEID", "REC21", "CASEID"))

  def renderDcf(label: String, idName: String, idLen: Int, rtStart: Int, level: String,
      records: Seq[Record], relations: Seq[Relation]): String = {
    val b = new StringBuilder
    def kv(xs: (String, Any)*): Unit = { xs.foreach { case (k, v) => b ++= s"$k=$v\n" }; b ++= "\n" }
    b ++= "[Dictionary]\n"
    kv("Version" -> "CSPro 7.3", "Label" -> label, "Name" -> "RECODE", "RecordTypeStart" -> rtStart,
      "RecordTypeLen" -> 3, "Positions" -> "Absolute", "ZeroFill" -> "No", "DecimalChar" -> "No")
    b ++= "[Level]\n"; kv("Label" -> level, "Name" -> level.toUpperCase)
    b ++= "[IdItems]\n\n"
    b ++= "[Item]\n"
    kv("Label" -> "Case Identification", "Name" -> idName, "Start" -> 1, "Len" -> idLen, "DataType" -> "Alpha")
    records.foreach { r =>
      b ++= "[Record]\n"; kv("Label" -> r.label, "Name" -> r.name, "RecordTypeValue" -> s"'${r.tag}'")
      r.items.foreach { it =>
        b ++= "[Item]\n"
        if (it.alpha) kv("Label" -> it.label, "Name" -> it.name, "Start" -> it.start, "Len" -> it.len, "DataType" -> "Alpha")
        else kv("Label" -> it.label, "Name" -> it.name, "Start" -> it.start, "Len" -> it.len)
        if (it.values.nonEmpty || it.range.nonEmpty) {
          b ++= "[ValueSet]\n"
          b ++= s"Label=${it.label}\nName=${it.name}_VS1\n"
          it.range.foreach { case (lo, hi) => b ++= s"Value=$lo:$hi\n" }
          it.values.foreach { case (v, d) => b ++= s"Value=$v;$d\n" }
          b ++= "\n"
        }
      }
    }
    relations.foreach { r =>
      b ++= "[Relation]\n"
      kv("Name" -> r.name, "Primary" -> r.primary, "PrimaryLink" -> r.pLink,
        "Secondary" -> r.secondary, "SecondaryLink" -> r.sLink)
    }
    b.toString
  }

  private def fit(v: String, it: Item): String =
    if (it.alpha) v.padTo(it.len, ' ').take(it.len)
    else { require(v.length <= it.len, s"${it.name}=$v exceeds ${it.len}"); " " * (it.len - v.length) + v }

  /** One data line: padded key, tag, then every item at its declared start. */
  private def line(key: String, rec: Record, vals: Seq[String]): String = {
    val b = new StringBuilder(key)
    b ++= rec.tag
    rec.items.zip(vals).foreach { case (it, v) =>
      while (b.length < it.start - 1) b += ' '
      b ++= fit(v, it)
    }
    b.toString
  }

  private def cols(idName: String, rec: Record): Seq[String] =
    idName.toLowerCase +: rec.items.map(_.name.toLowerCase)

  /** The JSON `JsonPack.pack` renders for a packed row (all values quoted strings). */
  def packedJson(names: Seq[String], vals: Seq[String]): String =
    names.zip(vals).map { case (n, v) => Json.str(n) + ":" + Json.str(v) }.mkString("{", ",", "}")

  /** Household and individual files of one survey delivery. */
  def surveyFiles(seed: Long, idx: Int, surveyId: String, households: Int, version: String,
      revision: Int, ageLen: Int, cp1252: Boolean, unknown: Int,
      decisions: (String, String)): Seq[FileDelivery] = {
    val rnd = new java.util.Random(seed * 1000003L + idx * 7919L)
    val rev = new java.util.Random(seed * 31L + idx * 104729L + revision)
    val cc = Countries(idx % Countries.size)
    val surveyNum = surveyId.toInt
    val charset = if (cp1252) Charset.forName("windows-1252") else StandardCharsets.US_ASCII
    val places = if (cp1252) PlacesCp1252 else Places
    val withV130 = idx % 2 == 0
    val hasCs = idx % 10 == 0
    val hrRecs = hrRecords(hasCs)
    val irRecs = irRecords(ageLen, withV130)
    val hr = mutable.LinkedHashMap(hrRecs.map(r => r.name -> mutable.ArrayBuffer.empty[Seq[String]]): _*)
    val ir = mutable.LinkedHashMap(irRecs.map(r => r.name -> mutable.ArrayBuffer.empty[Seq[String]]): _*)
    val hrLines = mutable.ArrayBuffer.empty[String]
    val irLines = mutable.ArrayBuffer.empty[String]
    def rec(rs: Seq[Record], n: String) = rs.find(_.name == n).get
    val csNames = (1 to CsItems).map(i => f"hcs$i%03d")
    (0 until households).foreach { h =>
      val cluster = surveyNum * 1000 + h / 20 + 1
      val hhnum = h % 20 + 1
      val hhid = f"$cluster%8d$hhnum%4d"
      val region = 1 + rnd.nextInt(6)
      val urban = 1 + rnd.nextInt(2)
      val h0 = Seq(cc + "7", cluster.toString, hhnum.toString,
        (100000 + rev.nextInt(9000000)).toString, region.toString, urban.toString,
        places(rnd.nextInt(places.size)))
      hrLines += line(hhid, rec(hrRecs, "RECH0"), h0); hr("RECH0") += hhid +: h0
      // the household's shape (members, who is an eligible woman, births)
      // follows its index, so line counts are the same for every seed
      val members = 2 + h % 6
      val women = mutable.ArrayBuffer.empty[(Int, Int)]
      (1 to members).foreach { m =>
        val rel = if (m == 1) 1 else Seq(2, 3, 3, 4, 5, 6, 12)(rnd.nextInt(7))
        val sex = if (m % 2 == 0) 2 else 1
        val age = if (sex == 2) 15 + rnd.nextInt(35) else rnd.nextInt(80)
        val h1 = Seq(m.toString, rel.toString, sex.toString, age.toString)
        hrLines += line(hhid, rec(hrRecs, "RECH1"), h1); hr("RECH1") += hhid +: h1
        if (sex == 2 && age >= 15 && age <= 49) women += ((m, age))
      }
      val h2 = Seq(Seq(11, 12, 21, 31, 41, 96)(rnd.nextInt(6)).toString, rnd.nextInt(2).toString,
        (1 + rnd.nextInt(5)).toString)
      hrLines += line(hhid, rec(hrRecs, "RECH2"), h2); hr("RECH2") += hhid +: h2
      if (hasCs) {
        // country-specific module: blanks parse to "" (trimmed), digits as-is
        val cs = (1 to CsItems).map(_ => rnd.nextInt(4) match { case 0 => ""; case k => (k - 1).toString })
        hrLines += line(hhid, rec(hrRecs, PackedRecord), cs)
        hr(PackedRecord) += Seq(hhid, packedJson(csNames, cs))
      }
      women.foreach { case (m, age) =>
        val caseid = hhid + f"$m%3d"
        val r1 = Seq(cc + "7", cluster.toString, hhnum.toString, m.toString,
          (100000 + rev.nextInt(9000000)).toString, age.toString)
        irLines += line(caseid, rec(irRecs, "REC01"), r1); ir("REC01") += caseid +: r1
        val r11 = Seq(rnd.nextInt(4).toString, rnd.nextInt(9).toString) ++
          (if (withV130) Seq(Seq(1, 2, 3, 4, 96)(rnd.nextInt(5)).toString) else Nil)
        irLines += line(caseid, rec(irRecs, "REC11"), r11); ir("REC11") += caseid +: r11
        (1 to m % 5).foreach { b =>
          val r21 = Seq(b.toString, (2000 + rnd.nextInt(24)).toString, (1 + rnd.nextInt(2)).toString)
          irLines += line(caseid, rec(irRecs, "REC21"), r21); ir("REC21") += caseid +: r21
        }
      }
    }
    // unknown record-type tags: read, skipped, never loaded
    (0 until unknown).foreach { k =>
      hrLines.insert(math.min(hrLines.size, 1 + k * 3), f"${surveyNum * 1000}%8d${k + 1}%4dX99 junk")
      irLines.insert(math.min(irLines.size, 1 + k * 3), f"${surveyNum * 1000}%8d${k + 1}%4d  1X98junk")
    }
    val label = if (cp1252) s"$cc Enquête démographique" else s"$cc Demographic and Health Survey"
    Seq(
      FileDelivery("HR", s"${cc}HR$version", version, charset,
        renderDcf(label + " household recode", "HHID", 12, 13, "Household", hrRecs, hrRelations),
        hrLines.toSeq, hrRecs.map(r => r.name -> (if (r.name == PackedRecord) Seq("hhid", "data") else cols("HHID", r))).toMap,
        hr.map { case (k, v) => k -> v.toSeq }.toMap, decisions._1),
      FileDelivery("IR", s"${cc}IR$version", version, charset,
        renderDcf(label + " individual recode", "CASEID", 15, 16, "Individual", irRecs, irRelations),
        irLines.toSeq, irRecs.map(r => r.name -> cols("CASEID", r)).toMap,
        ir.map { case (k, v) => k -> v.toSeq }.toMap, decisions._2))
  }

  def writeZip(path: String, surveyId: String, files: Seq[FileDelivery]): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    try files.foreach { f =>
      val stem = s"${f.fileCode.toLowerCase}fl"
      zos.putNextEntry(new ZipEntry(s"$stem.dcf")); zos.write(f.dcf.getBytes(f.charset)); zos.closeEntry()
      zos.putNextEntry(new ZipEntry(s"$stem.dat"))
      zos.write(f.dat.mkString("", "\n", "\n").getBytes(f.charset)); zos.closeEntry()
    } finally zos.close()
  }

  /** Size of each survey in a block of 20 (16 small, 3 medium, 1 large). */
  private val SizeMix = Seq("small", "small", "small", "medium", "small", "small", "small", "large",
    "small", "small", "small", "small", "medium", "small", "small", "small", "small", "small",
    "medium", "small")
  private val RedeliveryKinds = Seq("changed", "bump", "identical")

  /** Generate `blocks` × 20 surveys (plus re-deliveries) as zips under `dir`,
    * stopping after the first `limit` deliveries. With `redeliver = false`
    * only first deliveries are produced.
    */
  def generate(seed: Long, dir: File, blocks: Int, redeliver: Boolean = true,
      firstSurvey: Int = 100, limit: Int = Int.MaxValue): Seq[Delivery] = {
    dir.mkdirs()
    val rnd = new java.util.Random(seed)
    val out = mutable.ArrayBuffer.empty[Delivery]
    case class Params(idx: Int, sid: String, hh: Int, cp: Boolean, unknown: Int)
    val firsts = mutable.ArrayBuffer.empty[Params]
    var seq = 0
    def emit(kind: String, p: Params, files: => Seq[FileDelivery]): Unit = if (out.size < limit) {
      val zip = new File(dir, f"$seq%04d_${p.sid}.zip").getPath
      val fs = files
      writeZip(zip, p.sid, fs)
      out += Delivery(seq, p.sid, kind, zip, fs)
      seq += 1
    }
    (0 until blocks).foreach { b =>
      SizeMix.zipWithIndex.foreach { case (size, j) =>
        val idx = b * 20 + j
        val hh = size match {
          case "small" => 10
          case "medium" => 60
          case _ => 300
        }
        val p = Params(idx, (firstSurvey + idx).toString, hh, idx == 0, if (idx % 8 == 3) 2 else 0)
        firsts += p
        emit("first", p, surveyFiles(seed, idx, p.sid, hh, "71", 0, 2, p.cp, p.unknown, ("Load", "Load")))
        if (redeliver && j % 5 == 0) {
          val back = firsts.last
          RedeliveryKinds((b * 4 + j / 5) % 3) match {
            case "identical" =>
              emit("identical", back, surveyFiles(seed, back.idx, back.sid, back.hh, "71", 0, 2,
                back.cp, back.unknown, ("Skip", "Skip")))
            case "changed" =>
              emit("changed", back, surveyFiles(seed, back.idx, back.sid, back.hh, "71", 1, 3,
                back.cp, back.unknown, ("Skip", "Reload")))
            case _ =>
              emit("bump", back, surveyFiles(seed, back.idx, back.sid, back.hh, "72", 2, 2,
                back.cp, back.unknown, ("Reload", "Reload")))
          }
        }
      }
    }
    out.toSeq
  }
}
