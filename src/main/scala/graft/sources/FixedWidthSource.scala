package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import graft.cspro.{CharsetSniffer, DatReader, DcfParser}
import graft.model.ColumnSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StructField, StructType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `fixedwidth` DataSourceV2: CSPro multi-record-type fixed-width files as a
  * first-class Spark source (SURVEY.md §4.3's optional custom — the
  * composable form is DatReader; this is the clean connector API):
  *
  * {{{
  * spark.read.format("fixedwidth")      // or classOf[FixedWidthSource].getName
  *   .option("dcf", "/path/BJHR71.DCF") // schema authority (parsed driver-side)
  *   .option("record", "RECH0")         // which record type this frame is
  *   .option("surveyid", "511")         // optional injected constant
  *   .load("/path/511.BJHR71.DAT")
  * }}}
  *
  * Scale/pushdown behavior:
  *  - one input partition per file (DAT files are per-survey, many files →
  *    natural parallelism; line-level splitting would need tag-safe split
  *    points and buys nothing at DHS file sizes);
  *  - column pruning IS pushed into the source
  *    (`SupportsPushDownRequiredColumns`): only the requested fields'
  *    substrings are materialized per line;
  *  - conditional-trim semantics identical to DatReader (CASEID/HHID keep
  *    padding); unknown record-type lines are skipped, not errors;
  *  - per-file charset sniffing, BOM-safe.
  */
class FixedWidthSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "fixedwidth"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixedWidthSource.schemaFor(FixedWidthSource.fieldsFor(options), options)

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FixedWidthTable(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object FixedWidthSource {

  /** Parse the DCF (driver-side; pure Scala parser) and select the record
    * type's fields in (RecordTypeValue, Start) order.
    */
  def fieldsFor(options: CaseInsensitiveStringMap): Seq[ColumnSpec] = {
    val dcfPath = Option(options.get("dcf")).getOrElse(
      throw new IllegalArgumentException("fixedwidth source requires option 'dcf'"))
    val record = Option(options.get("record")).getOrElse(
      throw new IllegalArgumentException("fixedwidth source requires option 'record'"))
    // parsed on every call (a DCF is a few KB): a memo keyed on the file's
    // mtime would serve a stale field list for a DCF rewritten within the
    // same millisecond or restored with its old mtime
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dcfPath))
    val parsed = DcfParser.parse(CharsetSniffer.decode(bytes), fileCode = record)
    val locator = parsed.items.filter(_.itemType == "RecordDesciption")
    val fields = DatReader.fieldsByRecordType(parsed.items)
      .values.flatten.filter(_.recordName == record).toSeq.sortBy(_.start)
    if (fields.isEmpty)
      throw new IllegalArgumentException(s"record type '$record' not declared in $dcfPath")
    locator ++ fields
  }

  def schemaFor(specs: Seq[ColumnSpec], options: CaseInsensitiveStringMap): StructType = {
    val dataFields = specs.filter(_.itemType != "RecordDesciption")
      .map(f => StructField(f.name.toLowerCase, StringType))
    // a DCF can itself declare an item named SURVEYID: the declared field
    // wins and the injected constant is skipped — appending a second column
    // of the same name would shadow the file's data with the option value
    val withSurvey =
      if (options.containsKey("surveyid") &&
        !dataFields.exists(_.name == "surveyid"))
        dataFields :+ StructField("surveyid", StringType)
      else dataFields
    StructType(withSurvey)
  }
}

private class FixedWidthTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val specs = FixedWidthSource.fieldsFor(options)

  // load(path) lands in options as "path"; load(p1, p2, …) as a JSON-array
  // string under "paths" — parsed as real JSON (paths may contain commas)
  private val paths: Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(js, classOf[Array[String]]).toSeq
    }
    (single ++ multi).distinct
  }
  require(paths.nonEmpty, "fixedwidth source requires a load path")

  override def name(): String = s"fixedwidth(${options.get("record")})"
  override def schema(): StructType = FixedWidthSource.schemaFor(specs, options)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // capture the OWNING session's Hadoop conf here: newScanBuilder runs
    // under the session that created this DataFrame, whereas resolving
    // SparkSession.active later (plan/execution time) can pick up a
    // different session's credentials/fs settings in a multi-session app
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    new FixedWidthScanBuilder(specs, schema(), paths, Option(options.get("surveyid")), hadoopConf)
  }
}

private class FixedWidthScanBuilder(
    specs: Seq[ColumnSpec], fullSchema: StructType, paths: Seq[String],
    surveyId: Option[String],
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new FixedWidthScan(specs, required, paths, surveyId, hadoopConf)
}

private class FixedWidthScan(
    specs: Seq[ColumnSpec], required: StructType, paths: Seq[String],
    surveyId: Option[String],
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"fixedwidth: ${specs.count(_.itemType != "RecordDesciption")} fields, reading ${required.length}"

  override def planInputPartitions(): Array[InputPartition] = {
    // the OWNING session's Hadoop conf, captured at scan-builder creation —
    // credentials and filesystem settings (spark.hadoop.fs.*) must reach the
    // connector the same way they reach every other read path, and must not
    // depend on whichever session happens to be thread-active at plan time
    val conf = hadoopConf.value
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      // globStatus handles literal paths, globs, and directories uniformly
      // (a literal nonexistent path yields null → empty)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      matched.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }.map(s => FixedWidthPartition(s.getPath.toString))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FixedWidthReaderFactory(specs, required, surveyId, hadoopConf)
}

private case class FixedWidthPartition(path: String) extends InputPartition

private class FixedWidthReaderFactory(
    specs: Seq[ColumnSpec], required: StructType, surveyId: Option[String],
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  /** Strips the shared [[DatReader.TrimChars]] set, as [[DatReader.stripWs]]
    * does, so the connector and the composable plan trim identically — a
    * tab-padded field must not parse differently between the two paths.
    */
  private def stripWs(s: String): String = {
    def ws(c: Char) = DatReader.TrimChars.indexOf(c) >= 0
    var b = 0
    var e = s.length
    while (b < e && ws(s.charAt(b))) b += 1
    while (e > b && ws(s.charAt(e - 1))) e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FixedWidthPartition]
    val (rtStart, rtLen) = DatReader.recordTypeLocator(specs)
    val fields = specs.filter(_.itemType != "RecordDesciption")
    val tag = fields.head.recordTypeValue
    // per-column extraction plan for the REQUIRED columns only
    val byName = fields.map(f => f.name.toLowerCase -> f).toMap
    val extractors: Array[String => UTF8String] = required.fields.map { rf =>
      // injected constant only when the DCF does not declare the field
      // itself — a declared SURVEYID item reads its file bytes like any
      // other column
      if (rf.name == "surveyid" && !byName.contains("surveyid")) {
        (_: String) => UTF8String.fromString(surveyId.getOrElse(""))
      }
      else {
        val f = byName.getOrElse(rf.name,
          throw new IllegalArgumentException(s"unknown column ${rf.name}"))
        val from = f.start - 1
        val until = f.start - 1 + f.len
        val noTrim = DatReader.NoTrimNames.contains(f.name)
        (line: String) => {
          val raw =
            if (line.length <= from) ""
            else line.substring(from, math.min(until, line.length))
          UTF8String.fromString(if (noTrim) raw else stripWs(raw))
        }
      }
    }

    new PartitionReader[InternalRow] {
      // the driver's Hadoop conf, shipped via SerializableConfiguration —
      // executors otherwise see a bare Configuration with no session settings
      private val fsPath = new Path(p.path)
      private val fs = fsPath.getFileSystem(hadoopConf.value)
      // sniff the charset from a bounded head, then decode line-by-line off
      // the stream — the reader never holds more than one line plus the
      // BufferedReader's buffer (a multi-GB landing DAT must not OOM an
      // executor; the reference sniffs a head the same way, DAT_Parser:62-68)
      private val charset = {
        val head = fs.open(fsPath)
        try CharsetSniffer.detectStream(head) finally head.close()
      }
      private val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(fsPath), charset))
      private var firstLine = true
      private var current: InternalRow = _

      override def next(): Boolean = {
        var line = reader.readLine()
        while (line != null) {
          if (firstLine) {
            firstLine = false
            // decoded BOM would prefix the first line's record-type tag
            if (line.nonEmpty && line.charAt(0) == '\uFEFF') line = line.substring(1)
          }
          val lineTag =
            if (line.length < rtStart - 1 + rtLen) ""
            else line.substring(rtStart - 1, rtStart - 1 + rtLen)
          if (lineTag == tag) {
            current = InternalRow.fromSeq(extractors.map(_(line)).toIndexedSeq)
            return true
          }
          line = reader.readLine()
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}
