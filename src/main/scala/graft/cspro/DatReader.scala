package graft.cspro

import graft.model.ColumnSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Spark-native reader for CSPro `.DAT` multi-record-type fixed-width files.
  *
  * The reference parses these line-by-line in a single Python process,
  * dispatching each line on a record-type tag at a fixed position and
  * substring-projecting per that type's spec
  * (ref: DHS_To_Database/cspro_parser/DAT_Parser.py:10-128). Lines are
  * independent, so in Spark this is an embarrassingly parallel
  * `spark.read.text` scan followed by per-record-type declarative plans:
  * `filter(tag) → select(substring…)` — built-in column expressions, no
  * UDFs, no shuffle at all (narrow transformations only), compiled by
  * whole-stage codegen once per record layout and cached. A wide packed
  * record's stage compiles to one method too large for the JIT (about
  * 38 KB of bytecode at 520 fields, over HotSpot's 8,000-byte limit), so
  * it runs in the bytecode interpreter; see [[stripWs]] for the width
  * ceiling.
  *
  * At 100 TB the one-pass property of the reference is recovered by caching
  * the line scan once (`persist`) and deriving every record type's DataFrame
  * from it, or — for a write-through ingest — by routing lines with a single
  * pass into a `partitionBy(recordName)` text write and projecting each
  * partition lazily afterwards. Both avoid re-reading the raw bytes N times.
  *
  * Correctness traps preserved (SURVEY.md §1.4):
  *  - 1-based inclusive extraction: field = line[Start-1 : Start+Len-1] ≡
  *    `substring(line, Start, Len)` (Spark substring is 1-based);
  *  - every field is trimmed EXCEPT `CASEID`/`HHID`, whose padding is what
  *    keeps `HHID = substring(CASEID, 1, 12)` joins sound
  *    (ref DAT_Parser.py:86-105, doc/Data_Format.md:151-157);
  *  - the trim decision is static per field, so it compiles into the plan
  *    (`when` is not needed — the field name is known at plan-build time);
  *  - lines whose record-type tag matches no spec are skipped, not an error
  *    (ref DAT_Parser.py:76-79);
  *  - per-table column order is (RecordTypeValue, Start) with IdItems leading
  *    (ref DAT_Parser.py:47-48).
  */
object DatReader {

  /** Names whose whitespace padding is load-bearing (never trimmed). */
  val NoTrimNames: Set[String] = Set("CASEID", "HHID")

  /** The record-type locator row (ItemType=RecordDesciption) from a spec. */
  def recordTypeLocator(specs: Seq[ColumnSpec]): (Int, Int) = {
    val rd = specs.find(_.itemType == "RecordDesciption")
      .getOrElse(throw new IllegalArgumentException("spec has no RecordDesciption row"))
    (rd.start, rd.len)
  }

  /** Data fields (everything but the locator), grouped per record-type tag
    * and sorted (RecordTypeValue, Start) as the reference does.
    */
  def fieldsByRecordType(specs: Seq[ColumnSpec]): Map[String, Seq[ColumnSpec]] =
    specs.filter(_.itemType != "RecordDesciption")
      .sortBy(f => (f.recordTypeValue, f.start))
      .groupBy(_.recordTypeValue)

  /** The trim set of the engine: ASCII whitespace as Java-regex `\s`
    * defines it (space, \t, \n, \x0B, \f, \r). Shared by [[stripWs]] and
    * the fixedwidth DSv2 connector so both readers trim identically.
    */
  val TrimChars: String = " \t\n\u000B\f\r"

  /** The one trim semantic of the engine: strip every [[TrimChars]]
    * character from both ends — the reference's Python `str.strip()` for
    * every ASCII input (ref DAT_Parser.py:102-105). Spark's one-argument
    * `trim()` strips only ' ' and would keep a tab, so the set is explicit.
    *
    * A set trim, not `regexp_replace(c, "^\\s+|\\s+$", "")`, for two
    * reasons. (1) Code size: each regex field inlines enough generated code
    * that a 520-field packed record pushes one method past the JVM's 64 KB
    * limit, whole-stage codegen fails to compile, and Janino does not cache
    * the failure, so every load paid for it again. (2) Java's `$` also
    * matches before a final line terminator (U+0085, U+2028, U+2029), so the
    * regex trimmed "BJ \u2028" to "BJ\u2028" while the connector kept it;
    * the set trim keeps it in both readers.
    *
    * Ceiling: with the set trim an 800-field record's projection still
    * compiles (largest method about 59 KB); a 900-field one fails
    * whole-stage codegen again and pays the failed compile on every load.
    */
  def stripWs(c: Column): Column = trim(c, TrimChars)

  /** The column expression for one fixed-width field of one line. */
  def fieldColumn(line: Column, f: ColumnSpec): Column = {
    val raw = substring(line, f.start, f.len)
    val v = if (NoTrimNames.contains(f.name)) raw else stripWs(raw)
    v.as(f.name.toLowerCase)
  }

  /** Project a DataFrame of raw lines (single string column `colName`) into
    * one DataFrame per record type declared in `specs`. Purely narrow plans:
    * each result is filter+project over the shared scan.
    */
  def projectLines(
      lines: DataFrame,
      specs: Seq[ColumnSpec],
      colName: String = "value",
      surveyId: Option[String] = None
  ): Map[String, DataFrame] = {
    val (rtStart, rtLen) = recordTypeLocator(specs)
    val byType = fieldsByRecordType(specs)
    byType.map { case (tag, fields) =>
      val recordNames = fields.map(_.recordName).distinct
      require(recordNames.size == 1,
        s"record type $tag maps to multiple record names: $recordNames")
      val line = col(colName)
      var out = lines
        .filter(substring(line, rtStart, rtLen) === tag)
        .select(fields.map(f => fieldColumn(line, f)): _*)
      // withColumn REPLACES an existing column: if the DCF declares its own
      // SURVEYID item, that field's data wins over the injected constant
      surveyId.foreach(id =>
        if (!out.columns.contains("surveyid"))
          out = out.withColumn("surveyid", lit(id)))
      recordNames.head -> out
    }
  }

  /** A DAT scan: the per-record-type DataFrames plus a `release()` handle
    * for the persisted line scan backing them. Callers iterating many files
    * MUST release each scan once its tables are consumed, or the session
    * accumulates pinned cache blocks.
    */
  final case class DatScan(tables: Map[String, DataFrame], private val lines: DataFrame) {
    def apply(recordName: String): DataFrame = tables(recordName)
    def release(): Unit = { lines.unpersist(); () }
  }

  /** Read a `.DAT` file into per-record-type DataFrames. The raw line scan is
    * persisted so N record types cost one pass over the bytes, mirroring the
    * reference's single-pass dispatch (ref DAT_Parser.py:70-112) without
    * materializing every table in driver memory. Call `release()` when done;
    * for write-through ingest of large landing areas prefer
    * [[routeToStorage]], which needs no cache at all.
    */
  def readDat(
      spark: SparkSession,
      datPath: String,
      specs: Seq[ColumnSpec],
      surveyId: Option[String] = None,
      charset: Option[String] = None
  ): DatScan = {
    // Spark's text datasource has NO encoding option (TextOptions knows
    // only wholetext/lineSep) — a non-UTF-8 charset passed to
    // `spark.read.option("encoding", …).text` is silently ignored and every
    // 0x80+ byte decodes to U+FFFD (caught by Section14EndToEndSpec's
    // cp1252 survey). So non-UTF-8 reads go through TextInputFormat, which
    // hands over the RAW line bytes undecoded, + an explicit per-line
    // decode. Splitting is on the 0x0A byte: exact for every single-byte
    // charset (the reference's cp1252 fallback family, ASCII supersets);
    // multi-byte non-UTF-8 encodings (UTF-16 etc.) are BOM-detected
    // upstream by CharsetSniffer and should use the fixedwidth DSv2 source,
    // whose partition reader decodes streams natively.
    val lines0 = charset.map(_.trim).filter(cs =>
        !cs.equalsIgnoreCase("UTF-8") && !cs.equalsIgnoreCase("US-ASCII")) match {
      case Some(cs) =>
        val probe = java.nio.charset.Charset.forName(cs) // fail fast on a bad name, driver-side
        // …and fail fast on a charset this split strategy would CORRUPT:
        // TextInputFormat splits on raw 0x0A bytes, which is only exact
        // when every character is one byte (so 0x0A can never be the tail
        // of a multi-byte character — UTF-16's '\n' is 0A 00 and every
        // split would land mid-character, silently). Multi-byte charsets
        // must go through the fixedwidth DSv2 source, whose partition
        // reader decodes streams natively.
        require(probe.newEncoder().maxBytesPerChar() == 1.0f,
          s"charset $cs is multi-byte: raw-byte line splitting would corrupt it — " +
            "read this file through the fixedwidth DSv2 source (format(\"fixedwidth\")) instead")
        // single-byte is necessary but not sufficient: the raw-0x0A split is
        // only exact when the charset maps byte 0x0A to '\n'. EBCDIC-family
        // single-byte charsets (IBM037 encodes '\n' as 0x25) pass the width
        // guard yet would be silently chopped mid-record — probe the one
        // byte that matters and fail fast instead.
        require(new String(Array(0x0A.toByte), probe) == "\n",
          s"charset $cs does not decode byte 0x0A as '\\n' (EBCDIC family?): " +
            "raw-byte line splitting would corrupt records — decode this file " +
            "externally or extend DatReader with a charset-aware record splitter")
        val rdd = spark.sparkContext.newAPIHadoopFile(
            datPath,
            classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
            classOf[org.apache.hadoop.io.LongWritable],
            classOf[org.apache.hadoop.io.Text])
          .mapPartitions { it =>
            // Charset is not Serializable — resolve from the captured name
            val charsetObj = java.nio.charset.Charset.forName(cs)
            it.map { case (_, t) => new String(t.copyBytes(), charsetObj) }
          }
        spark.createDataset(rdd)(org.apache.spark.sql.Encoders.STRING).toDF("value")
      case None => spark.read.text(datPath)
    }
    // scope-registered as well as release()-able: inside a CacheScope the
    // scan is freed at scope close even if the caller forgets release()
    val lines = graft.CacheScope.track(lines0.persist(StorageLevel.MEMORY_AND_DISK))
    DatScan(projectLines(lines, specs, "value", surveyId), lines)
  }

  /** Tags present in the data but declared in no spec — the reference logs
    * these per line and skips them (ref DAT_Parser.py:76-79). Exposed as a
    * DataFrame (tag, n) so the caller can warn without a driver-side loop.
    */
  def unknownRecordTypes(lines: DataFrame, specs: Seq[ColumnSpec], colName: String = "value"): DataFrame = {
    val (rtStart, rtLen) = recordTypeLocator(specs)
    val known = fieldsByRecordType(specs).keys.toSeq
    lines
      .select(substring(col(colName), rtStart, rtLen).as("tag"))
      .filter(!col("tag").isInCollection(known))
      .groupBy("tag").count()
  }

  /** One-pass routed write: tag every line with its record name and write
    * `partitionBy(recordname)` — the raw bytes are read ONCE and land
    * pre-separated per table, after which each table's projection
    * ([[projectLines]]) scans only its own partition directory. This is the
    * at-scale replacement for caching the line scan: the reference's
    * single-pass dispatch (ref DAT_Parser.py:70-112) without holding every
    * table in memory, and without N re-reads of a 100 TB landing area.
    */
  def routeToStorage(
      lines: DataFrame,
      specs: Seq[ColumnSpec],
      outDir: String,
      colName: String = "value"): Unit = {
    val (rtStart, rtLen) = recordTypeLocator(specs)
    val tagToName = fieldsByRecordType(specs).map { case (tag, fs) => tag -> fs.head.recordName }
    val nameCol = tagToName.foldLeft(lit(null).cast("string")) { case (acc, (tag, name)) =>
      when(substring(col(colName), rtStart, rtLen) === tag, lit(name)).otherwise(acc)
    }
    lines
      .withColumn("recordname", nameCol)
      .filter(col("recordname").isNotNull) // unknown tags skipped, not errors
      .write.mode("overwrite")
      .partitionBy("recordname")
      .text(outDir)
  }

  /** Read one routed record-type partition back and project it. */
  def readRouted(
      spark: SparkSession,
      routedDir: String,
      specs: Seq[ColumnSpec],
      recordName: String,
      surveyId: Option[String] = None): DataFrame = {
    val lines = spark.read.text(s"$routedDir/recordname=$recordName")
    projectLines(lines, specs, "value", surveyId)(recordName)
  }
}
