package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, regexp_replace, when}

/** CSV source/sink with the reference's typing discipline.
  *
  * The reference reads every CSV with `dtype=str` — type sniffing is
  * deliberately suppressed because fixed-width survey values are codes, not
  * numbers, and padding/leading zeros are load-bearing (ref
  * lib04_Update_Table_Data.py:409, lib03_Update_Metadata.py:212,240;
  * doc/Data_Format.md:222). Spark's csv reader is all-string by default
  * (`inferSchema=false`), which this wrapper pins down, plus the reference's
  * cp1252 fallback encoding path (ref 04_DHS_Load_New_Tables.ipynb:440-444).
  *
  * Sink: one CSV dataset per record table with header row, the shape stage-02
  * emits per (filecode, RecordName) (ref DAT_Parser.py:114-128). At scale a
  * single `partitionBy(recordname)` write replaces N separate writes — one
  * pass over the data, one directory per table.
  */
object CsvIO {

  /** Charsets whose code unit is wider than one byte, endianness-explicit.
    * Spark's CSV reader splits records on raw 0x0A bytes when `lineSep` is
    * unset, which misaligns these encodings (every record after the first
    * would start with a stray NUL under UTF-16LE) — they need the delimiter
    * encoded in the file's charset. Only -LE/-BE names belong here: Java
    * encodes "\n" under generic "UTF-16" as a BOM-PREFIXED FE FF 00 0A,
    * a delimiter that never occurs between records.
    */
  private val MultiByteUnitCharsets: Set[String] =
    Set("UTF-16LE", "UTF-16BE", "UTF-32LE", "UTF-32BE")

  /** Read a header CSV with every column StringType; no inference ever. */
  def readAllString(
      spark: SparkSession,
      path: String,
      encoding: String = "UTF-8",
      header: Boolean = true): DataFrame = {
    // generic UTF-16/32 can DECODE (the BOM decides endianness) but cannot
    // round-trip a record delimiter (see MultiByteUnitCharsets) — require
    // the caller (or the sniffer, which always does) to pick the byte order
    require(!Set("UTF-16", "UTF-32").contains(encoding.toUpperCase),
      s"readAllString: pass an endianness-explicit charset (${encoding}LE / " +
        s"${encoding}BE), not generic $encoding — the record delimiter cannot " +
        "be encoded without knowing byte order")
    val multiByte = MultiByteUnitCharsets.contains(encoding.toUpperCase)
    val base = spark.read
      .option("header", header.toString)
      .option("inferSchema", "false")
      .option("encoding", encoding)
    // lineSep is encoded with the charset option by the reader, so "\n"
    // becomes 0A 00 under UTF-16LE etc. — record-aligned splits
    val reader = if (multiByte) base.option("lineSep", "\n") else base
    val df0 = reader.csv(path)
    if (!multiByte || df0.columns.isEmpty) df0
    else {
      // an explicit lineSep bypasses Hadoop's CRLF normalization: a
      // Windows-origin file leaves a decoded \r glued to the LAST field of
      // every record — including the HEADER row, where it lands in the last
      // column NAME. Strip both (a field legitimately ending in a bare \r
      // is pathological-by-construction; trade documented here)
      val df1 = df0.columns.lastOption match {
        case Some(cn) if cn.endsWith("\r") => df0.withColumnRenamed(cn, cn.stripSuffix("\r"))
        case _ => df0
      }
      val lastCol = df1.columns.last
      val df = df1.withColumn(lastCol, regexp_replace(col(lastCol), "\r$", ""))
      // the file BOM decodes to U+FEFF prefixing the FIRST cell: under
      // header=true that is the first column NAME; under header=false it is
      // row 1's first value. The headerless strip applies to every row (row
      // identity is meaningless distributed) — a survey field legitimately
      // BEGINNING with a zero-width no-break space is pathological-by-
      // construction, the same documented trade as the \r strip above
      if (header)
        df.columns.headOption match {
          case Some(c0) if c0.startsWith("\uFEFF") => df.withColumnRenamed(c0, c0.substring(1))
          case _ => df
        }
      else {
        val c0 = df.columns.head
        df.withColumn(c0,
          when(col(c0).startsWith("\uFEFF"), expr(s"substring(`$c0`, 2)"))
            .otherwise(col(c0)))
      }
    }
  }

  /** The reference's utf-8→cp1252 fallback, detection-based: Spark's CSV
    * reader never THROWS on malformed UTF-8 (bad bytes decode leniently into
    * replacement garbage), so a try/re-read chain can't see the problem —
    * mojibake would be ingested silently. Instead sniff the head with the
    * same strict-UTF-8 validator the DCF/DAT paths use and read once with
    * the detected encoding.
    */
  def readWithFallback(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    // a directory of part files shares one encoding (one writer): sniff the
    // first data file
    val target =
      if (st.isDirectory)
        fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.getName).headOption.map(_.getPath).getOrElse(p)
      else p
    val charset = {
      val in = fs.open(target)
      try graft.cspro.CharsetSniffer.detectStream(in) finally in.close()
    }
    readAllString(spark, path, charset.name())
  }

  /** Write one table as a header CSV dataset. Spark's csv WRITER trims
    * leading/trailing whitespace by default — fatal here, because
    * CASEID/HHID padding is what keeps the household↔individual join sound
    * (SURVEY.md §1.4-1) — so both trims are pinned off.
    */
  def writeTable(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** Write every record-type table under `outDir/<recordName>` (the per-table
    * CSV layout of stage-02, parallel per table and per partition).
    */
  def writeRecordTables(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) => writeTable(df, s"$outDir/$name") }
}
