package graft.cspro

import graft.model.{ColumnSpec, RelationshipSpec, ValueSpec}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed DCF ingestion: the state-machine parser is inherently
  * sequential PER FILE (chunk context threads through the whole file), but
  * files are independent and small — so the unit of parallelism is the file.
  * `wholeTextFiles` gives (path, content) pairs across executors; each
  * executor runs the pure-Scala parser on its files (SURVEY.md §2.1-S4).
  *
  * Charset note: `wholeTextFiles` decodes as UTF-8 unconditionally, so
  * non-UTF-8 files are read as bytes via `binaryFiles` and decoded with the
  * sniffed charset per file — the distributed equivalent of the reference's
  * per-file chardet pre-step (ref DCF_Parser.py:34-42).
  */
object DcfSource {

  final case class ParsedFile(
      fileCode: String,
      items: Seq[ColumnSpec],
      values: Seq[ValueSpec],
      relations: Seq[RelationshipSpec],
      warnings: Seq[String])

  /** FileCode from a staged DCF path `<dir>/<survey>.<FILECODE>.DCF`
    * (stage-02 naming) or a bare `<FILECODE>.DCF`.
    */
  def fileCodeOf(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val parts = base.split("\\.")
    if (parts.length >= 3) parts(parts.length - 2) else parts(0)
  }

  /** Parse every DCF matched by `glob`, one task per file, charset-sniffed.
    * Returns a Dataset so downstream spec-catalog plans stay distributed.
    */
  def parseFiles(
      spark: SparkSession,
      glob: String,
      expandRanges: DcfParser.RangeExpansion = DcfParser.RangeExpansion.All,
      rangeExpansionLimit: Long = DcfParser.DefaultRangeExpansionLimit): Dataset[ParsedFile] = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(glob)
      .map { case (path, stream) =>
        val bytes = stream.toArray()
        val content = CharsetSniffer.decode(bytes) // sniffed charset, BOM stripped
        val fc = fileCodeOf(path)
        val r = DcfParser.parse(content, fc, expandRanges, rangeExpansionLimit)
        ParsedFile(fc, r.items, r.values, r.relations, r.warnings)
      }
      .toDS()
  }

  /** All items across parsed files as one spec Dataset (the
    * dhs_table_specs_flat shape feeding SpecCatalog.mergeColumns).
    */
  def allItems(parsed: Dataset[ParsedFile]): Dataset[ColumnSpec] = {
    import parsed.sparkSession.implicits._
    parsed.flatMap(_.items)
  }

  /** All value labels across parsed files as one Dataset (the
    * dhs_value_descs shape: the reference's per-file FlatValuesSpec rows,
    * DCF_Parser.py:24-25, loaded by lib03_Update_Metadata.py:9-12).
    */
  def allValues(parsed: Dataset[ParsedFile]): Dataset[ValueSpec] = {
    import parsed.sparkSession.implicits._
    parsed.flatMap(_.values)
  }

  /** All `[Relation]` joins across parsed files as one Dataset (the
    * reference's per-file RelationshipsSpec rows, DCF_Parser.py:537-645).
    */
  def allRelations(parsed: Dataset[ParsedFile]): Dataset[RelationshipSpec] = {
    import parsed.sparkSession.implicits._
    parsed.flatMap(_.relations)
  }
}
