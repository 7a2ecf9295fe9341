package graft.sources

import java.io.{File, FileOutputStream}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-02 download organisation: zip extraction, download-manifest
  * parsing, and extension routing (SURVEY.md §2.1 S1-S3; ref
  * lib02_Unzip_And_Organise_Downloads.py).
  *
  * Zip extraction is a driver-side pre-step by design — archives are small
  * (a few MB), arrive in the landing area, and Spark's scan starts from the
  * extracted `.dcf`/`.dat` files. The manifest parse and the directory
  * routing are Spark plans so they compose with the rest of the catalog.
  */
object Organize {

  /** Extract a survey zip: members land as `<outDir>/<surveyNum>/<surveyNum>.<MEMBER>`
    * (uppercased member name — the reference's rename, ref lib02:8-30).
    * Existing files are overwritten (idempotent re-run).
    */
  def unzipAndSort(zipPath: String, surveyNum: String, outDir: String): Seq[String] = {
    val dest = new File(outDir, surveyNum)
    dest.mkdirs()
    val zf = new ZipFile(zipPath)
    try {
      zf.entries().asScala.filterNot(_.isDirectory).map { entry =>
        val name = new File(entry.getName).getName.toUpperCase
        val out = new File(dest, s"$surveyNum.$name")
        val in = zf.getInputStream(entry)
        val os = new FileOutputStream(out)
        try in.transferTo(os) finally { os.close(); in.close() }
        out.getPath
      }.toSeq
    } finally zf.close()
  }

  /** Parse a DHS batch-download manifest (one URL per line; the zip filename
    * and survey number ride in query-string params `Filename=` / `SurveyId=`
    * or `Tp=`, ref lib02:33-46) → (filename, surveyNum) rows.
    */
  def parseDownloadManifest(spark: SparkSession, path: String): DataFrame = {
    val surveyId = regexp_extract(col("value"), "(?i)SurveyId=(\\d+)", 1)
    val tp = regexp_extract(col("value"), "(?i)Tp=(\\d+)", 1)
    spark.read.text(path)
      .select(
        upper(regexp_extract(col("value"), "(?i)Filename=([^&\\s]+)", 1)).as("filename"),
        when(surveyId =!= "", surveyId).otherwise(tp).as("surveyid"))
      .filter(col("filename") =!= "" && col("surveyid") =!= "")
  }

  /** Route a directory listing by extension: `.dcf` vs `.dat` vs other,
    * case-insensitive (ref lib02:102-103). Input column `path`.
    */
  def routeByExtension(files: DataFrame): DataFrame =
    files.withColumn("ext", lower(element_at(split(col("path"), "\\."), -1)))
      .withColumn("route",
        when(col("ext") === "dcf", "dcf")
          .when(col("ext") === "dat", "dat")
          .otherwise("other"))

  /** Survey number from a manually-downloaded file's name prefix
    * (`<survey>.<rest>`, ref lib02:79-92).
    */
  def surveyFromFilename(files: DataFrame): DataFrame =
    files.withColumn("surveyid",
      regexp_extract(element_at(split(col("path"), "/"), -1), "^(\\d+)\\.", 1))

  /** List a landing directory as a DataFrame of paths (the reference's
    * directory scan, lib02:49-125: plain files only, no recursion; a missing
    * directory lists as empty). Driver FS listing — at deployment scale this
    * becomes the object-store inventory feed.
    */
  def listDir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath).toSeq
    files.toDF("path")
  }
}
