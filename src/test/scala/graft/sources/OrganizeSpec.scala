package graft.sources

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

class OrganizeSpec extends AnyFunSuite with SparkTestBase {

  private def mkZip(dir: File, name: String, members: Map[String, String]): String = {
    val f = new File(dir, name)
    val z = new ZipOutputStream(new FileOutputStream(f))
    members.foreach { case (n, content) =>
      z.putNextEntry(new ZipEntry(n))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    f.getPath
  }

  test("unzipAndSort: members land as <survey>/<survey>.<MEMBER>, uppercased, idempotent") {
    val tmp = graft.Fixtures.dir("org").toFile
    val zip = mkZip(tmp, "bj.zip", Map("bjhr71.dcf" -> "[Dictionary]", "BJHR71.dat" -> "data"))
    val out1 = Organize.unzipAndSort(zip, "511", new File(tmp, "staging").getPath).sorted
    assert(out1.map(new File(_).getName) == Seq("511.BJHR71.DAT", "511.BJHR71.DCF"))
    // re-run overwrites, same outputs
    val out2 = Organize.unzipAndSort(zip, "511", new File(tmp, "staging").getPath).sorted
    assert(out2 == out1)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out1.head)), "UTF-8") == "data")
  }

  test("manifest parse extracts (filename, surveyid) from URL query strings") {
    val tmp = graft.Fixtures.dir("org2")
    val manifest = tmp.resolve("manifest.txt")
    java.nio.file.Files.writeString(manifest,
      """https://dhsprogram.com/data/dl?Filename=BJHR71DT.zip&Tp=1&SurveyId=511
        |https://dhsprogram.com/data/dl?surveyid=522&filename=tdhr61fl.zip
        |not a url line
        |""".stripMargin)
    val rows = Organize.parseDownloadManifest(spark, manifest.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("BJHR71DT.ZIP", "511"), ("TDHR61FL.ZIP", "522")))
  }

  test("extension routing is case-insensitive; survey id from filename prefix") {
    import spark.implicits._
    val files = Seq("/x/511.BJHR71.DCF", "/x/511.BJHR71.dat", "/x/readme.txt").toDF("path")
    val routed = Organize.routeByExtension(files).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(routed("/x/511.BJHR71.DCF") == "dcf")
    assert(routed("/x/511.BJHR71.dat") == "dat")
    assert(routed("/x/readme.txt") == "other")
    val ids = Organize.surveyFromFilename(files).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ids("/x/511.BJHR71.dat") == "511" && ids("/x/readme.txt") == "")
  }

  test("listDir lists plain files only, feeds routing, and a missing dir is empty") {
    val tmp = graft.Fixtures.dir("org3").toFile
    java.nio.file.Files.writeString(new File(tmp, "511.BJHR71.DCF").toPath, "x")
    java.nio.file.Files.writeString(new File(tmp, "511.BJHR71.DAT").toPath, "x")
    new File(tmp, "staging").mkdir() // a subdirectory is not a landed file
    java.nio.file.Files.writeString(new File(tmp, "staging/522.TDHR61.DCF").toPath, "x")
    val listed = Organize.listDir(spark, tmp.getPath)
    assert(listed.columns.toSeq == Seq("path"))
    val routes = Organize.routeByExtension(listed).collect()
      .map(r => new File(r.getString(0)).getName -> r.getString(2)).toMap
    assert(routes == Map("511.BJHR71.DCF" -> "dcf", "511.BJHR71.DAT" -> "dat"))
    assert(Organize.listDir(spark, new File(tmp, "absent").getPath).count() == 0)
  }
}
