package graft.streaming

import graft.SparkTestBase
import graft.operators.{Dedup, VersionedIvf, VersionedNearDup, VersionedSubstring}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stacked text-gate → semantic-gate ingest composition: stage
  * semantics, cross-batch suppression through both indexes, and replay
  * identity across the whole composition.
  */
class ComposedGateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val textA = "the quick brown fox jumps over the lazy dog again today"
  private val textB = "spark catalyst expressions compile into tungsten generated bytecode stages"
  private val textC = "minhash banding buckets collide candidate pairs for jaccard verification"
  private val textD = "watermarks bound streaming state while sessions aggregate event gaps"

  private def e(axis: Int, lean: Float = 0f, leanAxis: Int = 1): Seq[Float] = {
    val v = Array.fill(4)(0f); v(axis) = 1f
    if (lean != 0f) v(leanAxis) += lean
    v.toSeq
  }

  private def row(id: Long, text: String, emb: Seq[Float]) = (id, text, emb)

  test("stage 1 drops text near-dups, stage 2 drops semantic near-dups, replay is identical") {
    val textIdx = tmpDir("cgt")
    val annIdx = tmpDir("cga")
    val textKept = tmpDir("cgtk")
    val kept = tmpDir("cgk")
    val landing = tmpDir("cgl")
    val ckpt = tmpDir("cgc")
    val base = Seq(row(1L, textA, e(0))).toDF("doc_id", "text", "embedding")
    VersionedNearDup.write(base.select("doc_id", "text"), "text", "doc_id",
      textIdx, shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
    VersionedIvf.write(base.select("doc_id", "embedding"), "embedding",
      "doc_id", Seq(e(0)), annIdx) // k = 1: one cluster, gate is exact
    val batches = Seq(
      Seq(row(10L, textA + " extra", e(2)),        // text near-dup of index doc 1
        row(11L, textB, e(0, lean = 0.05f)),       // novel text, cos≈1 vs doc 1 → sem-dropped
        row(12L, textC, e(1))),                    // kept
      Seq(row(20L, textC + " also", e(3)),         // text near-dup of 12 (earlier batch)
        row(21L, textD, e(1, lean = 0.05f, leanAxis = 2)), // sem near-dup of 12
        row(22L, "fresh tokens appear nowhere else in any corpus document", e(2)))) // kept
      .map(_.toDF("doc_id", "text", "embedding"))
    batches.zipWithIndex.foreach { case (b, k) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"cgb$k")
      b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dst = java.nio.file.Paths.get(landing, s"b$k.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 60000L))
    }
    ComposedGate.stream(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      "text", "embedding", "doc_id", textIdx, annIdx,
      textKept, kept, ckpt, threshold = 0.9, nprobe = 1)
      .awaitTermination()
    def keptIds: Set[Long] =
      spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet
    assert(spark.read.parquet(textKept).select("doc_id").as[Long].collect().toSet
      === Set(11L, 12L, 21L, 22L)) // stage-1 survivors
    assert(keptIds === Set(12L, 22L))
    // replay the whole composition for batch 1: every output identical
    def hashes(): Seq[(Long, Long)] = Seq(
      (spark.read.parquet(textKept), Seq("doc_id", "text", "ingest_batch")),
      (spark.read.parquet(kept), Seq("doc_id", "ingest_batch")),
      (graft.operators.VersionedIvf.corpusView(spark, annIdx),
        Seq("vec_id", "cluster", "ingest_batch")),
      (graft.operators.VersionedNearDup.liveManifest(spark, textIdx),
        Seq("doc", "keys")))
      .map { case (df, cols) =>
        val r = df.agg(count(lit(1)), sum(hash(cols.map(col): _*).cast("long"))).head
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    val before = hashes()
    val cents = VersionedIvf.readCentroids(spark, annIdx)
    ComposedGate.ingestBatch(batches(1), "text", "embedding", "doc_id",
      textIdx, annIdx, cents, textKept, kept, 1L, threshold = 0.9, nprobe = 1)
    assert(hashes() === before)
    // checkpoint is clean → the commit-log guard permits maintenance on both
    graft.streaming.CommitLog.requireAllCommitted(spark, ckpt, "test")
    VersionedIvf.consolidate(spark, annIdx, checkpointDir = Some(ckpt))
    VersionedNearDup.consolidate(spark, textIdx, checkpointDir = Some(ckpt))
    assert(keptIds === Set(12L, 22L))
  }

  test("three-stage gate: substring cut feeds near-dup, near-dup feeds semantic; " +
      "per-stage drops land where planted; replay identical") {
    val substrIdx = tmpDir("c3s"); val textIdx = tmpDir("c3t"); val annIdx = tmpDir("c3a")
    val cleanDir = tmpDir("c3cl"); val textKept = tmpDir("c3tk"); val kept = tmpDir("c3k")
    val landing = tmpDir("c3l"); val ckpt = tmpDir("c3c")
    def w(r: Range, tag: String): String = r.map(i => s"$tag$i").mkString(" ")
    val boiler = w(0 until 10, "b")
    val base = Seq(row(1L, s"$boiler ${w(0 until 6, "c")}", e(0)))
      .toDF("doc_id", "text", "embedding")
    VersionedSubstring.write(base.select("doc_id", "text"), "text", "doc_id",
      substrIdx, n = 4)
    // near-dup index over the substring-CLEANED base (what arrivals get)
    val cleanedBase = Dedup.substringClean(base.select("doc_id", "text"),
      "text", "doc_id", n = 4)
      .select(col("doc").as("doc_id"), col("cleaned_text").as("text"))
    VersionedNearDup.write(cleanedBase, "text", "doc_id", textIdx,
      shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
    VersionedIvf.write(base.select("doc_id", "embedding"), "embedding",
      "doc_id", Seq(e(0)), annIdx)
    val batches = Seq(
      Seq(
        row(10L, s"${w(0 until 3, "z")} $boiler", e(2)), // boiler cut → "z0 z1 z2", kept
        row(11L, boiler, e(1)),                          // pure boilerplate → stage-0 drop
        row(12L, w(0 until 10, "u"), e(0, lean = 0.05f))), // novel text, sem-dup of base → stage-2 drop
      Seq(
        row(20L, s"${w(0 until 3, "z")} w0", e(3)),      // cleaned near-dup of 10's cleaned → stage-1 drop
        row(21L, w(0 until 8, "v"), e(2, lean = 0.05f, leanAxis = 3)), // sem-dup of 10 → stage-2 drop
        row(22L, s"${w(0 until 4, "f")} ${w(0 until 3, "z")} b0", e(3)))) // seen window cut, then kept
      .map(_.toDF("doc_id", "text", "embedding"))
    batches.zipWithIndex.foreach { case (b, k) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"c3b$k")
      b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dst = java.nio.file.Paths.get(landing, s"b$k.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 60000L))
    }
    ComposedGate.stream3(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      "text", "embedding", "doc_id", substrIdx, textIdx, annIdx,
      cleanDir, textKept, kept, ckpt, threshold = 0.9, nprobe = 1)
      .awaitTermination()
    val cleaned = spark.read.parquet(cleanDir).select("doc", "cleaned_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned === Map(
      10L -> w(0 until 3, "z"), 12L -> w(0 until 10, "u"),
      20L -> s"${w(0 until 3, "z")} w0", 21L -> w(0 until 8, "v"),
      22L -> w(0 until 4, "f"))) // 11 fully boilerplate → gone at stage 0
    assert(spark.read.parquet(textKept).select("doc_id").as[Long].collect().toSet
      === Set(10L, 12L, 21L, 22L)) // 20 dropped as a CLEANED-text near-dup
    def keptIds: Set[Long] =
      spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet
    assert(keptIds === Set(10L, 22L)) // 12, 21 dropped semantically
    // replay batch 1 through all three stages: every output identical
    def hashes(): Seq[(Long, Long)] = Seq(
      (spark.read.parquet(cleanDir), Seq("doc", "cleaned_text", "ingest_batch")),
      (graft.operators.VersionedSubstring.manifest(spark, substrIdx),
        Seq("h1", "h2")),
      (spark.read.parquet(textKept), Seq("doc_id", "text", "ingest_batch")),
      (spark.read.parquet(kept), Seq("doc_id", "ingest_batch")),
      (graft.operators.VersionedIvf.corpusView(spark, annIdx),
        Seq("vec_id", "cluster", "ingest_batch")),
      (graft.operators.VersionedNearDup.liveManifest(spark, textIdx),
        Seq("doc", "keys")))
      .map { case (df, cols) =>
        val r = df.agg(count(lit(1)), sum(hash(cols.map(col): _*).cast("long"))).head
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    val before = hashes()
    val cents = VersionedIvf.readCentroids(spark, annIdx)
    ComposedGate.ingestBatch3(batches(1), "text", "embedding", "doc_id",
      substrIdx, textIdx, annIdx, cents, cleanDir, textKept, kept, 1L,
      threshold = 0.9, nprobe = 1)
    assert(hashes() === before)
  }
}
