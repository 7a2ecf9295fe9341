package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generation-log (rename-free) substring-window index: gate parity
  * between a filesystem that refuses directory renames and the local
  * filesystem (the "in-place" arm), replay-after-later-batch identity,
  * marker-only no-new-windows batches, and consolidation invariance — the
  * norename filesystem enforcing the rename-free claim throughout.
  */
class VersionedSubstringSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // docs built from a shared boilerplate prefix so cross-batch windows
  // genuinely repeat, plus unique tails so something always survives
  private def doc(id: Long, tail: String): (Long, String) =
    (id, s"alpha beta gamma delta epsilon zeta eta theta prefix shared $tail " +
      s"unique tail ${"t" + id} ends here with id ${"u" + id}")

  private val base = Seq(doc(1L, "one"), doc(2L, "two")).toDF("doc_id", "text")
  private val b0 = Seq(doc(10L, "ten"), doc(11L, "eleven")).toDF("doc_id", "text")
  private val b1 = Seq(doc(20L, "twenty"), doc(21L, "plenty")).toDF("doc_id", "text")
  private val b2 = Seq(doc(30L, "thirty")).toDF("doc_id", "text")

  private def cleaned(dir: String): Map[Long, String] =
    spark.read.parquet(dir).select(col("doc").cast("long"), col("cleaned_text"))
      .as[(Long, String)].collect().toMap

  private def manifestSet(root: String): Set[(Long, Long)] =
    VersionedSubstring.manifest(spark, root)
      .as[(Long, Long)].collect().toSet

  test("versioned gate ≡ in-place gate; replay-after-later-batch and consolidation are invariant (norename fs)") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[NoDirRenameFileSystem].getName)
    val root = s"norename://${tmpDir("vss")}"
    val cleanV = s"norename://${tmpDir("vssclean")}"
    val idxP = tmpDir("ssplain")
    val cleanP = tmpDir("ssplainclean")
    NoDirRenameFileSystem.refused.set(0)

    // the same verbs on both filesystems: rename refusal must not change
    // what the gate cuts
    VersionedSubstring.write(base, "text", "doc_id", root, n = 8)
    VersionedSubstring.write(base, "text", "doc_id", idxP, n = 8)
    Seq((b0, 0L), (b1, 1L)).foreach { case (b, id) =>
      VersionedSubstring.gateBatch(b, "text", "doc_id", root, cleanV, id)
      VersionedSubstring.gateBatch(b, "text", "doc_id", idxP, cleanP, id)
    }
    assert(cleaned(cleanV) === cleaned(cleanP),
      "gate on the rename-refusing filesystem diverged from the local-filesystem gate")
    // the shared boilerplate must actually have been cut somewhere
    assert(cleaned(cleanV).values.exists(_ != null))

    // real replay shape: batch 2 runs, then batch 1 replays on top
    VersionedSubstring.gateBatch(b2, "text", "doc_id", root, cleanV, 2L)
    val before = (cleaned(cleanV), manifestSet(root))
    VersionedSubstring.gateBatch(b1, "text", "doc_id", root, cleanV, 1L)
    assert((cleaned(cleanV), manifestSet(root)) === before,
      "replayed batch changed gate outputs")

    // consolidation folds segments; the manifest VIEW is invariant
    val liveBefore = manifestSet(root)
    VersionedSubstring.consolidate(spark, root)
    GenerationLog.vacuum(spark, root)
    assert(GenerationLog.committedGenerations(spark, root).size === 2,
      "vacuum deleted the freshly-superseded generation inside the TTL grace")
    GenerationLog.vacuum(spark, root, ttlMs = 0L)
    assert(manifestSet(root) === liveBefore)
    assert(GenerationLog.committedGenerations(spark, root).size === 1)
    val genDir = GenerationLog.requireCurrentDir(spark, root)
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))

    assert(NoDirRenameFileSystem.refused.get() === 0,
      "a versioned substring operation attempted to publish via directory rename")
  }

  test("a batch with no new windows commits a marker but no segment") {
    val root = tmpDir("vssdup")
    val clean = tmpDir("vssdupclean")
    VersionedSubstring.write(base, "text", "doc_id", root, n = 8)
    // the base docs replayed as arrivals: every window already indexed
    VersionedSubstring.gateBatch(base, "text", "doc_id", root, clean, 0L)
    val genDir = GenerationLog.requireCurrentDir(spark, root)
    val markers = fsOf(root).listStatus(
      new org.apache.hadoop.fs.Path(s"$genDir/_batch_commits"))
      .map(_.getPath.getName).toSet
    assert(markers.exists(_.endsWith(".s0")))
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
    // every window of the replayed docs was already indexed: the whole
    // text cuts and fully-cut docs drop (applyRemovedSpans semantics)
    assert(cleaned(clean).isEmpty)
    // ...and the replay is recognized: no duplicate marker, still no segment
    VersionedSubstring.gateBatch(base, "text", "doc_id", root, clean, 0L)
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
  }
}
