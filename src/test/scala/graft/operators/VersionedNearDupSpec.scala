package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generation-log (rename-free) near-dup index: gate parity between a
  * filesystem that refuses directory renames and the local filesystem (the
  * "in-place" arm), the full lifecycle on the rename-refusing filesystem,
  * replay identity (including all-suppressed batches), tombstone release,
  * and consolidation invariance.
  */
class VersionedNearDupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val baseText = "the quick brown fox jumps over the lazy dog again and again today"
  private val otherText = "completely different content about spark catalyst expressions and shuffles here"
  private val thirdText = "yet another unrelated document mentioning minhash banding and bucket joins now"

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeV(docs: DataFrame, root: String): Unit =
    VersionedNearDup.write(docs, "text", "doc_id", root,
      shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)

  private def gateV(batch: DataFrame, root: String, kept: String, id: Long): Unit =
    VersionedNearDup.gateBatch(batch, "text", "doc_id", root, kept, id)

  private def keptIds(kept: String): Set[Long] =
    spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet

  private def liveHash(root: String): Long =
    VersionedNearDup.liveManifest(spark, root)
      .agg(coalesce(sum(hash(col("doc"), col("keys"), col("shh")).cast("long")), lit(0L)))
      .head.getLong(0)

  test("versioned gate ≡ in-place gate, whole lifecycle on a rename-refusing filesystem") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[NoDirRenameFileSystem].getName)
    val root = s"norename://${tmpDir("vnd")}"
    val keptV = s"norename://${tmpDir("vndkept")}"
    val idxP = tmpDir("ndplain")
    val keptP = tmpDir("ndplainkept")
    NoDirRenameFileSystem.refused.set(0)

    val baseDocs = Seq((1L, baseText)).toDF("doc_id", "text")
    val b0 = Seq((10L, baseText + " extra"), (11L, otherText)).toDF("doc_id", "text")
    val b1 = Seq((20L, otherText + " also"), (21L, thirdText),
      (22L, thirdText), (23L, thirdText + " too")).toDF("doc_id", "text")

    // the same verbs on both filesystems: rename refusal must not change
    // what the gate keeps
    writeV(baseDocs, root)
    writeV(baseDocs, idxP)
    Seq((b0, 0L), (b1, 1L)).foreach { case (b, id) =>
      gateV(b, root, keptV, id)
      gateV(b, idxP, keptP, id)
    }
    assert(keptIds(keptV) === keptIds(keptP),
      "gate on the rename-refusing filesystem diverged from the local-filesystem gate")
    assert(keptIds(keptV) === Set(11L, 21L))

    // replay the EARLIER batch after a later one ran: kept + manifest invariant
    val before = (keptIds(keptV), liveHash(root))
    gateV(b0, root, keptV, 0L)
    assert((keptIds(keptV), liveHash(root)) === before)

    // delete releases suppression; consolidate folds into the next
    // generation with the live view invariant (minus nothing — tombstones
    // were already screened) and vacuum leaves one generation
    VersionedNearDup.delete(Seq(21L).toDF("doc_id"), "doc_id", root)
    gateV(Seq((30L, thirdText + " re")).toDF("doc_id", "text"), root, keptV, 2L)
    assert(keptIds(keptV).contains(30L), "tombstoned doc kept suppressing")
    val liveBefore = liveHash(root)
    VersionedNearDup.consolidate(spark, root)
    GenerationLog.vacuum(spark, root)
    assert(GenerationLog.committedGenerations(spark, root).size === 2,
      "vacuum deleted the freshly-superseded generation inside the TTL grace")
    GenerationLog.vacuum(spark, root, ttlMs = 0L)
    assert(liveHash(root) === liveBefore, "consolidation changed the live view")
    assert(GenerationLog.committedGenerations(spark, root).size === 1)
    val genDir = GenerationLog.requireCurrentDir(spark, root)
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/tombstones")))
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
    assert(NoDirRenameFileSystem.refused.get() === 0,
      "a versioned near-dup operation attempted to publish via directory rename")
  }

  test("a root wiped and rebuilt with other params reads the new params even when the marker mtime repeats") {
    val root = tmpDir("vndwipe")
    val docs = Seq((1L, baseText)).toDF("doc_id", "text")
    writeV(docs, root)
    assert(VersionedNearDup.readParams(spark, root) === ((3, 32, 2, 1, 2))) // memoized
    val marker = new org.apache.hadoop.fs.Path(s"$root/_commits/1")
    val mtime = fsOf(root).getFileStatus(marker).getModificationTime
    // the rebuild reuses generation 1 at the same path; pin the new marker
    // to the old one's mtime (one mtime granule)
    fsOf(root).delete(new org.apache.hadoop.fs.Path(root), true)
    VersionedNearDup.write(docs, "text", "doc_id", root,
      shingleSize = 5, numer = 7, denom = 10, bands = 16, rowsPerBand = 4)
    fsOf(root).setTimes(marker, mtime, -1L)
    assert(fsOf(root).getFileStatus(marker).getModificationTime === mtime)
    assert(VersionedNearDup.readParams(spark, root) === ((5, 16, 4, 7, 10)))
  }

  test("an all-suppressed batch commits a marker (replay-recognizable) but no segment") {
    val root = tmpDir("vndsup")
    val kept = tmpDir("vndsupkept")
    writeV(Seq((1L, baseText)).toDF("doc_id", "text"), root)
    val dup = Seq((10L, baseText + " x")).toDF("doc_id", "text")
    gateV(dup, root, kept, 0L)
    assert(keptIds(kept).isEmpty)
    val genDir = GenerationLog.requireCurrentDir(spark, root)
    val markers = fsOf(root).listStatus(
      new org.apache.hadoop.fs.Path(s"$genDir/_batch_commits"))
      .map(_.getPath.getName).toSet
    assert(markers.exists(_.endsWith(".s0")), "all-suppressed batch left no marker")
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
    // replay: recognized, still nothing kept, no segment
    gateV(dup, root, kept, 0L)
    assert(keptIds(kept).isEmpty)
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
  }

  test("all-tombstoned consolidation refuses; rebuild is a clean start") {
    val root = tmpDir("vndempty")
    writeV(Seq((1L, baseText)).toDF("doc_id", "text"), root)
    VersionedNearDup.delete(Seq(1L).toDF("doc_id"), "doc_id", root)
    val e = intercept[IllegalStateException](VersionedNearDup.consolidate(spark, root))
    assert(e.getMessage.contains("rebuild"))
    writeV(Seq((1L, baseText)).toDF("doc_id", "text"), root)
    val kept = tmpDir("vndemptykept")
    // the rebuilt generation has no tombstones: doc 1 suppresses again
    gateV(Seq((10L, baseText + " y")).toDF("doc_id", "text"), root, kept, 0L)
    assert(keptIds(kept).isEmpty)
  }
}
