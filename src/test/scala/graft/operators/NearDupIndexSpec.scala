package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle tests for the persisted near-dup signature index and its
  * streaming dedup gate (VersionedNearDup.write / delete / consolidate /
  * streamGate) on the generation-log commit model.
  */
class NearDupIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val baseText = "the quick brown fox jumps over the lazy dog again and again today"
  private val otherText = "completely different content about spark catalyst expressions and shuffles here"
  private val thirdText = "yet another unrelated document mentioning minhash banding and bucket joins now"

  private def writeIndex(docs: DataFrame, path: String): Unit =
    VersionedNearDup.write(docs, "text", "doc_id", path,
      shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)

  private def gate(batch: DataFrame, idx: String, kept: String, id: Long): Unit =
    VersionedNearDup.gateBatch(batch, "text", "doc_id", idx, kept, id)

  private def keptIds(kept: String): Set[Long] =
    spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet

  test("gate drops near-dups of the index and of earlier batches; first arrival wins") {
    val idx = tmpDir("ndidx")
    val kept = tmpDir("ndkept")
    writeIndex(Seq((1L, baseText)).toDF("doc_id", "text"), idx)
    // batch 0: a near-dup of the index doc (dropped), a new doc (kept)
    gate(Seq((10L, baseText + " extra"), (11L, otherText)).toDF("doc_id", "text"),
      idx, kept, 0L)
    // batch 1: a near-dup of batch 0's kept doc (dropped), a new doc (kept),
    // plus two copies of one text — self-dedup keeps the lower id
    gate(Seq((20L, otherText + " also"), (21L, thirdText),
      (22L, thirdText), (23L, thirdText + " too")).toDF("doc_id", "text"),
      idx, kept, 1L)
    assert(keptIds(kept) === Set(11L, 21L))
  }

  test("params are pinned by the index, not the caller") {
    val idx = tmpDir("ndidx")
    writeIndex(Seq((1L, baseText)).toDF("doc_id", "text"), idx)
    assert(VersionedNearDup.readParams(spark, idx) === ((3, 32, 2, 1, 2)))
  }

  test("replaying a gate batch leaves kept table and manifest content-identical") {
    val idx = tmpDir("ndidx")
    val kept = tmpDir("ndkept")
    writeIndex(Seq((1L, baseText)).toDF("doc_id", "text"), idx)
    val b0 = Seq((10L, otherText), (11L, baseText + " more")).toDF("doc_id", "text")
    val b1 = Seq((20L, thirdText), (21L, otherText + " variant")).toDF("doc_id", "text")
    gate(b0, idx, kept, 0L)
    gate(b1, idx, kept, 1L)
    def snap(): (Set[Long], Long) = {
      val m = VersionedNearDup.liveManifest(spark, idx)
        .agg(sum(hash(col("doc"), col("keys"), col("shh"))
          .cast("long"))).head.getLong(0)
      (keptIds(kept), m)
    }
    val before = snap()
    gate(b0, idx, kept, 0L) // replay the EARLIER batch after a later one ran
    assert(snap() === before)
  }

  test("tombstoned docs stop suppressing arrivals; compact purges them physically") {
    val idx = tmpDir("ndidx")
    val kept = tmpDir("ndkept")
    writeIndex(Seq((1L, baseText), (2L, otherText)).toDF("doc_id", "text"), idx)
    gate(Seq((10L, baseText + " near"), (11L, thirdText)).toDF("doc_id", "text"),
      idx, kept, 0L)
    assert(keptIds(kept) === Set(11L)) // 10 suppressed by index doc 1
    VersionedNearDup.delete(Seq(1L).toDF("doc_id"), "doc_id", idx)
    gate(Seq((20L, baseText + " near")).toDF("doc_id", "text"), idx, kept, 1L)
    assert(keptIds(kept) === Set(11L, 20L)) // doc 1 forgotten: no longer suppresses
    val liveBefore = VersionedNearDup.liveManifest(spark, idx)
      .select("doc").as[Long].collect().toSet
    VersionedNearDup.consolidate(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genDir = GenerationLog.requireCurrentDir(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$genDir/tombstones")))
    // live view unchanged; the raw manifest no longer holds doc 1 at all
    assert(VersionedNearDup.liveManifest(spark, idx)
      .select("doc").as[Long].collect().toSet === liveBefore)
    assert(spark.read.parquet(s"$genDir/manifest")
      .filter(col("doc") === 1L).count() === 0)
  }

  test("rebuilding an index is a fresh start: old tombstones never shadow the new incarnation") {
    val idx = tmpDir("ndidx")
    writeIndex(Seq((1L, baseText)).toDF("doc_id", "text"), idx)
    VersionedNearDup.delete(Seq(1L).toDF("doc_id"), "doc_id", idx)
    writeIndex(Seq((1L, baseText), (2L, otherText)).toDF("doc_id", "text"), idx)
    // doc 1's old tombstone must NOT shadow the rebuilt index's doc 1
    assert(VersionedNearDup.liveManifest(spark, idx)
      .select("doc").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("consolidating compaction folds batch partitions into the base; gate semantics unchanged") {
    val idx = tmpDir("ndidx")
    val kept = tmpDir("ndkept")
    writeIndex(Seq((1L, baseText)).toDF("doc_id", "text"), idx)
    gate(Seq((10L, otherText)).toDF("doc_id", "text"), idx, kept, 0L)
    gate(Seq((20L, thirdText)).toDF("doc_id", "text"), idx, kept, 1L)
    val liveBefore = VersionedNearDup.liveManifest(spark, idx)
      .select("doc").as[Long].collect().toSet
    VersionedNearDup.consolidate(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // gate segments folded into the next generation's base; live view identical
    val genDir = GenerationLog.requireCurrentDir(spark, idx)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$genDir/manifest")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
    assert(VersionedNearDup.liveManifest(spark, idx)
      .select("doc").as[Long].collect().toSet === liveBefore)
    // consolidated signatures still suppress future batches
    gate(Seq((30L, otherText + " ish"), (31L, "wholly new unseen sentence goes right here"))
      .toDF("doc_id", "text"), idx, kept, 2L)
    assert(keptIds(kept) === Set(10L, 20L, 31L))
  }

  test("compacting an all-tombstoned index is refused; live manifest intact") {
    val idx = tmpDir("ndidx")
    writeIndex(Seq((1L, baseText)).toDF("doc_id", "text"), idx)
    VersionedNearDup.delete(Seq(1L).toDF("doc_id"), "doc_id", idx)
    val e = intercept[IllegalStateException](VersionedNearDup.consolidate(spark, idx))
    assert(e.getMessage.contains("rebuild"))
    // the refusal left the current generation standing: base manifest and
    // tombstones both intact (retry-the-delete semantics)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genDir = GenerationLog.requireCurrentDir(spark, idx)
    assert(spark.read.parquet(s"$genDir/manifest")
      .select("doc").as[Long].collect().toSet === Set(1L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$genDir/tombstones")))
  }

  test("bucket-skew audit flags a planted degenerate corpus and clears a diverse one") {
    // DIVERSE corpus: 40 docs of id-salted tokens — every token unique to
    // its doc, so no two docs share a shingle and every band bucket is a
    // singleton (the token-disjoint discipline from the r8 LSH lesson)
    val diverse = (0 until 40).map(i =>
      (i.toLong, (0 until 12).map(j => s"tok${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val dIdx = tmpDir("ndhd")
    writeIndex(diverse, dIdx)
    val dStats = Dedup.nearDupIndexBucketStats(spark, dIdx).collect()
    assert(dStats.length === 32) // one row per band
    assert(dStats.forall(_.getLong(3) === 1L), "diverse corpus: all buckets singletons")
    assert(dStats.forall(r => r.getLong(1) === r.getLong(4)),
      "singleton buckets: sumsq == n_sigs")

    // DEGENERATE corpus: the same boilerplate body on every doc — each
    // band collapses into ONE bucket holding all 40 signatures
    val degenerate = (100 until 140).map(i => (i.toLong, baseText))
      .toDF("doc_id", "text")
    val gIdx = tmpDir("ndhg")
    writeIndex(degenerate, gIdx)
    val gStats = Dedup.nearDupIndexBucketStats(spark, gIdx).collect()
    assert(gStats.forall(_.getLong(3) === 40L),
      "degenerate corpus: every band has one 40-doc bucket")
    assert(gStats.forall(_.getLong(4) === 1600L), "sumsq = 40² per band")
    // the audit is the live view: tombstoning half the docs shrinks it
    VersionedNearDup.delete(
      (100 until 120).map(_.toLong).toDF("doc_id"), "doc_id", gIdx)
    assert(Dedup.nearDupIndexBucketStats(spark, gIdx)
      .collect().forall(_.getLong(3) === 20L))
  }

  test("substring-index key stats: unique within a batch, cross-batch recurrence counted") {
    val idx = tmpDir("sshd")
    val body = "alpha beta gamma delta epsilon zeta eta theta " * 2
    VersionedSubstring.write(Seq((1L, body)).toDF("doc_id", "text"),
      "text", "doc_id", idx, n = 8)
    val s1 = Dedup.substringIndexKeyStats(spark, idx).head()
    assert(s1.getLong(2) === 1L, "base build: every window key once")
    assert(s1.getLong(0) === s1.getLong(1))
    // a gate batch with fresh content appends NEW keys only (seen windows
    // are cut from the batch, not re-recorded) — but a batch whose unseen
    // windows repeat internally still records one key per distinct window
    val clean = tmpDir("sshc")
    VersionedSubstring.gateBatch(
      Seq((2L, "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"))
        .toDF("doc_id", "text"),
      "text", "doc_id", idx, clean, 0L)
    val s2 = Dedup.substringIndexKeyStats(spark, idx).head()
    assert(s2.getLong(0) > s1.getLong(0), "gate batch appended keys")
    assert(s2.getLong(2) === 1L, "no cross-batch duplicate keys in this flow")
  }

  test("rebuild replaces ALL partitions even under session-global dynamic overwrite") {
    val idx = tmpDir("ndidx")
    val kept = tmpDir("ndkept")
    writeIndex(Seq((1L, baseText)).toDF("doc_id", "text"), idx)
    // a gate batch lands signatures under ingest_batch=0
    gate(Seq((10L, otherText)).toDF("doc_id", "text"), idx, kept, 0L)
    assert(VersionedNearDup.liveManifest(spark, idx)
      .select("doc").as[Long].collect().toSet === Set(1L, 10L))
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try writeIndex(Seq((2L, thirdText)).toDF("doc_id", "text"), idx)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // the old incarnation's gate segments must be gone, not lingering to
    // suppress future arrivals
    assert(VersionedNearDup.liveManifest(spark, idx)
      .select("doc").as[Long].collect().toSet === Set(2L))
  }

  test("streaming gate over mod-time-ordered files equals sequential gate batches") {
    val idx = tmpDir("ndidx")
    val idxSeq = tmpDir("ndidxseq")
    val keptStream = tmpDir("ndkepts")
    val keptSeq = tmpDir("ndkeptq")
    val landing = tmpDir("ndland")
    val ckpt = tmpDir("ndckpt")
    val baseDocs = Seq((1L, baseText)).toDF("doc_id", "text")
    writeIndex(baseDocs, idx)
    writeIndex(baseDocs, idxSeq)
    val batches = Seq(
      Seq((10L, baseText + " copy"), (11L, otherText)),
      Seq((20L, otherText + " ish"), (21L, thirdText)),
      Seq((30L, thirdText), (31L, baseText), (32L, "fresh totally novel words appear in this last one")))
      .map(_.toDF("doc_id", "text"))
    batches.zipWithIndex.foreach { case (b, k) =>
      graft.queries.QueryFixtures.landBatch(b, java.nio.file.Paths.get(landing), k)
    }
    VersionedNearDup.streamGate(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      "text", "doc_id", idx, keptStream, ckpt)
      .awaitTermination()
    batches.zipWithIndex.foreach { case (b, k) => gate(b, idxSeq, keptSeq, k.toLong) }
    assert(keptIds(keptStream) === keptIds(keptSeq))
    assert(keptIds(keptStream) === Set(11L, 21L, 32L))
  }
}
