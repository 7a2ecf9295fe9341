package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 gate resilience: bounded lock retry on the streaming-gate
  * paths (transient maintenance contention degrades to latency, not
  * stream death), replay HEAL when a tombstone delete lands between a
  * gate batch's first attempt and its replay (the kept/segment
  * consistency gap), generation-tagged frozen centroids (a mid-stream
  * retrain cannot make a gate assign stale clusters into the new
  * generation), marker-only commits excluded from health fan-out counts,
  * and the delete quiescence guard.
  */
class GateResilienceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val baseText = "the quick brown fox jumps over the lazy dog again and again today"
  private val otherText = "completely different content about spark catalyst expressions and shuffles here"

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def holdLock(root: String): org.apache.hadoop.fs.Path = {
    val lock = new org.apache.hadoop.fs.Path(root, "_maintenance.lock")
    val out = fsOf(root).create(lock, false)
    try out.write("uuid=other holder".getBytes("UTF-8")) finally out.close()
    lock
  }

  private def axisCorpus(idBase: Long, n: Int, axes: Seq[Int], seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat * 0.05f)
      v(axes(i % axes.size)) += 1.0f
      (idBase + i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("withLockRetry waits out transient contention and succeeds; one-shot withLock fails the same race fast") {
    val root = tmpDir("retryok")
    val lock = holdLock(root)
    // the one-shot mode (maintenance verbs' contract) fails fast
    intercept[IllegalStateException](
      MaintenanceLock.withLock(spark, root)(fail("body ran under a held lock")))
    // a second writer releasing after ~1.5s: the gate mode waits it out
    val releaser = new Thread(() => { Thread.sleep(1500); fsOf(root).delete(lock, false) })
    releaser.start()
    val t0 = System.nanoTime()
    val got = MaintenanceLock.withLockRetry(spark, root, maxWaitMs = 30000L)(42)
    releaser.join()
    assert(got === 42)
    assert((System.nanoTime() - t0) / 1e6 >= 1000, "retry acquired before the holder released")
  }

  test("withLockRetry gives up at the deadline (wedged holder still surfaces) and never retries body failures") {
    val root = tmpDir("retrydeadline")
    holdLock(root)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      MaintenanceLock.withLockRetry(spark, root, maxWaitMs = 1500L)(()))
    assert(e.getMessage.contains("maintenance lock"))
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(waitedMs >= 400 && waitedMs < 20000, s"deadline not honored (waited ${waitedMs}ms)")
    // a body failure is NOT contention: thrown once, no backoff loop
    fsOf(root).delete(new org.apache.hadoop.fs.Path(root, "_maintenance.lock"), false)
    var calls = 0
    intercept[RuntimeException](
      MaintenanceLock.withLockRetry(spark, root, maxWaitMs = 30000L) {
        calls += 1; throw new RuntimeException("body boom")
      })
    assert(calls === 1, "body failure was retried as if it were lock contention")
  }

  test("near-dup gate replay heal: a delete between attempt and replay cannot strand kept docs without index signatures") {
    val root = tmpDir("vndheal")
    val kept = tmpDir("vndhealkept")
    VersionedNearDup.write(Seq((1L, baseText)).toDF("doc_id", "text"),
      "text", "doc_id", root, shingleSize = 3, numer = 1, denom = 2,
      bands = 32, rowsPerBand = 2)
    val b0 = Seq((10L, baseText + " x"), (11L, otherText)).toDF("doc_id", "text")
    // attempt 1: 10 suppressed by base doc 1; 11 kept, its signatures committed
    VersionedNearDup.gateBatch(b0, "text", "doc_id", root, kept, batchId = 0L)
    assert(spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet === Set(11L))
    // a tombstone delete lands between the attempt and its replay
    VersionedNearDup.delete(Seq(1L).toDF("doc_id"), "doc_id", root)
    // replay (crash-before-checkpoint-commit shape): 10 is now kept too —
    // and the heal must stage its signatures as a supplemental segment
    VersionedNearDup.gateBatch(b0, "text", "doc_id", root, kept, batchId = 0L)
    assert(spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet === Set(10L, 11L))
    val manifestDocs = VersionedNearDup.liveManifest(spark, root)
      .select("doc").distinct().as[Long].collect().toSet
    assert(manifestDocs === Set(10L, 11L),
      s"healed manifest should cover exactly the kept docs, got $manifestDocs")
    // the healed signatures actually suppress: a near-dup of doc 10 in a
    // LATER batch is dropped
    VersionedNearDup.gateBatch(Seq((20L, baseText + " y")).toDF("doc_id", "text"),
      "text", "doc_id", root, kept, batchId = 1L)
    assert(!spark.read.parquet(kept).select("doc_id").as[Long].collect().contains(20L),
      "healed signatures failed to suppress a later near-dup")
    // replay-of-replay: covered, so the heal writes nothing new
    val segCount = fsOf(root).listStatus(new org.apache.hadoop.fs.Path(
      s"${GenerationLog.requireCurrentDir(spark, root)}/_batch_commits")).length
    VersionedNearDup.gateBatch(b0, "text", "doc_id", root, kept, batchId = 0L)
    assert(fsOf(root).listStatus(new org.apache.hadoop.fs.Path(
      s"${GenerationLog.requireCurrentDir(spark, root)}/_batch_commits")).length === segCount,
      "an already-healed replay staged another supplemental segment")
  }

  test("semantic gate replay heal: kept vectors missing from the frozen segment enter the index on replay") {
    val root = tmpDir("vsemheal")
    val kept = tmpDir("vsemhealkept")
    // base on axes 0/1 plus ONE vector on axis 6 — the unique suppressor
    val axis6 = { val v = Array.fill(8)(0.0f); v(6) = 1.0f; v.toSeq }
    val base = axisCorpus(0L, 10, Seq(0, 1), seed = 21)
      .unionByName(Seq((99L, axis6)).toDF("vec_id", "embedding"))
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)
    // arrival 100 ≈ base vec 99 (suppressed by it ALONE); arrival 101 on a
    // fresh axis (kept)
    val near0 = axis6
    val fresh = {
      val v = Array.fill(8)(0.0f); v(5) = 1.0f; v.toSeq
    }
    val b0 = Seq((100L, near0), (101L, fresh)).toDF("vec_id", "embedding")
    Similarity.semanticGateBatch(b0, "embedding", "vec_id", root, kept,
      0L, threshold = 0.9, nprobe = 2)
    assert(spark.read.parquet(kept).select("vec_id").as[Long].collect().toSet === Set(101L))
    // delete the suppressor, then replay batch 0
    VersionedIvf.delete(spark, root, Seq(99L).toDF("vec_id"), "vec_id")
    Similarity.semanticGateBatch(b0, "embedding", "vec_id", root, kept,
      0L, threshold = 0.9, nprobe = 2)
    assert(spark.read.parquet(kept).select("vec_id").as[Long].collect().toSet === Set(100L, 101L))
    val stored = VersionedIvf.corpusView(spark, root)
      .filter(col("vec_id") >= 100L).select("vec_id").as[Long].collect().toList.sorted
    assert(stored === List(100L, 101L),
      s"replayed kept vectors not healed into the index exactly once (got $stored)")
    // and the healed vector suppresses a later near-dup
    Similarity.semanticGateBatch(
      Seq((200L, near0)).toDF("vec_id", "embedding"), "embedding", "vec_id",
      root, kept, 1L, threshold = 0.9, nprobe = 2)
    assert(!spark.read.parquet(kept).select("vec_id").as[Long].collect().contains(200L),
      "healed vector failed to suppress a later semantic near-dup")
  }

  test("generation-tagged frozen centroids: a stale tag is re-resolved under the lock, preserving misassigned == 0") {
    val root = tmpDir("vgentag")
    val base = axisCorpus(0L, 20, Seq(0, 1), seed = 31)
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)
    val gen1 = GenerationLog.currentGeneration(spark, root).get
    val trueCents = VersionedIvf.readCentroids(spark, root)
    // deliberately WRONG centroids (reversed) tagged with the CURRENT gen:
    // honored, so the drift audit must catch the misassignment — proving
    // the tag is what gates the re-read
    VersionedIvf.ingestBatch(axisCorpus(100L, 4, Seq(0), seed = 32),
      "embedding", "vec_id", root, batchId = 0L,
      frozenCentroids = Some((gen1, trueCents.reverse)))
    val bad = VersionedIvf.assignmentDrift(spark, root)
      .agg(sum("misassigned")).head.getLong(0)
    assert(bad > 0, "reversed centroids with a CURRENT gen tag should have been honored")
    // rebuild cleanly, then retrain → gen moves past gen1
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)
    val genA = GenerationLog.currentGeneration(spark, root).get
    VersionedIvf.retrain(spark, root, k = Some(3))
    assert(GenerationLog.currentGeneration(spark, root).get > genA)
    // the same wrong centroids now carry a STALE tag: ingest re-reads the
    // current generation's centroids and assigns correctly
    VersionedIvf.ingestBatch(axisCorpus(200L, 4, Seq(0), seed = 33),
      "embedding", "vec_id", root, batchId = 1L,
      frozenCentroids = Some((genA, trueCents.reverse)))
    val drift = VersionedIvf.assignmentDrift(spark, root)
      .agg(sum("misassigned")).head.getLong(0)
    assert(drift === 0L,
      "stale-generation frozen centroids were used to assign into the new generation")
  }

  test("marker-only commits (all-suppressed batches) do not count as probe fan-out in indexHealth") {
    val root = tmpDir("vndhealth")
    val kept = tmpDir("vndhealthkept")
    VersionedNearDup.write(Seq((1L, baseText)).toDF("doc_id", "text"),
      "text", "doc_id", root, shingleSize = 3, numer = 1, denom = 2,
      bands = 32, rowsPerBand = 2)
    // an all-suppressed batch: marker lands, no segment dir
    VersionedNearDup.gateBatch(Seq((10L, baseText + " x")).toDF("doc_id", "text"),
      "text", "doc_id", root, kept, batchId = 0L)
    val h = GenerationLog.indexHealth(spark, root).head
    assert(h.getAs[Long]("n_segments") === 0L,
      "marker-only commit counted as a segment — the consolidate trigger would fire on nothing")
    assert(h.getAs[Long]("n_stream_segments") === 0L)
    // a kept batch counts exactly once
    VersionedNearDup.gateBatch(Seq((11L, otherText)).toDF("doc_id", "text"),
      "text", "doc_id", root, kept, batchId = 1L)
    val h2 = GenerationLog.indexHealth(spark, root).head
    assert(h2.getAs[Long]("n_segments") === 1L)
    assert(h2.getAs[Long]("n_stream_segments") === 1L)
  }

  test("delete is quiescence-guarded when given the gate stream's checkpoint dir") {
    val root = tmpDir("vdelguard")
    val base = axisCorpus(0L, 10, Seq(0, 1), seed = 41)
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)
    val ckpt = tmpDir("vdelckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ckpt/offsets"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckpt/offsets/5"), "{}".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](VersionedIvf.delete(
      spark, root, Seq(1L).toDF("vec_id"), "vec_id", checkpointDir = Some(ckpt)))
    assert(e.getMessage.contains("batch 5"))
    intercept[IllegalStateException](VersionedNearDup.delete(
      Seq(1L).toDF("doc_id"), "doc_id", root, checkpointDir = Some(ckpt)))
    // committing the in-flight batch re-permits
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ckpt/commits"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckpt/commits/5"), "{}".getBytes("UTF-8"))
    assert(VersionedIvf.delete(spark, root, Seq(1L).toDF("vec_id"), "vec_id",
      checkpointDir = Some(ckpt)) === 1L)
  }
}
