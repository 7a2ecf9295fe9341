package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle closures for the persisted IVF index on the unified
  * generation-log commit model: tombstone purge (= consolidation),
  * centroid retrain as a marker-committed next generation, the
  * streaming-checkpoint commit-log guard, and the single-writer
  * maintenance lease.
  */
class IvfLifecycleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Deterministic corpus: `n` vectors of dim 8 clustered around axis
    * `axes(i % axes.size)` with small seeded noise, ids starting at `idBase`.
    */
  private def axisCorpus(idBase: Long, n: Int, axes: Seq[Int], seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat * 0.05f)
      v(axes(i % axes.size)) += 1.0f
      (idBase + i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def probeIds(path: String, queries: DataFrame, nprobe: Int): Set[Long] =
    VersionedIvf.topKFromIndex(spark, path, queries, "embedding", "vec_id",
      k = 5, nprobe = nprobe).select("neighbor_id").as[Long].collect().toSet

  // ------------------------------------------------------------- purge

  test("purge: tombstones stop screening, dir drops, deleted ids re-add via ingest") {
    val idx = tmpDir("pidx")
    val corpus = axisCorpus(0L, 60, Seq(0, 1, 2, 3), seed = 1)
    VersionedIvf.write(corpus, "embedding", "vec_id",
      Similarity.trainIvfCentroids(corpus, "embedding", "vec_id", k = 4), idx)
    val delIds = Seq(7L, 11L)
    VersionedIvf.delete(spark, idx, delIds.toDF("vec_id"), "vec_id")
    val q = corpus.filter(col("vec_id") === 0L)
    assert(!probeIds(idx, q, nprobe = 4).exists(delIds.contains))
    // BEFORE purge: a stream-ingest re-add of a tombstoned id is screened
    VersionedIvf.ingestBatch(
      corpus.filter(col("vec_id").isin(delIds: _*)), "embedding", "vec_id",
      idx, batchId = 0L)
    assert(!probeIds(idx, q, nprobe = 4).exists(delIds.contains))
    VersionedIvf.consolidate(spark, idx)
    assert(!fsOf(idx).exists(new org.apache.hadoop.fs.Path(
      s"${GenerationLog.requireCurrentDir(spark, idx)}/tombstones")))
    // AFTER purge: the same ingest lands and the vectors are probe-visible
    VersionedIvf.ingestBatch(
      corpus.filter(col("vec_id").isin(delIds: _*)), "embedding", "vec_id",
      idx, batchId = 1L)
    val after = probeIds(idx, corpus.filter(col("vec_id") === 7L), nprobe = 4)
    assert(after.nonEmpty)
    assert(VersionedIvf.topKFromIndex(spark, idx, q, "embedding", "vec_id",
      k = 60, nprobe = 4).filter(col("neighbor_id").isin(delIds: _*)).count() === 2)
    // purging an index with no tombstones is a no-op
    VersionedIvf.consolidate(spark, idx)
  }

  // ----------------------------------------------------------- retrain

  test("retrain recovers recall on a drifted corpus; exact probe stays ≡ brute") {
    val idx = tmpDir("ridx")
    val a = axisCorpus(0L, 80, Seq(0, 1, 2, 3), seed = 2)
    val b = axisCorpus(1000L, 80, Seq(4, 5, 6, 7), seed = 3)
    VersionedIvf.write(a, "embedding", "vec_id",
      Similarity.trainIvfCentroids(a, "embedding", "vec_id", k = 4), idx)
    // drift: a second population lands against the FROZEN centroids
    VersionedIvf.append(b, "embedding", "vec_id", idx)
    val full = a.union(b)
    val queries = b.filter(col("vec_id") < 1008L)
    def recallAt1(): Double = {
      val brute = Similarity.bruteForceTopK(queries, full, "embedding", "vec_id", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val approx = VersionedIvf.topKFromIndex(spark, idx, queries,
        "embedding", "vec_id", k = 5, nprobe = 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      approx.intersect(brute).size.toDouble / brute.size
    }
    val before = recallAt1()
    VersionedIvf.retrain(spark, idx, k = Some(8))
    val after = recallAt1()
    assert(after > before,
      s"retrain should lift nprobe=1 recall on the drifted corpus: $before -> $after")
    assert(after >= 0.9, s"retrained recall@nprobe=1 = $after")
    // exactness invariant: exhaustive probe ≡ brute for ANY centroid set —
    // the retrain swap lost or duplicated nothing
    val brute = Similarity.bruteForceTopK(queries, full, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = VersionedIvf.topKFromIndex(spark, idx, queries,
      "embedding", "vec_id", k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(exact === brute)
    assert(VersionedIvf.readCentroids(spark, idx).size === 8)
  }

  test("VersionedIvf.assignmentDrift: drifted segments score low alignment, retrain restores it, misassigned stays 0") {
    val idx = tmpDir("didx")
    val a = axisCorpus(0L, 60, Seq(0, 1, 2, 3), seed = 11)
    VersionedIvf.write(a, "embedding", "vec_id",
      Similarity.trainIvfCentroids(a, "embedding", "vec_id", k = 4), idx)
    // a drifted population ingests against the FROZEN centroids: assigned
    // to its argmax (so never "misassigned") but FITTING poorly — the
    // per-segment alignment mean is the retrain trigger. The drift frame's
    // `ingest_batch` is the SEGMENT id (first stream segment = 0)
    VersionedIvf.ingestBatch(
      axisCorpus(1000L, 60, Seq(4, 5, 6, 7), seed = 12),
      "embedding", "vec_id", idx, batchId = 5L)
    def drift(): Map[Long, (Long, Long, Long)] =
      VersionedIvf.assignmentDrift(spark, idx).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val before = drift()
    assert(before.keySet === Set(-1L, 0L))
    assert(before.values.forall(_._3 === 0L), s"healthy index must have 0 misassigned: $before")
    def meanPpm(t: (Long, Long, Long)): Double = t._2.toDouble / t._1
    // base population is well-quantized (~aligned to its own centroids);
    // the drifted segment's vectors are near-orthogonal to every centroid
    assert(meanPpm(before(-1L)) > 900000.0, s"base alignment: $before")
    assert(meanPpm(before(0L)) < 500000.0,
      s"drifted segment should fit poorly against frozen centroids: $before")
    // retrain folds segments into the next generation's base and reassigns
    // against fresh centroids: one -1 group, alignment restored
    VersionedIvf.retrain(spark, idx, k = Some(8))
    val after = drift()
    assert(after.keySet === Set(-1L))
    assert(after.values.forall(_._3 === 0L))
    assert(meanPpm(after(-1L)) > 900000.0,
      s"retrain should restore alignment over the folded membership: $after")
  }

  test("retrain folds segments, applies tombstones, and starts the next generation clean") {
    val idx = tmpDir("rpidx")
    val a = axisCorpus(0L, 40, Seq(0, 1), seed = 4)
    VersionedIvf.write(a, "embedding", "vec_id",
      Similarity.trainIvfCentroids(a, "embedding", "vec_id", k = 2), idx)
    VersionedIvf.ingestBatch(axisCorpus(500L, 10, Seq(0, 1), seed = 5),
      "embedding", "vec_id", idx, batchId = 3L)
    assert(VersionedIvf.delete(spark, idx, Seq(5L).toDF("vec_id"), "vec_id") === 1L)
    VersionedIvf.retrain(spark, idx)
    val genDir = GenerationLog.requireCurrentDir(spark, idx)
    val corpus = VersionedIvf.corpusView(spark, idx)
    // segments folded to the base, tombstones applied and dropped
    assert(corpus.select("ingest_batch").distinct().as[Long].collect().toSet === Set(-1L))
    assert(!fsOf(idx).exists(new org.apache.hadoop.fs.Path(s"$genDir/tombstones")))
    assert(corpus.filter(col("vec_id") === 5L).count() === 0)
    // the new generation starts clean: the purged id may re-enter
    VersionedIvf.ingestBatch(a.filter(col("vec_id") === 5L),
      "embedding", "vec_id", idx, batchId = 0L)
    assert(VersionedIvf.corpusView(spark, idx)
      .filter(col("vec_id") === 5L).count() === 1)
  }

  test("IVF-PQ retrain: recall recovers on drift, exact probe stays ≡ brute, deletes stay deleted, missing ids fail fast") {
    val idx = tmpDir("rpqidx")
    val a = axisCorpus(0L, 80, Seq(0, 1, 2, 3), seed = 21)
    val b = axisCorpus(1000L, 80, Seq(4, 5, 6, 7), seed = 22)
    val centsA = Similarity.trainIvfCentroids(a, "embedding", "vec_id", k = 4)
    val booksA = Similarity.trainIvfPqBooks(a, "embedding", "vec_id", centsA,
      m = 4, ksub = 8)
    VersionedIvfPq.write(a, "embedding", "vec_id", centsA, booksA, idx)
    // drift: a second population encodes against the FROZEN quantizers
    VersionedIvfPq.append(b, "embedding", "vec_id", idx)
    val full = a.union(b)
    val queries = b.filter(col("vec_id") < 1008L)
    def recallAt1(): Double = {
      val brute = Similarity.bruteForceTopK(queries, full, "embedding", "vec_id", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val approx = VersionedIvfPq.topKFromIndex(spark, idx, queries, full,
        "embedding", "vec_id", k = 5, nprobe = 1, rerank = 1000)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      approx.intersect(brute).size.toDouble / brute.size
    }
    val before = recallAt1()
    // a stored id missing from the corpus must fail fast, not drop rows
    val e = intercept[IllegalArgumentException](
      VersionedIvfPq.retrain(spark, idx, a, "embedding", "vec_id",
        k = Some(8)))
    assert(e.getMessage.contains("absent"))
    VersionedIvfPq.retrain(spark, idx, full, "embedding", "vec_id",
      k = Some(8))
    val after = recallAt1()
    assert(after > before,
      s"PQ retrain should lift nprobe=1 recall on the drifted corpus: $before -> $after")
    assert(after >= 0.9, s"retrained PQ recall@nprobe=1 = $after")
    // exactness invariant: exhaustive probe + exhaustive re-rank ≡ brute
    // for ANY quantizer pair — the three-table swap lost nothing
    val brute = Similarity.bruteForceTopK(queries, full, "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = VersionedIvfPq.topKFromIndex(spark, idx, queries, full,
      "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(exact === brute)
    assert(VersionedIvf.readCentroids(spark, idx).size === 8)
    // membership is the codes table: a deleted id stays deleted through
    // the retrain even though the corpus argument still carries it
    assert(VersionedIvfPq.delete(spark, idx,
      Seq(1005L).toDF("vec_id"), "vec_id") === 1L)
    VersionedIvfPq.retrain(spark, idx, full, "embedding", "vec_id")
    assert(VersionedIvfPq.codesView(spark, idx)
      .filter(col("vec_id") === 1005L).count() === 0L)
  }

  // ------------------------------------------------- commit-log guard

  test("commit-log guard: an uncommitted batch blocks consolidation, committed permits") {
    val idx = tmpDir("cgidx")
    val landing = tmpDir("cgland")
    val ckpt = tmpDir("cgckpt")
    val a = axisCorpus(0L, 30, Seq(0, 1), seed = 7)
    VersionedIvf.write(a, "embedding", "vec_id",
      Similarity.trainIvfCentroids(a, "embedding", "vec_id", k = 2), idx)
    axisCorpus(100L, 10, Seq(0, 1), seed = 8).coalesce(1)
      .write.mode("overwrite").parquet(landing)
    VersionedIvf.streamAppend(
      spark.readStream.schema(a.schema).parquet(landing),
      "embedding", "vec_id", idx, ckpt).awaitTermination()
    val started = graft.streaming.CommitLog.lastStartedBatch(spark, ckpt)
    assert(started.isDefined &&
      started === graft.streaming.CommitLog.lastCommittedBatch(spark, ckpt))
    assert(graft.streaming.CommitLog.uncommittedBatch(spark, ckpt).isEmpty)
    // forge an in-flight batch: offsets entry with no matching commit
    val next = started.get + 1
    val fs = fsOf(ckpt)
    fs.create(new org.apache.hadoop.fs.Path(s"$ckpt/offsets/$next"), false).close()
    assert(graft.streaming.CommitLog.uncommittedBatch(spark, ckpt) === Some(next))
    val e = intercept[IllegalStateException](
      VersionedIvf.consolidate(spark, idx, checkpointDir = Some(ckpt)))
    assert(e.getMessage.contains("not committed"))
    intercept[IllegalStateException](
      VersionedIvf.consolidate(spark, idx, checkpointDir = Some(ckpt)))
    // batch commits → maintenance permitted
    fs.create(new org.apache.hadoop.fs.Path(s"$ckpt/commits/$next"), false).close()
    VersionedIvf.consolidate(spark, idx, checkpointDir = Some(ckpt))
    val parts = VersionedIvf.corpusView(spark, idx)
      .select("ingest_batch").distinct().as[Long].collect().toSet
    assert(parts === Set(-1L))
  }

  test("commit-log guard blocks near-dup compaction the same way") {
    val idx = tmpDir("cgnd")
    val ckpt = tmpDir("cgndck")
    val fs = fsOf(ckpt)
    VersionedNearDup.write(
      Seq((1L, "the quick brown fox jumps over the lazy dog once more"))
        .toDF("doc_id", "text"), "text", "doc_id", idx)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/offsets"))
    fs.create(new org.apache.hadoop.fs.Path(s"$ckpt/offsets/0"), false).close()
    intercept[IllegalStateException](
      VersionedNearDup.consolidate(spark, idx, checkpointDir = Some(ckpt)))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$ckpt/commits/0"), false).close()
    VersionedNearDup.consolidate(spark, idx, checkpointDir = Some(ckpt))
  }

  // ------------------------------------------------- maintenance lease

  test("withLock serializes concurrent mutators: one holder, contenders fail fast") {
    val idx = tmpDir("lkrace")
    val inside = new java.util.concurrent.atomic.AtomicInteger
    val maxInside = new java.util.concurrent.atomic.AtomicInteger
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 4).map(_ => new Thread(() =>
      try MaintenanceLock.withLock(spark, idx) {
        val n = inside.incrementAndGet()
        maxInside.updateAndGet(m => math.max(m, n))
        Thread.sleep(150)
        inside.decrementAndGet()
        ()
      } catch { case _: IllegalStateException => failures.incrementAndGet(); () }))
    // small stagger: the local-FS create-if-absent is atomic only outside a
    // sub-millisecond window (the documented object-store caveat applies
    // locally too); the lease's job is fencing maintenance JOBS, which
    // never start microseconds apart
    threads.foreach { t => t.start(); Thread.sleep(30) }
    threads.foreach(_.join())
    assert(maxInside.get() === 1, "two mutators held the lease at once")
    assert(failures.get() === 3, s"contenders should fail fast, got ${failures.get()}")
    // fully released afterwards
    MaintenanceLock.withLock(spark, idx) { () }
  }

  test("a held lease fails a second mutator fast; an expired one is broken") {
    val idx = tmpDir("lkidx")
    val a = axisCorpus(0L, 30, Seq(0, 1), seed = 9)
    VersionedIvf.write(a, "embedding", "vec_id",
      Similarity.trainIvfCentroids(a, "embedding", "vec_id", k = 2), idx)
    val lock = java.nio.file.Paths.get(idx, "_maintenance.lock")
    java.nio.file.Files.writeString(lock, "other-job pid=1")
    val e = intercept[IllegalStateException](
      VersionedIvf.delete(spark, idx, Seq(1L).toDF("vec_id"), "vec_id"))
    assert(e.getMessage.contains("held by"))
    // nothing was mutated behind the held lease
    assert(!fsOf(idx).exists(new org.apache.hadoop.fs.Path(
      s"${GenerationLog.requireCurrentDir(spark, idx)}/tombstones")))
    // expire the lease: mutators may break it and proceed
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - MaintenanceLock.DefaultTtlMs - 60000L))
    assert(VersionedIvf.delete(spark, idx,
      Seq(1L).toDF("vec_id"), "vec_id") === 1L)
    // released on exit
    assert(!java.nio.file.Files.exists(lock))
    // the same lease fences the near-dup family
    val nd = tmpDir("lknd")
    VersionedNearDup.write(
      Seq((1L, "some sufficiently long text body for shingling right here"))
        .toDF("doc_id", "text"), "text", "doc_id", nd)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(nd, "_maintenance.lock"), "other-job pid=2")
    intercept[IllegalStateException](
      VersionedNearDup.delete(Seq(1L).toDF("doc_id"), "doc_id", nd))
  }

  test("release is ownership-checked: an overrunning holder never deletes a successor's lease") {
    val idx = tmpDir("lkown")
    val lock = java.nio.file.Paths.get(idx, "_maintenance.lock")
    // simulate the TTL-overrun takeover from inside the body: a successor
    // broke our expired lease and wrote its own — our exit must leave it
    val successor = "uuid=someone-else host pid=999"
    MaintenanceLock.withLock(spark, idx) {
      java.nio.file.Files.writeString(lock, successor)
    }
    assert(java.nio.file.Files.exists(lock),
      "overrunning holder deleted the successor's lease on exit")
    assert(java.nio.file.Files.readString(lock) === successor)
    java.nio.file.Files.delete(lock)
    // the normal path still releases: same index, un-tampered lease
    MaintenanceLock.withLock(spark, idx) { () }
    assert(!java.nio.file.Files.exists(lock))
    // breaking an expired lease leaves no tombstone debris behind
    java.nio.file.Files.writeString(lock, "dead-holder")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - MaintenanceLock.DefaultTtlMs - 60000L))
    MaintenanceLock.withLock(spark, idx) { () }
    assert(!java.nio.file.Files.exists(lock))
    import scala.jdk.CollectionConverters._
    val debris = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_maintenance.lock.broken")).toSeq
    assert(debris.isEmpty, s"breaker left tombstone debris: $debris")
  }
}
