package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generation-log (object-store-safe) IVF index: every lifecycle verb
  * on a filesystem that REFUSES directory renames, marker-file commits,
  * replay-idempotent stream segments, crash-invisible staging, vacuum,
  * and the lease + commit-log fences.
  */
class VersionedIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def axisCorpus(idBase: Long, n: Int, axes: Seq[Int], seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat * 0.05f)
      v(axes(i % axes.size)) += 1.0f
      (idBase + i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def asSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def brute(queries: DataFrame, corpus: DataFrame, k: Int): Set[(Long, Long, Int)] =
    asSet(Similarity.bruteForceTopK(queries, corpus, "embedding", "vec_id", k))

  private def centroidCount(root: String): Int =
    VersionedIvf.readCentroids(spark,
      GenerationLog.requireCurrentDir(spark, root)).size

  private def exhaustive(root: String, queries: DataFrame, k: Int): Set[(Long, Long, Int)] =
    asSet(VersionedIvf.topKFromIndex(spark, root, queries,
      "embedding", "vec_id", k, nprobe = centroidCount(root)))

  test("full lifecycle on a filesystem that refuses directory renames, exhaustive probe ≡ brute at every step") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[NoDirRenameFileSystem].getName)
    val root = s"norename://${tmpDir("vidx")}"
    NoDirRenameFileSystem.refused.set(0)

    val base = axisCorpus(0L, 40, Seq(0, 1, 2, 3), seed = 1)
    val extraA = axisCorpus(100L, 10, Seq(1, 2), seed = 2)
    val extraB = axisCorpus(200L, 10, Seq(0, 3), seed = 3)
    val queries = base.filter(col("vec_id") < 4)

    // build
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 4), root)
    assert(exhaustive(root, queries, k = 5) === brute(queries, base, k = 5))

    // marker-committed batch append
    VersionedIvf.append(extraA, "embedding", "vec_id", root)
    val afterA = base.unionByName(extraA)
    assert(exhaustive(root, queries, k = 5) === brute(queries, afterA, k = 5))

    // stream-segment ingest (direct batch calls; the streaming wrapper is
    // the same foreachBatch shape as the in-place family's)
    VersionedIvf.ingestBatch(extraB, "embedding", "vec_id", root, batchId = 0L)
    val full = afterA.unionByName(extraB)
    assert(exhaustive(root, queries, k = 5) === brute(queries, full, k = 5))

    // replay of the same checkpoint batch id is a no-op (marker-detected)
    VersionedIvf.ingestBatch(extraB, "embedding", "vec_id", root, batchId = 0L)
    assert(exhaustive(root, queries, k = 40) === brute(queries, full, k = 40))

    // tombstone delete: screened immediately
    val delIds = Seq(7L, 103L, 201L)
    VersionedIvf.delete(spark, root, delIds.toDF("vec_id"), "vec_id")
    val live = full.filter(!col("vec_id").isin(delIds: _*))
    assert(exhaustive(root, queries, k = 5) === brute(queries, live, k = 5))

    // consolidate: next generation, tombstones applied + dropped, segments folded
    VersionedIvf.consolidate(spark, root)
    val genDir = GenerationLog.requireCurrentDir(spark, root)
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/tombstones")))
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
    assert(exhaustive(root, queries, k = 5) === brute(queries, live, k = 5))

    // retrain with a different k: membership invariant (probe ≡ brute for
    // ANY centroid set at nprobe = #centroids)
    VersionedIvf.retrain(spark, root, k = Some(3))
    assert(centroidCount(root) === 3)
    assert(exhaustive(root, queries, k = 5) === brute(queries, live, k = 5))

    // vacuum: default TTL grants superseded generations a quiescence grace
    // (an in-flight probe may still hold the old dir — snapshot isolation),
    // ttl 0 GCs them; current untouched either way
    assert(GenerationLog.committedGenerations(spark, root).size === 3)
    GenerationLog.vacuum(spark, root)
    assert(GenerationLog.committedGenerations(spark, root).size === 3,
      "vacuum deleted a freshly-superseded generation out from under readers")
    GenerationLog.vacuum(spark, root, ttlMs = 0L)
    assert(GenerationLog.committedGenerations(spark, root).size === 1)
    assert(exhaustive(root, queries, k = 5) === brute(queries, live, k = 5))

    assert(NoDirRenameFileSystem.refused.get() === 0,
      "a versioned-index operation attempted to publish via directory rename")
  }

  test("IVF-PQ lifecycle on the rename-refusing filesystem: exact probe + re-rank ≡ brute throughout") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[NoDirRenameFileSystem].getName)
    val root = s"norename://${tmpDir("vpq")}"
    NoDirRenameFileSystem.refused.set(0)

    val base = axisCorpus(0L, 40, Seq(0, 1, 2, 3), seed = 11)
    val extra = axisCorpus(100L, 10, Seq(1, 3), seed = 12)
    val full = base.unionByName(extra)
    val queries = base.filter(col("vec_id") < 4)
    def exact(corpus: DataFrame, k: Int): Set[(Long, Long, Int)] = {
      val cents = VersionedIvf.readCentroids(spark,
        GenerationLog.requireCurrentDir(spark, root))
      asSet(VersionedIvfPq.topKFromIndex(spark, root, queries, corpus,
        "embedding", "vec_id", k, nprobe = cents.size, rerank = 1000000))
    }

    val cents = Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 4)
    val books = Similarity.trainIvfPqBooks(base, "embedding", "vec_id",
      cents, m = 2, ksub = 4)
    VersionedIvfPq.write(base, "embedding", "vec_id", cents, books, root)
    assert(exact(base, 5) === brute(queries, base, 5))

    VersionedIvfPq.append(extra, "embedding", "vec_id", root)
    assert(exact(full, 5) === brute(queries, full, 5))

    // an empty append commits marker-only: its marker lands, its segment
    // dir does not, the probe still reads, and indexHealth counts only the
    // segment with rows
    VersionedIvfPq.append(extra.limit(0), "embedding", "vec_id", root)
    val appendDir = GenerationLog.requireCurrentDir(spark, root)
    assert(SegmentLog.committed(spark, appendDir).map(_._1).sorted === Seq(0L, 1L))
    assert(!fsOf(root).exists(
      new org.apache.hadoop.fs.Path(SegmentLog.segmentDir(appendDir, 1L))))
    assert(exact(full, 5) === brute(queries, full, 5))
    assert(GenerationLog.indexHealth(spark, root)
      .select("n_segments").head.getLong(0) === 1L)

    val delIds = Seq(7L, 103L)
    VersionedIvfPq.delete(spark, root, delIds.toDF("vec_id"), "vec_id")
    val live = full.filter(!col("vec_id").isin(delIds: _*))
    assert(exact(full, 5) === brute(queries, live, 5))

    VersionedIvfPq.consolidate(spark, root)
    assert(exact(full, 5) === brute(queries, live, 5))

    // two-level retrain over live membership from the float base table;
    // corpus rows outside the index (the deleted ids) are ignored
    VersionedIvfPq.retrain(spark, root, full, "embedding", "vec_id", k = Some(3))
    assert(exact(full, 5) === brute(queries, live, 5))

    assert(GenerationLog.committedGenerations(spark, root).size === 3)
    GenerationLog.vacuum(spark, root)
    assert(GenerationLog.committedGenerations(spark, root).size === 3,
      "vacuum deleted a freshly-superseded generation inside the TTL grace")
    // ttl 0 grants no grace even to a marker stamped ahead of this clock
    // (or in the same millisecond as the vacuum)
    fsOf(root).setTimes(new org.apache.hadoop.fs.Path(s"$root/_commits/3"),
      System.currentTimeMillis() + 60000L, -1L)
    GenerationLog.vacuum(spark, root, ttlMs = 0L)
    assert(GenerationLog.committedGenerations(spark, root).size === 1)
    assert(exact(full, 5) === brute(queries, live, 5))

    // a live stored id missing from the retrain corpus fails fast
    val e = intercept[IllegalArgumentException](VersionedIvfPq.retrain(
      spark, root, full.filter(col("vec_id") =!= 0L), "embedding", "vec_id"))
    assert(e.getMessage.contains("absent"))

    assert(NoDirRenameFileSystem.refused.get() === 0,
      "a versioned IVF-PQ operation attempted to publish via directory rename")
  }

  test("uncommitted staging is invisible to probes and vacuumed once aged past TTL") {
    val root = tmpDir("vcrash")
    val base = axisCorpus(0L, 20, Seq(0, 1), seed = 4)
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)
    val queries = base.filter(col("vec_id") < 2)
    val want = exhaustive(root, queries, k = 5)

    // a stager that died mid-write: staged tree, no commit marker
    val (gen, staged) = GenerationLog.stageNext(spark, root)
    axisCorpus(500L, 5, Seq(0), seed = 5)
      .withColumn("cluster", lit(0)).withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("cluster", "ingest_batch").parquet(s"$staged/corpus")
    assert(GenerationLog.currentGeneration(spark, root) !== Some(gen))
    assert(exhaustive(root, queries, k = 5) === want, "probe read uncommitted staging")

    // fresh staging survives vacuum (a live stager), aged staging does not
    GenerationLog.vacuum(spark, root)
    assert(fsOf(root).exists(new org.apache.hadoop.fs.Path(staged)))
    import scala.jdk.CollectionConverters._
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - MaintenanceLock.DefaultTtlMs - 60000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(staged))
      .iterator().asScala.foreach(p => java.nio.file.Files.setLastModifiedTime(p, old))
    GenerationLog.vacuum(spark, root)
    assert(!fsOf(root).exists(new org.apache.hadoop.fs.Path(staged)),
      "aged dead staging survived vacuum")
    assert(exhaustive(root, queries, k = 5) === want)
  }

  test("replayed stream batch never double-writes; uncommitted segment debris is invisible and vacuumable") {
    val root = tmpDir("vreplay")
    val base = axisCorpus(0L, 20, Seq(0, 1), seed = 6)
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)
    val batch = axisCorpus(100L, 6, Seq(0), seed = 7)
    VersionedIvf.ingestBatch(batch, "embedding", "vec_id", root, batchId = 3L)
    VersionedIvf.ingestBatch(batch, "embedding", "vec_id", root, batchId = 3L)
    val queries = base.filter(col("vec_id") < 2)
    val n = VersionedIvf.topKFromIndex(spark, root, queries, "embedding", "vec_id",
      k = 100, nprobe = 2).filter(col("neighbor_id") >= 100L).count()
    assert(n === 2 * batch.count(), s"replay duplicated segment rows (got $n)")

    // crash between segment write and marker: rows invisible
    val genDir = GenerationLog.requireCurrentDir(spark, root)
    axisCorpus(300L, 4, Seq(1), seed = 8)
      .select(col("vec_id"), col("embedding"), lit(1).as("cluster"))
      .write.partitionBy("cluster").parquet(s"$genDir/segments/ingest_batch=9")
    val n2 = VersionedIvf.topKFromIndex(spark, root, queries, "embedding", "vec_id",
      k = 100, nprobe = 2).filter(col("neighbor_id") >= 300L).count()
    assert(n2 === 0, "probe read an uncommitted segment")
    // and the debris ages out
    import scala.jdk.CollectionConverters._
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - MaintenanceLock.DefaultTtlMs - 60000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$genDir/segments/ingest_batch=9"))
      .iterator().asScala.foreach(p => java.nio.file.Files.setLastModifiedTime(p, old))
    GenerationLog.vacuum(spark, root)
    assert(!fsOf(root).exists(
      new org.apache.hadoop.fs.Path(s"$genDir/segments/ingest_batch=9")))
  }

  test("mutators are lease-fenced and maintenance is commit-log-guarded") {
    val root = tmpDir("vfence")
    val base = axisCorpus(0L, 20, Seq(0, 1), seed = 9)
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)

    // a held (fresh) lease fails every mutator fast
    val lock = new org.apache.hadoop.fs.Path(root, "_maintenance.lock")
    val out = fsOf(root).create(lock, false)
    try out.write("uuid=other holder".getBytes("UTF-8")) finally out.close()
    intercept[IllegalStateException](
      VersionedIvf.delete(spark, root, Seq(1L).toDF("vec_id"), "vec_id"))
    intercept[IllegalStateException](
      VersionedIvf.append(base.limit(1), "embedding", "vec_id", root))
    intercept[IllegalStateException](VersionedIvf.consolidate(spark, root))
    fsOf(root).delete(lock, false)

    // a started-but-uncommitted checkpoint batch blocks consolidate/retrain
    val ckpt = tmpDir("vckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ckpt/offsets"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckpt/offsets/5"),
      "{}".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      VersionedIvf.consolidate(spark, root, checkpointDir = Some(ckpt)))
    assert(e.getMessage.contains("batch 5"))
    intercept[IllegalStateException](
      VersionedIvf.retrain(spark, root, checkpointDir = Some(ckpt)))
    // committing the batch re-permits
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ckpt/commits"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckpt/commits/5"),
      "{}".getBytes("UTF-8"))
    VersionedIvf.consolidate(spark, root, checkpointDir = Some(ckpt))

    // all-tombstoned consolidation refuses (rebuild instead)
    VersionedIvf.delete(spark, root, base.select(col("vec_id")), "vec_id")
    val e2 = intercept[IllegalStateException](VersionedIvf.consolidate(spark, root))
    assert(e2.getMessage.contains("rebuild"))
    // and a rebuild is a clean start: old tombstones don't screen it
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2), root)
    val queries = base.filter(col("vec_id") < 2)
    assert(exhaustive(root, queries, k = 5) === brute(queries, base, k = 5))
  }
}
