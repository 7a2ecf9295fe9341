package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle tests for the streaming SEMANTIC dedup gate
  * (Similarity.streamSemanticGate) — the embedding twin of the text gate.
  */
class SemanticGateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val Tau = 0.95

  private def vecs(rows: (Long, Array[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)

  private def buildIndex(path: String): Seq[Seq[Float]] = {
    val base = vecs(1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0))
    val cents = Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 2)
    VersionedIvf.write(base, "embedding", "vec_id", cents, path)
    cents
  }

  private def gate(batch: DataFrame, idx: String, kept: String, id: Long): Unit =
    Similarity.semanticGateBatch(batch, "embedding", "vec_id", idx, kept,
      id, Tau, nprobe = 2)

  private def keptIds(kept: String): Set[Long] =
    spark.read.parquet(kept).select("vec_id").as[Long].collect().toSet

  test("gate drops cosine-near arrivals of the index and earlier batches; self-dedups the batch") {
    val idx = tmpDir("sgidx"); val kept = tmpDir("sgkept")
    buildIndex(idx)
    // 10 ~ index vec 1 (suppressed); 11 novel (kept); 12/13 exact duplicates
    // of each other (batch-internal: keeper = lower id)
    gate(vecs(10L -> v(0.999f, 0.01f, 0, 0), 11L -> v(0, 0, 1, 0),
      12L -> v(0, 0, 0, 1), 13L -> v(0, 0, 0, 1)), idx, kept, 0L)
    assert(keptIds(kept) === Set(11L, 12L))
    // 20 ~ batch 0's kept vec 11 (suppressed via the grown index); 21 novel
    gate(vecs(20L -> v(0, 0.01f, 0.999f, 0), 21L -> v(0.6f, 0.6f, 0.5f, 0)),
      idx, kept, 1L)
    assert(keptIds(kept) === Set(11L, 12L, 21L))
  }

  test("replaying an earlier gate batch leaves kept table and index content-identical") {
    val idx = tmpDir("sgidx"); val kept = tmpDir("sgkept")
    buildIndex(idx)
    val b0 = vecs(10L -> v(0, 0, 1, 0), 11L -> v(0.999f, 0.02f, 0, 0))
    val b1 = vecs(20L -> v(0, 0, 0, 1), 21L -> v(0, 0.01f, 0.999f, 0))
    gate(b0, idx, kept, 0L)
    gate(b1, idx, kept, 1L)
    def snap(): (Set[Long], Long) = {
      val m = VersionedIvf.corpusView(spark, idx)
        .agg(sum(hash(col("vec_id"), col("cluster"), col("ingest_batch"))
          .cast("long"))).head.getLong(0)
      (keptIds(kept), m)
    }
    val before = snap()
    gate(b0, idx, kept, 0L) // replay after a later batch ran
    assert(snap() === before)
  }

  test("deleted index vectors stop suppressing arrivals") {
    val idx = tmpDir("sgidx"); val kept = tmpDir("sgkept")
    buildIndex(idx)
    gate(vecs(10L -> v(0.999f, 0.01f, 0, 0)), idx, kept, 0L)
    assert(keptIds(kept).isEmpty) // all suppressed
    VersionedIvf.delete(spark, idx, Seq(1L).toDF("vec_id"), "vec_id")
    gate(vecs(20L -> v(0.999f, 0.01f, 0, 0)), idx, kept, 1L)
    assert(keptIds(kept) === Set(20L)) // vec 1 forgotten: no longer suppresses
  }

  test("VersionedIvf.consolidate folds batch partitions into the base; probes and gates unchanged") {
    val idx = tmpDir("sgidx"); val kept = tmpDir("sgkept")
    buildIndex(idx)
    gate(vecs(10L -> v(0, 0, 1, 0)), idx, kept, 0L)
    gate(vecs(20L -> v(0, 0, 0, 1)), idx, kept, 1L)
    def corpusIds() = VersionedIvf.corpusView(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    val before = corpusIds()
    VersionedIvf.consolidate(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // segments folded into the next generation's base; no tombstones left
    val genDir = GenerationLog.requireCurrentDir(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$genDir/segments")))
    assert(VersionedIvf.corpusView(spark, idx)
      .select("ingest_batch").distinct().as[Long].collect().toSet === Set(-1L))
    assert(corpusIds() === before)
    // consolidated vectors still suppress (read as strictly-earlier)
    gate(vecs(30L -> v(0, 0, 0.01f, 0.999f), 31L -> v(0.5f, 0.5f, 0.5f, 0.5f)),
      idx, kept, 2L)
    assert(keptIds(kept) === Set(10L, 20L, 31L)) // 30 ~ consolidated vec 20
    // re-running folds the new batch too and is otherwise a no-op
    VersionedIvf.consolidate(spark, idx)
    assert(corpusIds() === before + 31L)
    VersionedIvf.consolidate(spark, idx)
    assert(corpusIds() === before + 31L)
  }

  test("streaming gate over mod-time-ordered files equals sequential gate batches") {
    val idx = tmpDir("sgidx"); val idxSeq = tmpDir("sgidxq")
    val keptS = tmpDir("sgkepts"); val keptQ = tmpDir("sgkeptq")
    val landing = tmpDir("sgland"); val ckpt = tmpDir("sgckpt")
    val cents = buildIndex(idx)
    val centsSeq = buildIndex(idxSeq)
    assert(cents === centsSeq)
    val batches = Seq(
      vecs(10L -> v(0.999f, 0.01f, 0, 0), 11L -> v(0, 0, 1, 0)),
      vecs(20L -> v(0, 0.01f, 0.999f, 0), 21L -> v(0, 0, 0, 1)))
    batches.zipWithIndex.foreach { case (b, k) =>
      graft.queries.QueryFixtures.landBatch(b, java.nio.file.Paths.get(landing), k)
    }
    Similarity.streamSemanticGate(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      "embedding", "vec_id", idx, keptS, ckpt, Tau, nprobe = 2)
      .awaitTermination()
    batches.zipWithIndex.foreach { case (b, k) => gate(b, idxSeq, keptQ, k.toLong) }
    assert(keptIds(keptS) === keptIds(keptQ))
    assert(keptIds(keptS) === Set(11L, 21L))
  }
}
