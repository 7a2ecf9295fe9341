package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem that REFUSES directory renames outside Spark's own
  * `_temporary` job-attempt trees — the object-store (S3-like) commit
  * model, where publishing anything by directory rename is non-atomic and
  * therefore forbidden. The BM25 index's marker-file commit protocol must
  * run end-to-end on it; an index that secretly published via directory
  * rename fails loudly here. (The committer's internal `_temporary`
  * renames are exempt: they happen pre-commit inside a segment's staging,
  * need no atomicity for the index's crash story, and real object-store
  * deployments swap them for direct-write committers.)
  */
class NoDirRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "norename"
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    val isDir = try getFileStatus(src).isDirectory
      catch { case _: java.io.IOException => false }
    val internal = src.toString.contains("/_temporary") ||
      dst.toString.contains("/_temporary")
    if (isDir && !internal) {
      NoDirRenameFileSystem.refused.incrementAndGet()
      throw new java.io.IOException(
        s"directory rename refused (object-store semantics): $src -> $dst")
    }
    super.rename(src, dst)
  }
}
object NoDirRenameFileSystem {
  val refused = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** The persisted BM25 text-retrieval index: probe ≡ recompute, frozen-
  * stats appends, marker-file commits (crash-invisible staging, rename-
  * free publish), vacuum, and the maintenance-lease fencing.
  */
class Bm25IndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  // a small deterministic corpus with shared and rare vocabulary: doc i
  // repeats token "t<i mod 7>" i mod 3 + 1 times plus common filler, so
  // tf, df and dl all vary
  private lazy val corpus: DataFrame = (0 until 60).map { i =>
    val rare = Seq.fill(i % 3 + 1)(s"t${i % 7}")
    val filler = Seq("alpha", "beta", "gamma").take(i % 4)
    (i.toLong, (rare ++ filler ++ Seq("common", "words")).mkString(" "))
  }.toDF("doc_id", "text")

  private lazy val queries = corpus.filter(col("doc_id") < 4)

  private def asSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("doc_id").cast("long"),
      col("score_x1e6"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("indexed probe ≡ recompute, including the exact integer scores") {
    val idx = tmpDir("bm25")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    val want = asSet(SparseSim.bm25TopK(corpus, queries,
      "text", "doc_id", "text", "doc_id", k = 5))
    val got = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    assert(got === want)
    // maxDf applies at probe time against the stored df table
    val wantCap = asSet(SparseSim.bm25TopK(corpus, queries,
      "text", "doc_id", "text", "doc_id", k = 5, maxDf = 20L))
    val gotCap = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5, maxDf = 20L))
    assert(gotCap === wantCap)
    assert(gotCap !== got, "the df cap should change results on this corpus")
  }

  test("a root wiped and rebuilt over another corpus probes with the new base's stats, not the old incarnation's memo") {
    val idx = tmpDir("bm25wipe")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    SparseSim.bm25TopKFromIndex(spark, idx, queries, "text", "doc_id", k = 5)
      .collect() // memoizes the base segment's stats
    // the rebuild reuses base segment id 1 at the same path
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val smaller = corpus.filter(col("doc_id") < 30)
    SparseSim.writeBm25Index(smaller, "text", "doc_id", idx, numBuckets = 8)
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) === asSet(SparseSim.bm25TopK(smaller, queries,
      "text", "doc_id", "text", "doc_id", k = 5)))
  }

  test("probe reads only the query terms' hash buckets (partition pruning)") {
    val idx = tmpDir("bm25pp")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 32)
    val oneTermQuery = Seq((0L, "t3")).toDF("doc_id", "text")
    val plan = SparseSim.bm25TopKFromIndex(spark, idx, oneTermQuery,
      "text", "doc_id", k = 5).queryExecution.executedPlan.toString
    // the postings scan must carry a tbucket partition filter
    assert(plan.contains("tbucket"), s"no tbucket pruning in plan:\n$plan")
  }

  test("frozen-stats append: new docs retrievable, df/N/avgdl stay the base's") {
    val base = corpus.filter(col("doc_id") % 4 =!= 3)
    val extra = corpus.filter(col("doc_id") % 4 === 3)
    val idx = tmpDir("bm25app")
    SparseSim.writeBm25Index(base, "text", "doc_id", idx, numBuckets = 8)
    SparseSim.appendToBm25Index(extra, "text", "doc_id", idx)
    val got = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    // reference: recompute with tf over ALL docs but df/stats over the base
    // — i.e. bm25TopK's own pieces re-staged with frozen statistics
    val allToks = corpus.select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
    val baseToks = base.select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
    val tf = allToks.filter(size(col("tk")) > 0)
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val dfr = baseToks.filter(size(col("tk")) > 0)
      .select(col("doc_id"), explode(col("tk")).as("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = baseToks.select(size(col("tk")).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val qT = queries.select(col("doc_id").as("query_id"),
      explode(TextOps.tokens(col("text"))).as("term")).distinct()
    val cand = tf.join(qT, Seq("term")).join(dfr, Seq("term")).crossJoin(stats)
      .select(col("query_id"), col("doc_id"),
        (log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("contrib"))
    val scored = cand.groupBy(col("query_id"), col("doc_id"))
      .agg(floor(sum(col("contrib")) * lit(1000000.0)).cast("long").as("score_x1e6"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score_x1e6").desc, col("doc_id").asc)
    val want = asSet(scored
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= 5))
    assert(got === want)
    // appended docs actually surface somewhere in the full ranking
    val gotAll = SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 100)
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(extra.select("doc_id").as[Long].collect().toSet
      .intersect(gotAll).nonEmpty, "appended docs never retrievable")
  }

  test("consolidation merges the generation into one fresh base ≡ a from-scratch full build") {
    val base = corpus.filter(col("doc_id") % 4 =!= 3)
    val extra = corpus.filter(col("doc_id") % 4 === 3)
    val idx = tmpDir("bm25cons")
    SparseSim.writeBm25Index(base, "text", "doc_id", idx, numBuckets = 8)
    SparseSim.appendToBm25Index(extra, "text", "doc_id", idx)
    val frozen = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    SparseSim.consolidateBm25Index(spark, idx)
    val got = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    // stats reset: post-merge ≡ building the full corpus from scratch
    val want = asSet(SparseSim.bm25TopK(corpus, queries,
      "text", "doc_id", "text", "doc_id", k = 5))
    assert(got === want)
    assert(got !== frozen, "consolidation should change frozen-stats scores on this corpus")
    // vacuum collapses to the single merged segment; probe unchanged
    SparseSim.vacuumBm25Index(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/segments"))
      .map(_.getPath.getName).toSet
    assert(segs.size === 1, s"expected one merged segment, got $segs")
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) === want)
  }

  test("a staged segment without its commit marker is invisible; vacuum sweeps it and superseded generations") {
    val idx = tmpDir("bm25crash")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    val before = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    // simulate a crash mid-append: segment data staged, marker never lands
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    corpus.limit(3).select(lit("zzz").as("term"), col("doc_id"),
        lit(1L).as("tf"), lit(3L).as("dl"), lit(0L).as("tbucket"))
      .write.partitionBy("tbucket").parquet(s"$idx/segments/99/postings")
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) === before, "uncommitted segment leaked into a probe")
    // a rebuild supersedes the old generation with ONE marker file; the
    // old segments stay on disk (snapshot isolation) until vacuum
    SparseSim.writeBm25Index(corpus.filter(col("doc_id") < 30), "text", "doc_id", idx)
    val rebuilt = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    assert(rebuilt === asSet(SparseSim.bm25TopK(corpus.filter(col("doc_id") < 30),
      queries, "text", "doc_id", "text", "doc_id", k = 5)))
    // age the orphan past the lease TTL so vacuum treats it as dead
    import scala.jdk.CollectionConverters._
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - MaintenanceLock.DefaultTtlMs - 60000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/segments/99"))
      .iterator().asScala.foreach(p => java.nio.file.Files.setLastModifiedTime(p, old))
    SparseSim.vacuumBm25Index(spark, idx)
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/segments"))
      .map(_.getPath.getName).toSet
    assert(!segs.contains("99"), "aged uncommitted orphan survived vacuum")
    assert(!segs.contains("1"), "superseded base segment survived vacuum")
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) === rebuilt, "vacuum changed the visible index")
  }

  test("the whole lifecycle runs on a filesystem that refuses directory renames (object-store commit model)") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[NoDirRenameFileSystem].getName)
    val local = tmpDir("bm25nr")
    val idx = s"norename://$local"
    NoDirRenameFileSystem.refused.set(0)
    SparseSim.writeBm25Index(corpus.filter(col("doc_id") % 4 =!= 3),
      "text", "doc_id", idx, numBuckets = 8)
    SparseSim.appendToBm25Index(corpus.filter(col("doc_id") % 4 === 3),
      "text", "doc_id", idx)
    val got = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    SparseSim.consolidateBm25Index(spark, idx) // segment merge, too
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx) // and a rebuild
    SparseSim.vacuumBm25Index(spark, idx)
    val rebuilt = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    assert(rebuilt === asSet(SparseSim.bm25TopK(corpus, queries,
      "text", "doc_id", "text", "doc_id", k = 5)))
    assert(got.nonEmpty && rebuilt.nonEmpty)
    assert(NoDirRenameFileSystem.refused.get() === 0,
      "an index operation attempted to publish via directory rename")
  }

  test("retention deletes: tombstones screen immediately, consolidation purges + resets stats, rebuild clears") {
    val idx = tmpDir("bm25del")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    val gone = corpus.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    SparseSim.deleteFromBm25Index(gone, "doc_id", idx)
    val goneIds = gone.as[Long].collect().toSet
    // deleted docs never retrieve, even at k = everything
    val all = SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 1000)
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(all.intersect(goneIds).isEmpty, "tombstoned docs retrieved")
    // …but the stats stay frozen until consolidation: scores differ from a
    // from-scratch survivors build
    val survivors = corpus.filter(col("doc_id") % 7 =!= 3)
    val fresh = asSet(SparseSim.bm25TopK(survivors, queries,
      "text", "doc_id", "text", "doc_id", k = 5))
    val frozen = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    assert(frozen !== fresh, "frozen stats should differ pre-purge on this corpus")
    // consolidation purges physically and resets df/N/avgdl to survivors
    SparseSim.consolidateBm25Index(spark, idx)
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) === fresh)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/tombstones")),
      "consolidation must clear applied tombstones")
    // an all-tombstoned consolidation refuses (unreadable empty table)
    SparseSim.deleteFromBm25Index(corpus.select(col("doc_id")), "doc_id", idx)
    val e = intercept[IllegalStateException](SparseSim.consolidateBm25Index(spark, idx))
    assert(e.getMessage.contains("rebuild"))
    // a rebuild is a fresh start: stale tombstones must not screen it
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) === asSet(SparseSim.bm25TopK(corpus, queries,
      "text", "doc_id", "text", "doc_id", k = 5)))
  }

  test("streaming ingest: per-batch marker segments, replay skips, commit-log guards maintenance") {
    val idx = tmpDir("bm25str")
    SparseSim.writeBm25Index(corpus.filter(col("doc_id") % 4 =!= 3),
      "text", "doc_id", idx, numBuckets = 8)
    val b0 = corpus.filter(col("doc_id") % 8 === 3)
    val b1 = corpus.filter(col("doc_id") % 8 === 7)
    SparseSim.ingestBatchToBm25Index(b0, "text", "doc_id", idx, 0L)
    SparseSim.ingestBatchToBm25Index(b1, "text", "doc_id", idx, 1L)
    def postingsCount(): Long = {
      import scala.jdk.CollectionConverters._
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/segments"))
        .map(st => spark.read.parquet(s"${st.getPath}/postings").count()).sum
    }
    val want = asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5))
    val n = postingsCount()
    // REPLAY batch 1 (crash between segment commit and checkpoint
    // commit): the marker makes it a no-op — no new segment, no new rows
    SparseSim.ingestBatchToBm25Index(b1, "text", "doc_id", idx, 1L)
    assert(postingsCount() === n, "replayed batch double-appended postings")
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) === want)
    // streamed state ≡ one batch append of the union (frozen stats)
    val batchIdx = tmpDir("bm25strb")
    SparseSim.writeBm25Index(corpus.filter(col("doc_id") % 4 =!= 3),
      "text", "doc_id", batchIdx, numBuckets = 8)
    SparseSim.appendToBm25Index(corpus.filter(col("doc_id") % 4 === 3),
      "text", "doc_id", batchIdx)
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, batchIdx, queries,
      "text", "doc_id", k = 5)) === want)
    // commit-log guard: an uncommitted stream batch blocks consolidate and
    // vacuum (they would delete the replay-guard markers); commit permits
    val ckpt = tmpDir("bm25ck")
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/offsets"))
    fs.create(new org.apache.hadoop.fs.Path(s"$ckpt/offsets/2"), false).close()
    intercept[IllegalStateException](
      SparseSim.consolidateBm25Index(spark, idx, checkpointDir = Some(ckpt)))
    intercept[IllegalStateException](
      SparseSim.vacuumBm25Index(spark, idx, checkpointDir = Some(ckpt)))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$ckpt/commits/2"), false).close()
    SparseSim.consolidateBm25Index(spark, idx, checkpointDir = Some(ckpt))
    SparseSim.vacuumBm25Index(spark, idx, checkpointDir = Some(ckpt))
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)) ===
      asSet(SparseSim.bm25TopK(corpus, queries,
        "text", "doc_id", "text", "doc_id", k = 5)))
  }

  test("staleness audit: healthy shape clears, heavy appends and tombstones are counted") {
    val idx = tmpDir("bm25h")
    SparseSim.writeBm25Index(corpus.filter(col("doc_id") < 20), "text", "doc_id", idx,
      numBuckets = 8)
    def stats() = SparseSim.bm25IndexStats(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    val s0 = stats()
    assert(s0._1 === 1L && s0._3 === 0L && s0._4 === 0L)
    // plant the consolidation-overdue shape: 5 appends of 2x the base
    (1 to 5).foreach(i => SparseSim.appendToBm25Index(
      corpus.filter(col("doc_id") >= 20).withColumn("doc_id", col("doc_id") + i * 1000),
      "text", "doc_id", idx))
    SparseSim.deleteFromBm25Index(corpus.limit(3).select(col("doc_id")), "doc_id", idx)
    val s1 = stats()
    assert(s1._1 === 6L, "segment count must track appends")
    assert(s1._3 > s1._2 * 4, "planted appends must exceed the 4x staleness rule")
    assert(s1._4 === 3L, "tombstoned ids counted")
    // consolidation resets the audit: one segment, all rows base, no tombstones
    SparseSim.consolidateBm25Index(spark, idx)
    SparseSim.vacuumBm25Index(spark, idx)
    val s2 = stats()
    assert(s2._1 === 1L && s2._3 === 0L && s2._4 === 0L)
    assert(s2._2 > 0L)
  }

  test("a held maintenance lease fails writers fast; probes stay lock-free") {
    val idx = tmpDir("bm25lk")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(idx, "_maintenance.lock"), "other-job pid=1")
    intercept[IllegalStateException](
      SparseSim.appendToBm25Index(corpus.limit(1), "text", "doc_id", idx))
    intercept[IllegalStateException](SparseSim.vacuumBm25Index(spark, idx))
    // probes never take the lock
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)).nonEmpty)
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "_maintenance.lock"))
  }
}
