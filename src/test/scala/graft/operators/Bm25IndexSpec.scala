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
  * stats appends, marker-file commits on the generation log (crash-
  * invisible staging, rename-free publish), vacuum, the upgrade of a
  * segment-log root, and the maintenance-lease fencing.
  */
class Bm25IndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

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

  private def probe(idx: String, k: Int = 5): Set[(Long, Long, Long, Long)] =
    asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries, "text", "doc_id", k = k))

  // the frozen-stats reference: tf over ALL docs but df/stats over the
  // base — i.e. bm25TopK's own pieces re-staged with frozen statistics
  private def frozenRef(base: DataFrame, all: DataFrame): Set[(Long, Long, Long, Long)] = {
    val allToks = all.select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
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
    asSet(scored
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= 5))
  }

  private def bruteRef(docs: DataFrame): Set[(Long, Long, Long, Long)] =
    asSet(SparseSim.bm25TopK(docs, queries, "text", "doc_id", "text", "doc_id", k = 5))

  /** (n_generations, n_segments, n_stream_segments, n_tombstones) of the root. */
  private def health(idx: String): (Long, Long, Long, Long) = {
    val r = GenerationLog.indexHealth(spark, idx).head()
    (r.getAs[Long]("n_generations"), r.getAs[Long]("n_segments"),
      r.getAs[Long]("n_stream_segments"), r.getAs[Long]("n_tombstones"))
  }

  private def fs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def setMtime(path: String, millis: Long): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .foreach(java.nio.file.Files.setLastModifiedTime(_,
        java.nio.file.attribute.FileTime.fromMillis(millis)))
  }

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
    SparseSim.appendToBm25Index(corpus.limit(5), "text", "doc_id", idx)
    val oneTermQuery = Seq((0L, "t3")).toDF("doc_id", "text")
    val plan = SparseSim.bm25TopKFromIndex(spark, idx, oneTermQuery,
      "text", "doc_id", k = 5).queryExecution.executedPlan.toString
    // every scan — base postings, the appended segment, df — carries a
    // tbucket partition filter
    val scans = plan.split("\n").filter(_.contains("FileScan parquet"))
    assert(scans.length === 3 && scans.forall(_.matches(".*PartitionFilters: \\[.*tbucket.*")),
      s"no tbucket pruning in plan:\n$plan")
  }

  test("frozen-stats append: new docs retrievable, df/N/avgdl stay the base's") {
    val base = corpus.filter(col("doc_id") % 4 =!= 3)
    val extra = corpus.filter(col("doc_id") % 4 === 3)
    val idx = tmpDir("bm25app")
    SparseSim.writeBm25Index(base, "text", "doc_id", idx, numBuckets = 8)
    SparseSim.appendToBm25Index(extra, "text", "doc_id", idx)
    val got = probe(idx)
    val want = frozenRef(base, corpus)
    assert(got === want)
    // appended docs actually surface somewhere in the full ranking
    val gotAll = SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 100)
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(extra.select("doc_id").as[Long].collect().toSet
      .intersect(gotAll).nonEmpty, "appended docs never retrievable")
  }

  test("an append or stream batch with no tokens commits marker-only and later probes still read") {
    val base = corpus.filter(col("doc_id") % 4 =!= 3)
    val extra = corpus.filter(col("doc_id") % 4 === 3)
    val empty = Seq((900L, ""), (901L, "   ")).toDF("doc_id", "text")
    val idx = tmpDir("bm25empty")
    SparseSim.writeBm25Index(base, "text", "doc_id", idx, numBuckets = 8)
    SparseSim.appendToBm25Index(empty, "text", "doc_id", idx)
    SparseSim.ingestBatchToBm25Index(empty, "text", "doc_id", idx, 0L)
    assert(probe(idx) === frozenRef(base, base))
    SparseSim.appendToBm25Index(extra, "text", "doc_id", idx)
    assert(probe(idx) === frozenRef(base, corpus))
    // the empty batches hold no segment dir; the stream one's marker stays
    // the replay guard
    assert(health(idx)._2 === 1L)
    assert(SegmentLog.streamBatchCommitted(spark,
      GenerationLog.requireCurrentDir(spark, idx), 0L))
  }

  test("a build over a corpus with no tokens refuses and commits no generation") {
    val empty = Seq((900L, ""), (901L, " ")).toDF("doc_id", "text")
    val idx = tmpDir("bm25nobuild")
    val e = intercept[IllegalStateException](
      SparseSim.writeBm25Index(empty, "text", "doc_id", idx, numBuckets = 8))
    assert(e.getMessage.contains("no tokens"))
    assert(GenerationLog.committedGenerations(spark, idx).isEmpty)
    // over a built root the refused rebuild leaves the current generation serving
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    val gens = GenerationLog.committedGenerations(spark, idx)
    intercept[IllegalStateException](
      SparseSim.writeBm25Index(empty, "text", "doc_id", idx, numBuckets = 8))
    assert(GenerationLog.committedGenerations(spark, idx) === gens)
    assert(probe(idx) === bruteRef(corpus))
    assert(health(idx) === ((1L, 0L, 0L, 0L)))
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
    // vacuum collapses to the single merged generation; probe unchanged
    assert(health(idx) === ((2L, 0L, 0L, 0L)))
    GenerationLog.vacuum(spark, idx, ttlMs = 0L)
    assert(health(idx) === ((1L, 0L, 0L, 0L)))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/_generations")).length === 1)
    assert(probe(idx) === want)
  }

  test("a staged segment without its commit marker is invisible; vacuum sweeps it and superseded generations") {
    val idx = tmpDir("bm25crash")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    val before = probe(idx)
    // simulate a crash mid-append: segment data staged, marker never lands
    def stageOrphan(): String = {
      val seg = SegmentLog.segmentDir(GenerationLog.requireCurrentDir(spark, idx), 99L)
      corpus.limit(3).select(lit("zzz").as("term"), col("doc_id"),
          lit(1L).as("tf"), lit(3L).as("dl"), lit(0L).as("tbucket"))
        .write.partitionBy("tbucket").parquet(seg)
      seg
    }
    stageOrphan()
    assert(probe(idx) === before, "uncommitted segment leaked into a probe")
    assert(health(idx)._2 === 0L, "uncommitted segment counted as committed")
    // a rebuild supersedes the old generation with ONE marker file; the
    // old generation stays on disk (snapshot isolation) until vacuum
    SparseSim.writeBm25Index(corpus.filter(col("doc_id") < 30), "text", "doc_id", idx)
    val rebuilt = probe(idx)
    assert(rebuilt === bruteRef(corpus.filter(col("doc_id") < 30)))
    assert(health(idx)._1 === 2L)
    // an orphan in the current generation, aged past the lease TTL so
    // vacuum treats it as dead; the superseded generation keeps its grace
    val orphan = stageOrphan()
    setMtime(orphan, System.currentTimeMillis() - MaintenanceLock.DefaultTtlMs - 60000L)
    GenerationLog.vacuum(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)), "aged uncommitted orphan survived vacuum")
    assert(health(idx)._1 === 2L, "superseded generation lost its grace")
    GenerationLog.vacuum(spark, idx, ttlMs = 0L)
    assert(health(idx) === ((1L, 0L, 0L, 0L)), "superseded generation survived vacuum")
    assert(probe(idx) === rebuilt, "vacuum changed the visible index")
  }

  test("a ttl-0 vacuum drops a generation whose successor marker has the same millisecond") {
    val idx = tmpDir("bm25ttl0")
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx, numBuckets = 8)
    SparseSim.consolidateBm25Index(spark, idx)
    val now = System.currentTimeMillis()
    GenerationLog.committedGenerations(spark, idx).foreach(g =>
      setMtime(s"$idx/_commits/$g", now))
    GenerationLog.vacuum(spark, idx)
    assert(health(idx)._1 === 2L)
    GenerationLog.vacuum(spark, idx, ttlMs = 0L)
    assert(health(idx)._1 === 1L, "ttl 0 granted grace to a same-millisecond successor")
    assert(probe(idx) === bruteRef(corpus))
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
    SparseSim.ingestBatchToBm25Index(corpus.limit(2), "text", "doc_id", idx, 0L)
    SparseSim.writeBm25Index(corpus, "text", "doc_id", idx) // and a rebuild
    GenerationLog.vacuum(spark, idx, ttlMs = 0L)
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
    assert(health(idx)._4 === goneIds.size.toLong)
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
    assert(health(idx)._4 === 0L, "consolidation must start without the applied tombstones")
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
      val r = SparseSim.bm25IndexStats(spark, idx).head()
      r.getLong(1) + r.getLong(2)
    }
    val want = probe(idx)
    val n = postingsCount()
    assert(health(idx) === ((1L, 2L, 2L, 0L)))
    // REPLAY batch 1 (crash between segment commit and checkpoint
    // commit): the marker makes it a no-op — no new segment, no new rows
    SparseSim.ingestBatchToBm25Index(b1, "text", "doc_id", idx, 1L)
    assert(postingsCount() === n, "replayed batch double-appended postings")
    assert(health(idx) === ((1L, 2L, 2L, 0L)))
    assert(probe(idx) === want)
    // streamed state ≡ one batch append of the union (frozen stats)
    val batchIdx = tmpDir("bm25strb")
    SparseSim.writeBm25Index(corpus.filter(col("doc_id") % 4 =!= 3),
      "text", "doc_id", batchIdx, numBuckets = 8)
    SparseSim.appendToBm25Index(corpus.filter(col("doc_id") % 4 === 3),
      "text", "doc_id", batchIdx)
    assert(probe(batchIdx) === want)
    // batch 2 is committed to the index but not to the checkpoint: vacuum
    // keeps its marker (it stays in the current generation), so its replay
    // still skips; consolidation refuses until the checkpoint commits
    val b2 = corpus.filter(col("doc_id") < 6).withColumn("doc_id", col("doc_id") + 1000L)
    val ckpt = tmpDir("bm25ck")
    val cfs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cfs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/offsets"))
    cfs.create(new org.apache.hadoop.fs.Path(s"$ckpt/offsets/2"), false).close()
    SparseSim.ingestBatchToBm25Index(b2, "text", "doc_id", idx, 2L)
    val n2 = postingsCount()
    GenerationLog.vacuum(spark, idx, ttlMs = 0L)
    assert(SegmentLog.streamBatchCommitted(spark,
      GenerationLog.requireCurrentDir(spark, idx), 2L), "vacuum dropped a batch marker")
    SparseSim.ingestBatchToBm25Index(b2, "text", "doc_id", idx, 2L)
    assert(postingsCount() === n2, "replay after vacuum double-appended postings")
    intercept[IllegalStateException](
      SparseSim.consolidateBm25Index(spark, idx, checkpointDir = Some(ckpt)))
    cfs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
    cfs.create(new org.apache.hadoop.fs.Path(s"$ckpt/commits/2"), false).close()
    SparseSim.consolidateBm25Index(spark, idx, checkpointDir = Some(ckpt))
    GenerationLog.vacuum(spark, idx, ttlMs = 0L)
    assert(probe(idx) === bruteRef(corpus.unionByName(b2)))
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
    GenerationLog.vacuum(spark, idx, ttlMs = 0L)
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
    // probes never take the lock
    assert(asSet(SparseSim.bm25TopKFromIndex(spark, idx, queries,
      "text", "doc_id", k = 5)).nonEmpty)
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "_maintenance.lock"))
  }

  private val segmentLogFixture =
    java.nio.file.Paths.get(getClass.getResource("/bm25-segment-log-root").toURI)

  /** Copy `rel` (a file or tree) of the committed segment-log root into `dst`. */
  private def copyFixture(rel: String, dst: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = segmentLogFixture.resolve(rel)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val t = java.nio.file.Paths.get(dst, segmentLogFixture.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  /** A copy of the committed segment-log root: a base of doc_id % 4 != 3,
    * a batch append of doc_id % 8 == 3, stream batches 0 (doc_id % 16 ==
    * 7) and 1 (doc_id % 16 == 15) and tombstones for docs 5 and 11, with
    * numBuckets = 2 — written by the segment-log code over this corpus.
    */
  private def segmentLogRoot(): String = {
    val dst = tmpDir("bm25seglog")
    copyFixture("", dst)
    dst
  }

  private lazy val segmentLogSurvivors = corpus.filter(!col("doc_id").isin(5L, 11L))

  private def postingRows(idx: String): (Long, Long) = {
    val r = SparseSim.bm25IndexStats(spark, idx).head()
    (r.getAs[Long]("base_rows"), r.getAs[Long]("appended_rows"))
  }

  test("a segment-log root is refused by every verb until consolidation upgrades it") {
    val idx = segmentLogRoot()
    def refused(verb: => Any): Unit = {
      val e = intercept[IllegalStateException](verb)
      assert(e.getMessage.contains("consolidateBm25Index"), e.getMessage)
    }
    refused(probe(idx))
    refused(SparseSim.appendToBm25Index(corpus.limit(1), "text", "doc_id", idx))
    refused(SparseSim.ingestBatchToBm25Index(corpus.limit(1), "text", "doc_id", idx, 2L))
    refused(SparseSim.deleteFromBm25Index(corpus.limit(1), "doc_id", idx))
    refused(SparseSim.writeBm25Index(corpus, "text", "doc_id", idx))
    refused(SparseSim.bm25IndexStats(spark, idx))
    refused(GenerationLog.vacuum(spark, idx, ttlMs = 0L))
    refused(GenerationLog.indexHealth(spark, idx))
    // stream batch 1 is committed to the old index but not to the
    // checkpoint: the upgrade takes no checkpoint guard (it carries the
    // batch's marker), so it neither refuses nor lets the replay double
    val ckpt = tmpDir("bm25seglogck")
    val cfs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cfs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/offsets"))
    cfs.create(new org.apache.hadoop.fs.Path(s"$ckpt/offsets/1"), false).close()
    SparseSim.consolidateBm25Index(spark, idx, checkpointDir = Some(ckpt))
    Seq("segments", "tombstones").foreach(d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$d")), s"$d left at the root"))
    assert(GenerationLog.committedGenerations(spark, idx).size === 1)
    assert(health(idx) === ((1L, 0L, 0L, 0L)))
    assert(probe(idx) === bruteRef(segmentLogSurvivors))
    val dir = GenerationLog.requireCurrentDir(spark, idx)
    assert(Seq(0L, 1L).forall(SegmentLog.streamBatchCommitted(spark, dir, _)),
      "the upgrade dropped an old stream-batch marker")
    val rows = postingRows(idx)
    SparseSim.ingestBatchToBm25Index(corpus.filter(col("doc_id") % 16 === 15),
      "text", "doc_id", idx, 1L)
    assert(postingRows(idx) === rows, "replay of an old stream batch doubled its postings")
    // stream batch 2 ingests on top of the upgraded root
    val b2 = corpus.filter(col("doc_id") < 6).withColumn("doc_id", col("doc_id") + 1000L)
    SparseSim.ingestBatchToBm25Index(b2, "text", "doc_id", idx, 2L)
    assert(health(idx) === ((1L, 1L, 1L, 0L)))
    assert(probe(idx) === frozenRef(segmentLogSurvivors, segmentLogSurvivors.unionByName(b2)))
  }

  test("an upgrade that crashed mid-cleanup finishes on rerun without a second publish") {
    val idx = segmentLogRoot()
    SparseSim.consolidateBm25Index(spark, idx)
    // the crash: the generation is committed, but `segments/` and an old
    // stream-batch marker are still on disk
    copyFixture("segments", idx)
    copyFixture("_commits/4", idx)
    intercept[IllegalStateException](probe(idx))
    SparseSim.consolidateBm25Index(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/segments")))
    assert(GenerationLog.committedGenerations(spark, idx).size === 1)
    assert(health(idx) === ((1L, 0L, 0L, 0L)))
    assert(probe(idx) === bruteRef(segmentLogSurvivors))
  }
}
