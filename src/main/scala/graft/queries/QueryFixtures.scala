package graft
package queries

import graft.operators.{Dedup, GenerationLog, Similarity, SparseSim, TextClassifier, VersionedIvf, VersionedNearDup, VersionedSubstring}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The harness tables and the gate and index fixtures that query builds
  * share: each fixture is built once per sf dir (through [[Fixtures.memo]])
  * and read by a bench face and its `_contract` sibling alike.
  */
private[queries] object QueryFixtures {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Balanced load for compute-heavy per-row work (see Tables.balanced). */
  def tb(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.balanced(s, dir, name)

  /** Shared LSH shape for the streaming-gate fixture: the recall-1.0 design
    * point (J ≥ 1/2 at 32×2 banding — the d_jaccard_lsh ≡ brute argument),
    * so the gate's kept-set is exactly the sequential exact-Jaccard
    * pipeline's.
    */
  val GateShingle = 3
  val GateNumer = 1
  val GateDenom = 2
  val GateBands = 32
  val GateRows = 2

  /** Sub-batch k (0-2) of the gate fixture's arrival stream: the quarter of
    * the corpus held out of the index (doc_id ≡ 0 mod 4), split by
    * doc_id mod 12 so batch composition is pinned across engines and runs.
    * The fixture universe is deliberately two corpus quarters (index quarter
    * + arrival quarter in 3 batches): the lifecycle machinery it exercises
    * is data-size-independent, and the smoke gate's 20 s global bound must
    * hold with the whole fixture build billed to one query.
    */
  def gateSubBatch(docs: DataFrame, k: Int): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(12)) === lit(4 * k))

  def gateIndexBase(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(4)) === 2)

  private def gateDeletedIds(docs: DataFrame): DataFrame =
    gateIndexBase(docs).filter(pmod(col("doc_id"), lit(20)) === 2)
      .select(col("doc_id"))

  /** Order-independent content hash of a frame: (row count, sum of per-row
    * hashes) — the replay/compact invariance currency (mirrors the Stress
    * receipts' corpusHash).
    */
  private def contentHash(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(hash(cols.map(col): _*).cast("long"))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  val SemGateTau = 0.4 // the d_semantic_keepers design point on this corpus
  val SemGateNprobe = 2
  private val SubstrGateN = 8 // window size of the composed fixture's stage 0

  /** Verify evaluates queries on a THREAD POOL, and each streaming-gate
    * fixture is shared by a bench face that REPLAYS a batch (dynamic
    * overwrite: new part files written, old ones deleted) and a contract
    * sibling reading the same partitions — concurrent evaluation chases
    * deleted files. Serialize per (fixture, sf dir), and EAGERLY
    * materialize the returned frame inside the lock (localCheckpoint) so
    * nothing escaping the lock still reads fixture dirs lazily.
    */
  private val fixtureLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def fixtureSerialized(key: String, d: String)(body: => DataFrame): DataFrame =
    fixtureLocks.computeIfAbsent(s"$key@$d", _ => new Object).synchronized {
      graft.CacheScope.localCheckpoint(body)
    }

  /** Land `batch` as the single file `landing/batchKK.parquet`, written
    * through a scratch dir that is deleted after the move. Pinned,
    * strictly-ascending mtimes: the file source processes oldest-first, so
    * batch k is ALWAYS micro-batch k.
    */
  def landBatch(batch: DataFrame, landing: java.nio.file.Path, k: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = Fixtures.dir("landing")
    try {
      batch.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dst = landing.resolve(f"batch$k%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 60000L))
    } finally Fixtures.delete(tmp)
  }

  def semSubBatch(embs: DataFrame, k: Int): DataFrame =
    embs.filter(pmod(col("vec_id"), lit(12)) === lit(4 * k))

  /** Build the streaming semantic gate fixture once per sf dir — same
    * shape as the text-gate fixture: IVF index on the vec_id ≡ 2 mod 4
    * quarter (frozen k = 8 centroids), arrival quarter in 3 pinned
    * batches, batches 0-1 streamed through
    * [[operators.Similarity.streamSemanticGate]], batch 1 replayed
    * (replayOk), vec_id ≡ 2 mod 20 deleted from the index, batch 2 gated
    * after the delete. Value: (indexDir, keptDir, replayOk, frozen
    * centroids).
    */
  def buildSemanticGateFixture(
      s: SparkSession, d: String): (String, String, Boolean, Seq[Seq[Float]]) = {
    val embs = tb(s, d, "embeddings")
    val base = embs.filter(pmod(col("vec_id"), lit(4)) === 2)
      .select(col("vec_id"), col("embedding"))
    val arrivals = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id"), col("embedding"))
    val idx = Fixtures.dir("sgidx")
    val kept = Fixtures.dir("sgkept")
    val landing = Fixtures.dir("sgland")
    val ckpt = Fixtures.dir("sgckpt")
    val cents = Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 8)
    VersionedIvf.write(base, "embedding", "vec_id", cents, idx.toString)
    (0 to 1).foreach(k => landBatch(semSubBatch(arrivals, k), landing, k))
    Similarity.streamSemanticGate(
      s.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.toString),
      "embedding", "vec_id", idx.toString, kept.toString, ckpt.toString,
      SemGateTau, SemGateNprobe)
      .awaitTermination()
    def outputsHash(): ((Long, Long), (Long, Long)) = (
      contentHash(s.read.parquet(kept.toString), Seq("vec_id", "ingest_batch")),
      contentHash(VersionedIvf.corpusView(s, idx.toString),
        Seq("vec_id", "cluster", "ingest_batch")))
    val beforeReplay = outputsHash()
    Similarity.semanticGateBatch(semSubBatch(arrivals, 1), "embedding", "vec_id",
      idx.toString, kept.toString, cents, 1L, SemGateTau, SemGateNprobe)
    val replayOk = outputsHash() == beforeReplay
    VersionedIvf.delete(s, idx.toString,
      base.filter(pmod(col("vec_id"), lit(20)) === 2).select(col("vec_id")),
      "vec_id")
    Similarity.semanticGateBatch(semSubBatch(arrivals, 2), "embedding", "vec_id",
      idx.toString, kept.toString, cents, 2L, SemGateTau, SemGateNprobe)
    (idx.toString, kept.toString, replayOk, cents)
  }

  /** Substring-gate fixture: window index on docs < 250; arrivals in three
    * CONTIGUOUS ASCENDING id ranges — [250,333) and [333,416) through the
    * real file stream, then [416,∞) gated as batch 2 (the bench face
    * re-replays it as its timed body), and finally batch 1 replayed AFTER
    * batch 2 ran (replayOk) — the real crash-recovery shape, where a
    * replayed batch re-runs with its successors' partitions already
    * standing. Ascending ranges make sequential arrival order ≡ global id
    * order, so the one-shot substringClean SQL restricted to the arrivals
    * IS the oracle. Value: (indexDir, cleanDir, replayOk).
    */
  def buildSubstringGateFixture(
      s: SparkSession, d: String): (String, String, Boolean) = {
    val docs = tb(s, d, "documents")
    val idx = Fixtures.dir("ssgidx")
    val clean = Fixtures.dir("ssgclean")
    val landing = Fixtures.dir("ssgland")
    val ckpt = Fixtures.dir("ssgckpt")
    VersionedSubstring.write(docs.filter(col("doc_id") < 250),
      "text", "doc_id", idx.toString, n = 8)
    Seq((250L, 333L), (333L, 416L)).zipWithIndex.foreach { case ((lo, hi), k) =>
      landBatch(docs.filter(col("doc_id") >= lo && col("doc_id") < hi), landing, k)
    }
    VersionedSubstring.streamGate(
      s.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.toString),
      "text", "doc_id", idx.toString, clean.toString, ckpt.toString)
      .awaitTermination()
    def outputsHash(): ((Long, Long), (Long, Long)) = (
      contentHash(s.read.parquet(clean.toString),
        Seq("doc", "cleaned_text", "ingest_batch")),
      contentHash(VersionedSubstring.manifest(s, idx.toString),
        Seq("h1", "h2")))
    // gate batch 2 FIRST, then replay batch 1: the replay probe must hold
    // with a LATER batch's partitions already standing (the real replay
    // shape — a crash-recovered batch re-runs after its successors landed)
    VersionedSubstring.gateBatch(docs.filter(col("doc_id") >= 416),
      "text", "doc_id", idx.toString, clean.toString, 2L)
    val beforeReplay = outputsHash()
    VersionedSubstring.gateBatch(
      docs.filter(col("doc_id") >= 333 && col("doc_id") < 416),
      "text", "doc_id", idx.toString, clean.toString, 1L)
    val replayOk = outputsHash() == beforeReplay
    (idx.toString, clean.toString, replayOk)
  }

  /** The VERSIONED substring-gate fixture — same base/batch id-ranges and
    * replay-after-later-batch schedule as [[buildSubstringGateFixture]],
    * driven through [[operators.VersionedSubstring]] (direct batch calls;
    * clean content is schedule-equivalent to the streamed fixture by the
    * strictly-earlier read).
    */
  def buildVersionedSubstrFixture(
      s: SparkSession, d: String): (String, String, Boolean, Boolean) = {
    val docs = tb(s, d, "documents")
    val root = Fixtures.dir("vssgidx")
    val clean = Fixtures.dir("vssgclean")
    VersionedSubstring.write(docs.filter(col("doc_id") < 250),
      "text", "doc_id", root.toString, n = 8)
    def gate(lo: Long, hi: Long, id: Long): Unit =
      VersionedSubstring.gateBatch(
        docs.filter(col("doc_id") >= lo && (if (hi > 0) col("doc_id") < hi else lit(true))),
        "text", "doc_id", root.toString, clean.toString, id)
    gate(250L, 333L, 0L)
    gate(333L, 416L, 1L)
    gate(416L, -1L, 2L)
    def snap(): ((Long, Long), (Long, Long)) = (
      contentHash(s.read.parquet(clean.toString),
        Seq("doc", "cleaned_text", "ingest_batch")),
      contentHash(VersionedSubstring.manifest(s, root.toString), Seq("h1", "h2")))
    val before = snap()
    gate(333L, 416L, 1L) // replay after a LATER batch already landed
    val replayOk = snap() == before
    val liveBefore = contentHash(
      VersionedSubstring.manifest(s, root.toString), Seq("h1", "h2"))
    VersionedSubstring.consolidate(s, root.toString)
    VersionedSubstring.vacuum(s, root.toString, ttlMs = 0L)
    val compactOk = contentHash(
      VersionedSubstring.manifest(s, root.toString), Seq("h1", "h2")) == liveBefore &&
      GenerationLog.committedGenerations(s, root.toString).size == 1
    (root.toString, clean.toString, replayOk, compactOk)
  }

  /** Three-stage composed fixture (d_composed3_gate / _contract): substring
    * index + near-dup index on the ≡2 mod 4 doc quarter, ANN index on the
    * matching embedding quarter; ONE arrival batch streamed through
    * [[streaming.ComposedGate.stream3]] (one foreachBatch, one
    * checkpoint) — the smoke gate's 20 s bound prices every composed
    * execution, so the driver fixture runs the minimum and CROSS-batch
    * composition is pinned by ComposedGateSpec's planted two-batch case
    * (and the two-stage d_composed_gate still streams two batches here).
    * Replay probe lives in the contract; the bench face replays batch 0.
    * Value: (substrIdx, textIdx, annIdx, cleanDir, textKeptDir, keptDir,
    * centroids)
    */
  def buildComposed3GateFixture(
      s: SparkSession, d: String)
      : (String, String, String, String, String, String, Seq[Seq[Float]]) = {
    val docs = tb(s, d, "documents")
    val embs = tb(s, d, "embeddings")
    val baseDocs = gateIndexBase(docs)
    val baseEmb = embs.filter(pmod(col("vec_id"), lit(4)) === 2)
      .select(col("vec_id"), col("embedding"))
    val arrivals = composedArrivals(s, d)
    val dirs = Seq("c3s", "c3t", "c3a", "c3cl", "c3tk", "c3k", "c3l", "c3c")
      .map(Fixtures.dir)
    val Seq(substrIdx, textIdx, annIdx, cleanDir, textKept, kept, landing, ckpt) = dirs
    // the three base indexes are independent — build them on concurrent
    // threads (Spark actions are thread-safe; local[32] has slack) to keep
    // the whole fixture + one composed execution inside the smoke gate's
    // 20 s single-shot bound. One Lloyd round: the contract compares the
    // stream against a reference sharing the SAME frozen centroids, so
    // centroid quality is not under test here (the recall contracts are)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fSub = Future(VersionedSubstring.write(
      baseDocs, "text", "doc_id", substrIdx.toString, n = SubstrGateN))
    val fText = Future(VersionedNearDup.write(baseDocs, "text", "doc_id",
      textIdx.toString, GateShingle, GateNumer, GateDenom, GateBands, GateRows))
    val fAnn = Future {
      val c = Similarity.trainIvfCentroids(baseEmb, "embedding", "vec_id",
        k = 8, iterations = 1)
      VersionedIvf.write(baseEmb, "embedding", "vec_id", c, annIdx.toString)
      c
    }
    Await.result(fSub, Duration.Inf)
    Await.result(fText, Duration.Inf)
    val cents = Await.result(fAnn, Duration.Inf)
    landBatch(gateSubBatch(arrivals, 0), landing, 0)
    graft.streaming.ComposedGate.stream3(
      s.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.toString),
      "text", "embedding", "doc_id",
      substrIdx.toString, textIdx.toString, annIdx.toString,
      cleanDir.toString, textKept.toString, kept.toString, ckpt.toString,
      SemGateTau, SemGateNprobe)
      .awaitTermination()
    (substrIdx.toString, textIdx.toString, annIdx.toString,
      cleanDir.toString, textKept.toString, kept.toString, cents)
  }

  /** The stacked THREE-stage sequential reference (substring manifest fold
    * → exact-Jaccard text fold → in-memory semantic fold) — pure batch
    * ops, no index/stream machinery, base state from the ≡2 mod 4 corpus.
    * Shared by d_composed3_gate_contract and the 4-stage contract (which
    * feeds it quality-filtered batches).
    */
  def composed3ReferenceKept(
      s: SparkSession, d: String, batches: Seq[DataFrame],
      cents: Seq[Seq[Float]]): DataFrame = {
    import s.implicits._
    val docs = tb(s, d, "documents")
    val embs = tb(s, d, "embeddings")
    val baseDocs = gateIndexBase(docs)
    def manifestOf(df: DataFrame): DataFrame =
      Dedup.nearDupManifest(df, "text", "doc_id", GateShingle, GateBands, GateRows)
    val subMan0 = graft.CacheScope.localCheckpoint(
      Dedup.substringWindowManifest(baseDocs, "text", "doc_id", SubstrGateN))
    val man0 = graft.CacheScope.localCheckpoint(manifestOf(baseDocs))
    val corpus0 = graft.CacheScope.localCheckpoint(
      embs.filter(pmod(col("vec_id"), lit(4)) === 2)
        .select(col("vec_id").as("doc_id"), col("embedding")))
    val (_, _, _, refKept) = batches.foldLeft(
      (subMan0, man0, corpus0, s.emptyDataset[Long].toDF("doc_id"))) {
      case ((subMan, man, corpusRef, acc), bk) =>
        // stage 0 reference: the batch-incremental substring face (pure
        // batch ops) — cleaned text, fully-duplicated docs dropped,
        // manifest grown by the batch's ORIGINAL windows
        val spans = Dedup.substringSpansAgainstManifest(
          bk, subMan, "text", "doc_id", SubstrGateN)
        val cleanedK = graft.CacheScope.localCheckpoint(
          Dedup.applyRemovedSpans(bk, spans, "text", "doc_id")
            .select(col("doc").as("doc_id"), col("cleaned_text").as("text"))
            .join(bk.select(col("doc_id"), col("embedding")), Seq("doc_id")))
        // stage 1 reference: the text gate's exact-Jaccard pipeline
        val unseenT = Dedup.dropSeenNearDuplicates(
          cleanedK, man, "text", "doc_id",
          GateShingle, GateNumer, GateDenom, GateBands, GateRows)
        val keptT = graft.CacheScope.localCheckpoint(Dedup.dropNearDuplicates(
          unseenT,
          Dedup.jaccardDuplicatePairs(unseenT, "text", "doc_id",
            GateShingle, GateNumer, GateDenom, GateBands, GateRows),
          "doc_id"))
        // stage 2 reference: semantic suppression + in-batch keepers
        val bkE = keptT.select(col("doc_id"), col("embedding"))
        val sup = Similarity.ivfTopK(bkE, corpusRef, "embedding", "doc_id",
            k = 1, cents, SemGateNprobe)
          .filter(col("cos") >= SemGateTau).select(col("query_id"))
        val unseenS = bkE.join(sup, bkE("doc_id") === sup("query_id"), "left_anti")
        val keptS = graft.CacheScope.localCheckpoint(
          Dedup.semanticKeepers(unseenS, "embedding", "doc_id", SemGateTau))
        (graft.CacheScope.localCheckpoint(subMan.unionByName(
          Dedup.substringWindowManifest(bk, "text", "doc_id", SubstrGateN))
          .distinct()),
          graft.CacheScope.localCheckpoint(
            man.union(manifestOf(keptT.select(col("doc_id"), col("text"))))),
          graft.CacheScope.localCheckpoint(corpusRef.union(keptS)),
          acc.union(keptS.select(col("doc_id"))))
    }
    refKept
  }

  /** Planted low-quality text in the classifier's junk vocabulary —
    * deterministic per id; disjoint from the harness corpus vocabulary, so
    * a converged linear model separates the classes exactly.
    */
  private def junkText(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ",
      concat(lit("jnk"), pmod(id, lit(7))), lit("zzq xxq"),
      concat(lit("jnk"), pmod(id, lit(5))), lit("qqz jnky zzq"),
      concat(lit("jnk"), pmod(id, lit(3))))

  val ClsGateBuckets = 1 << 12

  /** Arrivals for the FOUR-stage gate: [[composedArrivals]] with a planted
    * low-quality slice — every ≡4 mod 16 doc's text replaced by junk
    * vocabulary the classifier was trained to reject (stage -1 must drop
    * exactly these before the text/semantic stages ever see them).
    */
  def composed4Arrivals(s: SparkSession, d: String): DataFrame =
    composedArrivals(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(16)) === 4, junkText(col("doc_id")))
        .otherwise(col("text")))

  /** Train the gate's quality classifier once per sf dir: base-corpus text
    * as the reference class vs junk-vocabulary docs, integer-exact LR.
    */
  def composed4Model(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Fixtures.memo("composed4Model", d) {
      val base = gateIndexBase(tb(s, d, "documents"))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val labeled = base.withColumn("label", lit(1L)).unionByName(
        base.select((col("doc_id") + lit(2000000L)).as("doc_id"),
          junkText(col("doc_id")).as("text"), lit(0L).as("label")))
      // 5 iterations: the classes have DISJOINT vocabularies, so the sign
      // structure converges in the first couple of passes — the contract's
      // non-vacuity probe (planted junk must be dropped) guards the margin
      TextClassifier.train(labeled, "text", "doc_id", "label",
        numBuckets = ClsGateBuckets, iterations = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }.toDF("bucket", "w_micro")
  }

  /** Build the FOUR-stage gate fixture once per sf dir: the composed3
    * indexes plus the trained classifier, batch 0 of the junk-planted
    * arrivals driven through [[streaming.ComposedGate.stream4]] (ONE
    * foreachBatch, one checkpoint, quality ledger + the six downstream
    * tables).
    */
  def buildComposed4GateFixture(
      s: SparkSession, d: String)
      : (String, String, String, String, String, String, String, Seq[Seq[Float]]) = {
    val docs = tb(s, d, "documents")
    val embs = tb(s, d, "embeddings")
    val baseDocs = gateIndexBase(docs)
    val baseEmb = embs.filter(pmod(col("vec_id"), lit(4)) === 2)
      .select(col("vec_id"), col("embedding"))
    val arrivals = composed4Arrivals(s, d)
    val dirs = Seq("c4s", "c4t", "c4a", "c4q", "c4cl", "c4tk", "c4k", "c4l", "c4c")
      .map(Fixtures.dir)
    val Seq(substrIdx, textIdx, annIdx, qualityKept, cleanDir, textKept,
      kept, landing, ckpt) = dirs
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fSub = Future(VersionedSubstring.write(
      baseDocs, "text", "doc_id", substrIdx.toString, n = SubstrGateN))
    val fText = Future(VersionedNearDup.write(baseDocs, "text", "doc_id",
      textIdx.toString, GateShingle, GateNumer, GateDenom, GateBands, GateRows))
    val fAnn = Future {
      val c = Similarity.trainIvfCentroids(baseEmb, "embedding", "vec_id",
        k = 8, iterations = 1)
      VersionedIvf.write(baseEmb, "embedding", "vec_id", c, annIdx.toString)
      c
    }
    val model = composed4Model(s, d)
    Await.result(fSub, Duration.Inf)
    Await.result(fText, Duration.Inf)
    val cents = Await.result(fAnn, Duration.Inf)
    landBatch(gateSubBatch(arrivals, 0), landing, 0)
    graft.streaming.ComposedGate.stream4(
      s.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.toString),
      "text", "embedding", "doc_id", model, ClsGateBuckets,
      substrIdx.toString, textIdx.toString, annIdx.toString,
      qualityKept.toString, cleanDir.toString, textKept.toString,
      kept.toString, ckpt.toString, SemGateTau, SemGateNprobe)
      .awaitTermination()
    (substrIdx.toString, textIdx.toString, annIdx.toString,
      qualityKept.toString, cleanDir.toString, textKept.toString,
      kept.toString, cents)
  }

  /** Content hashes of the four-stage composition's SEVEN output tables —
    * the replay-identity currency of d_composed4_gate_contract.
    */
  def composed4OutputsHash(
      s: SparkSession, substrIdx: String, textIdx: String, annIdx: String,
      qualityKept: String, cleanDir: String, textKept: String,
      kept: String): Seq[(Long, Long)] = {
    Seq(qualityKept).foreach(s.catalog.refreshByPath)
    contentHash(s.read.parquet(qualityKept),
      Seq("doc_id", "ingest_batch")) +:
      composed3OutputsHash(s, substrIdx, textIdx, annIdx, cleanDir, textKept, kept)
  }

  /** Content hashes of the three-stage composition's six output tables —
    * the replay-identity currency of d_composed3_gate_contract.
    */
  def composed3OutputsHash(
      s: SparkSession, substrIdx: String, textIdx: String, annIdx: String,
      cleanDir: String, textKept: String, kept: String): Seq[(Long, Long)] = {
    // the replay probe rewrites the batch's own kept/clean partitions
    // BETWEEN two hashes of the same path — drop the session's cached file
    // listings first, or the second read can chase the pre-replay part
    // files. Index state needs no refresh: replays skip index appends via
    // the segment markers, and the views list committed dirs per call
    Seq(cleanDir, textKept, kept).foreach(s.catalog.refreshByPath)
    contentHash(s.read.parquet(cleanDir),
      Seq("doc", "cleaned_text", "ingest_batch")) +:
      contentHash(VersionedSubstring.manifest(s, substrIdx),
        Seq("h1", "h2")) +:
      composedOutputsHash(s, textIdx, annIdx, textKept, kept)
  }

  /** Build the streaming near-dup gate fixture once per sf dir:
    *   1. signature index on the doc_id ≡ 2 mod 4 quarter of documents;
    *   2. batches 0-1 of the held-out arrival quarter landed as one file
    *      each with ASCENDING modification times (the file source's
    *      processing order) and gated through
    *      [[operators.VersionedNearDup.streamGate]];
    *   3. replay probe: batch 1 re-gated through the same per-batch path —
    *      kept table and index manifest must hash-identical (replayOk);
    *   4. retention: base docs with doc_id ≡ 2 mod 20 tombstoned, batch 2
    *      gated AFTER the delete (forgotten docs must no longer suppress);
    *   5. compact: physical purge must leave the LIVE manifest view
    *      hash-identical and remove the tombstone dir (compactOk).
    * Value: (indexDir, keptDir, replayOk, compactOk).
    */
  def buildNearDupGateFixture(
      s: SparkSession, d: String): (String, String, Boolean, Boolean) = {
    val docs = tb(s, d, "documents")
    val base = gateIndexBase(docs)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val idx = Fixtures.dir("ndgidx")
    val kept = Fixtures.dir("ndgkept")
    val landing = Fixtures.dir("ndgland")
    val ckpt = Fixtures.dir("ndgckpt")
    VersionedNearDup.write(base, "text", "doc_id", idx.toString,
      GateShingle, GateNumer, GateDenom, GateBands, GateRows)
    (0 to 1).foreach(k => landBatch(gateSubBatch(arrivals, k), landing, k))
    VersionedNearDup.streamGate(
      s.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.toString),
      "text", "doc_id", idx.toString, kept.toString, ckpt.toString)
      .awaitTermination()
    def outputsHash(): ((Long, Long), (Long, Long)) = (
      contentHash(s.read.parquet(kept.toString),
        Seq("doc_id", "text", "ingest_batch")),
      contentHash(VersionedNearDup.liveManifest(s, idx.toString),
        Seq("doc", "keys", "shh")))
    val beforeReplay = outputsHash()
    VersionedNearDup.gateBatch(gateSubBatch(arrivals, 1),
      "text", "doc_id", idx.toString, kept.toString, 1L)
    val replayOk = outputsHash() == beforeReplay
    VersionedNearDup.delete(gateDeletedIds(docs), "doc_id", idx.toString)
    VersionedNearDup.gateBatch(gateSubBatch(arrivals, 2),
      "text", "doc_id", idx.toString, kept.toString, 2L)
    def liveHash(): (Long, Long) = contentHash(
      VersionedNearDup.liveManifest(s, idx.toString), Seq("doc", "keys", "shh"))
    val beforeCompact = liveHash()
    VersionedNearDup.consolidate(s, idx.toString)
    val fs = new org.apache.hadoop.fs.Path(idx.toString)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val compactOk = liveHash() == beforeCompact &&
      !fs.exists(new org.apache.hadoop.fs.Path(
        s"${GenerationLog.requireCurrentDir(s, idx.toString)}/tombstones"))
    (idx.toString, kept.toString, replayOk, compactOk)
  }

  /** The SEQUENTIAL reference pipeline both gate contracts pin their
    * streamed kept-sets to: pure batch ops (no index/stream machinery)
    * applying first-arrival-wins over batches 0-2, with the retention
    * delete exactly where the fixtures issue it — between batch 1 and 2.
    * Collected once per sf dir (the kept set is answer-sized).
    */
  def sequentialGateReferenceKept(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Fixtures.memo("gateRefKept", d)(sequentialGateReferenceKeptUncached(s, d)
      .select(col("doc_id").cast("long")).as[Long].collect().toSeq)
      .toDF("doc_id")
  }

  private def sequentialGateReferenceKeptUncached(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = tb(s, d, "documents")
    val base = gateIndexBase(docs)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val deleted = gateDeletedIds(docs).select(col("doc_id").as("__t"))
    def manifestOf(df: DataFrame): DataFrame =
      Dedup.nearDupManifest(df, "text", "doc_id", GateShingle, GateBands, GateRows)
    val (_, refKept) = (0 to 2).foldLeft(
      (graft.CacheScope.localCheckpoint(manifestOf(base)),
        s.emptyDataset[Long].toDF("doc_id"))) { case ((man, acc), k) =>
      val manK =
        if (k == 2) man.join(broadcast(deleted), col("doc") === col("__t"), "left_anti")
        else man
      val unseen = Dedup.dropSeenNearDuplicates(
        gateSubBatch(arrivals, k), manK, "text", "doc_id",
        GateShingle, GateNumer, GateDenom, GateBands, GateRows)
      // EAGER lineage truncation each round, not lazy persist: dropSeen
      // reads the manifest twice and the dedup pipeline reads the batch
      // four times, so the folded LOGICAL plan otherwise grows
      // exponentially in k and Catalyst analysis alone dwarfs execution
      // (measured at sf0.01: 98 s with lazy persist, ~6 s checkpointed)
      val keptK = graft.CacheScope.localCheckpoint(Dedup.dropNearDuplicates(
        unseen,
        Dedup.jaccardDuplicatePairs(unseen, "text", "doc_id",
          GateShingle, GateNumer, GateDenom, GateBands, GateRows),
        "doc_id"))
      (graft.CacheScope.localCheckpoint(man.union(manifestOf(keptK))),
        acc.union(keptK.select(col("doc_id"))))
    }
    refKept
  }

  /** Build the versioned-IVF lifecycle fixture once per sf dir
    * (s_knn_versioned / s_knn_versioned_drift_contract): build on the
    * %5!=4 subset, marker-committed append of the rest, tombstone delete
    * of %7==3, consolidate (fold + purge), retrain, vacuum.
    */
  def buildVersionedIvfFixture(
      s: SparkSession, emb: DataFrame): String = {
    val dir = Fixtures.dir("ivfver")
    val base = emb.filter(col("vec_id") % 5 =!= 4)
    VersionedIvf.write(base, "embedding", "vec_id",
      Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 8),
      dir.toString)
    VersionedIvf.append(emb.filter(col("vec_id") % 5 === 4),
      "embedding", "vec_id", dir.toString)
    VersionedIvf.delete(s, dir.toString,
      emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
    VersionedIvf.consolidate(s, dir.toString)
    VersionedIvf.retrain(s, dir.toString, k = Some(8))
    VersionedIvf.vacuum(s, dir.toString, ttlMs = 0L)
    dir.toString
  }

  /** Build the VERSIONED (generation-log) gate fixture once per sf dir —
    * the rename-free twin of [[buildNearDupGateFixture]], same batches,
    * same delete point: versioned index on the ≡2 mod 4 base, batches 0-1
    * gated through [[VersionedNearDup.gateBatch]] (the streamGate wrapper
    * is spec-driven; direct calls keep the smoke budget on semantics),
    * batch 1 replayed (replayOk), retention delete, batch 2 gated after
    * it, then
    * consolidate (→ next generation) + vacuum with live-view invariance
    * and generation-count checks (compactOk).
    */
  def buildVersionedGateFixture(
      s: SparkSession, d: String): (String, String, Boolean, Boolean) = {
    val docs = tb(s, d, "documents")
    val base = gateIndexBase(docs)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val root = Fixtures.dir("vndgidx")
    val kept = Fixtures.dir("vndgkept")
    VersionedNearDup.write(base, "text", "doc_id", root.toString,
      GateShingle, GateNumer, GateDenom, GateBands, GateRows)
    // direct batch calls: the streamGate wrapper is the same foreachBatch
    // shape as four spec-driven siblings; the smoke budget here pays for
    // gate semantics, not stream startup
    (0 to 1).foreach(k => VersionedNearDup.gateBatch(gateSubBatch(arrivals, k),
      "text", "doc_id", root.toString, kept.toString, k.toLong))
    def outputsHash(): ((Long, Long), (Long, Long)) = (
      contentHash(s.read.parquet(kept.toString),
        Seq("doc_id", "text", "ingest_batch")),
      contentHash(VersionedNearDup.liveManifest(s, root.toString),
        Seq("doc", "keys", "shh")))
    val beforeReplay = outputsHash()
    VersionedNearDup.gateBatch(gateSubBatch(arrivals, 1),
      "text", "doc_id", root.toString, kept.toString, 1L)
    val replayOk = outputsHash() == beforeReplay
    VersionedNearDup.delete(gateDeletedIds(docs), "doc_id", root.toString)
    VersionedNearDup.gateBatch(gateSubBatch(arrivals, 2),
      "text", "doc_id", root.toString, kept.toString, 2L)
    def liveHash(): (Long, Long) = contentHash(
      VersionedNearDup.liveManifest(s, root.toString), Seq("doc", "keys", "shh"))
    val beforeCompact = liveHash()
    VersionedNearDup.consolidate(s, root.toString)
    VersionedNearDup.vacuum(s, root.toString, ttlMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val genDir = GenerationLog.requireCurrentDir(s, root.toString)
    val compactOk = liveHash() == beforeCompact &&
      GenerationLog.committedGenerations(s, root.toString).size == 1 &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$genDir/tombstones"))
    (root.toString, kept.toString, replayOk, compactOk)
  }

  /** The retrain fixture (s_knn_retrained / s_knn_drift_contract): half
    * build, frozen-centroid append of the other half (the drift shape),
    * then an in-place retrain.
    */
  def buildRetrainFixture(s: SparkSession, emb: DataFrame): String = {
    val dir = Fixtures.dir("ivfretrain")
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    VersionedIvf.write(half1, "embedding", "vec_id",
      Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8), dir.toString)
    VersionedIvf.append(half2, "embedding", "vec_id", dir.toString)
    VersionedIvf.retrain(s, dir.toString, k = Some(8))
    dir.toString
  }

  /** Arrival rows for the composed gate: the ≡0 mod 4 quarter with text
    * AND embedding (documents ⋈ embeddings share the 0..n-1 id space).
    */
  def composedArrivals(s: SparkSession, d: String): DataFrame = {
    val docs = tb(s, d, "documents")
    val embs = tb(s, d, "embeddings")
    docs.join(embs, docs("doc_id") === embs("vec_id"))
      .select(docs("doc_id"), col("text"), col("embedding"))
      .filter(pmod(col("doc_id"), lit(4)) === 0)
  }

  /** Content hashes of the composed gate's four output tables — the
    * replay-identity currency shared by the contract query and the Stress
    * receipt.
    */
  def composedOutputsHash(
      s: SparkSession, textIdx: String, annIdx: String,
      textKept: String, kept: String): Seq[(Long, Long)] = Seq(
    contentHash(s.read.parquet(textKept), Seq("doc_id", "text", "ingest_batch")),
    contentHash(s.read.parquet(kept), Seq("doc_id", "ingest_batch")),
    contentHash(VersionedIvf.corpusView(s, annIdx),
      Seq("vec_id", "cluster", "ingest_batch")),
    contentHash(VersionedNearDup.liveManifest(s, textIdx),
      Seq("doc", "keys", "shh")))

  /** Build the composed text→semantic gate fixture once per sf dir: both
    * indexes on the ≡2 mod 4 quarter, arrival batches 0-1 streamed through
    * [[streaming.ComposedGate.stream]] (ONE foreachBatch, one checkpoint).
    * Deliberately NO further composed executions here — the smoke gate's
    * 20 s bound must hold with the whole build billed to one query, so the
    * replay probe lives in the contract query and the bench face replays
    * batch 1 itself. Value: (textIdx, annIdx, textKept, kept, frozen
    * centroids).
    */
  def buildComposedGateFixture(
      s: SparkSession, d: String)
      : (String, String, String, String, Seq[Seq[Float]]) = {
    val docs = tb(s, d, "documents")
    val embs = tb(s, d, "embeddings")
    val baseDocs = gateIndexBase(docs)
    val baseEmb = embs.filter(pmod(col("vec_id"), lit(4)) === 2)
      .select(col("vec_id"), col("embedding"))
    val arrivals = composedArrivals(s, d)
    val textIdx = Fixtures.dir("cmpt")
    val annIdx = Fixtures.dir("cmpa")
    val textKept = Fixtures.dir("cmptk")
    val kept = Fixtures.dir("cmpk")
    val landing = Fixtures.dir("cmpl")
    val ckpt = Fixtures.dir("cmpc")
    VersionedNearDup.write(baseDocs, "text", "doc_id", textIdx.toString,
      GateShingle, GateNumer, GateDenom, GateBands, GateRows)
    val cents = Similarity.trainIvfCentroids(baseEmb, "embedding", "vec_id", k = 8)
    VersionedIvf.write(baseEmb, "embedding", "vec_id", cents, annIdx.toString)
    (0 to 1).foreach(k => landBatch(gateSubBatch(arrivals, k), landing, k))
    graft.streaming.ComposedGate.stream(
      s.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.toString),
      "text", "embedding", "doc_id", textIdx.toString, annIdx.toString,
      textKept.toString, kept.toString, ckpt.toString,
      SemGateTau, SemGateNprobe)
      .awaitTermination()
    (textIdx.toString, annIdx.toString, textKept.toString, kept.toString, cents)
  }

  /** The persisted full-corpus IVF index (s_knn_indexed / s_hybrid_indexed). */
  def ivfIndexPath(s: SparkSession, d: String): String =
    Fixtures.memo("ivfIndex", d) {
      val emb = tb(s, d, "embeddings")
      val dir = Fixtures.dir("ivfidx")
      VersionedIvf.write(emb, "embedding", "vec_id",
        Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8), dir.toString)
      dir.toString
    }

  /** The frozen-stats append fixture: base on doc_id % 4 != 3, the last
    * quarter appended as a committed segment (s_bm25_appended +
    * s_bm25_health share it).
    */
  def bm25AppendIndexPath(s: SparkSession, docs: DataFrame, d: String): String =
    Fixtures.memo("bm25AppendIndex", d) {
      val dir = Fixtures.dir("bm25app")
      SparseSim.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 3),
        "text", "doc_id", dir.toString)
      SparseSim.appendToBm25Index(docs.filter(col("doc_id") % 4 === 3),
        "text", "doc_id", dir.toString)
      dir.toString
    }

  /** The persisted full-corpus BM25 index (base segment only), probed
    * without re-tokenizing the corpus (s_bm25_indexed / s_hybrid_indexed).
    */
  def bm25IndexPath(s: SparkSession, d: String): String =
    Fixtures.memo("bm25Index", d) {
      val dir = Fixtures.dir("bm25idx")
      SparseSim.writeBm25Index(tb(s, d, "documents"), "text", "doc_id", dir.toString)
      dir.toString
    }

  /** The BPE merge list trained on this sf dir's documents (t_bpe_encode*).
    * In production the merge table is a persisted artifact trained once;
    * the encode queries measure ENCODING, not re-training.
    */
  def bpeMerges(docs: DataFrame, d: String): Seq[(String, String)] =
    Fixtures.memo("bpeMerges", d)(
      graft.operators.BpeTrainer.train(docs, "text", numMerges = 8)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
}
