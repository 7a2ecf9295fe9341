package graft

import graft.catalog.SpecCatalog
import graft.cspro.{DatReader, DcfParser}
import graft.load.JsonPack
import graft.operators.{Curation, Dedup, GenerationLog, Linkage, Multimodal, PageRank, Similarity, SparseSim, TextClassifier, TextOps, VersionedIvf, VersionedIvfPq, VersionedNearDup, VersionedSubstring}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — the operator inventory of SURVEY.md §2 (+ the
  * large-scale pipeline extensions) exposed as named queries over the
  * harness test tables, each with a DuckDB oracle where SQL-expressible.
  *
  * Naming convention: the prefix ties each query to its SURVEY.md §2
  * operator id (s5 = fixed-width scan, p* = projections/filters, j* = joins,
  * a* = aggregations, w* = windows, u* = set ops, f* = scalar functions,
  * g* = generators, e* = events, and t_, d_, s_ = text / dedup / similarity
  * extensions).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Balanced load for compute-heavy per-row work (see Tables.balanced). */
  private def tb(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.balanced(s, dir, name)

  /** Flagship: the CSPro spine end-to-end — render rows to fixed-width
    * lines, re-parse them with the DAT reader, and run a padded-key join +
    * aggregation on the result. Driver smoke-checks rows > 0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("s5_fixedwidth_scan")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------------
  // fixed-width round-trip: orders → DAT lines → DatReader → aggregate
  // ------------------------------------------------------------------------

  private val fixedWidthSpecs = {
    def cs(itemType: String, name: String, start: Int, len: Int) =
      graft.model.ColumnSpec(itemType, "T01", if (itemType == "RecordDesciption") "*" else "ORDERS",
        if (itemType == "RecordDesciption") "*" else "ORD",
        "orders", name, name, start, len, 1, zeroFill = false, decimalChar = false,
        decimal = 0, "HOUSEHOLD", "HOUSEHOLD")
    Seq(
      cs("RecordDesciption", "", 16, 3),
      cs("IdItem", "HHID", 1, 12),
      cs("Item", "STATUS", 19, 1),
      cs("Item", "OKEY", 20, 12))
  }

  private def fixedWidthScan(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "orders").select(
      concat(
        lpad(col("o_custkey").cast("string"), 12, " "),
        lit("   "), lit("ORD"),
        col("o_orderstatus"),
        lpad(col("o_orderkey").cast("string"), 12, "0")).as("value"))
    val orders = DatReader.projectLines(lines, fixedWidthSpecs)("ORDERS")
    orders.groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("okey").cast("bigint")).as("sum_okey"))
  }

  /** Committed ANN recall floors (×1000) for the s_knn_lsh / s_knn_ivf
    * contract queries. Both paths are seeded-deterministic, so recall over
    * a shipped dataset is a constant; the floors sit below the measured
    * values at every shipped SF (measured values in BASELINE.md) with
    * headroom for dataset regeneration, and trip on any bucketing/probe
    * regression that actually costs recall.
    */
  private val KnnLshRecallFloorX1000 = 300 // measured ≥ 500 at sf{0.001,0.01,0.1}
  private val KnnIvfRecallFloorX1000 = 600 // measured ≥ 780 at sf{0.001,0.01,0.1}
  private val KnnPqRecallFloorX1000 = 600 // measured ≥ 800 at sf{0.001,0.01,0.1} (m=8, ksub=32, rerank=16)
  private val KnnIvfPqRecallFloorX1000 = 450 // measured 920/920/600 at sf{0.001,0.01,0.1} (k=8, nprobe=3, m=8, ksub=32, rerank=16; RecallProbe)

  /** Same round trip as [[fixedWidthScan]] but through the `fixedwidth`
    * DataSourceV2 connector: orders rendered to DAT lines on disk, schema
    * authority a generated DCF, read back via
    * `spark.read.format("fixedwidth")` — the connector path under the same
    * oracle as the composable path. The rendered DAT/DCF fixture is pure in
    * the sf dir, so it is built once per dir, not per call (the harness
    * calls each query lambda several times).
    */
  private def fixedWidthV2Scan(s: SparkSession, dir: String): DataFrame = {
    val (dcfFile, datDir) = Fixtures.memo("fwv2", dir)(buildFwv2Fixture(s, dir))
    s.read.format("fixedwidth")
      .option("dcf", dcfFile).option("record", "ORDERS")
      .load(s"$datDir/part-*")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("okey").cast("bigint")).as("sum_okey"))
  }

  private def buildFwv2Fixture(s: SparkSession, dir: String): (String, String) = {
    val tmp = Fixtures.dir("fwv2")
    val dcfPath = tmp.resolve("gen.DCF")
    java.nio.file.Files.writeString(dcfPath,
      """[Dictionary]
        |Name=GEN
        |RecordTypeStart=16
        |RecordTypeLen=3
        |
        |[Level]
        |Label=HOUSEHOLD
        |Name=HOUSEHOLD
        |
        |[IdItems]
        |
        |[Item]
        |Label=Case Identification
        |Name=HHID
        |Start=1
        |Len=12
        |DataType=Alpha
        |
        |[Record]
        |Label=Orders
        |Name=ORDERS
        |RecordTypeValue='ORD'
        |
        |[Item]
        |Label=Status
        |Name=STATUS
        |Start=19
        |Len=1
        |DataType=Alpha
        |
        |[Item]
        |Label=Order key
        |Name=OKEY
        |Start=20
        |Len=12
        |""".stripMargin)
    val datDir = tmp.resolve("dat").toString
    t(s, dir, "orders").select(
      concat(
        lpad(col("o_custkey").cast("string"), 12, " "),
        lit("   "), lit("ORD"),
        col("o_orderstatus"),
        lpad(col("o_orderkey").cast("string"), 12, "0")).as("value"))
      .write.mode("overwrite").text(datDir)
    (dcfPath.toString, datDir)
  }

  // ------------------------------------------------------------------------
  // the inventory
  // ------------------------------------------------------------------------

  /** Bench-only timing faces: production approximate/sketch pipelines whose
    * raw outputs are engine-specific (HLL estimates, LSH neighbor sets,
    * 64-bit rolling fingerprints, learned BPE pairs, pHash pair sets) and
    * therefore not DuckDB-expressible as a hash oracle. Every name here has
    * a `_contract` sibling in [[queries]] that re-derives the operator's
    * guarantee (error bound / recall floor / per-pair recompute / replay)
    * as a provably-empty hash-gated frame — THAT row is the correctness
    * gate. [[Verify]] skips these names so the driver's correctness
    * artifact contains no oracle-less rows (VERDICT r6 #2), while [[Bench]]
    * times them (and excludes the `_contract` siblings), so the benched
    * plan stays the production operator alone, with no verification work
    * folded into its timing.
    */
  val benchOnly: Set[String] = Set(
    "a9_approx_distinct", "a14_hll_slices", "e_stream_hll",
    "t_fingerprint", "t_bpe_merges",
    "d_simhash_pairs", "d_embed_neardup",
    "m_media_features", "m_image_neardup",
    "s_knn_lsh", "s_knn_ivf", "s_knn_pq", "s_knn_ivfpq",
    "d_stream_gate", "s_semantic_gate", "d_composed_gate", "d_composed3_gate",
    "d_composed4_gate", "d_gate_versioned")

  /** Shared LSH shape for the streaming-gate fixture: the recall-1.0 design
    * point (J ≥ 1/2 at 32×2 banding — the d_jaccard_lsh ≡ brute argument),
    * so the gate's kept-set is exactly the sequential exact-Jaccard
    * pipeline's.
    */
  private val GateShingle = 3
  private val GateNumer = 1
  private val GateDenom = 2
  private val GateBands = 32
  private val GateRows = 2

  /** Sub-batch k (0-2) of the gate fixture's arrival stream: the quarter of
    * the corpus held out of the index (doc_id ≡ 0 mod 4), split by
    * doc_id mod 12 so batch composition is pinned across engines and runs.
    * The fixture universe is deliberately two corpus quarters (index quarter
    * + arrival quarter in 3 batches): the lifecycle machinery it exercises
    * is data-size-independent, and the smoke gate's 20 s global bound must
    * hold with the whole fixture build billed to one query.
    */
  private def gateSubBatch(docs: DataFrame, k: Int): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(12)) === lit(4 * k))

  private def gateIndexBase(docs: DataFrame): DataFrame =
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

  private val SemGateTau = 0.4 // the d_semantic_keepers design point on this corpus
  private val SemGateNprobe = 2
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
  private def fixtureSerialized(key: String, d: String)(body: => DataFrame): DataFrame =
    fixtureLocks.computeIfAbsent(s"$key@$d", _ => new Object).synchronized {
      graft.CacheScope.localCheckpoint(body)
    }

  /** Land `batch` as the single file `landing/batchKK.parquet`, written
    * through a scratch dir that is deleted after the move. Pinned,
    * strictly-ascending mtimes: the file source processes oldest-first, so
    * batch k is ALWAYS micro-batch k.
    */
  private def landBatch(batch: DataFrame, landing: java.nio.file.Path, k: Int): Unit = {
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

  private def semSubBatch(embs: DataFrame, k: Int): DataFrame =
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
  private def buildSemanticGateFixture(
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
  private def buildSubstringGateFixture(
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
  private def buildVersionedSubstrFixture(
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
  private def buildComposed3GateFixture(
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
  private def composed3ReferenceKept(
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

  private val ClsGateBuckets = 1 << 12

  /** Arrivals for the FOUR-stage gate: [[composedArrivals]] with a planted
    * low-quality slice — every ≡4 mod 16 doc's text replaced by junk
    * vocabulary the classifier was trained to reject (stage -1 must drop
    * exactly these before the text/semantic stages ever see them).
    */
  private def composed4Arrivals(s: SparkSession, d: String): DataFrame =
    composedArrivals(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(16)) === 4, junkText(col("doc_id")))
        .otherwise(col("text")))

  /** Train the gate's quality classifier once per sf dir: base-corpus text
    * as the reference class vs junk-vocabulary docs, integer-exact LR.
    */
  private def composed4Model(s: SparkSession, d: String): DataFrame = {
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
  private def buildComposed4GateFixture(
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
  private def composed4OutputsHash(
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
  private def composed3OutputsHash(
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
  private def buildNearDupGateFixture(
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
  private def sequentialGateReferenceKept(s: SparkSession, d: String): DataFrame = {
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
  private def buildVersionedIvfFixture(
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
  private def buildVersionedGateFixture(
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
  private def buildRetrainFixture(s: SparkSession, emb: DataFrame): String = {
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
  private def composedArrivals(s: SparkSession, d: String): DataFrame = {
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
  private def composedOutputsHash(
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
  private def buildComposedGateFixture(
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
  private def ivfIndexPath(s: SparkSession, d: String): String =
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
  private def bm25AppendIndexPath(s: SparkSession, docs: DataFrame, d: String): String =
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
  private def bm25IndexPath(s: SparkSession, d: String): String =
    Fixtures.memo("bm25Index", d) {
      val dir = Fixtures.dir("bm25idx")
      SparseSim.writeBm25Index(tb(s, d, "documents"), "text", "doc_id", dir.toString)
      dir.toString
    }

  /** The BPE merge list trained on this sf dir's documents (t_bpe_encode*).
    * In production the merge table is a persisted artifact trained once;
    * the encode queries measure ENCODING, not re-training.
    */
  private def bpeMerges(docs: DataFrame, d: String): Seq[(String, String)] =
    Fixtures.memo("bpeMerges", d)(
      graft.operators.BpeTrainer.train(docs, "text", numMerges = 8)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- aggregations -----------------------------------------------------
    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("count_order"))),
    "a1_schema_merge" -> ((s, d) =>
      SpecCatalog.mergeColumns(
        t(s, d, "part").select(
          col("p_type").as("recordName"), col("p_brand").as("name"),
          col("p_size").as("len"), col("p_partkey").as("start")))),
    "a2_distinct" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),
    "a3_count" -> ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n"))),
    "a4_dup_having" -> ((s, d) =>
      SpecCatalog.duplicates(t(s, d, "orders"), Seq("o_custkey"), minCount = 5L)),
    "a5_group_threshold" -> ((s, d) =>
      // grouped size + threshold flag (ref 03.ipynb:1037-1039: flag surveys
      // whose duplicate count exceeds a bound)
      t(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("flagged", (col("n") > 1000L).cast("int"))),
    "a6_maxlen" -> ((s, d) =>
      t(s, d, "customer").agg(
        max(length(col("c_name"))).cast("bigint").as("max_name_len"),
        max(length(col("c_mktsegment"))).cast("bigint").as("max_seg_len"))),
    "a7_lexmax_version" -> ((s, d) =>
      // lexical max of a trailing version code per group (ref lib03:128-142,
      // 03.ipynb:814 "version is alphanumeric but lexical comparison works")
      t(s, d, "part").groupBy(col("p_brand"))
        .agg(max(expr("substring(p_type, length(p_type)-1)")).as("max_ver"))),
    // --- beyond the reference: Catalyst analytics the warehouse should expose
    "a8_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))),
    // production HLL sketch (rows-only: the approx value is engine-specific);
    // its error-bound contract runs as the _contract sibling below — bench
    // times the operator, verify gates the contract (VERDICT r5 #4)
    "a9_approx_distinct" -> ((s, d) =>
      t(s, d, "orders").agg(
        approx_count_distinct(col("o_custkey")).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))),
    "a9_approx_distinct_contract" -> ((s, d) =>
      // HLL sketch error-bound contract (VERDICT r4 #2): the approximate
      // cardinality must sit within 3× the sketch's configured relative
      // standard deviation (default rsd 0.05 → bound 15%) of the exact
      // count. The violations frame is provably empty and rides the hash
      // gate; both sides are deterministic (HLL++ is seedless-deterministic
      // over a fixed dataset), so this is a real tripwire, not a flake.
      // Integer-only comparison: |approx-exact|·100 > exact·15
      t(s, d, "orders").agg(
        approx_count_distinct(col("o_custkey")).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))
        .select(col("approx_customers"), col("exact_customers"))
        .filter(abs(col("approx_customers") - col("exact_customers")) * 100L >
          col("exact_customers") * 15L)),
    // exact (interpolated) percentiles per group — both engines implement
    // the same linear-interpolation continuous quantile
    "a10_percentile" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        expr("percentile(l_extendedprice, 0.25)").as("p25"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.75)").as("p75"))),
    "a11_cube" -> ((s, d) =>
      // full grouping-set lattice (rollup's big sibling) — partial
      // aggregation below the exchange applies per grouping set, so the
      // shuffle carries pre-combined rows at every granularity
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))),
    "a12_pivot" -> ((s, d) =>
      // pivot with PINNED values: an unpinned pivot runs an extra distinct
      // job over the corpus just to discover column names — never at scale
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))),
    "w6_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice")).over(w).as("running_spend"))
    }),
    "w7_lag_lead" -> ((s, d) => {
      // neighbor-row analytics per key: prior/next order price and spend
      // quartile — one partitioned window, no self-join
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"))
    }),
    // TIME-keyed (RANGE) frame, not row-keyed: the trailing-7-day sum per
    // user shrinks over silent days — a ROWS frame would silently span gaps.
    // Ordered on epoch day so the range arithmetic is integer-exact
    "w8_rolling_range" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("epoch_day",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_day"))
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("user_id"), col("day"), col("n"),
        sum(col("n")).over(w).as("n7"))
    }),
    // per-group top-k through the k-bounded Aggregator (shuffle carries ≤ k
    // rows per group per map partition, vs the window plan's full-table
    // exchange) — drop-in for the row_number() <= k oracle
    "w9_topk_group" -> ((s, d) =>
      graft.operators.Sketches.topKPerGroup(
        t(s, d, "orders"), Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)),
    // deterministic weighted sampling: integer Efraimidis–Spirakis analog
    // (priority = portable hash div weight), weight = token count — the
    // oracle replays hash, division, and the top-k cut exactly
    "t_weighted_sample" -> ((s, d) =>
      Curation.weightedPrioritySample(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", TextOps.tokenCount(col("text")), k = 100)
        .select(col("doc_id"), col("weight"), col("priority"))),
    "j7_nullsafe_join" -> ((s, d) => {
      val a = t(s, d, "lineitem")
        .select(nullif(col("l_returnflag"), lit("N")).as("k")).distinct()
      val b = t(s, d, "lineitem")
        .select(nullif(col("l_returnflag"), lit("R")).as("k2")).distinct()
      a.join(b, col("k") <=> col("k2")).select(col("k"))
    }),
    "j10_deep_join" -> ((s, d) =>
      // region → nation → supplier → lineitem chain: the deep equi-join
      // shape of pooled warehouse extractions; dims broadcast up the chain
      t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("revenue"))),
    "j8_asof" -> ((s, d) => {
      // each click matched to the user's most recent purchase at or before
      // it — the as-of join Spark lacks, as union + last-over-window (one
      // shuffle on user_id, no pair explosion)
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      graft.operators.AsOfJoin.asOf(clicks, purchases,
        "user_id", "ts", "p_ts", Seq("p_ts", "p_value"))
        .filter(col("p_ts").isNotNull)
    }),
    "j9_range_join" -> ((s, d) => {
      // point-in-interval join in banded equi-join form (misaligned band
      // width on purpose — correctness never depends on alignment)
      val points = t(s, d, "events").select(col("event_id"), col("value"))
      val intervals = t(s, d, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 20.0).as("lo"), (col("n_nationkey") * 20.0 + 20.0).as("hi"))
      graft.operators.RangeJoin.banded(points, intervals,
        "value", "lo", "hi", bandWidth = 7L)
        .groupBy(col("n_nationkey")).agg(count(lit(1)).as("n_points"))
    }),
    // --- windows / sorts --------------------------------------------------
    "w1_sort_limit" -> ((s, d) =>
      t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(10)),
    "w3_top1_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    }),
    // --- joins ------------------------------------------------------------
    "j1_inner_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))),
    "j2_anti" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))),
    "j5_semi" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))),
    "j3_fullouter_diff" -> ((s, d) =>
      SpecCatalog.diffIndicator(
        t(s, d, "customer").select(col("c_custkey").as("key")),
        t(s, d, "orders").select(col("o_custkey").as("key")),
        Seq("key"))),
    "j6_padded_key" -> ((s, d) => {
      val h = t(s, d, "customer")
        .select(lpad(col("c_custkey").cast("string"), 12, " ").as("hhid"))
      val p = t(s, d, "orders").select(
        concat(
          lpad(col("o_custkey").cast("string"), 12, " "),
          lpad((col("o_orderkey") % 1000).cast("string"), 3, "0")).as("caseid"))
      p.join(h, col("hhid") === substring(col("caseid"), 1, 12))
        .groupBy(col("hhid")).agg(count(lit(1)).as("n_orders"))
    }),
    // --- set ops ----------------------------------------------------------
    "u1_union_distinct" -> ((s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("key"))
        .union(t(s, d, "customer").select(col("c_custkey").as("key")))
        .distinct()),
    "u2_except" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("key"))
        .except(t(s, d, "orders").select(col("o_custkey").as("key")))),
    "u3_union_by_name" -> ((s, d) =>
      // schema union-of-columns across differently-shaped inputs (A1/U3):
      // missing columns null-filled, matched by NAME not position
      t(s, d, "nation").select(col("n_nationkey").as("key"), col("n_name").as("name"))
        .unionByName(
          t(s, d, "region").select(col("r_regionkey").as("key")),
          allowMissingColumns = true)),
    // --- projections / filters --------------------------------------------
    "p1_projection" -> ((s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        substring(col("c_name"), 1, 8).as("prefix"),
        element_at(split(col("c_name"), "#"), 2).as("num_part"),
        length(col("c_name")).cast("bigint").as("name_len"))),
    "p2_conditional_trim" -> ((s, d) =>
      // the conditional-trim projection (SURVEY §1.4-1): key columns keep
      // their padding, everything else is trimmed — decided at plan build
      t(s, d, "customer").select(
        lpad(col("c_custkey").cast("string"), 12, " ").as("caseid"), // no trim
        trim(lpad(col("c_name"), 30, " ")).as("name_trimmed"))),
    "p7_like_filter" -> ((s, d) =>
      t(s, d, "documents")
        .filter(col("source").like("src1%") && lower(col("lang")).like("e_"))
        .select(col("doc_id"), col("source"), col("lang"))),
    // --- scalar functions -------------------------------------------------
    "f_case_coalesce" -> ((s, d) =>
      t(s, d, "lineitem").select(
        when(col("l_returnflag") === "R", "returned")
          .when(col("l_returnflag") === "A", "accepted")
          .otherwise("none").as("flag_desc"),
        coalesce(nullif(col("l_linestatus"), lit("O")), lit("open")).as("status_desc"))
        .groupBy(col("flag_desc"), col("status_desc")).agg(count(lit(1)).as("n"))),
    "f_regexp_extract" -> ((s, d) =>
      t(s, d, "part")
        .select(regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
        .groupBy(col("first_word")).agg(count(lit(1)).as("n"))),
    "f_json_pack" -> ((s, d) =>
      JsonPack.pack(t(s, d, "nation"), Seq("n_nationkey"))),
    "f_cmc_dates" -> ((s, d) => {
      // the DHS century-month-code codec (graft.functions.DhsDates): CMC
      // round trip + the age derivation, at CMC 1513 = 2026-01
      import graft.functions.DhsDates
      val cmc = DhsDates.dateToCmc(col("o_orderdate"))
      t(s, d, "orders").select(
        col("o_orderkey"), cmc.as("cmc"),
        DhsDates.cmcYear(cmc).as("cmc_year"),
        DhsDates.cmcMonth(cmc).as("cmc_month"),
        DhsDates.ageAtCmc(cmc, lit(1513)).as("age_years"))
    }),
    "f_json_unpack" -> ((s, d) =>
      // pack → unpack round trip: map access on the packed column (the read
      // side of the JSONB tables, ref doc/Data_Format.md:218-220)
      JsonPack.unpack(JsonPack.pack(t(s, d, "nation"), Seq("n_nationkey")))
        .select(col("n_nationkey"),
          element_at(col("data_map"), "n_name").as("n_name"),
          element_at(col("data_map"), "n_regionkey").as("n_regionkey_str"))),
    // --- generators --------------------------------------------------------
    "g_range_expand" -> ((s, d) =>
      t(s, d, "nation").select(
        col("n_nationkey"),
        explode(sequence(lit(0L), col("n_nationkey").cast("bigint"))).as("v"))),
    "g_range_capped" -> ((s, d) => {
      // the range_expansion_limit policy (ref DCF_Parser.py:53,89-97): ranges
      // within the cap expand to one row per value (ExpandedRange); oversize
      // ranges degrade to a Min/Max row pair
      val limit = 10L
      val n = col("n_nationkey").cast("bigint")
      t(s, d, "nation").select(col("n_nationkey"),
        explode(
          when(n + 1 <= limit,
            transform(sequence(lit(0L), n),
              v => struct(v.cast("string").as("value"), lit("ExpandedRange").as("value_type"))))
          .otherwise(array(
            struct(lit("0").as("value"), lit("RangeMin").as("value_type")),
            struct(n.cast("string").as("value"), lit("RangeMax").as("value_type"))))).as("x"))
        .select(col("n_nationkey"), col("x.value").as("value"), col("x.value_type").as("value_type"))
    }),
    // --- fixed-width scan (S5) ---------------------------------------------
    "s5_fixedwidth_scan" -> ((s, d) => fixedWidthScan(s, d)),
    "s5b_fixedwidth_v2" -> ((s, d) => fixedWidthV2Scan(s, d)),
    // the reference's idempotent survey re-load (lib04's drop-and-reload,
    // 509-541) expressed through the warehouse machinery instead of a
    // destructive DELETE: the original DAT delivery is parsed and committed
    // as snapshot v1; a corrected re-delivery (re-statused tenths as U
    // records, withdrawn twentieths as D tombstones — both arriving as real
    // fixed-width lines through the SAME DatReader specs) merges via
    // applyCdc keyed on the survey's id item, and the survivor table is
    // committed as v2. The whole render→parse→merge→commit→read chain rides
    // the hash gate; the fixture is pure in the sf dir, built once
    "s27_cspro_reload" -> ((s, d) => {
      val root = Fixtures.memo("csproReload", d) {
        val dir = Fixtures.dir("csproreload")
        def render(df: DataFrame) = df.select(concat(
          lpad(col("o_custkey").cast("string"), 12, " "),
          lit("   "), lit("ORD"),
          col("o_orderstatus"),
          lpad(col("o_orderkey").cast("string"), 12, "0")).as("value"))
        def parse(lines: DataFrame) =
          DatReader.projectLines(lines, fixedWidthSpecs)("ORDERS")
        val orders = t(s, d, "orders")
        val base = parse(render(orders)).withColumn("version", lit(1L))
        graft.load.Warehouse.commitSnapshot(base, dir.toString, 1)
        val upd = parse(render(orders
            .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 20 =!= 0)
            .withColumn("o_orderstatus", lit("X"))))
          .withColumn("version", lit(2L)).withColumn("op", lit("U"))
        val del = parse(render(orders.filter(col("o_orderkey") % 20 === 0)))
          .withColumn("version", lit(2L)).withColumn("op", lit("D"))
        val merged = graft.load.Warehouse.applyCdc(
          graft.load.Warehouse.readSnapshot(s, dir.toString, Some(1)),
          upd.unionByName(del), Seq("okey"), Seq("version"), "op")
        graft.load.Warehouse.commitSnapshot(merged, dir.toString, 2)
        dir.toString
      }
      require(graft.load.Warehouse.snapshotVersions(s, root) == Seq(1, 2),
        "expected exactly snapshots v1 and v2 in the CSPro reload root")
      graft.load.Warehouse.readSnapshot(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("okey").cast("bigint")).as("sum_okey"))
    }),
    "s4_dcf_parse" -> ((s, d) => dcfParseDemo(s)),
    // --- warehouse maintenance (extensions of S13/S15) ---------------------
    // latest-wins upsert (MERGE compaction): base@v1 ⊎ updates@v2 (every
    // 10th order re-priced + every 100th re-keyed as an insert) → one
    // union + one key shuffle + per-key top-1; the whole merge result is
    // aggregated under the hash gate
    "s16_upsert" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val base = orders.withColumn("version", lit(1L))
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
        .withColumn("version", lit(2L))
        .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1)
          .withColumn("version", lit(2L)))
      // integer-exact gate: per-row cents then BIGINT sum — a double sum's
      // value depends on partial-agg order, and the driver hashes floats
      // tighter than 6 sig figs (the r6 s16/s18/s21/s22 hash-fails)
      graft.load.Warehouse.upsertLatest(base, updates, Seq("o_orderkey"), "version")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
    }),
    // stats-manifest file skipping: orders in a 16-file range layout on
    // o_orderkey; the manifest (one row per file, built in one scan) plans
    // the range scan so non-overlapping files are never opened. The pruned
    // aggregate rides the hash gate; WarehouseSpec asserts kept < total
    "s17_stats_prune" -> ((s, d) => {
      val path = Fixtures.memo("rangeLayout", d) {
        val dir = Fixtures.dir("rangelay")
        graft.load.Warehouse.writeRangeLayout(
          t(s, d, "orders"), dir.toString, Seq("o_orderkey"), partitions = 16)
        dir.toString
      }
      val manifest = graft.load.Warehouse.statsManifest(s, path, Seq("o_orderkey"))
      val (pruned, kept, total) =
        graft.load.Warehouse.prunedRead(s, manifest, "o_orderkey", 1000L, 2000L)
      require(kept < total,
        s"stats pruning skipped nothing ($kept of $total files kept)")
      pruned.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    }),
    // small-file compaction: orders shattered into 64 ingest-debris files,
    // bin-packed back to ceil(bytes/target) files with a shuffle-free
    // coalesce. The compacted table's aggregate rides the hash gate (content
    // survives the rewrite); the require pins that compaction actually
    // happened
    "s18_compact" -> ((s, d) => {
      val (path, before, after) = Fixtures.memo("compact", d) {
        val in = Fixtures.dir("compact_in")
        val out = Fixtures.dir("compact_out")
        t(s, d, "orders").repartition(64).write.mode("overwrite").parquet(in.toString)
        val (b, a) = graft.load.Warehouse.compactSmallFiles(
          s, in.toString, out.toString, targetFileBytes = 8L * 1024 * 1024)
        (out.toString, b, a)
      }
      require(after < before,
        s"compaction did not reduce file count ($before -> $after)")
      s.read.parquet(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
    }),
    // hive-style partitioned layout + partition pruning: orders written
    // partitionBy(o_orderstatus); a partition-key predicate must scan ONLY
    // that partition's files (checked by counting distinct files actually
    // read, not plan text). The pruned aggregate rides the hash gate
    "s19_partition_prune" -> ((s, d) => {
      val path = Fixtures.memo("hivePart", d) {
        val dir = Fixtures.dir("hivepart")
        t(s, d, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(dir.toString)
        dir.toString
      }
      val all = s.read.parquet(path)
      val filesAll = all.select(input_file_name()).distinct().count()
      val pruned = all.filter(col("o_orderstatus") === "F")
      val filesRead = pruned.select(input_file_name()).distinct().count()
      require(filesRead < filesAll,
        s"partition pruning read every file ($filesRead of $filesAll)")
      pruned.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
    }),
    // z-order layout + stats-manifest pruning on EITHER dimension: orders
    // Morton-interleaved on (o_custkey, o_orderkey), so per-file min/max
    // boxes are narrow on BOTH columns and a range predicate on either one
    // skips files (a linear layout concentrates only its sort column). Both
    // pruned aggregates ride the hash gate; the requires pin real skipping
    "s20_zorder_prune" -> ((s, d) => {
      val path = Fixtures.memo("zorder", d) {
        val dir = Fixtures.dir("zorderlay")
        graft.load.Warehouse.writeZOrderLayout(
          t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
          dir.toString, Seq("o_custkey", "o_orderkey"), partitions = 16)
        dir.toString
      }
      val manifest = graft.load.Warehouse.statsManifest(
        s, path, Seq("o_custkey", "o_orderkey"))
      val (byCust, keptC, total) =
        graft.load.Warehouse.prunedRead(s, manifest, "o_custkey", 1L, 20L)
      val (byOrder, keptO, _) =
        graft.load.Warehouse.prunedRead(s, manifest, "o_orderkey", 1000L, 2000L)
      require(keptC < total && keptO < total,
        s"z-order pruned nothing (custkey $keptC, orderkey $keptO of $total)")
      byCust.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
        .select(lit("custkey").as("dim"), col("n"), col("sum_price"))
        .unionByName(
          byOrder.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
            .select(lit("orderkey").as("dim"), col("n"), col("sum_price")))
    }),
    // snapshot time travel: v1 = the plain orders table, v2 = the s16-style
    // latest-wins upsert committed as a NEW immutable version. Reading v1
    // after the v2 commit must return exactly the original table (the
    // Delta/Iceberg reader-isolation property) — both versions' aggregates
    // ride the hash gate
    "s21_time_travel" -> ((s, d) => {
      val root = Fixtures.memo("snapshot", d) {
        val dir = Fixtures.dir("snaproot")
        val orders = t(s, d, "orders")
        val base = orders.withColumn("version", lit(1L))
        graft.load.Warehouse.commitSnapshot(base, dir.toString, 1)
        val updates = orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
          .withColumn("version", lit(2L))
          .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
            .withColumn("o_orderkey", -col("o_orderkey") - 1)
            .withColumn("version", lit(2L)))
        val merged = graft.load.Warehouse.upsertLatest(
          graft.load.Warehouse.readSnapshot(s, dir.toString, Some(1)),
          updates, Seq("o_orderkey"), "version")
        graft.load.Warehouse.commitSnapshot(merged, dir.toString, 2)
        dir.toString
      }
      require(graft.load.Warehouse.snapshotVersions(s, root) == Seq(1, 2),
        "expected exactly snapshots v1 and v2")
      def agg(df: DataFrame, tag: String) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
          .select(lit(tag).as("snapshot"), col("o_orderstatus"), col("n"),
            col("sum_price_cents"))
      agg(graft.load.Warehouse.readSnapshot(s, root, Some(1)), "v1")
        .unionByName(agg(graft.load.Warehouse.readSnapshot(s, root), "v2"))
    }),
    // CDC merge with tombstones: every 10th-but-not-20th order re-priced
    // (U), every 20th DELETED (D) — which covers the 100ths, whose re-keyed
    // rows arrive as inserts — all at v2. The survivor set (non-deleted
    // originals re-priced where updated, plus the inserts) is aggregated
    // under the hash gate
    "s22_cdc_merge" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val base = orders.withColumn("version", lit(1L))
      val changes = orders
        .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 20 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
        .withColumn("version", lit(2L)).withColumn("op", lit("U"))
        .unionByName(orders.filter(col("o_orderkey") % 20 === 0)
          .withColumn("version", lit(2L)).withColumn("op", lit("D")))
        .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1)
          .withColumn("version", lit(2L)).withColumn("op", lit("U")))
      graft.load.Warehouse.applyCdc(base, changes,
          Seq("o_orderkey"), Seq("version"), "op")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
    }),
    // data-quality constraint gate: row-level checks (not-null, range,
    // domain) fold into ONE partial-aggregated scan; the referential check
    // rides the same pass by left-joining the parent's distinct keys first
    // and asserting the carried key non-null. Output = the audit report a
    // load pipeline gates on
    "s24_constraints" -> ((s, d) => {
      val o = t(s, d, "orders")
      val parentKeys = broadcast(
        t(s, d, "customer").select(col("c_custkey")).distinct())
      val joined = o.join(parentKeys, col("o_custkey") === col("c_custkey"), "left")
      graft.operators.Quality.constraintReport(joined, Seq(
        "orderkey_not_null" -> col("o_orderkey").isNotNull,
        "totalprice_positive" -> (col("o_totalprice") > 0),
        "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
        "custkey_fk" -> col("c_custkey").isNotNull))
    }),
    // SCD Type-2 + point-in-time join: each user's 'view' events are a
    // profile change log; scd2History tiles them into validity intervals
    // (one key shuffle) and every 'purchase' fact is enriched with the
    // version in effect at its instant via the as-of union-window plan
    // (one more key shuffle, no containment theta-join). Inner-filtered so
    // the oracle is a plain containment join over the same lead() intervals
    "j14_scd2_pit" -> ((s, d) => {
      val ev = t(s, d, "events")
      val dim = graft.load.Warehouse.scd2History(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("change_id"), col("value").as("profile_value")),
        Seq("user_id"), "ts", Seq("change_id"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"), col("ts"),
          col("value").as("amount"))
      graft.load.Warehouse.pointInTimeJoin(facts, dim, "user_id", "ts",
          Seq("profile_value", "change_id", "effective_from"))
        .filter(col("change_id").isNotNull)
    }),
    // change feed reconstructed from two table states: the s22 mutation
    // family (re-price / delete / re-keyed insert) recovered as U/D/I rows
    // by the full-outer state diff — no writer log needed;
    // applyCdc(old, diff) ≡ new is the spec-pinned law
    "s26_snapshot_diff" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val newState = orders.filter(col("o_orderkey") % 20 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + lit(100000.0))
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1))
      graft.load.Warehouse.snapshotDiff(orders, newState, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("op"))
    }),
    // incremental SCD2: the dimension is built from 2/3 of the change log,
    // then the remaining third — including out-of-order history rewrites —
    // applies through scd2Apply (only affected keys replay). The result
    // must equal the full-history build, which is what the oracle states
    "s25_scd2_apply" -> ((s, d) => {
      val views = t(s, d, "events").filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("change_id"), col("value").as("profile_value"))
      val base = graft.load.Warehouse.scd2History(
        views.filter(pmod(col("change_id"), lit(3)) =!= 0),
        Seq("user_id"), "ts", Seq("change_id"))
      graft.load.Warehouse.scd2Apply(
          base, views.filter(pmod(col("change_id"), lit(3)) === 0),
          Seq("user_id"), "ts", Seq("change_id"))
        .select(col("user_id"), col("change_id"), col("profile_value"),
          col("effective_from"), col("effective_to"), col("is_current"))
    }),
    // dynamic partition overwrite: events land hive-partitioned by day; the
    // MIN day is re-loaded with doubled values through
    // overwritePartitionsDynamic. The require() pins the operator's whole
    // point: sibling partitions' FILE SET is untouched (static overwrite
    // would have dropped the table), the target day's is replaced. Read-back
    // per-day aggregate rides the hash gate vs an oracle restating the
    // rewrite
    "s23_dynamic_overwrite" -> ((s, d) => {
      val root = Fixtures.memo("dynOverwrite", d) {
        val dir = Fixtures.dir("dynpart")
        val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
        ev.write.partitionBy("day").mode("overwrite").parquet(dir.toString)
        def files(): Set[String] = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .map(_.toString).toSet
        }
        val before = files()
        // bounded 1-row collect: the overwrite target day
        val minDay = ev.agg(min(col("day")).as("d")).head.getDate(0)
        graft.load.Warehouse.overwritePartitionsDynamic(
          ev.filter(col("day") === lit(minDay))
            .withColumn("value", col("value") * 2),
          dir.toString, Seq("day"))
        val after = files()
        val dayDir = s"day=$minDay"
        require(before.filterNot(_.contains(dayDir)) == after.filterNot(_.contains(dayDir)),
          "dynamic overwrite touched sibling partitions")
        require(before.filter(_.contains(dayDir)) != after.filter(_.contains(dayDir)),
          "dynamic overwrite did not replace the target partition")
        dir.toString
      }
      s.read.parquet(root)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
    }),
    // --- events ------------------------------------------------------------
    "e_hour_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))),
    "e_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select((get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod"))
        .groupBy(col("k_mod")).agg(count(lit(1)).as("n"))),
    "e_sessionize" -> ((s, d) =>
      graft.streaming.EventStream.sessionizeBatch(t(s, d, "events"), gapSeconds = 1800L)),
    // the same sessionization through Spark's BUILT-IN session_window
    // aggregation (merging windows, identical plan batch or streaming).
    // Boundary semantics differ from sessionizeBatch by design: the window
    // end is exclusive (an event at exactly last + gap starts a NEW
    // session, where sessionizeBatch's strict `> gap` keeps it), and
    // session_end = last event + gap rather than the last event itself —
    // the oracle replays exactly those semantics
    "e_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value"))),
    "e_sliding_window" -> ((s, d) =>
      // overlapping windows: each event lands in duration/slide windows
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))),
    // ordered conversion funnel: each stage requires an event strictly after
    // the user's earliest completion of the previous stage
    "e_funnel" -> ((s, d) =>
      graft.operators.EventAnalytics.funnel(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),
    // the time-constrained funnel: complete within 2 h of the FIRST
    // stage-1 event (first-entry anchor; greedy-earliest per stage is
    // exact for that anchoring — see EventAnalytics.funnelWithin)
    "e_funnel_window" -> ((s, d) =>
      graft.operators.EventAnalytics.funnelWithin(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        windowSeconds = 7200L)),
    // first-seen-day cohorts × day offset distinct-user retention grid
    "e_retention" -> ((s, d) =>
      graft.operators.EventAnalytics.retention(t(s, d, "events"), "user_id", "ts")),
    // per-user daily counts densified with zero-filled silent days
    "e_gapfill" -> ((s, d) =>
      graft.operators.EventAnalytics.dailyGapFill(t(s, d, "events"), "user_id", "ts")),
    // per-user daily volume anomalies: gap-filled counts more than 2 sample
    // std-devs from the user's own mean (silent days CAN flag — the
    // gap-fill-first property the oracle replays)
    "e_anomaly" -> ((s, d) =>
      graft.operators.EventAnalytics.dailyAnomalies(t(s, d, "events"), "user_id", "ts")),
    "e_stream_window" -> ((s, d) => {
      // all e_stream_* harness queries run on a stream-sized session clone
      // (see EventStream.streamSession): state-store count per stateful op
      // = shuffle partitions, and 32 stores' per-batch checkpoint files are
      // fixed cost a finite harness stream never amortizes
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      graft.streaming.EventStream.runToCompletion(ss,
        graft.streaming.EventStream.windowedStats(stream, "1 hour"), "e_stream_window")
    }),
    // stream-static enrichment: events joined to the customer dim inside
    // each micro-batch (broadcast — the stream never shuffles), aggregated
    // per segment; equals the plain batch join+agg (oracle)
    "e_stream_enrich" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val dim = t(ss, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = graft.streaming.EventStream
        .enrichWithDim(stream, dim, "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      graft.streaming.EventStream.runToCompletion(ss, enriched, "e_stream_enrich")
    }),
    // stream-stream interval join: purchases attributed to same-user clicks
    // within the preceding hour — both sides are streams, matched in keyed
    // join state bounded by watermark + range; equals the batch interval
    // join (oracle)
    "e_stream_join" -> ((s, d) => {
      // inner join: every output row is emitted in the data batch that
      // completes its pair; the no-data batch only evicts state (proof
      // obligation documented on skipNoDataBatch)
      val ss = graft.streaming.EventStream.skipNoDataBatch(
        graft.streaming.EventStream.streamSession(s))
      val clicks = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val purchases = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      val joined = graft.streaming.EventStream.intervalJoin(
        clicks, purchases, "user_id", "p_user", "click_ts", "purchase_ts",
        maxLagSeconds = 3600, watermarkDelay = "1 hour")
        .select(col("user_id"), col("click_ts"), col("purchase_ts"),
          col("purchase_value"))
      graft.streaming.EventStream.runAppendToCompletion(ss, joined, "e_stream_join")
    }),
    // the same attribution join in BATCH banded equi-join form — the plan
    // for dense per-key histories at scale (candidates shrink from per-key
    // history² to per-(key, lag-window) neighborhoods); shares the
    // streaming join's oracle, so banded ≡ naive rides the hash gate
    "e_interval_batch" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.streaming.EventStream.intervalJoinBatch(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("value").as("purchase_value")),
        "user_id", "p_user", "click_ts", "purchase_ts", maxLagSeconds = 3600)
        .select(col("user_id"), col("click_ts"), col("purchase_ts"),
          col("purchase_value"))
    }),
    // at-least-once delivery simulated by self-union (every event delivered
    // twice), restored to effectively-once by watermark-scoped streaming
    // dedup — final per-type counts equal the plain batch counts (oracle)
    "e_stream_dedup" -> ((s, d) => {
      // dropDuplicatesWithinWatermark emits first-seen rows on ARRIVAL; the
      // no-data batch only evicts state (see skipNoDataBatch)
      val ss = graft.streaming.EventStream.skipNoDataBatch(
        graft.streaming.EventStream.streamSession(s))
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val doubled = stream.union(stream)
      val deduped = graft.streaming.EventStream
        .dedupWithinWatermark(doubled, Seq("event_id"), "1 hour")
      val q = deduped.writeStream
        .format("memory").queryName("e_stream_dedup_rows")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table("e_stream_dedup_rows")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),
    // streaming-mode sessionization over the finite events stream: gap- and
    // watermark-closed sessions only (open tails stay in state). Oracle-able:
    // emitted rows = batch sessions with a successor session (closed
    // in-stream by a > gap event) plus last-per-user sessions whose timeout
    // deadline fell strictly behind the final watermark (= max event ts at
    // 0s delay, ms-floored as Spark tracks it)
    "e_stream_sessionize" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      import ss.implicits._
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.EventStream.Event]
      val sessions = graft.streaming.EventStream
        .sessionizeStateful(stream, gapSeconds = 1800L, emitOpenAtEnd = false)
      val q = sessions.writeStream
        .format("memory").queryName("e_stream_sessionize")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table("e_stream_sessionize")
    }),
    // streaming CDC ingest: per micro-batch, reduce the batch to its latest
    // event per user and MERGE it into the persisted state table via
    // Warehouse.upsertLatest — the foreachBatch face of a continuously
    // maintained latest-state materialized view. The (ts, event_id) version
    // chain makes the merge result independent of how the stream was split
    // into batches (EventStreamSpec pins multi-batch ≡ single-batch); the
    // final state equals the plain batch latest-per-user (oracle)
    "e_stream_upsert" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val stateRoot = Fixtures.dir("upsert_state")
      val ckpt = Fixtures.dir("upsert_ckpt")
      val state = graft.streaming.EventStream.streamUpsertLatest(
        stream, Seq("user_id"), Seq("ts", "event_id"), stateRoot.toString, ckpt.toString)
      ss.read.parquet(state.get)
        .select(col("user_id"), col("ts").as("last_ts"), col("event_type"), col("value"))
    }),
    // streaming constraint audit: per-micro-batch one-pass reports summed
    // into the stream-lifetime audit — counts are additive, so the
    // converged report equals the batch audit of the whole table (the
    // oracle); multi-batch additivity is spec-pinned (EventStreamSpec)
    "e_stream_constraints" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val reportDir = Fixtures.dir("audit_report")
      val ckpt = Fixtures.dir("audit_ckpt")
      graft.streaming.EventStream.streamConstraintAudit(stream, Seq(
          "user_not_null" -> col("user_id").isNotNull,
          "ts_not_null" -> col("ts").isNotNull,
          "type_domain" -> col("event_type").isin(
            "view", "click", "purchase", "signup", "error"),
          "value_finite" -> (abs(col("value")) < lit(1e12))),
        reportDir.toString, ckpt.toString)
    }),
    // streaming theta slice table: per-batch sketches union-folded per
    // slice; below nominal capacity the converged estimates are EXACT
    // distinct counts (cardinalities here sit 2.7× under the lgK=12
    // capacity even at sf0.1), so the gate is plain count(distinct)
    "e_stream_theta" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val sketchDir = Fixtures.dir("theta_sk")
      val ckpt = Fixtures.dir("theta_ckpt")
      graft.streaming.EventStream.streamThetaSlices(
          stream.select(col("event_type"), col("user_id")),
          col("event_type"), col("user_id"), lgK = 12,
          sketchDir.toString, ckpt.toString)
        .select(col("slice").as("event_type"),
          graft.operators.ThetaSketches.thetaEstimate(col("sketch"))
            .cast("long").as("n_users"))
    }),
    // streaming face of the SCD2 point-in-time join: facts stream in,
    // each micro-batch enriched against the static dimension history via
    // the as-of union-window plan, converged table ≡ the batch PIT join
    // (shares j14's oracle semantics; PIT is per-row so batch-split
    // independence is exact)
    "e_stream_asof" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val ev = t(s, d, "events")
      val dim = graft.load.Warehouse.scd2History(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("change_id"), col("value").as("profile_value")),
        Seq("user_id"), "ts", Seq("change_id"))
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"), col("ts"),
          col("value").as("amount"))
      val outDir = Fixtures.dir("pit_out")
      val ckpt = Fixtures.dir("pit_ckpt")
      graft.streaming.EventStream.streamPointInTimeEnrich(
          stream, dim, "user_id", "ts",
          Seq("profile_value", "change_id", "effective_from"),
          outDir.toString, ckpt.toString)
        .filter(col("change_id").isNotNull)
    }),
    // streaming count-min sketch: per-batch bucket tables folded by sum.
    // Bucket counts are linear in the input, so the converged streamed
    // sketch must equal the batch sketch of the whole table EXACTLY,
    // bucket for bucket — emitted as a provably-empty mismatch frame
    // under the hash gate (the streaming face of t_cms_merge)
    "e_stream_cms" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val sketchDir = Fixtures.dir("cms_sketch")
      val ckpt = Fixtures.dir("cms_ckpt")
      val streamed = graft.streaming.EventStream.streamCmsSketch(
        stream.select(col("user_id")), col("user_id"), depth = 5, width = 256,
        sketchDir.toString, ckpt.toString)
      val batch = graft.operators.Sketches.cmsSketch(
        t(s, d, "events"), col("user_id"), depth = 5, width = 256)
      streamed.select(col("d"), col("b"), col("c").as("c_stream"))
        .join(batch.select(col("d"), col("b"), col("c").as("c_batch")),
          Seq("d", "b"), "full_outer")
        .filter(!(col("c_stream") <=> col("c_batch")))
        .select(col("d"), col("b"), col("c_stream"), col("c_batch"))
    }),
    // streaming windowed distinct-users via HLL sketch STATE: the sketch is
    // the aggregation buffer, so streaming state per window is one sketch
    // (lgK-fixed KBs), never a distinct-user set. Estimates are
    // DataSketches-specific → rows-only; the accuracy contract is the
    // sibling below
    "e_stream_hll" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val agg = stream
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("hll"))
      graft.streaming.EventStream.runToCompletion(ss, agg, "e_stream_hll")
        .select(col("w.start").as("day"),
          hll_sketch_estimate(col("hll")).as("approx_users"))
    }),
    "e_stream_hll_contract" -> ((s, d) => {
      // every per-window streamed estimate must sit within 5% of the exact
      // batch distinct count for that day — provably-empty frame under the
      // hash gate. Day keys compared as epoch days (the streamed side is
      // session-UTC TimestampType, the batch side NTZ — same instant under
      // the engine's UTC session)
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
      val agg = stream
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("hll"))
      def epochDay(c: org.apache.spark.sql.Column) =
        (unix_micros(c.cast(org.apache.spark.sql.types.TimestampType)) / 86400000000L).as("day")
      val streamed = graft.streaming.EventStream
        .runToCompletion(ss, agg, "e_stream_hll_contract")
        .select(epochDay(col("w.start")),
          hll_sketch_estimate(col("hll")).as("approx_users"))
      val exact = t(ss, d, "events")
        .groupBy(epochDay(date_trunc("day", col("ts"))))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      streamed.join(exact, Seq("day"), "full_outer")
        .filter(col("approx_users").isNull || col("exact_users").isNull ||
          abs(col("approx_users") - col("exact_users")) * 1000L >
            col("exact_users") * 50L)
        .select(col("day"), col("approx_users"), col("exact_users"))
    }),
    // streaming CDC with tombstones: every 7th event is a DELETE of its
    // user. The op column rides THROUGH the state table (tombstones are
    // retained so a later-arriving older update cannot resurrect a deleted
    // key — spec-pinned across batches) and is filtered only at read time:
    // a user whose latest change is a delete is absent from the final view
    "e_stream_cdc" -> ((s, d) => {
      val ss = graft.streaming.EventStream.streamSession(s)
      val stream = graft.streaming.EventStream.readEvents(ss, s"$d/events.parquet")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
          when(col("event_id") % 7 === 0, lit("D")).otherwise(lit("U")).as("op"))
      val stateRoot = Fixtures.dir("cdc_state")
      val ckpt = Fixtures.dir("cdc_ckpt")
      val state = graft.streaming.EventStream.streamUpsertLatest(
        stream, Seq("user_id"), Seq("ts", "event_id"), stateRoot.toString, ckpt.toString)
      ss.read.parquet(state.get)
        .filter(col("op") =!= "D")
        .select(col("user_id"), col("ts").as("last_ts"), col("event_type"), col("value"))
    }),
    // --- text analysis -----------------------------------------------------
    "t_token_count" -> ((s, d) =>
      tb(s, d, "documents").select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))),
    // canonical normalization over text with injected control/whitespace
    // noise (so the patterns actually fire; both engines build the same
    // noisy input from doc_id)
    "t_normalize" -> ((s, d) =>
      tb(s, d, "documents").select(col("doc_id"),
        TextOps.normalizeText(
          concat(col("text"), lit("\t\u0007  tail"), lit(" \u009f"))).as("norm"))),
    // PII redaction over text with synthesized id-derived email/IP/phone
    "t_redact_pii" -> ((s, d) =>
      tb(s, d, "documents").select(col("doc_id"),
        TextOps.redactPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"),
          lit(" call +1415555"), (lit(1000) + pmod(col("doc_id"), lit(9000))).cast("string")
        )).as("red"))),
    // BPE-style pre-tokenizer count (RE2-compatible pattern — the oracle
    // replays the identical regex)
    "t_token_count_bpe" -> ((s, d) =>
      tb(s, d, "documents").select(col("doc_id"),
        TextOps.tokenCountBpe(col("text")).as("n_bpe"))),
    "t_quality_signals" -> ((s, d) => {
      val sig = TextOps.qualitySignals(col("text"))
      tb(s, d, "documents").select(
        col("doc_id"), sig("n_chars").as("n_chars"), sig("n_tokens").as("n_tokens"),
        sig("avg_tok_len_x100").as("avg_tok_len_x100"), sig("n_digits").as("n_digits"),
        sig("n_punct").as("n_punct"), sig("low_quality").as("low_quality"))
    }),
    // Gopher/C4 repetition filters: top-token share + repeated-bigram share
    "t_repetition" -> ((s, d) =>
      TextOps.repetitionSignals(tb(s, d, "documents"), "text", "doc_id")),
    // span-level eval DECONTAMINATION (Lee et al.): cut from the even-id
    // corpus half every 8-token window that appears anywhere in the odd-id
    // "benchmark" half — keep the doc, remove the leaked text (the
    // doc-level screen is t_contamination). String-semantics oracle
    "t_decontaminate" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", n = 8)
        .select(col("doc").as("doc_id"), col("cleaned_text"))
    }),
    // the UNIGRAM-LM tokenizer (SentencePiece-style, Kudo 2018 — the other
    // production tokenizer next to BPE): hard-EM over the collapsed
    // (word, count) table, integer-Viterbi encoding via a native
    // expression. Coverage is total by construction (unseen code points
    // segment at a synthetic UNK score), so concat(pieces) must equal
    // concat(tokens) on EVERY document — the provably-empty round-trip
    // gate. Training/encoding determinism is spec-pinned (UnigramTrainerSpec)
    "t_unigram_roundtrip_contract" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      // the trained model, driver-side: piece -> logp_micro
      val vocab = Fixtures.memo("unigramModel", d)(
        operators.UnigramTrainer.train(docs, "text", vocabSize = 64)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
      operators.UnigramTrainer.roundTripViolations(docs, "text", "doc_id", vocab)
        .select(col("doc_id"))
    }),
    // trainer-equivalence contract (r12 verdict #5 — distributed EM): the
    // FULLY-distributed unigram trainer (word table never collected, no
    // maxWords bound; seed explode + broadcast-scores Viterbi EM as native
    // expressions, every driver structure vocab-bounded) must learn a
    // model ROW-IDENTICAL to the driver trainer's — symmetric difference
    // provably empty. The no-bound Done criterion (distinct words >
    // maxWords, wordSample = 1) is spec-pinned in UnigramTrainerSpec
    "t_unigram_distributed_contract" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      operators.UnigramTrainer.distributedTrainViolations(
        docs, "text", vocabSize = 64)
    }),
    // the fastText/CCNet-style QUALITY CLASSIFIER (hashed-ngram logistic
    // regression, integer-exact training — TextClassifier.scala): trained
    // on a %3 split of a planted separable corpus (real harness documents
    // as the reference class vs deterministic junk-token docs — their
    // vocabularies are disjoint, so a converged linear model classifies
    // BOTH splits perfectly) and gated on zero misclassified docs over
    // train ∪ holdout. Provably empty; the learning dynamics, bit-identical
    // retrains, and bias/feature-less contracts live in TextClassifierSpec
    "t_quality_classifier_contract" -> ((s, d) => {
      val docs = tb(s, d, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val pos = docs.withColumn("label", lit(1L))
      val neg = docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat_ws(" ",
          concat(lit("jnk"), pmod(col("doc_id"), lit(7))), lit("zzq xxq"),
          concat(lit("jnk"), pmod(col("doc_id"), lit(5))), lit("qqz jnky zzq"),
          concat(lit("jnk"), pmod(col("doc_id"), lit(3)))).as("text"),
        lit(0L).as("label"))
      val all = pos.unionByName(neg)
      val model = TextClassifier.train(
        all.filter(col("doc_id") % 3 =!= 0), "text", "doc_id", "label",
        numBuckets = 1 << 12, iterations = 10)
      TextClassifier.misclassified(all, "text", "doc_id", "label",
        model, numBuckets = 1 << 12)
        .select(col("doc"), col("y"), col("margin_micro"))
    }),
    // the classifier's CALIBRATION face (r11 verdict #7): same planted
    // text classes, but a deterministic ~1/7 of TRAINING labels flipped —
    // the separable-corpus gate above can't see the probability face, so
    // this one pins it on a corpus the model CANNOT fit. Margin deciles
    // (sigmoid-ppm replayed in SQL from the stored integer margins, the
    // exact scoring formula) must satisfy three laws or emit violations:
    //  (a) argmax consistency: quality = 1 iff sigmoid_ppm >= 500000 —
    //      the probability face and the decision face agree on every doc;
    //  (b) monotone probability: a higher margin decile never has a lower
    //      mean sigmoid (deciles partition the margin order);
    //  (c) ranking survives label noise: the top-3 deciles' TRUE noisy-
    //      label rate beats the bottom-3 by >= 400000 ppm (planted signal
    //      ~714286 — wide headroom). Provably empty
    "t_classifier_calibration_contract" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = tb(s, d, "documents").filter(col("doc_id") % 7 === 1)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val pos = docs.withColumn("label", lit(1L))
      val neg = docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat_ws(" ",
          concat(lit("jnk"), pmod(col("doc_id"), lit(7))), lit("zzq xxq"),
          concat(lit("jnk"), pmod(col("doc_id"), lit(5))), lit("qqz jnky zzq"),
          concat(lit("jnk"), pmod(col("doc_id"), lit(3)))).as("text"),
        lit(0L).as("label"))
      val noisy = pos.unionByName(neg).withColumn("y",
        when(pmod(xxhash64(col("doc_id"), lit(12L)), lit(7L)) === 0L,
          lit(1L) - col("label")).otherwise(col("label")))
      val model = TextClassifier.train(noisy, "text", "doc_id", "y",
        numBuckets = 1 << 12, iterations = 10)
      val scored = TextClassifier.scoreDocs(noisy, "text", "doc_id", model,
        numBuckets = 1 << 12)
        .join(noisy.select(col("doc_id").as("doc"), col("y")), Seq("doc"))
        .withColumn("sig_ppm",
          floor(lit(1000000.0) / (lit(1.0) +
            exp(-col("margin_micro").cast("double") / lit(1000000.0))))
            .cast("bigint"))
        .withColumn("decile", ntile(10).over(
          Window.orderBy(col("margin_micro"), col("doc"))))
      val argmaxViol = scored
        .filter((col("quality") === 1L) =!= (col("sig_ppm") >= 500000L))
        .select(col("decile").cast("long").as("decile"),
          lit("quality bit disagrees with sigmoid >= 500000").as("violation"))
      val deciles = scored.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
          floor(avg(col("sig_ppm"))).cast("bigint").as("mean_sig"))
      val monoViol = deciles.as("lo").join(deciles.as("hi"),
          col("lo.decile") < col("hi.decile") &&
            col("lo.mean_sig") > col("hi.mean_sig"))
        .select(col("lo.decile").cast("long").as("decile"),
          lit("mean sigmoid not monotone in margin decile").as("violation"))
      val bands = deciles.agg(
        (sum(when(col("decile") >= 8, col("pos")).otherwise(0L)) * lit(1000000L) /
          sum(when(col("decile") >= 8, col("n")).otherwise(0L))).as("top_rate"),
        (sum(when(col("decile") <= 3, col("pos")).otherwise(0L)) * lit(1000000L) /
          sum(when(col("decile") <= 3, col("n")).otherwise(0L))).as("bot_rate"))
      val signalViol = bands
        .filter(col("top_rate") - col("bot_rate") < 400000L)
        .select(lit(0L).as("decile"),
          lit("top-band label rate does not beat bottom band").as("violation"))
      argmaxViol.unionByName(monoViol).unionByName(signalViol)
    }),
    // content-defined chunking: rolling-hash boundaries (window-8 polynomial
    // ≡ 0 mod 61 — prime, so the base-31 polynomial keeps full mixing; a
    // power-of-two divisor degenerates to a parity sum since 31² ≡ 1 mod 64) — chunks survive edits elsewhere in the doc, the property
    // chunk-level dedup needs; reconstruction law + shift-stability in
    // CurationSpec, full chunk table hash-gated here
    "t_cdc_chunks" -> ((s, d) =>
      Curation.contentChunks(tb(s, d, "documents"), "text", "doc_id")),
    // corpus-mix drift lens: top-40 tokens by relative-frequency shift
    // between the even- and odd-id halves (integer ppm both engines)
    "t_dist_shift" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      TextOps.tokenDistributionShift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", k = 40)
    }),
    "t_langid" -> ((s, d) =>
      tb(s, d, "documents").select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("pred_lang"))),
    // document-fingerprint stability contract (VERDICT r4 #2): the 64-bit
    // production rolling fingerprint (rows-only: the hash is engine-
    // specific); invariance/composition contract = _contract sibling
    "t_fingerprint" -> ((s, d) =>
      tb(s, d, "documents").select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),
    // rolling fingerprint must be (a) whitespace-layout invariant and
    // (b) case invariant — the two normalizations a shard-level dedup
    // manifest relies on when re-scraped copies differ only in wrapping —
    // and (c) prefix-composable: fp(text ⧺ tail) must equal the fold of
    // tail's tokens seeded with fp(text), the property that lets a manifest
    // extend a stored fingerprint without re-reading the document. Each doc
    // violating any of the three emits a row; the frame is provably empty
    // and rides the hash gate.
    "t_fingerprint_contract" -> ((s, d) => {
      val fp = TextOps.fingerprint(col("text"))
      tb(s, d, "documents").select(col("doc_id"), fp.as("fp"),
        TextOps.fingerprint(regexp_replace(col("text"), "\\s+", " ")).as("fp_ws"),
        TextOps.fingerprint(upper(col("text"))).as("fp_case"),
        TextOps.fingerprint(concat(col("text"), lit(" xq13 tail"))).as("fp_ext"),
        aggregate(TextOps.tokens(lit(" xq13 tail")), fp,
          (acc, t) => xxhash64(acc, t)).as("fp_cont"))
        .filter(col("fp") =!= col("fp_ws") || col("fp") =!= col("fp_case") ||
          col("fp_ext") =!= col("fp_cont"))
    }),
    // --- corpus curation ----------------------------------------------------
    // concat-and-chunk sequence packing; blockSize 64 so the two-level
    // prefix sum actually runs multi-block at sf0.01 (500 docs → 8 blocks)
    "t_pack_sequences" -> ((s, d) =>
      Curation.packSequences(
        tb(s, d, "documents").select(col("doc_id"), TextOps.tokenCount(col("text")).as("nt")),
        "doc_id", col("nt"), seqLen = 2048L, blockSize = 64L, reuseBase = true)),
    // writer contract of the packing: per-(doc, sequence) token slices
    "t_pack_slices" -> ((s, d) =>
      Curation.packedSliceManifest(
        tb(s, d, "documents").select(col("doc_id"), TextOps.tokenCount(col("text")).as("nt")),
        "doc_id", col("nt"), seqLen = 2048L, blockSize = 64L, reuseBase = true)),
    // top-3 characteristic terms per doc by tf-idf
    "t_tfidf_top" -> ((s, d) =>
      TextOps.tfIdfTopTerms(tb(s, d, "documents"), "text", "doc_id", k = 3)),
    // Okapi BM25 retrieval (benchmark-retrieval / hard-negative-mining
    // shape): docs 0-4 as queries against the whole corpus, top-5 each;
    // per-term contributions row-wise deterministic, rank + output on the
    // ×1e6-floored integer score
    "t_bm25_topk" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      SparseSim.bm25TopK(docs, docs.filter(col("doc_id") < 5),
        "text", "doc_id", "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    }),
    // sparse-cosine top-k neighbors through the inverted index: candidate
    // pairs come from a posting-list equi-join on word trigrams (df-capped
    // — the stop-gram head is the quadratic term at corpus scale), weights
    // are integerized so every dot product is an exact BIGINT and the
    // similarity column itself hash-matches the oracle
    "t_sparse_topk" -> ((s, d) =>
      SparseSim.topKNeighbors(tb(s, d, "documents"), "text", "doc_id",
        n = 3, minDf = 2L, maxDf = 500L, k = 5)),
    // corpus-trained bigram LM, self-scored: the distributable perplexity
    // proxy for quality filtering (sum order differs from the oracle only in
    // float ulps — inside the verifier's 6-sig-digit canonicalization)
    // CCNet perplexity buckets (Wenzek et al.): rank by the self-trained
    // LM score, head/middle/tail thirds via the distributed exact ntile
    // (score-histogram cumulative counts + score-partitioned ranks —
    // no single-partition window anywhere)
    "t_perplexity_buckets" -> ((s, d) => {
      // selfPerplexityBuckets ≡ perplexityBuckets(docs, train(docs), ...)
      // with ONE shared tokenize pass (trainer + scorer)
      val docs = tb(s, d, "documents")
      graft.operators.NgramLm.selfPerplexityBuckets(docs, "text", "doc_id", nBuckets = 3)
        .select(col("doc").as("doc_id"), col("score_x1e6"), col("bucket"))
    }),
    "t_lm_score" -> ((s, d) =>
      graft.operators.NgramLm.selfScore(tb(s, d, "documents"), "text", "doc_id")),
    // trigram LM with STUPID BACKOFF (Brants et al. 2007) — the
    // higher-order option CCNet-style bucketing actually wants. Model
    // trained on the EVEN half so the odd half genuinely exercises the
    // backoff ladder (unseen trigram → bigram → add-one unigram floor);
    // the CASE ladder replays verbatim in the oracle
    "t_lm_trigram" -> ((s, d) => {
      // ONE tokenize pass over the full corpus: the trainer consumes the
      // even-doc slice of it (filter commutes with per-doc tokenization),
      // the scorer the whole frame
      val docs = tb(s, d, "documents")
      val toks = graft.CacheScope.persistIfScoped(
        graft.operators.NgramLm.tokenized(docs, "text", "doc_id"))
      graft.operators.NgramLm.scoreTrigramFromToks(toks,
        graft.operators.NgramLm.trainTrigramFromToks(
          toks.filter(col("doc_id") % 2 === 0), "doc_id"),
        "doc_id")
    }),
    // CCNet buckets over the TRIGRAM scores — the same distributed exact
    // ntile (bucketsFromScores), fed by the backoff scorer
    "t_perplexity_buckets_tri" -> ((s, d) => {
      // same shared-tokenize shape as t_lm_trigram (one corpus tokenize
      // feeds the even-slice trainer and the full-corpus scorer)
      val docs = tb(s, d, "documents")
      val toks = graft.CacheScope.persistIfScoped(
        graft.operators.NgramLm.tokenized(docs, "text", "doc_id"))
      graft.operators.NgramLm.bucketsFromScores(
        graft.operators.NgramLm.scoreTrigramFromToks(toks,
          graft.operators.NgramLm.trainTrigramFromToks(
            toks.filter(col("doc_id") % 2 === 0), "doc_id"),
          "doc_id"),
        "doc_id", "avg_logp", nBuckets = 3)
        .select(col("doc").as("doc_id"), col("score_x1e6"), col("bucket"))
    }),
    // inverted index rows; postings rendered "doc:tf doc:tf" (the driver's
    // compare can't hash array columns)
    "t_inverted_index" -> ((s, d) =>
      TextOps.invertedIndex(tb(s, d, "documents"), "text", "doc_id")
        .select(col("term"), col("df"), col("total_tf"),
          array_join(transform(col("postings"),
            p => concat(p.getField("doc").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), " ").as("postings"))),
    // corpus-wide top-50 bigrams, exact (explode -> partial-agg -> top-k)
    "t_ngram_top" -> ((s, d) =>
      graft.operators.Sketches.ngramTop(tb(s, d, "documents"), "text", n = 2, k = 50)),
    // Misra-Gries heavy hitters in the exact regime (capacity >= the 31-token
    // vocabulary), so the sketch equals the true top-20 token counts
    "t_heavy_hitters" -> ((s, d) =>
      graft.operators.Sketches.heavyHitters(tb(s, d, "documents"), "text",
        capacity = 256, k = 20)),
    // production distributed BPE training (rows-only: the iterative
    // argmax+contract is not SQL-expressible); replay contract = sibling
    "t_bpe_merges" -> ((s, d) =>
      graft.operators.BpeTrainer.train(tb(s, d, "documents"), "text", numMerges = 8)),
    // BPE replay contract (VERDICT r4 #2): re-applying merges 0..i-1 to a
    // fresh word table must reproduce merge i's recorded pair_count exactly,
    // for all 8 learned merges. Violations frame provably empty, hash-gated.
    // (BpeTrainerSpec additionally pins the textbook merge sequence.)
    "t_bpe_merges_contract" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val learned = graft.operators.BpeTrainer.train(docs, "text", numMerges = 8)
        .collect() // bounded: ≤ numMerges rows by construction
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      graft.operators.BpeTrainer.mergeCountViolations(docs, "text", learned)
    }),
    // trainer-equivalence contract (VERDICT r9 #1): the driver-side fast
    // trainer (one job + one bounded collect + incremental pair stats —
    // the production path for 30k-merge vocabularies) must learn a merge
    // table ROW-IDENTICAL to the distributed one-job-per-merge trainer.
    // Violations frame provably empty, hash-gated.
    "t_bpe_fast_contract" -> ((s, d) =>
      graft.operators.BpeTrainer.fastTrainViolations(
        tb(s, d, "documents"), "text", numMerges = 8)),
    // BPE ENCODE — the tokenizer-application step (train → encode is the
    // full loop). Native min-rank expression, merges a per-dir trained
    // artifact (cached: production encodes with a persisted merge table).
    // The oracled face is the LOSSLESSNESS law: concatenating the emitted
    // symbols and turning each `</w>` boundary back into a space must
    // reconstruct the lowercased token stream exactly — a dropped, split,
    // or cross-word-merged symbol cannot hash-match
    "t_bpe_encode" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val merges = bpeMerges(docs, d)
      graft.operators.BpeTrainer.encode(docs, "text", "doc_id", merges)
        .select(col("doc_id"),
          rtrim(regexp_replace(concat_ws("", col("syms")), "</w>", " "))
            .as("reconstructed"))
    }),
    // encoder↔fold agreement contract: the native min-rank encoder's
    // per-document symbol count must equal bpeTokenCount's rank-order
    // column fold (two independent implementations of "apply the learned
    // merges"); violations frame provably empty, hash-gated
    "t_bpe_encode_contract" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val merges = bpeMerges(docs, d)
      graft.operators.BpeTrainer.encodeCountViolations(docs, "text", "doc_id", merges)
    }),
    // count-min sketch one-sided contract: the sketch must never
    // UNDER-estimate a count; the frame of violations is empty and the gate
    // hash-checks the emptiness (width 256 << 2000 distinct parts, so
    // collisions — and overcounts — definitely occur; none may undercount)
    "t_cms_bound" -> ((s, d) =>
      graft.operators.Sketches.cmsBoundViolations(
        t(s, d, "lineitem"), col("l_partkey"), depth = 5, width = 256)),
    // CMS mergeability contract: folding per-part sketches (here lineitem
    // split by orderkey parity — the daily-batch shape) must estimate
    // identically to sketching the whole; exact because bucket counts are
    // linear. The violations frame is provably empty
    "t_cms_merge" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      graft.operators.Sketches.cmsMergeViolations(
        Seq(li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          li.filter(pmod(col("l_orderkey"), lit(2)) =!= 0)),
        col("l_partkey"), depth = 5, width = 256)
    }),
    // percentile_approx rank-error contract: each answered quantile must sit
    // within the sketch's guaranteed rank window; violations frame is empty
    "a13_quantile_bound" -> ((s, d) =>
      graft.operators.Sketches.quantileBoundViolations(
        t(s, d, "lineitem"), col("l_extendedprice"),
        qs = Seq(0.5, 0.9, 0.99), accuracy = 100)),
    // corrupt-embedding screen: every 100th vector is re-scaled 10× (the
    // classic double-normalization bug) — the z-gate must flag exactly the
    // planted set, with a wide margin (planted z ≈ 10 vs natural max ≈ 4.7
    // at threshold 6), so membership is hash-stable across engines
    "s_embed_outliers" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
        .withColumn("embedding",
          when(pmod(col("vec_id"), lit(100)) === 0,
            transform(col("embedding"), v => v * 10.0f))
            .otherwise(col("embedding")))
      Similarity.embeddingOutlierIds(emb, "embedding", "vec_id", zThreshold = 6.0)
    }),
    // theta-sketch slice intersections: the set-operation face of the
    // sketch layer — "distinct users in slice A AND B" from MB summaries,
    // which HLL structurally cannot answer. Contract: every pairwise
    // intersection estimate brackets the exact overlap within its own 3σ
    // bounds, emitted as a provably-empty violations frame
    "a18_theta_intersect" -> ((s, d) =>
      graft.operators.ThetaSketches.thetaIntersectViolations(
        t(s, d, "events"), col("event_type"), col("user_id"))),
    // exact-integer rank normalization: the uniform-margin feature map,
    // aggregated here to per-group decile mass so the output is compact
    // while every underlying pr value still feeds the hash
    "a16_rank_norm" -> ((s, d) =>
      graft.operators.Quality.rankNormalize(
          t(s, d, "lineitem"), "l_extendedprice", Seq("l_returnflag"))
        .groupBy(col("l_returnflag"),
          expr("CAST(pr_x1e9 DIV 100000000 AS BIGINT)").as("decile"))
        .agg(count(lit(1)).as("n"),
          sum(col("pr_x1e9")).as("pr_sum"))),
    // fixed-bin price histogram (under/overflow buckets included)
    "a17_histogram" -> ((s, d) =>
      graft.operators.Quality.histogram(
        t(s, d, "lineitem"), "l_extendedprice", Seq("l_returnflag"),
        lo = 20000.0, hi = 80000.0, nBins = 20)),
    // winsorized robust stats: per-group [p05, p95] clamp of a heavy-tailed
    // numeric, then the clamp-count/mean profile. Bounds ride the exact
    // percentile ↔ quantile_cont parity the a10 oracle already pins; the
    // bounds frame is one row per group and broadcasts, so the fact side
    // never reshuffles for the join back
    "a15_winsorize" -> ((s, d) => {
      val w = graft.operators.Quality.winsorize(
        t(s, d, "lineitem"), "l_extendedprice", Seq("l_returnflag"),
        pLo = 0.05, pHi = 0.95)
      w.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        round(avg(col("w_value")) * 100).cast("long").as("w_mean_x100"))
    }),
    // join-cardinality guardrail: the CMS-inner-product estimate of
    // |orders ⋈ lineitem| from two MB-scale sketch tables must never sit
    // below the exact join size (one-sided bound lifted to inner products)
    // — provably-empty violations frame under the hash gate
    "j13_join_card" -> ((s, d) =>
      graft.operators.Sketches.cmsJoinCardinalityViolations(
        t(s, d, "orders"), t(s, d, "lineitem"),
        col("o_orderkey"), col("l_orderkey"), depth = 5, width = 1024)),
    // per-day HLL sketch table over events (DataSketches binary sketches,
    // one MB-scale row per slice): any cross-slice distinct-users question
    // becomes an algebra over sketch rows — never a corpus re-scan. The
    // estimates are DataSketches-specific → rows-only; the mergeability +
    // error-bound contract is the _contract sibling
    "a14_hll_slices" -> ((s, d) =>
      graft.operators.Sketches.hllSliceSketches(
          t(s, d, "events"), date_trunc("day", col("ts")), col("user_id"))
        .select(col("slice"), hll_sketch_estimate(col("hll")).as("approx_users"),
          col("n_rows"))),
    "a14_hll_slices_contract" -> ((s, d) =>
      // union-of-slice-sketches estimate must sit within 5% (≈3σ at lgK=12)
      // of the exact global distinct-user count — provably-empty violations
      // frame under the hash gate; deterministic over a fixed dataset
      graft.operators.Sketches.hllSliceBoundViolations(
        t(s, d, "events"), date_trunc("day", col("ts")), col("user_id"))),
    // C4-style span dedup: 8-token spans, first corpus occurrence wins,
    // documents reassembled from surviving spans
    "t_span_dedup" -> ((s, d) =>
      Curation.dropDuplicateSpans(tb(s, d, "documents"), "text", "doc_id", spanTokens = 8)),
    // sliding-window chunking (32-token chunks, stride 24 → 8-token overlap)
    "t_chunks" -> ((s, d) =>
      Curation.chunkDocuments(tb(s, d, "documents"), "text", "doc_id",
        chunkTokens = 32, strideTokens = 24)),
    // deterministic 1-in-20 hash sample: stable across runs / partitionings
    // / engines (the oracle recomputes the identical portable mixer)
    "t_hash_sample" -> ((s, d) =>
      Curation.hashSample(tb(s, d, "documents"), "doc_id", numer = 1, denom = 20)
        .select(col("doc_id"), col("lang"), col("source"))),
    // per-language quota: ≤ 50 docs per lang, hash-ordered stable choice
    "t_quota_sample" -> ((s, d) =>
      Curation.quotaSample(tb(s, d, "documents"), "lang", "doc_id", quota = 50)
        .select(col("doc_id"), col("lang"))),
    // per-domain cap (the Common-Crawl anti-spam shape: no single host may
    // dominate the corpus) — same stratified-quota machinery keyed on source
    "t_domain_cap" -> ((s, d) =>
      Curation.quotaSample(tb(s, d, "documents"), "source", "doc_id", quota = 10)
        .select(col("doc_id"), col("source"))),
    // training-mix rates: 1-in-4 of en, all of de/es/fr, zh unlisted → dropped
    "t_mixture" -> ((s, d) =>
      Curation.mixtureSample(tb(s, d, "documents"), "lang", "doc_id",
        Map("en" -> (1, 4), "de" -> (1, 1), "es" -> (1, 1), "fr" -> (1, 1)))
        .select(col("doc_id"), col("lang"))),
    // temperature-rebalanced mix (α = 1/2): per-language quotas ∝ ⌊√n⌋,
    // integer-exact end-to-end (IEEE sqrt is correctly rounded, everything
    // after is BIGINT math), selection = the deterministic hash prefix —
    // the XLM-R-style head-flattening sampler, fully engine-replayable
    "t_temperature_mix" -> ((s, d) =>
      Curation.temperatureSample(tb(s, d, "documents"), "lang", "doc_id",
        totalBudget = 250L)
        .select(col("doc_id"), col("lang"))),
    // DSIR importance weights (target domain = the en slice): bag-of-
    // (uni+bi)gram log-likelihood ratio between target and raw models,
    // add-one smoothed over the union vocabulary. Exact string-keyed face
    "t_dsir_weights" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Curation.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "text", "doc_id")
        .select(col("doc").as("doc_id"), col("n_feats"), col("weight"))
    }),
    // the paper's (and the 100 TB) configuration: features hashed into a
    // FIXED bucket space so the model table is corpus-size-independent
    // (occupied buckets only, so the space being large is free). Shares
    // the exact face's oracle — valid because 2^30 buckets are collision-
    // free for this corpus' 947-feature vocabulary (2^20 was a coin flip:
    // 947²/2²¹ ≈ 0.43, and it collided), pinned by CurationSpec
    "t_dsir_hashed" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Curation.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "text", "doc_id", buckets = 1L << 30)
        .select(col("doc").as("doc_id"), col("n_feats"), col("weight"))
    }),
    // the selection face: Gumbel top-k = sample 50 docs without
    // replacement ∝ exp(weight); the noise is the portable hash through
    // the inverse CDF, so the whole draw replays in DuckDB
    "t_dsir_sample" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Curation.dsirResample(docs, docs.filter(col("lang") === "en"),
        "text", "doc_id", k = 50)
        .select(col("doc").as("doc_id"))
    }),
    // token-weighted mix cap: ≤ 2000 tokens per language, hash-ordered
    "t_token_budget" -> ((s, d) =>
      Curation.tokenBudgetCap(tb(s, d, "documents"), "lang", "doc_id",
        TextOps.tokenCount(col("text")), budget = 2000L)
        .select(col("doc_id"), col("lang"))),
    // the curation pass end-to-end AS ONE PLAN: quality gate → exact dedup
    // (lowest id per digest) → per-language quota — the composition a real
    // corpus build runs, demonstrating the operators chain without
    // materialization between stages
    "t_curation_pipeline" -> ((s, d) => {
      val sig = TextOps.qualitySignals(col("text"))
      val quality = tb(s, d, "documents")
        .filter(sig("low_quality") === 0L)
      Curation.quotaSample(
        Dedup.dropExactDuplicates(quality, "text", "doc_id"),
        "lang", "doc_id", quota = 40)
        .select(col("doc_id"), col("lang"))
    }),
    // deterministic corpus shuffle: reproducible pseudo-random total order
    // via the portable mixer, two-level (bucket ranks + prefix-summed
    // offsets) so no global sort ever materializes
    "t_shuffle_order" -> ((s, d) =>
      Curation.shuffleOrder(tb(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("shuffle_pos"))),
    // balanced contiguous-range shards over the shuffled order — the
    // training-loader layout (shard sizes differ by ≤1, assignment is a
    // pure expression of (pos, n))
    "t_shards" -> ((s, d) =>
      Curation.shardAssignments(tb(s, d, "documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shuffle_pos"), col("shard"))),
    // vocabulary coverage: per-doc out-of-vocabulary rate against the
    // corpus' own top-20 tokens (integer thousandths — engine-exact)
    "t_oov_rate" -> ((s, d) =>
      TextOps.oovRate(tb(s, d, "documents"), "text", "doc_id",
        vocabSize = 20, reuseTokens = true)),
    // per-vector int8 scalar quantization (the ANN memory/IO lever);
    // binary64-staged arithmetic → codes are engine-replayable
    "s_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(tb(s, d, "embeddings"), "embedding", "vec_id")
        .select(col("vec_id"), col("vmin"), col("vmax"),
          array_join(transform(col("qvec"), q => q.cast("string")), " ").as("qcodes"))),
    // quantize→dequantize round-trip contract: every element reconstructs
    // within half a bucket width; the violations frame is provably empty
    "s_quantize_bound" -> ((s, d) =>
      Similarity.quantizationBoundViolations(tb(s, d, "embeddings"), "embedding", "vec_id")),
    // benchmark-contamination screen: docs (id % 50 != 0) sharing a word
    // 3-gram with the benchmark slice (id % 50 == 0), with overlap counts
    "t_contamination" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Curation.contamination(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3)
    }),
    // the too-big-to-broadcast decontamination shape: a Bloom over the
    // benchmark's shingle hashes prunes corpus shingles pre-shuffle; no
    // false negatives → shares t_contamination's exact oracle
    "t_contamination_bloom" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Curation.contaminationBloom(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3, expectedItems = 300000L, fpp = 0.01)
    }),
    // FUZZY decontamination: corpus docs whose word-3-gram Jaccard vs ANY
    // benchmark doc reaches 1/2 — the near-duplicate completion of the
    // exact screens above (a paraphrased/re-wrapped benchmark item has no
    // long exact n-gram run but high set similarity). Cross-frame MinHash
    // LSH at 32×2 bands (the recall-1.0 regime the d_jaccard_lsh ≡ brute
    // gate pins), candidates verified with exact integer set math — the
    // brute-force cross-join oracle must match pair-for-pair
    "t_contamination_fuzzy" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Curation.contaminationFuzzy(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", shingleSize = 3, numer = 1, denom = 2,
        bands = 32, rowsPerBand = 2)
    }),
    // --- dedup --------------------------------------------------------------
    "d_exact_dup_groups" -> ((s, d) =>
      Dedup.exactDuplicateGroups(tb(s, d, "documents"), "text", "doc_id")),
    // incremental pipeline shape: dedup an arriving batch (id % 4 == 0)
    // against the standing corpus's digest manifest — no corpus text re-read
    "d_incremental" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.dropSeenDocuments(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        Dedup.digestManifest(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0), "text"),
        "text", "doc_id")
        .select(col("doc_id"))
    }),
    // incremental NEAR-dup: the batch checked against the standing corpus's
    // signature manifest (band keys + hashed shingles, no corpus text).
    // J ≥ 1/2 with 32×2 bands → recall 1.0 (the d_jaccard_lsh ≡ brute
    // argument), so the kept set is exactly the brute-force oracle's
    "d_incremental_neardup" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.dropSeenNearDuplicates(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        // in-flight manifest is read twice downstream — persist per the
        // API doc (scope-registered: freed when the query's scope closes)
        graft.CacheScope.persist(
          Dedup.nearDupManifest(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
            "text", "doc_id", shingleSize = 3, bands = 32, rowsPerBand = 2)),
        "text", "doc_id", shingleSize = 3, numer = 1, denom = 2,
        bands = 32, rowsPerBand = 2)
        .select(col("doc_id"))
    }),
    // the STREAMING near-dup gate — dedup-at-ingest against the persisted,
    // self-growing signature index (index on one corpus quarter; an arrival
    // quarter lands in 3 mod-time-ordered micro-batches; each batch drops
    // near-dups of EARLIER content, self-dedups, and appends its survivors'
    // signatures). Timing face: one full gate batch — re-gating batch 2 is
    // replay-idempotent (dynamic partition overwrite + strictly-earlier
    // manifest read), so repeated bench runs leave the fixture identical
    // streaming SUBSTRING gate — ExactSubstr at ingest: the timed body
    // replays batch 2 ([416,∞)) against the gate-grown window index, then
    // returns its cleaned rows. Hash-gated on CONTENT: ascending-id-range
    // batches make the stream ≡ the one-shot pipeline, so the oracle is
    // the one-shot clean SQL restricted to the batch
    "d_substr_gate" -> ((s, d) => fixtureSerialized("substrgate", d) {
      val (idx, clean, _) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      VersionedSubstring.gateBatch(
        tb(s, d, "documents").filter(col("doc_id") >= 416),
        "text", "doc_id", idx, clean, 2L)
      s.read.parquet(clean).filter(col("ingest_batch") === 2L)
        .select(col("doc").as("doc_id"), col("cleaned_text"))
    }),
    // the whole streamed output (all three gate batches incl. the replayed
    // one) hash-checked against the one-shot SQL over the full corpus —
    // plus the replay-identity probe surfaced as a sentinel row that can
    // never hash-match if replay changed anything
    "d_substr_gate_contract" -> ((s, d) => fixtureSerialized("substrgate", d) {
      import s.implicits._
      val (_, clean, replayOk) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      val streamed = s.read.parquet(clean)
        .select(col("doc").as("doc_id"), col("cleaned_text"))
      if (replayOk) streamed
      else streamed.unionByName(
        Seq((-1L, "REPLAY_CHANGED_OUTPUTS")).toDF("doc_id", "cleaned_text"))
    }),
    // the VERSIONED substring gate's contract: the rename-free gate
    // (marker-committed window segments, static-overwrite clean dirs,
    // generation-swap consolidation — VersionedSubstringSpec drives it on
    // the rename-refusing filesystem) must produce EXACTLY the in-place
    // gate's cleaned rows on the same base/batches/replay schedule, with
    // replay identity and consolidate/vacuum invariance. Provably empty
    "d_substr_gate_versioned_contract" -> ((s, d) => fixtureSerialized("substrgate", d) {
      import s.implicits._
      val (_, cleanP, _) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      val (_, cleanV, replayOk, compactOk) =
        Fixtures.memo("versionedSubstr", d)(buildVersionedSubstrFixture(s, d))
      // the in-place clean dir carries the replayed batches 0-2 (the
      // d_substr_gate face re-gates 2; ids and content are identical
      // either way by replay idempotence)
      val inPlace = s.read.parquet(cleanP)
        .select(col("doc"), col("cleaned_text"), col("ingest_batch").cast("long").as("b"))
      val versioned = s.read.parquet(cleanV)
        .select(col("doc"), col("cleaned_text"), col("ingest_batch").cast("long").as("b"))
      val extra = versioned.except(inPlace)
        .withColumn("violation", lit("cleaned by versioned gate, not by in-place"))
      val missing = inPlace.except(versioned)
        .withColumn("violation", lit("cleaned by in-place gate, not by versioned"))
      val lifecycle = Seq(
        ("replay changed versioned gate outputs", replayOk),
        ("consolidate/vacuum changed manifest view or kept generations", compactOk))
        .filter(!_._2).map(t => (0L, "", -1L, t._1))
        .toDF("doc", "cleaned_text", "b", "violation")
      extra.unionByName(missing).unionByName(lifecycle)
        .select(col("doc"), col("violation"))
    }),
    // ...and for the versioned substring-window root (same fixture tail)
    "d_substr_versioned_health_contract" -> ((s, d) => fixtureSerialized("substrgate", d) {
      val (root, _, _, _) =
        Fixtures.memo("versionedSubstr", d)(buildVersionedSubstrFixture(s, d))
      GenerationLog.indexHealth(s, root)
        .filter(col("n_generations") =!= 1L || col("n_staged_debris") =!= 0L ||
          col("n_segments") =!= 0L || col("n_stream_segments") =!= 0L ||
          col("n_tombstones") =!= 0L)
        .select(col("n_generations"), col("n_segments"), col("n_tombstones"))
    }),
    // THREE-stage composed ingest (substring → near-dup → semantic), the
    // full crawl-pipeline shape in one foreachBatch: timed body = replay
    // of batch 0 through all three stages
    "d_composed3_gate" -> ((s, d) => fixtureSerialized("composed3", d) {
      val (substrIdx, textIdx, annIdx, cleanDir, textKept, kept, cents) =
        Fixtures.memo("composed3Gate", d)(buildComposed3GateFixture(s, d))
      graft.streaming.ComposedGate.ingestBatch3(
        gateSubBatch(composedArrivals(s, d), 0), "text", "embedding", "doc_id",
        substrIdx, textIdx, annIdx, cents, cleanDir, textKept, kept, 0L,
        SemGateTau, SemGateNprobe)
      // the replay just overwrote partitions the fixture's stream wrote —
      // drop any cached listing before reading the result back
      s.catalog.refreshByPath(kept)
      s.read.parquet(kept).filter(col("ingest_batch") === 0L)
        .select(col("doc_id"))
    }),
    // three-stage composition contract: streamed final kept-set ≡ the
    // THREE sequential reference pipelines stacked (substring manifest
    // fold → exact-Jaccard text fold → in-memory semantic fold), plus
    // replay identity across all SIX output tables (batch 1 re-driven
    // through ingestBatch3 here). Violations frame provably empty
    "d_composed3_gate_contract" -> ((s, d) => fixtureSerialized("composed3", d) {
      import s.implicits._
      val (substrIdx, textIdx, annIdx, cleanDir, textKept, kept, cents) =
        Fixtures.memo("composed3Gate", d)(buildComposed3GateFixture(s, d))
      val beforeReplay =
        composed3OutputsHash(s, substrIdx, textIdx, annIdx, cleanDir, textKept, kept)
      graft.streaming.ComposedGate.ingestBatch3(
        gateSubBatch(composedArrivals(s, d), 0), "text", "embedding", "doc_id",
        substrIdx, textIdx, annIdx, cents, cleanDir, textKept, kept, 0L,
        SemGateTau, SemGateNprobe)
      val replayOk = composed3OutputsHash(
        s, substrIdx, textIdx, annIdx, cleanDir, textKept, kept) == beforeReplay
      val refKept = composed3ReferenceKept(s, d,
        Seq(gateSubBatch(composedArrivals(s, d), 0)), cents)
      val streamKept = s.read.parquet(kept).select(col("doc_id"))
      val extra = streamKept.except(refKept)
        .withColumn("violation", lit("kept by composition, not by reference"))
      val missing = refKept.except(streamKept)
        .withColumn("violation", lit("kept by reference, not by composition"))
      val lifecycle = Seq(("replay changed composed outputs", replayOk))
        .filter(!_._2).map(t => (0L, t._1)).toDF("doc_id", "violation")
      extra.union(missing).union(lifecycle)
        .select(col("doc_id").cast("bigint").as("doc"), col("violation"))
    }),
    // FOUR-stage composed ingest (classifier score gate → substring →
    // near-dup → semantic) — the full CCNet-style production crawl
    // pipeline in one foreachBatch: timed body = replay of batch 0 through
    // all four stages (stateless stage -1 re-scores identically; the
    // stateful stages rewrite their own partitions / skip their markers)
    "d_composed4_gate" -> ((s, d) => fixtureSerialized("composed4", d) {
      val (substrIdx, textIdx, annIdx, qualityKept, cleanDir, textKept, kept, cents) =
        Fixtures.memo("composed4Gate", d)(buildComposed4GateFixture(s, d))
      graft.streaming.ComposedGate.ingestBatch4(
        gateSubBatch(composed4Arrivals(s, d), 0), "text", "embedding", "doc_id",
        composed4Model(s, d), ClsGateBuckets,
        substrIdx, textIdx, annIdx, cents, qualityKept, cleanDir, textKept,
        kept, 0L, SemGateTau, SemGateNprobe)
      s.catalog.refreshByPath(kept)
      s.read.parquet(kept).filter(col("ingest_batch") === 0L)
        .select(col("doc_id"))
    }),
    // four-stage composition contract: streamed final kept-set ≡ the
    // quality filter (scored with the SAME frozen model — stateless)
    // stacked on the THREE sequential reference pipelines, plus replay
    // identity across all SEVEN output tables, plus non-vacuity (the
    // planted junk docs must actually have been dropped at stage -1).
    // Violations frame provably empty
    "d_composed4_gate_contract" -> ((s, d) => fixtureSerialized("composed4", d) {
      import s.implicits._
      val (substrIdx, textIdx, annIdx, qualityKept, cleanDir, textKept, kept, cents) =
        Fixtures.memo("composed4Gate", d)(buildComposed4GateFixture(s, d))
      val model = composed4Model(s, d)
      val beforeReplay = composed4OutputsHash(
        s, substrIdx, textIdx, annIdx, qualityKept, cleanDir, textKept, kept)
      graft.streaming.ComposedGate.ingestBatch4(
        gateSubBatch(composed4Arrivals(s, d), 0), "text", "embedding", "doc_id",
        model, ClsGateBuckets,
        substrIdx, textIdx, annIdx, cents, qualityKept, cleanDir, textKept,
        kept, 0L, SemGateTau, SemGateNprobe)
      val replayOk = composed4OutputsHash(
        s, substrIdx, textIdx, annIdx, qualityKept, cleanDir, textKept,
        kept) == beforeReplay
      val b0 = gateSubBatch(composed4Arrivals(s, d), 0)
      val qualityRef = graft.CacheScope.localCheckpoint(b0.join(
        TextClassifier.scoreDocs(b0, "text", "doc_id", model, ClsGateBuckets)
          .filter(col("quality") === 1L).select(col("doc").as("doc_id")),
        Seq("doc_id")))
      val refKept = composed3ReferenceKept(s, d, Seq(qualityRef), cents)
      val streamKept = s.read.parquet(kept).select(col("doc_id"))
      val extra = streamKept.except(refKept)
        .withColumn("violation", lit("kept by composition, not by reference"))
      val missing = refKept.except(streamKept)
        .withColumn("violation", lit("kept by reference, not by composition"))
      // non-vacuity: every planted junk arrival of batch 0 must be absent
      // from the quality ledger (stage -1 dropped it) — otherwise the
      // classifier stage silently passed everything
      val planted = gateSubBatch(composed4Arrivals(s, d), 0)
        .filter(pmod(col("doc_id"), lit(16)) === 4).select(col("doc_id"))
      val leaked = s.read.parquet(qualityKept).select(col("doc_id"))
        .join(planted, Seq("doc_id"), "left_semi")
        .withColumn("violation", lit("planted junk doc survived the quality gate"))
      val lifecycle = Seq(("replay changed composed4 outputs", replayOk))
        .filter(!_._2).map(t => (0L, t._1)).toDF("doc_id", "violation")
      extra.union(missing).union(leaked).union(lifecycle)
        .select(col("doc_id").cast("bigint").as("doc"), col("violation"))
    }),
    "d_stream_gate" -> ((s, d) => fixtureSerialized("streamgate", d) {
      val (idx, kept, _, _) =
        Fixtures.memo("nearDupGate", d)(buildNearDupGateFixture(s, d))
      VersionedNearDup.gateBatch(
        gateSubBatch(tb(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(4)) === 0), 2),
        "text", "doc_id", idx, kept, 2L)
      s.read.parquet(kept).filter(col("ingest_batch") === 2L)
        .select(col("doc_id"))
    }),
    // gate lifecycle contract (the d_stream_gate correctness gate): the
    // streamed kept-set must equal an independently-composed SEQUENTIAL
    // pipeline (pure batch ops, no index/stream machinery) applying the
    // same first-arrival-wins semantics — including the retention delete
    // before batch 2 (forgotten docs must stop suppressing) — plus the
    // replay-identity and compact-invariance probes from the fixture
    // build. Violations frame provably empty, hash-gated
    "d_stream_gate_contract" -> ((s, d) => fixtureSerialized("streamgate", d) {
      import s.implicits._
      val (_, kept, replayOk, compactOk) =
        Fixtures.memo("nearDupGate", d)(buildNearDupGateFixture(s, d))
      val refKept = sequentialGateReferenceKept(s, d)
      val streamKept = s.read.parquet(kept).select(col("doc_id"))
      val extra = streamKept.except(refKept)
        .withColumn("violation", lit("kept by stream, not by reference"))
      val missing = refKept.except(streamKept)
        .withColumn("violation", lit("kept by reference, not by stream"))
      val lifecycle = Seq(
        ("replay changed gate outputs", replayOk),
        ("compact changed live manifest or left tombstones", compactOk))
        .filter(!_._2).map(t => (0L, t._1)).toDF("doc_id", "violation")
      extra.union(missing).union(lifecycle)
        .select(col("doc_id").cast("bigint").as("doc"), col("violation"))
    }),
    // the VERSIONED gate's bench face (runs before the contract in the
    // shared-JVM smoke, so the fixture build and the reference computation
    // are paid by DIFFERENT queries): full rename-free lifecycle — build,
    // two gate batches, replay, retention delete, third batch, generation
    // consolidation, vacuum — then the kept set. Correctness gate = the
    // _contract sibling
    "d_gate_versioned" -> ((s, d) => fixtureSerialized("versionedgate", d) {
      val (_, kept, _, _) =
        Fixtures.memo("versionedGate", d)(buildVersionedGateFixture(s, d))
      s.read.parquet(kept).select(col("doc_id"))
    }),
    // the VERSIONED gate's lifecycle contract: the rename-free gate
    // (marker-committed signature segments, generation-swap consolidation,
    // tombstone deletes — ZERO index-protocol directory renames, see
    // VersionedIndexSpec/VersionedNearDupSpec) must equal the SAME
    // sequential reference the in-place gate is pinned to, plus replay
    // identity and consolidate/vacuum invariance. Provably empty
    "d_gate_versioned_contract" -> ((s, d) => fixtureSerialized("versionedgate", d) {
      import s.implicits._
      val (_, kept, replayOk, compactOk) =
        Fixtures.memo("versionedGate", d)(buildVersionedGateFixture(s, d))
      val refKept = sequentialGateReferenceKept(s, d)
      val streamKept = s.read.parquet(kept).select(col("doc_id"))
      val extra = streamKept.except(refKept)
        .withColumn("violation", lit("kept by versioned gate, not by reference"))
      val missing = refKept.except(streamKept)
        .withColumn("violation", lit("kept by reference, not by versioned gate"))
      val lifecycle = Seq(
        ("replay changed gate outputs", replayOk),
        ("consolidate/vacuum changed live manifest, left tombstones, or kept generations", compactOk))
        .filter(!_._2).map(t => (0L, t._1)).toDF("doc_id", "violation")
      extra.union(missing).union(lifecycle)
        .select(col("doc_id").cast("bigint").as("doc"), col("violation"))
    }),
    // same settled-shape audit for the versioned near-dup gate root (its
    // fixture ends consolidate + ttl-0 vacuum)
    "d_gate_versioned_health_contract" -> ((s, d) => fixtureSerialized("versionedgate", d) {
      val (root, _, _, _) =
        Fixtures.memo("versionedGate", d)(buildVersionedGateFixture(s, d))
      GenerationLog.indexHealth(s, root)
        .filter(col("n_generations") =!= 1L || col("n_staged_debris") =!= 0L ||
          col("n_segments") =!= 0L || col("n_stream_segments") =!= 0L ||
          col("n_tombstones") =!= 0L)
        .select(col("n_generations"), col("n_segments"), col("n_tombstones"))
    }),
    // the LSH families' health audit (r10 verdict #5 — VersionedIvf.assignmentDrift's
    // twin): per-band bucket-occupancy stats of the persisted near-dup
    // index from ONE manifest scan, gated by SCALE-FREE healthy-shape
    // rules — a band whose biggest bucket holds over ~a tenth of all
    // signatures, or whose Σ|bucket|² (the gate's self-join mass) exceeds
    // 4× the signature count, is the degenerate low-entropy shape (the r1
    // SimHash skew class) that turns gate batches quadratic. Measured
    // headroom on the harness corpus: max_bucket ≤ 5 of 1250 sigs at
    // sf0.1 (rule: 125), sumsq/n_sigs ≤ 1.06 (rule: 4). The planted
    // degenerate corpus in NearDupIndexSpec trips both rules at every band
    "d_index_health" -> ((s, d) => fixtureSerialized("streamgate", d) {
      val (idx, _, _, _) =
        Fixtures.memo("nearDupGate", d)(buildNearDupGateFixture(s, d))
      Dedup.nearDupIndexBucketStats(s, idx)
        .filter(col("max_bucket") * 10 > col("n_sigs") + 50 ||
          col("sumsq") > col("n_sigs") * 4)
        .select(col("band"), col("n_sigs"), col("max_bucket"), col("sumsq"))
    }),
    // the substring-index twin: cross-batch window-key recurrence (keys
    // are unique per batch by construction, so max_key > 3 means the same
    // window content re-recorded by 4+ batches — pure per-probe scan
    // weight, the consolidation-overdue signal). Harness measurement:
    // max_key = 1 at every shipped SF
    "d_substr_index_health" -> ((s, d) => fixtureSerialized("substrgate", d) {
      val (idx, _, _) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      Dedup.substringIndexKeyStats(s, idx)
        .filter(col("max_key") > 3)
        .select(col("n_rows"), col("n_keys"), col("max_key"))
    }),
    // the streaming SEMANTIC dedup gate — SemDeDup at ingest over the
    // persisted IVF index (embedding twin of d_stream_gate): arrivals with
    // a cosine ≥ τ neighbor among EARLIER batches' vectors are dropped
    // (nprobe-bounded probe, tombstone-filtered), survivors self-dedup and
    // append to the index. Timing face: one full gate batch (re-gating
    // batch 2 is replay-idempotent)
    "s_semantic_gate" -> ((s, d) => fixtureSerialized("semgate", d) {
      val (idx, kept, _, cents) =
        Fixtures.memo("semanticGate", d)(buildSemanticGateFixture(s, d))
      val arrivals = tb(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(4)) === 0)
        .select(col("vec_id"), col("embedding"))
      Similarity.semanticGateBatch(semSubBatch(arrivals, 2), "embedding",
        "vec_id", idx, kept, cents, 2L, SemGateTau, SemGateNprobe)
      s.read.parquet(kept).filter(col("ingest_batch") === 2L)
        .select(col("vec_id"))
    }),
    // semantic-gate lifecycle contract: the streamed kept-set must equal an
    // independently composed sequential pipeline — in-memory ivfTopK
    // suppression against an accumulating corpus frame (same frozen
    // centroids/nprobe/τ, none of the index/stream machinery), including
    // the retention delete before batch 2 — plus the replay-identity probe.
    // Violations frame provably empty, hash-gated
    "s_semantic_gate_contract" -> ((s, d) => fixtureSerialized("semgate", d) {
      import s.implicits._
      val (_, kept, replayOk, cents) =
        Fixtures.memo("semanticGate", d)(buildSemanticGateFixture(s, d))
      val embs = tb(s, d, "embeddings")
      val base = embs.filter(pmod(col("vec_id"), lit(4)) === 2)
        .select(col("vec_id"), col("embedding"))
      val arrivals = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
        .select(col("vec_id"), col("embedding"))
      val deleted = base.filter(pmod(col("vec_id"), lit(20)) === 2)
        .select(col("vec_id").as("__t"))
      val (_, refKept) = (0 to 2).foldLeft(
        (graft.CacheScope.localCheckpoint(base),
          s.emptyDataset[Long].toDF("vec_id"))) { case ((corpusRef, acc), k) =>
        val cr =
          if (k == 2) corpusRef.join(broadcast(deleted),
            col("vec_id") === col("__t"), "left_anti")
          else corpusRef
        val bk = semSubBatch(arrivals, k)
        val sup = Similarity.ivfTopK(bk, cr, "embedding", "vec_id",
            k = 1, cents, SemGateNprobe)
          .filter(col("cos") >= SemGateTau).select(col("query_id"))
        val unseen = bk.join(sup, bk("vec_id") === sup("query_id"), "left_anti")
        val keptK = graft.CacheScope.localCheckpoint(
          Dedup.semanticKeepers(unseen, "embedding", "vec_id", SemGateTau))
        (graft.CacheScope.localCheckpoint(corpusRef.union(keptK)),
          acc.union(keptK.select(col("vec_id"))))
      }
      val streamKept = s.read.parquet(kept).select(col("vec_id"))
      val extra = streamKept.except(refKept)
        .withColumn("violation", lit("kept by stream, not by reference"))
      val missing = refKept.except(streamKept)
        .withColumn("violation", lit("kept by reference, not by stream"))
      val lifecycle = Seq(("replay changed gate outputs", replayOk))
        .filter(!_._2).map(t => (0L, t._1)).toDF("vec_id", "violation")
      extra.union(missing).union(lifecycle)
        .select(col("vec_id").cast("bigint").as("vec"), col("violation"))
    }),
    // the COMPOSED ingest pipeline — text near-dup gate → semantic gate in
    // one foreachBatch over one stream (the production stacking). Timing
    // face: one full composed batch (re-running batch 1 is replay-
    // idempotent through BOTH stages)
    "d_composed_gate" -> ((s, d) => fixtureSerialized("composed", d) {
      val (textIdx, annIdx, textKept, kept, cents) =
        Fixtures.memo("composedGate", d)(buildComposedGateFixture(s, d))
      graft.streaming.ComposedGate.ingestBatch(
        gateSubBatch(composedArrivals(s, d), 1), "text", "embedding", "doc_id",
        textIdx, annIdx, cents, textKept, kept, 1L,
        SemGateTau, SemGateNprobe)
      s.read.parquet(kept).filter(col("ingest_batch") === 1L)
        .select(col("doc_id"))
    }),
    // composed-gate lifecycle contract: the streamed composition's kept-set
    // must equal the two SEQUENTIAL reference pipelines stacked — the text
    // gate's exact-Jaccard fold feeding the semantic gate's in-memory
    // ivfTopK fold — plus replay identity across the whole composition
    // (batch 1 re-driven through ComposedGate.ingestBatch HERE, all four
    // output tables hash-compared). Violations frame provably empty,
    // hash-gated
    "d_composed_gate_contract" -> ((s, d) => fixtureSerialized("composed", d) {
      import s.implicits._
      val (textIdx, annIdx, textKept, kept, cents) =
        Fixtures.memo("composedGate", d)(buildComposedGateFixture(s, d))
      val beforeReplay = composedOutputsHash(s, textIdx, annIdx, textKept, kept)
      graft.streaming.ComposedGate.ingestBatch(
        gateSubBatch(composedArrivals(s, d), 1), "text", "embedding", "doc_id",
        textIdx, annIdx, cents, textKept, kept, 1L,
        SemGateTau, SemGateNprobe)
      val replayOk =
        composedOutputsHash(s, textIdx, annIdx, textKept, kept) == beforeReplay
      val docs = tb(s, d, "documents")
      val embs = tb(s, d, "embeddings")
      val arrivals = composedArrivals(s, d)
      def manifestOf(df: DataFrame): DataFrame =
        Dedup.nearDupManifest(df, "text", "doc_id", GateShingle, GateBands, GateRows)
      val man0 = graft.CacheScope.localCheckpoint(manifestOf(gateIndexBase(docs)))
      val corpus0 = graft.CacheScope.localCheckpoint(
        embs.filter(pmod(col("vec_id"), lit(4)) === 2)
          .select(col("vec_id").as("doc_id"), col("embedding")))
      val (_, _, refKept) = (0 to 1).foldLeft(
        (man0, corpus0, s.emptyDataset[Long].toDF("doc_id"))) {
        case ((man, corpusRef, acc), k) =>
          val bk = gateSubBatch(arrivals, k)
          // stage 1 reference: the text gate's exact-Jaccard pipeline
          // (eager checkpoints per round — the folded-plan-blowup lesson)
          val unseenT = Dedup.dropSeenNearDuplicates(
            bk, man, "text", "doc_id",
            GateShingle, GateNumer, GateDenom, GateBands, GateRows)
          val keptT = graft.CacheScope.localCheckpoint(Dedup.dropNearDuplicates(
            unseenT,
            Dedup.jaccardDuplicatePairs(unseenT, "text", "doc_id",
              GateShingle, GateNumer, GateDenom, GateBands, GateRows),
            "doc_id"))
          // stage 2 reference: semantic suppression against the
          // accumulating corpus, then in-batch semantic keepers
          val bkE = keptT.select(col("doc_id"), col("embedding"))
          val sup = Similarity.ivfTopK(bkE, corpusRef, "embedding", "doc_id",
              k = 1, cents, SemGateNprobe)
            .filter(col("cos") >= SemGateTau).select(col("query_id"))
          val unseenS = bkE.join(sup, bkE("doc_id") === sup("query_id"), "left_anti")
          val keptS = graft.CacheScope.localCheckpoint(
            Dedup.semanticKeepers(unseenS, "embedding", "doc_id", SemGateTau))
          (graft.CacheScope.localCheckpoint(
            man.union(manifestOf(keptT.select(col("doc_id"), col("text"))))),
            graft.CacheScope.localCheckpoint(corpusRef.union(keptS)),
            acc.union(keptS.select(col("doc_id"))))
      }
      val streamKept = s.read.parquet(kept).select(col("doc_id"))
      val extra = streamKept.except(refKept)
        .withColumn("violation", lit("kept by composition, not by reference"))
      val missing = refKept.except(streamKept)
        .withColumn("violation", lit("kept by reference, not by composition"))
      val lifecycle = Seq(("replay changed composed outputs", replayOk))
        .filter(!_._2).map(t => (0L, t._1)).toDF("doc_id", "violation")
      extra.union(missing).union(lifecycle)
        .select(col("doc_id").cast("bigint").as("doc"), col("violation"))
    }),
    // Bloom-manifest soundness: batch rows kept by the memory-resident
    // Bloom dedup gate that exact digests prove were in the corpus — the
    // no-false-negative property as a provably-empty frame
    "d_bloom_sound" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.bloomSeenViolations(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "text", "doc_id", expectedItems = 100000L)
    }),
    "d_jaccard_brute" -> ((s, d) =>
      Dedup.jaccardPairsBruteForce(tb(s, d, "documents"), "text", "doc_id",
        shingleSize = 3, numer = 1, denom = 2)),
    // directed shingle containment (the quote/subset lens Jaccard misses):
    // posting-list join over df-capped distinct trigrams, exact integer
    // ppm against the SOURCE's shingle count — both directions emit
    "d_containment" -> ((s, d) =>
      Dedup.containmentPairs(tb(s, d, "documents"), "text", "doc_id",
        shingleSize = 3, thresholdPpm = 600000L, maxDf = 500L)),
    // char-level Jaccard (the no-whitespace-text variant of the shingle
    // family); 5-grams at J ≥ 3/4 — validation-only like the other brutes
    "d_jaccard_char" -> ((s, d) =>
      Dedup.jaccardCharPairsBruteForce(tb(s, d, "documents"), "text", "doc_id",
        n = 5, numer = 3, denom = 4)),
    "d_jaccard_lsh" -> ((s, d) =>
      Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
        shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2, reuseShingles = true)),
    // manifest-only re-dedup: the SAME pair set as d_jaccard_lsh, computed
    // from the corpus' signature manifest with zero text re-read — shares
    // the brute-force oracle by the same recall-1.0 banding argument
    "d_manifest_pairs" -> ((s, d) =>
      Dedup.nearDupPairsFromManifest(
        Dedup.nearDupManifest(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, bands = 32, rowsPerBand = 2),
        numer = 1, denom = 2)),
    // raw LSH candidate pairs (no verify stage). Oracle-able because the
    // banding is deterministic and, on this corpus, the candidate SET
    // equals the exact J ≥ 1/2 pair set: every true pair here is an
    // identical-shingle-set pair (identical signatures always collide) and
    // no sub-threshold pair shares a band key — both pinned by the
    // OperatorsSpec set-equality test against the brute-force pairs
    "d_minhash_candidates" -> ((s, d) =>
      Dedup.minhashCandidatePairs(tb(s, d, "documents"), "text", "doc_id")),
    // exact SUBSTRING dedup (Lee et al. ExactSubstr at token granularity):
    // maximal removed token spans — all-but-first occurrences of every
    // duplicated 8-token window, overlaps merged. The hashed production
    // path; hash ≡ string pinned by the spec suite's brute contract
    "d_substr_spans" -> ((s, d) =>
      Dedup.substringRemovedSpans(tb(s, d, "documents"), "text", "doc_id", n = 8)
        .select(col("doc").as("doc_id"), col("span_start"), col("span_len"))),
    // the production face: text with the removed spans cut out (rebuilt
    // from kept tokens, whitespace-normalized); fully-duplicated docs drop
    "d_substr_clean" -> ((s, d) =>
      Dedup.substringClean(tb(s, d, "documents"), "text", "doc_id", n = 8)
        .select(col("doc").as("doc_id"), col("cleaned_text"))),
    // INCREMENTAL substring dedup: batch (ids ≥ 250) against the window
    // manifest of the earlier corpus (ids < 250) + within-batch keep-first
    // ≡ the one-shot pipeline's spans restricted to the batch docs (the
    // strictly-earlier arrival semantics — the oracle IS the one-shot SQL
    // filtered to the batch)
    "d_substr_incremental" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.substringSpansAgainstManifest(
        docs.filter(col("doc_id") >= 250),
        Dedup.substringWindowManifest(
          docs.filter(col("doc_id") < 250), "text", "doc_id", n = 8),
        "text", "doc_id", n = 8)
        .select(col("doc").as("doc_id"), col("span_start"), col("span_len"))
    }),
    "d_dup_clusters" -> ((s, d) =>
      // connected components over exact-Jaccard pairs (min-label
      // propagation); oracle = DuckDB recursive-CTE transitive closure
      Dedup.duplicateClusters(
        Dedup.jaccardPairsBruteForce(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2))),
    "d_dup_clusters_lsh" -> ((s, d) =>
      // the production composition: clusters over the LSH pair set (no
      // brute-force stage anywhere). Same recursive-CTE oracle as
      // d_dup_clusters — valid because LSH recall is 1.0 at J ≥ 1/2 with
      // 32×2 bands here, anchored by the d_jaccard_lsh ≡ brute spec test
      Dedup.duplicateClusters(
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2, reuseShingles = true)
          .select(col("doc_a"), col("doc_b")))),
    // alternating large-star/small-star components over the SAME LSH pair
    // set: the O(log n)-round scale path must land the identical clusters,
    // so it shares the recursive-CTE closure oracle
    "d_cc_altstar" -> ((s, d) =>
      Dedup.connectedComponentsAltStar(
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2, reuseShingles = true)
          .select(col("doc_a"), col("doc_b")))),
    // cluster-aware train/holdout assignment: near-dups never straddle the
    // split; the mixer replays in SQL so the oracle recomputes every label
    "d_split_leakfree" -> ((s, d) =>
      graft.operators.Curation.leakFreeSplit(
        tb(s, d, "documents"),
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2, reuseShingles = true)
          .select(col("doc_a"), col("doc_b")),
        "doc_id", numer = 4, denom = 5)
        .select(col("doc_id"), col("split"))),
    // production SimHash near-dup pairs (rows-only; distance/order contract
    // = _contract sibling, recall ≡ brute pinned in OperatorsSpec)
    "d_simhash_pairs" -> ((s, d) =>
      Dedup.simhashDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
        maxDist = 3, reuseSketches = true)),
    // SimHash pair contract (VERDICT r4 #2): every returned pair must
    // (a) be canonically ordered (doc_a < doc_b), (b) carry the TRUE
    // Hamming distance of the two docs' sketches — recomputed here from the
    // raw text through an independent join path — and (c) sit within
    // maxDist. Precision 1 by construction (the operator verifies exact
    // distance after the pigeonhole join); this pins that construction to
    // the hash gate.
    "d_simhash_pairs_contract" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val pairs = Dedup.simhashDuplicatePairs(docs, "text", "doc_id", maxDist = 3, reuseSketches = true)
      val sk = Dedup.simhashSketches(docs, "text", "doc_id")
      pairs
        .join(sk.select(col("doc").as("doc_a"), col("simhash").as("sk_a")), Seq("doc_a"))
        .join(sk.select(col("doc").as("doc_b"), col("simhash").as("sk_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("dist"),
          TextOps.hamming64(col("sk_a"), col("sk_b")).as("true_dist"))
        .filter(col("doc_a") >= col("doc_b") || col("dist") =!= col("true_dist") ||
          col("true_dist") > 3)
    }),
    // exact-cosine pair oracle for the embedding near-dup path (O(n²),
    // validation-only — excluded from bench like the other brute oracles)
    "d_embed_brute" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val a = emb.select(col("vec_id").as("doc_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("doc_b"), col("embedding").as("vb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          Similarity.cosine(col("va"), col("vb")).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("doc_a"), col("doc_b"))
    }),
    // survivors of near-dup clustering over the LSH pair set: everything but
    // the non-minimum members of each duplicate cluster
    "d_keepers" -> ((s, d) =>
      Dedup.dropNearDuplicates(
        tb(s, d, "documents"),
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2, reuseShingles = true)
          .select(col("doc_a"), col("doc_b")),
        "doc_id")
        .select(col("doc_id"))),
    // quality-ranked keepers: same clusters, but each keeps its LONGEST
    // member (ties → lowest id) — the production policy (keep the cleanest
    // copy), exercised against the recursive-closure oracle with the same
    // ranking restated in SQL
    "d_keepers_quality" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.dropNearDuplicatesByQuality(
        docs,
        Dedup.jaccardDuplicatePairs(docs, "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2, reuseShingles = true)
          .select(col("doc_a"), col("doc_b")),
        "doc_id", length(col("text")))
        .select(col("doc_id"))
    }),
    // salted equi-join (the AQE-can't-fix skew fallback) must be a drop-in:
    // same aggregate as the plain join, verified against the plain-join oracle
    "j11_salted_join" -> ((s, d) => {
      val o = t(s, d, "orders").withColumnRenamed("o_custkey", "custkey")
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(o, c, Seq("custkey"), buckets = 8,
          uniqueIdCol = Some("o_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
    }),
    // bloom-pruned join must also be a drop-in: the filter only removes
    // provably-unmatched big rows before the shuffle, so the plain-join
    // oracle hash-matches exactly
    "j12_bloom_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val p = t(s, d, "part").filter(col("p_size") === 1)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.operators.BloomJoin.bloomPrunedJoin(li, p, Seq("partkey"),
          expectedItems = 10000L, fpp = 0.01)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    }),
    // bounded-staleness as-of: each purchase matched to the user's most
    // recent click, but a click older than 2 h is no match (nulled) —
    // inner-filtered here so the oracle is the windowed containment join.
    // Same-instant clicks collapse to max(event_id) per the asOfWithin tie
    // contract
    "j16_asof_tolerance" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("c_user"), col("click_ts"), col("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"), col("ts"))
      graft.operators.AsOfJoin.asOfWithin(
          purchases, clicks.withColumnRenamed("c_user", "user_id"),
          "user_id", "ts", "click_ts", Seq("click_id"), maxAgeSeconds = 7200L)
        .filter(col("click_id").isNotNull)
    }),
    // adaptive (heavy-key-only) salting: a third of orders are folded onto
    // custkey 1 — sampled detection must find the planted hot key (the
    // require() pins routing actually engages), light keys join unsalted,
    // and the whole result is a drop-in for the plain join's oracle
    "j15_adaptive_skew" -> ((s, d) => {
      val o = t(s, d, "orders").withColumn("custkey",
        when(col("o_orderkey") % 3 === 0, lit(1L)).otherwise(col("o_custkey")))
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val heavy = graft.operators.SkewJoin.detectHeavyKeys(
        o, Seq("custkey"), heavyShareDenom = 10L)
      // bounded collect: > 1/10-share keys — at most 9 rows by construction
      val hkeys = heavy.collect().map(_.getLong(0)).toSet
      require(hkeys.contains(1L), s"planted hot key not detected: $hkeys")
      graft.operators.SkewJoin.adaptiveSaltedJoin(o, c, Seq("custkey"),
          buckets = 8, heavyKeys = Some(heavy), uniqueIdCol = Some("o_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
    }),
    // hybrid-retrieval rank fusion: dense-cosine and L2 rankers fused by
    // reciprocal rank (RRF) in exact integer contributions — fusion cost
    // is answer-sized (k·|queries| rows per ranker), never corpus-sized
    // HYBRID retrieval — the RAG-era production shape: lexical BM25 and
    // dense cosine ranked independently over the SAME id space
    // (documents ⋈ embeddings), fused by integer RRF. Pure composition of
    // three gated operators; exact-integer fusion keeps it hash-stable
    "s_hybrid_retrieval" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val embs = tb(s, d, "embeddings")
      val lex = SparseSim.bm25TopK(docs, docs.filter(col("doc_id") < 5),
        "text", "doc_id", "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(embs.filter(col("vec_id") < 5),
        embs, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id").as("item_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, dense), k0 = 60, k = 5)
        .select(col("query_id"), col("item_id"), col("rrf_x1e9"),
          col("rank").cast("bigint").as("rank"))
    }),
    // the PERSISTED text-retrieval index (round-11 close of the r10 gap):
    // tf/df/doc-length/stats staged once as a marker-committed segment,
    // probed WITHOUT touching the corpus — partition-pruned to the query
    // terms' hash buckets. Same oracle as the recompute face (t_bm25_topk):
    // a lost posting, wrong bucket, or drifted stat cannot hash-match
    "s_bm25_indexed" -> ((s, d) =>
      SparseSim.bm25TopKFromIndex(s, bm25IndexPath(s, d),
        tb(s, d, "documents").filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))),
    // the FROZEN-STATS incremental-ingest face: base segment on 3/4 of the
    // corpus, the last quarter appended as its own committed segment.
    // Appended docs retrieve through the BASE's df/N/avgdl (the frozen-
    // centroid contract transplanted to text) — the oracle restates
    // exactly that split, so staleness semantics are themselves hash-gated
    "s_bm25_appended" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val path = bm25AppendIndexPath(s, docs, d)
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    }),
    // the BM25 staleness audit — third of the health trilogy (IVF drift,
    // LSH bucket skew, BM25 segment staleness): segment metadata +
    // footer-only posting counts, gated by scale-free shape rules on the
    // append fixture — appends past 4× the base's postings mean frozen-df
    // scores have drifted too far (consolidate), 64+ segments mean probes
    // pay too many per-segment reads. Fixture shape: 2 segments, appended/
    // base ≈ 1/3, zero tombstones — ~12× headroom on both rules
    "s_bm25_health" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val path = bm25AppendIndexPath(s, docs, d)
      SparseSim.bm25IndexStats(s, path)
        .filter(col("n_segments") > 64 ||
          col("appended_rows") > col("base_rows") * 4 ||
          col("tombstoned_ids") > col("base_rows"))
        .select(col("n_segments"), col("base_rows"), col("appended_rows"),
          col("tombstoned_ids"))
    }),
    // the RETENTION-DELETE face of the BM25 index (the near-dup tombstone
    // contract on text retrieval): full build, doc_id % 7 == 3 tombstoned
    // — deleted docs stop RETRIEVING immediately while df/N/avgdl stay
    // frozen (the oracle restates exactly that split), no segment rewrite
    "s_bm25_deleted" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25DelIndex", d) {
        val dir = Fixtures.dir("bm25del")
        SparseSim.writeBm25Index(docs, "text", "doc_id", dir.toString)
        SparseSim.deleteFromBm25Index(
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id", dir.toString)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    }),
    // …and the PHYSICAL PURGE: consolidation excludes tombstoned postings,
    // recomputes df/N/avgdl WITHOUT them and clears the tombstones — the
    // purged index must equal a from-scratch build on the survivors, so
    // the oracle is the full recompute restricted to doc_id % 7 != 3
    "s_bm25_delete_purged" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25DelPurgedIndex", d) {
        val dir = Fixtures.dir("bm25delp")
        SparseSim.writeBm25Index(docs, "text", "doc_id", dir.toString)
        SparseSim.deleteFromBm25Index(
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id", dir.toString)
        SparseSim.consolidateBm25Index(s, dir.toString)
        SparseSim.vacuumBm25Index(s, dir.toString)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    }),
    // the STREAMING-ingest face of the BM25 index: document batches land
    // as files, each micro-batch commits as its own posting segment whose
    // marker records the batch id (visibility IS the marker, so the
    // stage-then-commit protocol doubles as the replay guard — no dynamic
    // overwrite). Same frozen-stats semantics as the batch append, so the
    // probe shares s_bm25_appended's oracle: a batch lost, duplicated, or
    // double-committed by a replay cannot hash-match
    "e_bm25_stream_append" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25StreamIndex", d) {
        val dir = Fixtures.dir("bm25str")
        val landing = Fixtures.dir("bm25land")
        val ckpt = Fixtures.dir("bm25ck")
        SparseSim.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 3),
          "text", "doc_id", dir.toString)
        val arrivals = docs.filter(col("doc_id") % 4 === 3)
          .select(col("doc_id"), col("text"))
        Seq(0, 1).foreach(k => landBatch(
          arrivals.filter(pmod(col("doc_id"), lit(8)) === lit(3 + 4 * k)), landing, k))
        SparseSim.streamAppendToBm25Index(
          s.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1)
            .parquet(landing.toString),
          "text", "doc_id", dir.toString, ckpt.toString)
          .awaitTermination()
        // replay probe: re-running batch 1 must skip via its marker —
        // the probe below would double-count postings otherwise
        SparseSim.ingestBatchToBm25Index(
          arrivals.filter(pmod(col("doc_id"), lit(8)) === 7),
          "text", "doc_id", dir.toString, 1L)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    }),
    // CONSOLIDATION — the frozen-stats contract's recourse: the same
    // base+append fixture shape as s_bm25_appended, then the visible
    // generation merged into ONE fresh base FROM THE STORED POSTINGS
    // (df/N/avgdl recomputed; corpus text never read). After the merge the
    // index must equal a from-scratch full-corpus build — so this face
    // shares the FULL-recompute oracle (t_bm25_topk's), which is exactly
    // the staleness-reset claim in hash form
    "s_bm25_consolidated" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25ConsolidatedIndex", d) {
        val dir = Fixtures.dir("bm25cons")
        SparseSim.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 3),
          "text", "doc_id", dir.toString)
        SparseSim.appendToBm25Index(docs.filter(col("doc_id") % 4 === 3),
          "text", "doc_id", dir.toString)
        SparseSim.consolidateBm25Index(s, dir.toString)
        SparseSim.vacuumBm25Index(s, dir.toString)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    }),
    // hybrid retrieval COMPOSED FROM THE PERSISTED INDEXES — the
    // production serving shape: BM25 from the posting segments, dense from
    // the IVF index at nprobe = #centroids (provably exact), fused by
    // integer RRF. Shares s_hybrid_retrieval's fully-recomputed oracle, so
    // index-vs-recompute equivalence rides the hash gate end-to-end
    "s_hybrid_indexed" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      val embs = tb(s, d, "embeddings")
      val lex = SparseSim.bm25TopKFromIndex(s, bm25IndexPath(s, d),
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val dense = VersionedIvf.topKFromIndex(s, ivfIndexPath(s, d),
        embs.filter(col("vec_id") < 5), "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id").as("item_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, dense), k0 = 60, k = 5)
        .select(col("query_id"), col("item_id"), col("rrf_x1e9"),
          col("rank").cast("bigint").as("rank"))
    }),
    "s_rrf_fuse" -> ((s, d) => {
      val embs = tb(s, d, "embeddings")
      val queries = embs.filter(col("vec_id") < 10)
      val cosR = Similarity.bruteForceTopK(queries, embs, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id").as("item_id"), col("rank"))
      val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = embs.select(col("vec_id").as("item_id"), col("embedding").as("cv"))
      val l2 = c.join(broadcast(q), col("query_id") =!= col("item_id"))
        .select(col("query_id"), col("item_id"),
          aggregate(
            zip_with(col("qv"), col("cv"),
              (a, b) => (a.cast("double") - b.cast("double")) * (a.cast("double") - b.cast("double"))),
            lit(0.0), (acc, e) => acc + e).as("d2"))
      val wL2 = Window.partitionBy(col("query_id"))
        .orderBy(col("d2").asc, col("item_id").asc)
      val l2R = l2.withColumn("rank", row_number().over(wL2))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("item_id"), col("rank"))
      Similarity.rrfFuse(Seq(cosR, l2R), k0 = 60, k = 5)
    }),
    // link-graph centrality for source-quality weighting: PageRank over
    // the supplier↔part co-occurrence graph in exact fixed-point BIGINT
    // arithmetic — rank sums are order-independent integers, so the full
    // per-node rank vector hash-matches an independent engine (the floating
    // -point version could never be oracle-gated; see PageRank.ranks).
    // Node ids: part → 2k, supplier → 2k+1
    "g_pagerank" -> ((s, d) => {
      // no .distinct() here: ranks() dedups the edge set itself, so an
      // inner distinct would only add an exchange ahead of the outer one
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      // ranksUndirected ≡ ranks(undirected(pairs)) with the pair dedup run
      // BEFORE doubling and the redundant node-set/sink setup removed
      PageRank.ranksUndirected(
        li.select((col("s") * 2 + 1).as("a"), (col("p") * 2).as("b")), "a", "b",
        iters = 3)
        .select(col("node"), col("r").as("rank_x1e12"))
    }),
    // fuzzy record linkage: blocked Jaro-Winkler pairs over part names.
    // Blocking on (brand, size) bounds the comparison space to Σ|block|²
    // (≤ 28² per block at sf0.1 vs 20000² unblocked); the native
    // JaroWinklerExpr is bit-identical to DuckDB's comparator (probed over
    // 5000 random pairs, pinned in LinkageSpec), so the similarity column
    // itself is oracle-hashed — not just the pair set
    "j17_linkage" -> ((s, d) => {
      val parts = t(s, d, "part")
      Linkage.blockedPairs(parts, "p_partkey", "p_name",
          concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
          threshold = 0.9)
        .select(col("block"), col("a_id"), col("b_id"),
          round(col("sim") * 1e6).cast("long").as("jw_x1e6"))
    }),
    // the full ER pipeline: fuzzy pairs → connected-component entities
    // (alt-star, min-id label) → golden record per entity by survivorship
    // (highest price, id tie-break). The oracle replays the closure with a
    // recursive CTE — component labels, membership counts, AND the chosen
    // golden rows all hash-match
    "j18_golden" -> ((s, d) => {
      val parts = t(s, d, "part")
      val pairs = Linkage.blockedPairs(parts, "p_partkey", "p_name",
        concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
        threshold = 0.9)
      val labeled = Linkage.entities(parts, "p_partkey", pairs)
      Linkage.goldenRecords(labeled, "p_partkey", Seq(col("p_retailprice").desc))
        .select(col("entity"), col("p_partkey").as("golden_id"), col("n_members"))
    }),
    // sorted-neighborhood near-dup: rank docs per language by a normalized
    // 32-char prefix, pair each doc with its 4 rank-predecessors, keep
    // edit-distance ≤ 8 prefixes. Comparisons are n·w by construction —
    // skew-immune where blocking alone is quadratic in the worst block —
    // and the rank join is an equi-join on (block, rn − off), not a range
    // join (see Linkage.sortedNeighborhoodPairs)
    "d_sorted_neighborhood" -> ((s, d) => {
      val docs = tb(s, d, "documents")
      Linkage.sortedNeighborhoodPairs(docs, "doc_id", col("lang"),
          lower(substring(col("text"), 1, 32)), window = 4)
        .withColumn("lev", levenshtein(col("a_key"), col("b_key")))
        .filter(col("lev") <= 8)
        .select(col("block"), col("a_id"), col("b_id"),
          col("rank_distance"), col("lev"))
    }),
    // --- multimodal ---------------------------------------------------------
    // production media features: real executor-encoded PNGs → real
    // javax.imageio decode → dims + luminance-grid features, embedding
    // JSON-rendered (the verify harness can't sort a raw array column).
    // rows-only; decode determinism = _contract sibling
    "m_media_features" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 16))
        .withColumn("embedding", to_json(col("embedding")))
    }),
    // feature-determinism contract (VERDICT r4 #2): two INDEPENDENT passes
    // through the full encode→imageio-decode→feature pipeline must agree on
    // every field of every row — the property that makes media features
    // safe to cache/manifest at corpus scale (a nondeterministic decode
    // would silently poison any incremental pipeline built on it). Rows are
    // compared as canonical JSON; the full-outer join also catches a pass
    // dropping or duplicating rows. Violations frame provably empty.
    "m_media_features_contract" -> ((s, d) => {
      import s.implicits._
      def pass(): DataFrame = {
        val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
        Multimodal.featureFrame(
          Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 16))
          .select(col("media_id"), to_json(struct(col("kind"), col("width"),
            col("height"), col("duration_ms"), col("n_bytes"), col("embedding"))).as("row_json"))
      }
      val a = pass().withColumnRenamed("row_json", "row_a")
      val b = pass().withColumnRenamed("row_json", "row_b")
      a.join(b, Seq("media_id"), "full_outer")
        .filter(col("row_a").isNull || col("row_b").isNull ||
          col("row_a") =!= col("row_b"))
        .select(col("media_id"), col("row_a"), col("row_b"))
    }),
    // envelope-only media features: width/height come from the REAL imageio
    // decode of the synthetic PNGs, whose dims are id-derived — so the whole
    // encode→decode loop is SQL-predictable and hash-checked
    "m_media_dims" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 4))
        .select(col("media_id"), col("kind"), col("width"), col("height"), col("duration_ms"))
    }),
    // audio envelope via the REAL javax.sound decode of synthetic WAVs whose
    // duration is id-derived — the encode→decode loop is SQL-predictable
    "m_audio_dims" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticWavCorpus(ids), dim = 4))
        .select(col("media_id"), col("kind"), col("duration_ms"))
    }),
    // production perceptual-hash image near-dup: 50 distinct synthetic PNGs
    // plus an exact twin of each (media_id offset +1000) through the real
    // imageio decode → luminance grid → aHash → pigeonhole pair machinery.
    // rows-only; planted-twin recovery contract = _contract sibling
    "m_image_neardup" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      val feats = Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 64))
        .select(col("media_id"), col("embedding"))
      val twins = feats.withColumn("media_id", col("media_id") + 1000)
      Multimodal.imageNearDupPairs(feats.union(twins), maxDist = 3)
        .select(col("doc_a"), col("doc_b"), col("dist"))
    }),
    // planted-twin contract (VERDICT r4 #2): every planted twin pair MUST be
    // recovered at Hamming distance exactly 0 (recall side), and no returned
    // pair may exceed maxDist or break canonical ordering (precision side).
    // Violations frame provably empty, hash-gated.
    "m_image_neardup_contract" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      val feats = Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 64))
        .select(col("media_id"), col("embedding"))
      val twins = feats.withColumn("media_id", col("media_id") + 1000)
      val pairs = Multimodal.imageNearDupPairs(feats.union(twins), maxDist = 3)
        .select(col("doc_a"), col("doc_b"), col("dist"))
      val planted = feats.select(col("media_id").as("doc_a"),
        (col("media_id") + 1000).as("doc_b"))
      val notRecovered = planted
        .join(pairs, Seq("doc_a", "doc_b"), "left")
        .filter(col("dist").isNull || col("dist") =!= 0)
        .select(col("doc_a"), col("doc_b"), lit("twin not recovered at dist 0").as("violation"))
      val badPair = pairs
        .filter(col("dist") > 3 || col("dist") < 0 || col("doc_a") >= col("doc_b"))
        .select(col("doc_a"), col("doc_b"), lit("pair outside contract").as("violation"))
      notRecovered.union(badPair)
    }),
    // video frame sampling through the REAL MJPEG-in-AVI codec: each doc id
    // becomes an actual AVI container of ImageIO-encoded JPEG frames
    // (1 + id % 8 frames at 2 fps), the container is parsed back and frames
    // sampled — so duration, sample count, and timestamps are id-derived
    // and the whole encode→parse→sample loop rides the hash gate
    // silence-split audio segmentation (VAD) through the REAL decode path:
    // the corpus plants a window-aligned 200 ms silent gap per clip at a
    // SQL-predictable offset, so the full segment table hash-checks
    "m_audio_segments" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.audioSegments(
        Multimodal.syntheticGapWavCorpus(ids), windowMs = 50, rmsThreshold = 0.1)
    }),
    // shot-boundary detection through the REAL codec path (AVI parse +
    // per-frame JPEG decode): the corpus plants one luminance cut per
    // video at a SQL-predictable index, so the full boundary table runs
    // under the hash gate — the oracle states it outright
    "m_shot_bounds" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.shotBoundaries(
        Multimodal.syntheticShotAviCorpus(ids, framesPerVideo = 8),
        threshold = 0.5)
    }),
    "m_frame_sample" -> ((s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.sampleFrames(
        Multimodal.syntheticAviCorpus(ids, fps = 2, maxFramesPerVideo = 8),
        maxFrames = 4).toDF()
        .select(col("media_id"), col("frame_idx"), col("ts_ms"))
    }),
    // production embedding near-dup pairs. Threshold 0.4 because the
    // synthetic embeddings are near-orthogonal (max pairwise cosine ≈ 0.51)
    // — a production-style 0.9 cutoff would vacuously return 0 candidates.
    // rows-only; precision contract = _contract sibling
    "d_embed_neardup" -> ((s, d) =>
      Dedup.embeddingDuplicatePairs(tb(s, d, "embeddings"), "embedding", "vec_id",
        threshold = 0.4, planes = 4)),
    // embedding near-dup precision contract (VERDICT r4 #2): every returned
    // pair must really have cosine ≥ threshold — recomputed here through
    // the COMPOSABLE zip_with/aggregate implementation ([[Similarity.dot]]/
    // [[Similarity.norm]]), a fully independent code path from the native
    // Catalyst expression the operator uses (documented bit-identical; this
    // pins that claim to the hash gate too). Pairs ⊆ brute-pairs follows:
    // brute IS "all pairs with exact cosine ≥ threshold". Canonical
    // ordering checked alongside.
    "d_embed_neardup_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val pairs = Dedup.embeddingDuplicatePairs(emb, "embedding", "vec_id",
        threshold = 0.4, planes = 4)
      pairs
        .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("va")), Seq("doc_a"))
        .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("vb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("cos"),
          Similarity.dot(col("va"), col("vb")).as("dp"),
          (Similarity.norm(col("va")) * Similarity.norm(col("vb"))).as("nn"))
        .filter(col("doc_a") >= col("doc_b") ||
          col("cos") < 0.4 ||
          when(col("nn") > 0, abs(col("cos") - col("dp") / col("nn")) > 1e-9)
            .otherwise(col("cos") =!= 0.0))
        .select(col("doc_a"), col("doc_b"))
    }),
    // SemDeDup keeper selection, exact-pair-fed so the recursive-CTE closure
    // oracle applies (validation-only in bench: the pair stage is O(n²); the
    // production path is semanticKeepers(exact = false), LSH-fed, pinned to
    // this one by the planted-duplicate spec)
    "d_semantic_keepers" -> ((s, d) =>
      Dedup.semanticKeepers(tb(s, d, "embeddings"), "embedding", "vec_id",
        threshold = 0.4, exact = true)
        .select(col("vec_id"))),
    // --- similarity ---------------------------------------------------------
    // the Lloyd ASSIGNMENT step, pinned cross-engine: nearest centroid (max
    // cosine, ties → larger index — greatest(struct(sim, idx)) semantics)
    // against the deterministic seed set trainIvfCentroids starts from
    // (first k vectors by id). The exact-probe IVF gates (nprobe = all ≡
    // brute) hold for ANY bucketing, so this is the one query that anchors
    // the trainer/bucketer's argmax itself against an independent engine
    // prototypicality pruning (Sorscher et al.): keep the HARDEST quarter
    // of each cluster — cosine-to-assigned-centroid ranking, integer-exact
    // per-cluster quota (⌊n/4⌋), same fixed seed centroids as the kmeans
    // faces so the whole selection replays in SQL
    "s_prototype_prune" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .select(col("embedding")).collect() // bounded: k = 8 rows
        .map(_.getSeq[Float](0).toSeq).toSeq
      Similarity.pruneByPrototypicality(emb, "embedding", "vec_id", seeds,
        keepNumer = 1, keepDenom = 4)
        .select(col("vec_id"), col("cluster"))
    }),
    "s_kmeans_assign" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .select(col("embedding")).collect() // bounded: k = 8 rows
        .map(_.getSeq[Float](0).toSeq).toSeq
      emb.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding"), seeds)
          .cast("bigint").as("cluster"))
    }),
    // ...and the Lloyd UPDATE step: per-(cluster, dimension) mean of the
    // assigned vectors, exactly the aggregation trainIvfCentroids folds
    // back into the next round's centroids. Emitted as FLOAT — the float32
    // rounding absorbs double summation-order noise (a ~1e-15-relative
    // double difference almost never straddles a ~1e-7-wide float32
    // boundary), so the full train round (assign + update) is cross-engine
    // pinned without a tolerance oracle
    "s_kmeans_update" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .select(col("embedding")).collect() // bounded: k = 8 rows
        .map(_.getSeq[Float](0).toSeq).toSeq
      emb.select(Similarity.nearestCentroid(col("embedding"), seeds).as("c"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("c"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .select(col("c").cast("bigint").as("c"), col("pos").cast("bigint").as("pos"),
          col("m").cast("float").as("m"))
    }),
    "s_knn_brute" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // production multi-table (OR-amplified) LSH top-k: 16 independent
    // 6-plane families — the production recall knob; single-table recall on
    // this worst-case near-orthogonal corpus is ~5%, 16 tables measure
    // 50-72%. rows-only (recall < 1 by design); floor contract = sibling
    "s_knn_lsh" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, planes = 6, tables = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // production IVF top-k: coarse-quantize once, probe top-nprobe centroid
    // buckets, exact re-rank. rows-only; floor contract = sibling
    "s_knn_ivf" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, centroids, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // ANN recall-floor contracts (VERDICT r4 #2): recall < 1 by design on
    // both approximate paths, so the hash-gated property is a FLOOR on
    // aggregate recall@k vs the brute-force frame. Both sides are seeded-
    // deterministic, so measured recall is a constant per dataset; the
    // committed floors sit below the measured values at every shipped SF
    // (see BASELINE.md) and trip on any bucketing/probe regression.
    "s_knn_lsh_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.recallFloorViolations(
        Similarity.lshTopK(q, emb, "embedding", "vec_id", k = 5, planes = 6, tables = 16),
        Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
        floorX1000 = KnnLshRecallFloorX1000)
    }),
    "s_knn_ivf_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      Similarity.recallFloorViolations(
        Similarity.ivfTopK(q, emb, "embedding", "vec_id", k = 5, centroids, nprobe = 2),
        Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
        floorX1000 = KnnIvfRecallFloorX1000)
    }),
    "s_knn_ivf_exact" -> ((s, d) => {
      // nprobe = #centroids → every bucket probed → provably equal to brute
      // force: the IVF machinery itself (training, assignment, probe join,
      // re-rank) rides the hash gate, not just a rows-only check
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
        k = 5, centroids, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // production PQ-ADC top-k: 8 subspaces × 32-centroid codebooks, per-
    // query LUT built before the probe, top rerank·k by approximate inner
    // product re-ranked with exact cosine on the candidates' float
    // originals only. The index payload is 8 ints/vector (vs 64 floats) —
    // the memory face of 100 TB ANN. rows-only; floor contract = sibling
    "s_knn_pq" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val books = Similarity.trainPqCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 32)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, books, rerank = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    "s_knn_pq_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val books = Similarity.trainPqCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 32)
      Similarity.recallFloorViolations(
        Similarity.pqTopK(q, emb, "embedding", "vec_id", k = 5, books, rerank = 16),
        Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
        floorX1000 = KnnPqRecallFloorX1000)
    }),
    "s_knn_pq_exact" -> ((s, d) => {
      // rerank·k ≥ corpus → every candidate re-ranked exactly → provably
      // equal to brute force: codebook training, encoding, the ADC probe
      // and the re-rank join all ride the hash gate, not just rows-only
      val emb = tb(s, d, "embeddings")
      val books = Similarity.trainPqCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 32)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, books, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // production IVF-PQ (the FAISS-style corpus-scale architecture): coarse
    // centroids gate the probe to nprobe/k_coarse of the corpus, PQ codes of
    // the RESIDUALS v - c[cluster] score survivors via the same per-query
    // LUT as flat PQ (⟨q, c+r⟩ = ⟨q,c⟩ + ⟨q,r⟩ — the LUT is linear), exact
    // cosine re-ranks the short list. rows-only; floor contract = sibling
    "s_knn_ivfpq" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
        centroids, m = 8, ksub = 32)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, centroids, books, nprobe = 3, rerank = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    "s_knn_ivfpq_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
        centroids, m = 8, ksub = 32)
      Similarity.recallFloorViolations(
        Similarity.ivfPqTopK(q, emb, "embedding", "vec_id", k = 5, centroids, books,
          nprobe = 3, rerank = 16),
        Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
        floorX1000 = KnnIvfPqRecallFloorX1000)
    }),
    "s_knn_ivfpq_exact" -> ((s, d) => {
      // nprobe = #centroids AND rerank·k ≥ corpus → every corpus vector is
      // ADC-scored exactly once (it joins its single assigned cluster) and
      // every candidate is exactly re-ranked → provably equal to brute
      // force: coarse training, residual codebooks, the gated ADC probe and
      // the re-rank all ride the hash gate
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
        centroids, m = 8, ksub = 32)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, centroids, books, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    "s_knn_indexed" -> ((s, d) => {
      // the PERSISTED index path: centroids + cluster-partitioned corpus on
      // disk (built once per sf dir), probed without re-assignment.
      // nprobe = #centroids keeps it provably equal to brute force, so the
      // whole write→read→probe loop rides the hash gate
      val emb = tb(s, d, "embeddings")
      VersionedIvf.topKFromIndex(s, ivfIndexPath(s, d), emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the incremental-ingest face of the persisted index (the 100 TB shape:
    // daily arrivals are assigned against the FROZEN centroids and appended
    // to their cluster partitions — no retrain, no rewrite). Built from
    // HALF the corpus + VersionedIvf.append of the other half; nprobe =
    // #centroids makes the probe provably equal to brute force over the
    // FULL corpus, so build + append + probe all ride the hash gate — a
    // lost or double-appended row could not hash-match
    "s_knn_indexed_incremental" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfIncrIndex", d) {
        val dir = Fixtures.dir("ivfidxinc")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val half2 = emb.filter(col("vec_id") % 2 === 1)
        // centroids trained on the base half only — the frozen-quantizer
        // contract is exactly that later arrivals never influence them
        VersionedIvf.write(half1, "embedding", "vec_id",
          Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8), dir.toString)
        VersionedIvf.append(half2, "embedding", "vec_id", dir.toString)
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the STREAMING-ingest face of the index: arrivals land as files, a
    // Structured Streaming query assigns each micro-batch against the
    // FROZEN centroids and appends into per-batch partitions (replay-
    // idempotent). nprobe = #centroids ⇒ probe ≡ brute over the full
    // corpus — a batch lost, duplicated, or mis-assigned cannot hash-match
    "e_stream_index_append" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfStreamIndex", d) {
        val dir = Fixtures.dir("ivfidxstr")
        val landing = Fixtures.dir("ivfland")
        val ckpt = Fixtures.dir("ivfstrck")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val half2 = emb.filter(col("vec_id") % 2 === 1)
        VersionedIvf.write(half1, "embedding", "vec_id",
          Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8), dir.toString)
        half2.repartition(4).write.mode("overwrite").parquet(landing.toString)
        VersionedIvf.streamAppend(
          s.readStream.schema(half2.schema).option("maxFilesPerTrigger", 1)
            .parquet(landing.toString),
          "embedding", "vec_id", dir.toString, ckpt.toString)
          .awaitTermination()
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the versioned index's STREAMING ingest: each micro-batch lands as a
    // marker-committed SEGMENT (dir-create + file-create only — replay
    // detected by the `.s<batchId>` marker suffix, so exactly-once without
    // dynamic partition overwrite, whose job commit renames directories and
    // is banned on object stores). Exhaustive probe ≡ full-corpus brute
    "e_versioned_stream_ingest" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedStream", d) {
        val dir = Fixtures.dir("ivfverstr")
        val landing = Fixtures.dir("ivfverland")
        val ckpt = Fixtures.dir("ivfverck")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val half2 = emb.filter(col("vec_id") % 2 === 1)
        VersionedIvf.write(half1, "embedding", "vec_id",
          Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8),
          dir.toString)
        half2.repartition(4).write.mode("overwrite").parquet(landing.toString)
        VersionedIvf.streamAppend(
          s.readStream.schema(half2.schema).option("maxFilesPerTrigger", 1)
            .parquet(landing.toString),
          "embedding", "vec_id", dir.toString, ckpt.toString)
          .awaitTermination()
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the DELETE face of the index lifecycle (retention / right-to-be-
    // forgotten): full build, then every vec_id % 7 == 3 deleted IN PLACE —
    // only the affected cluster partitions rewrite (emptied ones drop).
    // Exhaustive probe ≡ brute force over the SURVIVING corpus: a row that
    // out-lives its delete, or a survivor lost in the rewrite, cannot
    // hash-match
    "s_knn_indexed_deleted" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfDelIndex", d) {
        val dir = Fixtures.dir("ivfidxdel")
        VersionedIvf.write(emb, "embedding", "vec_id",
          Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8), dir.toString)
        VersionedIvf.delete(s, dir.toString,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the PURGE face (r9 VERDICT #1): delete %7==3, PURGE the tombstones,
    // then re-add exactly the deleted rows through the stream-ingest face —
    // before the purge that ingest is screened, after it it lands, so the
    // index must reconstruct the FULL corpus: exhaustive probe ≡ brute.
    // The post-stream purge runs under the checkpoint commit-log guard
    "s_knn_purge_readd" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPurgeIndex", d) {
        val dir = Fixtures.dir("ivfpurge")
        val landing = Fixtures.dir("ivfpland")
        val ckpt = Fixtures.dir("ivfpck")
        VersionedIvf.write(emb, "embedding", "vec_id",
          Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8), dir.toString)
        val deleted = emb.filter(col("vec_id") % 7 === 3)
          .select(col("vec_id"), col("embedding"))
        VersionedIvf.delete(s, dir.toString,
          deleted.select(col("vec_id")), "vec_id")
        VersionedIvf.consolidate(s, dir.toString)
        deleted.coalesce(1).write.mode("overwrite").parquet(landing.toString)
        VersionedIvf.streamAppend(
          s.readStream.schema(deleted.schema).parquet(landing.toString),
          "embedding", "vec_id", dir.toString, ckpt.toString)
          .awaitTermination()
        // stream committed → the guarded (no-op) purge is permitted
        VersionedIvf.consolidate(s, dir.toString,
          checkpointDir = Some(ckpt.toString))
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the RETRAIN face (r9 VERDICT #3): half build, frozen-centroid append
    // of the other half (the drift shape), then an IN-PLACE centroid
    // retrain over the stored vectors — the staged whole-index swap must
    // lose/duplicate nothing: exhaustive probe ≡ brute over the full corpus
    "s_knn_retrained" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfRetrainIndex", d)(buildRetrainFixture(s, emb))
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the VERSIONED (generation-log) index: the whole lifecycle — build on
    // the %5!=4 subset, marker-committed append of the rest, tombstone
    // delete of %7==3, consolidate (fold + purge → gen 2), retrain with a
    // fresh k (→ gen 3), vacuum — publishes by marker-file CREATE only,
    // never directory rename (object-store commit model; the rename-free
    // claim is enforced by VersionedIndexSpec's refusing filesystem).
    // Exhaustive probe ≡ brute force over the surviving membership: every
    // generation swap must lose/duplicate/resurrect nothing
    "s_knn_versioned" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedIndex", d)(buildVersionedIvfFixture(s, emb))
      VersionedIvf.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the versioned index's integrity law, over the same full-lifecycle
    // fixture: every live row sits in its argmax cluster (all write paths
    // assign the argmax; retrain reassigns atomically with its generation
    // commit) — zero misassigned rows, provably empty
    "s_knn_versioned_drift_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedIndex", d)(buildVersionedIvfFixture(s, emb))
      VersionedIvf.assignmentDrift(s, path)
        .filter(col("misassigned") > 0L)
        .select(col("ingest_batch"), col("n"), col("misassigned"))
    }),
    // the generation-log lifecycle telemetry (r11 verdict #5 symmetry: the
    // BM25 segment-health shape for every family on the GenerationLog
    // spine): after the fixture's consolidate + retrain + ttl-0 vacuum the
    // index must read fully settled — ONE committed generation, zero
    // staged debris, zero segments, zero tombstones. Violations provably
    // empty; a vacuum regression, crash loop, or tombstone leak trips it
    "s_knn_versioned_health_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedIndex", d)(buildVersionedIvfFixture(s, emb))
      GenerationLog.indexHealth(s, path)
        .filter(col("n_generations") =!= 1L || col("n_staged_debris") =!= 0L ||
          col("n_segments") =!= 0L || col("n_stream_segments") =!= 0L ||
          col("n_tombstones") =!= 0L)
        .select(col("n_generations"), col("n_segments"), col("n_tombstones"))
    }),
    // the drift scan's INTEGRITY law: every stored row of a healthy index
    // sits in its argmax cluster (all write paths assign the argmax;
    // retrain reassigns atomically with the centroid swap) — zero
    // misassigned rows across the full build → append → retrain fixture.
    // A cluster dir renamed wrong by a buggy swap/consolidation trips this
    "s_knn_drift_contract" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfRetrainIndex", d)(buildRetrainFixture(s, emb))
      VersionedIvf.assignmentDrift(s, path)
        .filter(col("misassigned") > 0L)
        .select(col("ingest_batch"), col("n"), col("misassigned"))
    }),
    // the VERSIONED IVF-PQ lifecycle (object-store symmetry across all
    // four index families): build → marker-committed code-segment append →
    // tombstone delete → consolidate → two-level retrain (new quantizers +
    // full re-encode as the NEXT generation, one marker create, zero
    // renames) → vacuum. Exact probe + exact re-rank ≡ brute over the
    // surviving membership
    "s_knn_ivfpq_versioned" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqVersionedIndex", d) {
        val dir = Fixtures.dir("ivfpqver")
        val base = emb.filter(col("vec_id") % 5 =!= 4)
        val cents = Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(base, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(base, "embedding", "vec_id",
          cents, books, dir.toString)
        VersionedIvfPq.append(emb.filter(col("vec_id") % 5 === 4),
          "embedding", "vec_id", dir.toString)
        VersionedIvfPq.delete(s, dir.toString,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
        VersionedIvfPq.consolidate(s, dir.toString)
        VersionedIvfPq.retrain(s, dir.toString, emb,
          "embedding", "vec_id", k = Some(8))
        VersionedIvfPq.vacuum(s, dir.toString, ttlMs = 0L)
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    "s_knn_ivfpq_indexed" -> ((s, d) => {
      // the PERSISTED IVF-PQ index: centroids + residual codebooks +
      // cluster-partitioned CODES on disk ((1+m) ints per vector — the
      // originals stay in the base table, joined only for re-rank).
      // nprobe = #centroids + rerank ≥ corpus → the whole
      // train→write→read→probe loop is provably brute force (hash gate)
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqIndex", d) {
        val dir = Fixtures.dir("ivfpqidx")
        val cents = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(emb, "embedding", "vec_id", cents, books, dir.toString)
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path, emb.filter(col("vec_id") < 10), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // the IVF-PQ RETRAIN face (r10 verdict #3 — the retrain asymmetry
    // closed): half build, frozen-QUANTIZER append of the drifted half,
    // then VersionedIvfPq.retrain over the float base table — new coarse
    // centroids + new residual codebooks + full re-encode published as
    // the next generation by ONE marker create. Exhaustive probe +
    // exhaustive re-rank ≡ brute over the full corpus: a row lost,
    // duplicated, or mis-encoded by the retrain cannot hash-match
    "s_knn_ivfpq_retrained" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqRetrainIndex", d) {
        val dir = Fixtures.dir("ivfpqre")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val cents = Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(half1, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(half1, "embedding", "vec_id", cents, books, dir.toString)
        VersionedIvfPq.append(emb.filter(col("vec_id") % 2 === 1),
          "embedding", "vec_id", dir.toString)
        VersionedIvfPq.retrain(s, dir.toString, emb, "embedding", "vec_id")
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path, emb.filter(col("vec_id") < 10), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    // delete face of the CODES table: same retention contract as
    // s_knn_indexed_deleted, on the PQ index — rewrite touches only the
    // affected clusters' (1+m)-int rows; exact-mode probe ≡ brute over the
    // survivors (deleted ids can no longer appear as candidates because
    // their codes are gone, even though the float base table still has them)
    "s_knn_ivfpq_deleted" -> ((s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqDelIndex", d) {
        val dir = Fixtures.dir("ivfpqdelq")
        val cents = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(emb, "embedding", "vec_id", cents, books, dir.toString)
        VersionedIvfPq.delete(s, dir.toString,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    }),
    "s_knn_shuffled" -> ((s, d) => {
      // the large-query-set path: NO broadcast of the query side — the
      // probe join is a bucket-key sort-merge, the shape that survives when
      // the query set is another corpus rather than a driver-small lookup.
      // nprobe = #centroids keeps it provably equal to brute force, so the
      // shuffled join itself rides the hash gate
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
        k = 5, centroids, nprobe = 8, broadcastQueries = false)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    })
  )

  /** Embedded DCF fixture (the reference's doc sample) parsed to a spec
    * DataFrame — exercises S4 in the verify harness (rows-only check: the
    * input is not a parquet table, so no DuckDB oracle).
    */
  private def dcfParseDemo(s: SparkSession): DataFrame = {
    val r = DcfParser.parse(DcfFixture.content, "BJHR71")
    import s.implicits._
    r.items.toDF()
  }

  // ------------------------------------------------------------------------
  // oracles
  // ------------------------------------------------------------------------

  /** DuckDB recursive-CTE transitive closure over the exact-Jaccard pair
    * set — the oracle for both cluster queries (brute-fed and LSH-fed).
    */
  private val DupClusterClosureSql: String =
    """WITH RECURSIVE sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3), pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1), edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), reach(src, dst) AS (SELECT a, a FROM edges UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a) SELECT src AS doc, min(dst) AS cluster FROM reach GROUP BY 1"""

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS count_order FROM lineitem GROUP BY 1, 2",
    "a1_schema_merge" ->
      "SELECT p_type AS recordname, lower(p_brand) AS name, max(p_size) AS len, max(p_partkey) AS start FROM part GROUP BY 1, 2",
    "a2_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "a3_count" ->
      "SELECT count(*) AS n FROM lineitem",
    "a4_dup_having" ->
      "SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1 HAVING count(*) > 5",
    "a5_group_threshold" ->
      "SELECT o_orderpriority, count(*) AS n, CAST(count(*) > 1000 AS INTEGER) AS flagged FROM orders GROUP BY 1",
    "a6_maxlen" ->
      "SELECT CAST(max(length(c_name)) AS BIGINT) AS max_name_len, CAST(max(length(c_mktsegment)) AS BIGINT) AS max_seg_len FROM customer",
    "a7_lexmax_version" ->
      "SELECT p_brand, max(substring(p_type, length(p_type)-1)) AS max_ver FROM part GROUP BY 1",
    "a8_rollup" ->
      "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    "a11_cube" ->
      "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)",
    // pivot = conditional aggregation; quoted aliases pin the exact
    // pivot-value column names Spark produces
    "a12_pivot" ->
      """SELECT l_returnflag, sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS "F", sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS "O" FROM lineitem GROUP BY 1""",
    "w7_lag_lead" ->
      "SELECT o_custkey, o_orderkey, lag(o_totalprice, 1) OVER w AS prev_price, lead(o_totalprice, 1) OVER w AS next_price, CAST(ntile(4) OVER w AS INTEGER) AS quartile FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)",
    "w6_running_sum" ->
      "SELECT o_custkey, o_orderkey, sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend FROM orders",
    "w8_rolling_range" ->
      // CAST the window sum: DuckDB widens sum(BIGINT) to HUGEINT, which the
      // driver's fetch canonicalizes differently from Spark's int64 (the r6
      // hash-fail); every other integer column here is already BIGINT
      "SELECT user_id, day, n, CAST(sum(n) OVER (PARTITION BY user_id ORDER BY epoch_day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7 FROM (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n, CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS epoch_day FROM events GROUP BY 1, 2, 4)",
    "w9_topk_group" ->
      "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rank FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3",
    "t_weighted_sample" ->
      """SELECT doc_id, w AS weight, prio AS priority FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS w, (((doc_id % 1000003) * 2654435761) % 1000003) // CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS prio FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0) ORDER BY prio, doc_id LIMIT 100""",
    "j7_nullsafe_join" ->
      "SELECT k FROM (SELECT DISTINCT nullif(l_returnflag, 'N') AS k FROM lineitem) a JOIN (SELECT DISTINCT nullif(l_returnflag, 'R') AS k2 FROM lineitem) b ON a.k IS NOT DISTINCT FROM b.k2",
    "j8_asof" ->
      "SELECT l.event_id, l.user_id, l.ts, r.ts AS p_ts, r.value AS p_value FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts >= r.ts",
    "j10_deep_join" ->
      "SELECT r_name, n_name, count(*) AS n, sum(l_extendedprice) AS revenue FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2",
    "e_sliding_window" ->
      "SELECT window_start, event_type, count(*) AS n FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes') AS window_start, event_type, ts FROM events, unnest([0,1,2,3]) AS t(k)) WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour' GROUP BY 1, 2",
    "j9_range_join" ->
      "SELECT n_nationkey, count(*) AS n_points FROM nation JOIN events ON value >= n_nationkey * 20.0 AND value < n_nationkey * 20.0 + 20.0 GROUP BY 1",
    "w1_sort_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
    "w3_top1_group" ->
      "SELECT o_custkey, o_orderkey, o_orderdate FROM (SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) WHERE rn = 1",
    "j1_inner_agg" ->
      "SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1",
    "j2_anti" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "j5_semi" ->
      "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "j3_fullouter_diff" ->
      "SELECT COALESCE(l.key, r.key) AS key, CASE WHEN l.key IS NOT NULL AND r.key IS NOT NULL THEN 'both' WHEN l.key IS NOT NULL THEN 'left_only' ELSE 'right_only' END AS merge_status FROM (SELECT DISTINCT c_custkey AS key FROM customer) l FULL OUTER JOIN (SELECT DISTINCT o_custkey AS key FROM orders) r ON l.key = r.key",
    "j6_padded_key" ->
      "SELECT h.hhid AS hhid, count(*) AS n_orders FROM (SELECT lpad(CAST(c_custkey AS VARCHAR), 12, ' ') AS hhid FROM customer) h JOIN (SELECT lpad(CAST(o_custkey AS VARCHAR), 12, ' ') || lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') AS caseid FROM orders) p ON h.hhid = substring(p.caseid, 1, 12) GROUP BY 1",
    "u1_union_distinct" ->
      "SELECT o_custkey AS key FROM orders UNION SELECT c_custkey AS key FROM customer",
    "u2_except" ->
      "SELECT c_custkey AS key FROM customer EXCEPT SELECT o_custkey AS key FROM orders",
    "u3_union_by_name" ->
      "SELECT n_nationkey AS key, n_name AS name FROM nation UNION ALL BY NAME SELECT r_regionkey AS key FROM region",
    "p2_conditional_trim" ->
      "SELECT lpad(CAST(c_custkey AS VARCHAR), 12, ' ') AS caseid, trim(lpad(c_name, 30, ' ')) AS name_trimmed FROM customer",
    "p1_projection" ->
      "SELECT c_custkey, substring(c_name, 1, 8) AS prefix, split_part(c_name, '#', 2) AS num_part, CAST(length(c_name) AS BIGINT) AS name_len FROM customer",
    "p7_like_filter" ->
      "SELECT doc_id, source, lang FROM documents WHERE source LIKE 'src1%' AND lower(lang) LIKE 'e_'",
    "f_case_coalesce" ->
      "SELECT CASE WHEN l_returnflag = 'R' THEN 'returned' WHEN l_returnflag = 'A' THEN 'accepted' ELSE 'none' END AS flag_desc, COALESCE(NULLIF(l_linestatus, 'O'), 'open') AS status_desc, count(*) AS n FROM lineitem GROUP BY 1, 2",
    "f_regexp_extract" ->
      "SELECT regexp_extract(p_name, '^(\\w+)', 1) AS first_word, count(*) AS n FROM part GROUP BY 1",
    "f_json_pack" ->
      "SELECT n_nationkey, to_json(struct_pack(n_name := n_name, n_regionkey := CAST(n_regionkey AS VARCHAR)))::VARCHAR AS data FROM nation",
    "f_json_unpack" ->
      "SELECT n_nationkey, n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey_str FROM nation",
    "f_cmc_dates" ->
      "SELECT o_orderkey, CAST((year(o_orderdate) - 1900) * 12 + month(o_orderdate) AS INTEGER) AS cmc, CAST(year(o_orderdate) AS INTEGER) AS cmc_year, CAST(month(o_orderdate) AS INTEGER) AS cmc_month, CAST(floor((1513 - ((year(o_orderdate) - 1900) * 12 + month(o_orderdate))) / 12) AS INTEGER) AS age_years FROM orders",
    "g_range_expand" ->
      "SELECT n_nationkey, unnest(generate_series(0, n_nationkey)) AS v FROM nation",
    "g_range_capped" ->
      """SELECT n_nationkey, CAST(unnest(generate_series(0, n_nationkey)) AS VARCHAR) AS value, 'ExpandedRange' AS value_type FROM nation WHERE n_nationkey + 1 <= 10 UNION ALL SELECT n_nationkey, '0' AS value, 'RangeMin' AS value_type FROM nation WHERE n_nationkey + 1 > 10 UNION ALL SELECT n_nationkey, CAST(n_nationkey AS VARCHAR) AS value, 'RangeMax' AS value_type FROM nation WHERE n_nationkey + 1 > 10""",
    "s5_fixedwidth_scan" ->
      "SELECT o_orderstatus AS status, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_okey FROM orders GROUP BY 1",
    "s5b_fixedwidth_v2" ->
      "SELECT o_orderstatus AS status, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_okey FROM orders GROUP BY 1",
    // reload outcome: twentieths withdrawn, surviving tenths re-statused 'X'
    "s27_cspro_reload" ->
      "SELECT status, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_okey FROM (SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS status, o_orderkey FROM orders WHERE o_orderkey % 20 != 0) GROUP BY 1",
    "e_hour_window" ->
      "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, min(value) AS min_v, max(value) AS max_v FROM events GROUP BY 1, 2",
    "e_json_extract" ->
      "SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod, count(*) AS n FROM events GROUP BY 1",
    "e_sessionize" ->
      """SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events FROM (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new FROM events)) GROUP BY user_id, sess""",
    "e_funnel" ->
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t WHERE e.event_type = 'click' GROUP BY 1), s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t WHERE e.event_type = 'purchase' GROUP BY 1) SELECT 1 AS stage, count(*) AS users FROM s1 UNION ALL SELECT 2, count(*) FROM s2 UNION ALL SELECT 3, count(*) FROM s3""",
    "e_funnel_window" ->
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id AS u, min(e.ts) AS t, s1.t0 AS t0 FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t AND e.ts <= s1.t0 + INTERVAL 7200 SECONDS WHERE e.event_type = 'click' GROUP BY 1, 3), s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t AND e.ts <= s2.t0 + INTERVAL 7200 SECONDS WHERE e.event_type = 'purchase' GROUP BY 1) SELECT 1 AS stage, count(*) AS users FROM s1 UNION ALL SELECT 2, count(*) FROM s2 UNION ALL SELECT 3, count(*) FROM s3""",
    "e_retention" ->
      """WITH firsts AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1) SELECT f.cohort, datediff('day', f.cohort, CAST(e.ts AS DATE)) AS day_offset, count(DISTINCT e.user_id) AS users FROM events e JOIN firsts f ON e.user_id = f.u GROUP BY 1, 2""",
    "e_gapfill" ->
      """WITH spans AS (SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l FROM events GROUP BY 1), cal AS (SELECT user_id, CAST(unnest(generate_series(CAST(f AS TIMESTAMP), CAST(l AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM spans), cnts AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2) SELECT c.user_id, c.day, coalesce(n.n, CAST(0 AS BIGINT)) AS n FROM cal c LEFT JOIN cnts n ON c.user_id = n.user_id AND c.day = n.day""",
    // gap-fill replayed, then per-user mean/σ over the DENSIFIED days and
    // the same integer-scaled 2σ cut
    "e_anomaly" ->
      """WITH spans AS (SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l FROM events GROUP BY 1), cal AS (SELECT user_id, CAST(unnest(generate_series(CAST(f AS TIMESTAMP), CAST(l AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM spans), cnts AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), gf AS (SELECT c.user_id, c.day, coalesce(n.n, CAST(0 AS BIGINT)) AS n FROM cal c LEFT JOIN cnts n ON c.user_id = n.user_id AND c.day = n.day), st AS (SELECT user_id, day, n, avg(n) OVER (PARTITION BY user_id) AS m, stddev_samp(n) OVER (PARTITION BY user_id) AS sd FROM gf) SELECT user_id, day, n, CAST(round(m * 100) AS BIGINT) AS mean_x100, CAST(round(sd * 100) AS BIGINT) AS stddev_x100 FROM st WHERE sd IS NOT NULL AND sd > 0 AND abs(n - m) * 100.0 > sd * 200""",
    "e_stream_window" ->
      "SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, min(value) AS min_v, max(value) AS max_v FROM events GROUP BY 1, 2",
    "e_stream_dedup" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
    "e_stream_enrich" ->
      "SELECT c_mktsegment, event_type, count(*) AS n, sum(value) AS sum_value FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1, 2",
    "e_stream_join" ->
      "SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value FROM events c JOIN events p ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR",
    "e_interval_batch" ->
      "SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value FROM events c JOIN events p ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR",
    // batch sessions, minus open tails: a session is emitted iff it has a
    // successor (rn > 1 from the end) or its ms-rounded-up timeout deadline
    // is strictly behind the final watermark (max ts, ms-floored, 0s delay)
    "e_stream_sessionize" ->
      """WITH sess AS (SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events FROM (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new FROM events)) GROUP BY user_id, sess), wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events) SELECT user_id, session_start, session_end, n_events FROM (SELECT s.*, row_number() OVER (PARTITION BY user_id ORDER BY session_end DESC) AS rn FROM sess s) s2, wm WHERE rn > 1 OR (epoch_us(session_end) + 1800 * 1000000 + 999) // 1000 < wm_ms""",
    "t_token_count" ->
      "SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens FROM documents",
    "t_inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS term FROM documents), tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2) SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf, string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id) AS postings FROM tf GROUP BY 1""",
    "t_ngram_top" ->
      """WITH tk AS (SELECT list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), bg AS (SELECT unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)), i -> tk[i] || ' ' || tk[i+1])) AS ngram FROM tk) SELECT ngram, count(*) AS n FROM bg GROUP BY 1 ORDER BY n DESC, ngram LIMIT 50""",
    "t_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS token FROM documents) SELECT token, count(*) AS n FROM tok GROUP BY 1 ORDER BY n DESC, token LIMIT 20""",
    "t_normalize" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(text || chr(9) || chr(7) || '  tail' || ' ' || chr(159), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'), '\s+', ' ', 'g')) AS norm FROM documents""",
    "t_redact_pii" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' || ' call +1415555' || CAST(1000 + doc_id % 9000 AS VARCHAR), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'), '\+\d{7,15}', '<PHONE>', 'g') AS red FROM documents""",
    "t_token_count_bpe" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe FROM documents""",
    // NOT EXISTS, not NOT IN: three-valued NOT IN semantics would diverge
    // from Spark's left_anti (null keys never match) if a text were NULL
    "d_incremental" ->
      """WITH corpus AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 4 != 0), batch AS (SELECT doc_id, md5(text) AS h, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents WHERE doc_id % 4 = 0) SELECT doc_id FROM batch b WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)""",
    // batch docs kept iff NO corpus doc reaches J ≥ 1/2 (short docs shingle
    // to nothing and pass through, mirroring the manifest's exclusion)
    "d_incremental_neardup" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 0 AND NOT EXISTS (SELECT 1 FROM s b JOIN s c ON b.doc_id = d.doc_id AND c.doc_id % 4 != 0 WHERE len(list_intersect(b.sh, c.sh)) * 2 >= (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))) * 1)""",
    "t_quality_signals" ->
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens, CAST(CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0 THEN (length(text) * 100) // len(regexp_extract_all(text, '\\S+')) ELSE 0 END AS BIGINT) AS avg_tok_len_x100, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits, CAST(length(text) - length(regexp_replace(text, '[\\.,!\\?;:]', '', 'g')) AS BIGINT) AS n_punct, CAST(CASE WHEN len(regexp_extract_all(text, '\\S+')) < 5 OR length(text) < 20 THEN 1 ELSE 0 END AS BIGINT) AS low_quality FROM documents",
    "a10_percentile" ->
      "SELECT l_returnflag, quantile_cont(l_extendedprice, 0.25) AS p25, quantile_cont(l_extendedprice, 0.5) AS p50, quantile_cont(l_extendedprice, 0.75) AS p75 FROM lineitem GROUP BY 1",
    // langid is SQL-expressible: per-language stopword-hit counts, argmax
    // with ties to the lexicographically-largest language — exactly
    // TextOps.langId's array_max over struct(score, lang)
    "t_langid" ->
      """WITH toks AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), sc AS (SELECT doc_id, lang, 'de' AS cand, len(list_filter(tk, t -> t IN ('der','die','das','und','ein','eine','ist','zu','mit','von'))) AS score FROM toks UNION ALL SELECT doc_id, lang, 'en', len(list_filter(tk, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) FROM toks UNION ALL SELECT doc_id, lang, 'es', len(list_filter(tk, t -> t IN ('el','la','los','de','y','un','una','es','que','para'))) FROM toks UNION ALL SELECT doc_id, lang, 'fr', len(list_filter(tk, t -> t IN ('le','la','les','de','et','un','une','est','que','pour'))) FROM toks UNION ALL SELECT doc_id, lang, 'zh', len(list_filter(tk, t -> t IN ('de5','shi4','le5','zai4','he2','you3','wo3','ta1','zhe4','bu4'))) FROM toks) SELECT doc_id, lang, CASE WHEN score > 0 THEN cand ELSE 'und' END AS pred_lang FROM (SELECT doc_id, lang, cand, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn FROM sc) WHERE rn = 1""",
    "t_pack_sequences" ->
      """SELECT doc_id, n_tokens, token_offset, token_offset // 2048 AS seq_start, CASE WHEN n_tokens = 0 THEN token_offset // 2048 ELSE (token_offset + n_tokens - 1) // 2048 END AS seq_end FROM (SELECT doc_id, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents))""",
    "t_pack_slices" ->
      """WITH packed AS (SELECT doc_id, n_tokens, token_offset, token_offset // 2048 AS seq_start, (token_offset + n_tokens - 1) // 2048 AS seq_end FROM (SELECT doc_id, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents)) WHERE n_tokens > 0) SELECT seq_id, doc_id, greatest(seq_id * 2048 - token_offset, 0) AS doc_from, least((seq_id + 1) * 2048, token_offset + n_tokens) - greatest(seq_id * 2048, token_offset) AS n_take FROM (SELECT p.*, unnest(generate_series(seq_start, seq_end)) AS seq_id FROM packed p)""",
    "t_tfidf_top" ->
      """WITH toks AS (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS n_tf FROM toks GROUP BY 1, 2), dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1), n AS (SELECT count(*) AS n_docs FROM documents) SELECT doc_id, term, rank FROM (SELECT tf.doc_id, tf.term, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.n_tf * ln((n.n_docs + 1.0) / (dfreq.df_t + 1.0)) DESC, tf.term ASC) AS rank FROM tf JOIN dfreq USING (term), n) WHERE rank <= 3""",
    // BM25 replayed term-for-term: same ln/operand order, floor(×1e6)
    "t_bm25_topk" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""",
    "t_sparse_topk" ->
      """WITH tk AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT doc_id, array_to_string(tk[i : i + 2], ' ') AS term FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM tk WHERE len(tk) >= 3)), tf AS (SELECT doc_id, term, count(*) AS tf FROM tri GROUP BY 1, 2), dfk AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) BETWEEN 2 AND 500), w AS (SELECT tf.doc_id, tf.term, tf.tf * (1000000 // dfk.df) AS w FROM tf JOIN dfk USING (term)), nrm AS (SELECT doc_id, sqrt(CAST(sum(w*w) AS DOUBLE)) AS nrm FROM w GROUP BY 1), dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.w * b.w) AS dot FROM w a JOIN w b USING (term) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), sym AS (SELECT a_id, b_id, dot FROM dots UNION ALL SELECT b_id, a_id, dot FROM dots), cos AS (SELECT s.a_id, s.b_id, CAST(round(s.dot * 1000000.0 / (na.nrm * nb.nrm)) AS BIGINT) AS cos_x1e6 FROM sym s JOIN nrm na ON s.a_id = na.doc_id JOIN nrm nb ON s.b_id = nb.doc_id) SELECT a_id, b_id, cos_x1e6, rank FROM (SELECT a_id, b_id, cos_x1e6, row_number() OVER (PARTITION BY a_id ORDER BY cos_x1e6 DESC, b_id ASC) AS rank FROM cos) WHERE rank <= 5""",
    "t_chunks" ->
      """WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), base AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS nt FROM toks WHERE len(tk) > 0), idx AS (SELECT doc_id, tk, nt, unnest(generate_series(0, CASE WHEN nt > 32 THEN (nt - 32 + 24 - 1) // 24 ELSE 0 END)) AS chunk_idx FROM base) SELECT doc_id, chunk_idx, chunk_idx * 24 AS tok_from, least(32, nt - chunk_idx * 24) AS n_take, array_to_string(tk[chunk_idx * 24 + 1 : chunk_idx * 24 + least(32, nt - chunk_idx * 24)], ' ') AS chunk_text FROM idx""",
    "t_hash_sample" ->
      "SELECT doc_id, lang, source FROM documents WHERE ((((doc_id % 1000003) * 2654435761) % 1000003) % 20) < 1",
    // one-sided sketch contracts: the violation frames are provably empty,
    // and emptiness is exactly what the oracle states
    "t_cms_bound" ->
      "SELECT CAST(l_partkey AS VARCHAR) AS item, CAST(0 AS BIGINT) AS est, CAST(0 AS BIGINT) AS exact_n FROM lineitem WHERE 1 = 0",
    "t_cms_merge" ->
      "SELECT CAST(l_partkey AS VARCHAR) AS item, CAST(0 AS BIGINT) AS est_merged, CAST(0 AS BIGINT) AS est_full FROM lineitem WHERE 1 = 0",
    "a13_quantile_bound" ->
      "SELECT 0.0 AS q, CAST(0 AS BIGINT) AS n_below, CAST(0 AS BIGINT) AS n FROM lineitem WHERE 1 = 0",
    // same corruption + z-gate replayed; membership has a ≥5σ margin so
    // engine fp differences in mean/σ can never flip it
    "s_embed_outliers" ->
      "WITH e AS (SELECT vec_id, CASE WHEN vec_id % 100 = 0 THEN list_transform(embedding, v -> v * 10.0) ELSE embedding END AS emb FROM embeddings), el AS (SELECT vec_id, i - 1 AS d, CAST(emb[i] AS DOUBLE) AS v FROM e, unnest(generate_series(1, len(emb))) AS t(i)), st AS (SELECT d, avg(v) AS m, stddev_samp(v) AS s FROM el GROUP BY 1 HAVING stddev_samp(v) > 0) SELECT vec_id FROM el JOIN st USING (d) GROUP BY vec_id HAVING max(abs((v - m) / s)) > 6.0",
    "a18_theta_intersect" ->
      "SELECT '' AS slice_a, '' AS slice_b, CAST(0 AS BIGINT) AS exact_n, 0.0 AS lb, 0.0 AS ub FROM events WHERE 1 = 0",
    "a16_rank_norm" ->
      "WITH r AS (SELECT l_returnflag, CASE WHEN n = 1 THEN 0 ELSE (rk - 1) * 1000000000 // (n - 1) END AS pr FROM (SELECT l_returnflag, rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rk, count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem)) SELECT l_returnflag, CAST(pr // 100000000 AS BIGINT) AS decile, count(*) AS n, CAST(sum(pr) AS BIGINT) AS pr_sum FROM r GROUP BY 1, 2",
    // in-range buckets clamped to nBins-1, mirroring the operator's
    // float-edge guard (a value marginally below hi must not float-round
    // into the overflow bucket)
    "a17_histogram" ->
      "SELECT l_returnflag, CAST(CASE WHEN l_extendedprice < 20000.0 THEN -1 WHEN l_extendedprice >= 80000.0 THEN 20 ELSE least(floor((l_extendedprice - 20000.0) / 3000.0), 19) END AS INTEGER) AS bucket, count(*) AS n FROM lineitem GROUP BY 1, 2",
    "a15_winsorize" ->
      "WITH b AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.05) AS lo, quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem GROUP BY 1) SELECT l.l_returnflag, count(*) AS n, CAST(sum(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo, CAST(sum(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi, CAST(round(avg(least(greatest(l.l_extendedprice, b.lo), b.hi)) * 100) AS BIGINT) AS w_mean_x100 FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1",
    // bigram LM replayed in SQL: same tokenizer, same add-one smoothing; the
    // self-scored corpus means every doc bigram exists in the model (the
    // engine's left join and this inner join agree)
    // the t_lm_score CTEs + floored score + the same integer bucket math
    "t_perplexity_buckets" ->
      """WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), bigt AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 2)), bc AS (SELECT w1, w2, count(*) AS c FROM bigt GROUP BY 1, 2), cc AS (SELECT w1, sum(c) AS c1 FROM bc GROUP BY 1), v AS (SELECT count(DISTINCT t) AS vsz FROM (SELECT unnest(tk) AS t FROM toks)), sc AS (SELECT b.doc_id AS doc, CAST(floor((sum(ln((bc.c + 1.0) / (cc.c1 + v.vsz))) / count(*)) * 1000000.0) AS BIGINT) AS score_x1e6 FROM bigt b JOIN bc USING (w1, w2) JOIN cc USING (w1), v GROUP BY 1), hist AS (SELECT score_x1e6, count(*) AS c FROM sc GROUP BY 1), cum AS (SELECT score_x1e6, coalesce(sum(c) OVER (ORDER BY score_x1e6 DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM hist), tot AS (SELECT count(*) AS n FROM sc), r AS (SELECT doc, score_x1e6, row_number() OVER (PARTITION BY score_x1e6 ORDER BY doc) AS rr FROM sc) SELECT CAST(r.doc AS BIGINT) AS doc_id, r.score_x1e6, CAST((cum.before + rr - 1) * 3 // tot.n + 1 AS BIGINT) AS bucket FROM r JOIN cum USING (score_x1e6) CROSS JOIN tot""",
    "t_lm_score" ->
      """WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), bigt AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 2)), bc AS (SELECT w1, w2, count(*) AS c FROM bigt GROUP BY 1, 2), cc AS (SELECT w1, sum(c) AS c1 FROM bc GROUP BY 1), v AS (SELECT count(DISTINCT t) AS vsz FROM (SELECT unnest(tk) AS t FROM toks)) SELECT b.doc_id, count(*) AS n_bigrams, sum(ln((bc.c + 1.0) / (cc.c1 + v.vsz))) / count(*) AS avg_logp FROM bigt b JOIN bc USING (w1, w2) JOIN cc USING (w1), v GROUP BY 1""",
    // stupid backoff restated: seen trigram → relative frequency against
    // the bigram context; else 0.4 × the bigram relative frequency; else
    // the 0.16 add-one unigram floor — training counts from the even half
    "t_lm_trigram" ->
      """WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3)), ttk AS (SELECT tk FROM toks WHERE doc_id % 2 = 0), tg AS (SELECT w1, w2, w3, count(*) AS c FROM tri WHERE doc_id % 2 = 0 GROUP BY 1,2,3), bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM ttk WHERE len(tk) >= 2) GROUP BY 1,2), ug AS (SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM ttk) GROUP BY 1), tot AS (SELECT sum(c) AS ntok, count(*) AS vsz FROM ug) SELECT t.doc_id, count(*) AS n_trigrams, sum(ln(CASE WHEN coalesce(tg.c, 0) > 0 THEN tg.c / b12.c WHEN coalesce(b23.c, 0) > 0 THEN 0.4 * b23.c / u2.c ELSE 0.16 * (coalesce(u3.c, 0) + 1.0) / (tot.ntok + tot.vsz) END)) / count(*) AS avg_logp FROM tri t LEFT JOIN tg ON t.w1 = tg.w1 AND t.w2 = tg.w2 AND t.w3 = tg.w3 LEFT JOIN bg b12 ON t.w1 = b12.w1 AND t.w2 = b12.w2 LEFT JOIN bg b23 ON t.w2 = b23.w1 AND t.w3 = b23.w2 LEFT JOIN ug u2 ON t.w2 = u2.w LEFT JOIN ug u3 ON t.w3 = u3.w CROSS JOIN tot GROUP BY 1""",
    // the trigram-score CTEs + the same floored-score exact-ntile SQL as
    // t_perplexity_buckets
    "t_perplexity_buckets_tri" ->
      """WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3)), ttk AS (SELECT tk FROM toks WHERE doc_id % 2 = 0), tg AS (SELECT w1, w2, w3, count(*) AS c FROM tri WHERE doc_id % 2 = 0 GROUP BY 1,2,3), bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM ttk WHERE len(tk) >= 2) GROUP BY 1,2), ug AS (SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM ttk) GROUP BY 1), tot AS (SELECT sum(c) AS ntok, count(*) AS vsz FROM ug), sc AS (SELECT t.doc_id AS doc, CAST(floor((sum(ln(CASE WHEN coalesce(tg.c, 0) > 0 THEN tg.c / b12.c WHEN coalesce(b23.c, 0) > 0 THEN 0.4 * b23.c / u2.c ELSE 0.16 * (coalesce(u3.c, 0) + 1.0) / (tot.ntok + tot.vsz) END)) / count(*)) * 1000000.0) AS BIGINT) AS score_x1e6 FROM tri t LEFT JOIN tg ON t.w1 = tg.w1 AND t.w2 = tg.w2 AND t.w3 = tg.w3 LEFT JOIN bg b12 ON t.w1 = b12.w1 AND t.w2 = b12.w2 LEFT JOIN bg b23 ON t.w2 = b23.w1 AND t.w3 = b23.w2 LEFT JOIN ug u2 ON t.w2 = u2.w LEFT JOIN ug u3 ON t.w3 = u3.w CROSS JOIN tot GROUP BY 1), hist AS (SELECT score_x1e6, count(*) AS c FROM sc GROUP BY 1), cum AS (SELECT score_x1e6, coalesce(sum(c) OVER (ORDER BY score_x1e6 DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM hist), tot2 AS (SELECT count(*) AS n FROM sc), r AS (SELECT doc, score_x1e6, row_number() OVER (PARTITION BY score_x1e6 ORDER BY doc) AS rr FROM sc) SELECT CAST(r.doc AS BIGINT) AS doc_id, r.score_x1e6, CAST((cum.before + rr - 1) * 3 // tot2.n + 1 AS BIGINT) AS bucket FROM r JOIN cum USING (score_x1e6) CROSS JOIN tot2""",
    "t_span_dedup" ->
      """WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), spans AS (SELECT doc_id, i - 1 AS span_idx, array_to_string(tk[(i-1)*8+1 : least(i*8, len(tk))], ' ') AS span_text FROM (SELECT doc_id, tk, unnest(generate_series(1, CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS i FROM toks WHERE len(tk) > 0)), kept AS (SELECT doc_id, span_idx, span_text, row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn FROM spans) SELECT d.doc_id, COALESCE(k.t, '') AS text_deduped FROM documents d LEFT JOIN (SELECT doc_id, string_agg(span_text, ' ' ORDER BY span_idx) AS t FROM kept WHERE rn = 1 GROUP BY 1) k ON d.doc_id = k.doc_id""",
    "t_quota_sample" ->
      "SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id) AS rn FROM documents) WHERE rn <= 50",
    // DSIR semantics straight from feature strings: bag of unigrams ∪
    // bigrams, add-one-smoothed union-vocab LLR, summed per doc
    "t_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), fr AS (SELECT doc_id, unnest(tk) AS f FROM tk UNION ALL SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1,0)), i -> tk[i] || ' ' || tk[i+1])) AS f FROM tk), ft AS (SELECT fr.doc_id, fr.f FROM fr JOIN tk ON fr.doc_id = tk.doc_id AND tk.lang = 'en'), cr AS (SELECT f, count(*) AS c FROM fr GROUP BY 1), ct AS (SELECT f, count(*) AS c FROM ft GROUP BY 1), m AS (SELECT coalesce(cr.f, ct.f) AS f, coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct FROM cr FULL JOIN ct ON cr.f = ct.f), tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS vsz FROM m), r AS (SELECT f, ln((ct + 1.0)/(nt + vsz)) - ln((cr + 1.0)/(nr + vsz)) AS w FROM m, tot) SELECT CAST(fr.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(r.w) AS weight FROM fr JOIN r USING (f) GROUP BY 1""",
    // hashed-bucket face ≡ exact face here: 2^30 buckets are collision-
    // free for this corpus' 947-feature vocabulary (CurationSpec pins
    // zero observed collisions), so it shares the string-semantics oracle
    "t_dsir_hashed" ->
      """WITH tk AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), fr AS (SELECT doc_id, unnest(tk) AS f FROM tk UNION ALL SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1,0)), i -> tk[i] || ' ' || tk[i+1])) AS f FROM tk), ft AS (SELECT fr.doc_id, fr.f FROM fr JOIN tk ON fr.doc_id = tk.doc_id AND tk.lang = 'en'), cr AS (SELECT f, count(*) AS c FROM fr GROUP BY 1), ct AS (SELECT f, count(*) AS c FROM ft GROUP BY 1), m AS (SELECT coalesce(cr.f, ct.f) AS f, coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct FROM cr FULL JOIN ct ON cr.f = ct.f), tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS vsz FROM m), r AS (SELECT f, ln((ct + 1.0)/(nt + vsz)) - ln((cr + 1.0)/(nr + vsz)) AS w FROM m, tot) SELECT CAST(fr.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(r.w) AS weight FROM fr JOIN r USING (f) GROUP BY 1""",
    // Gumbel top-50: weight + (−ln(−ln(u))) with u from the portable hash
    "t_dsir_sample" ->
      """WITH tk AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), fr AS (SELECT doc_id, unnest(tk) AS f FROM tk UNION ALL SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1,0)), i -> tk[i] || ' ' || tk[i+1])) AS f FROM tk), ft AS (SELECT fr.doc_id, fr.f FROM fr JOIN tk ON fr.doc_id = tk.doc_id AND tk.lang = 'en'), cr AS (SELECT f, count(*) AS c FROM fr GROUP BY 1), ct AS (SELECT f, count(*) AS c FROM ft GROUP BY 1), m AS (SELECT coalesce(cr.f, ct.f) AS f, coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct FROM cr FULL JOIN ct ON cr.f = ct.f), tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS vsz FROM m), r AS (SELECT f, ln((ct + 1.0)/(nt + vsz)) - ln((cr + 1.0)/(nr + vsz)) AS w FROM m, tot), wts AS (SELECT fr.doc_id AS doc_id, sum(r.w) AS weight FROM fr JOIN r USING (f) GROUP BY 1) SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (SELECT doc_id, weight + (-ln(-ln((((doc_id % 1000003) * 2654435761) % 1000003 + 0.5)/1000003.0))) AS priority FROM wts) ORDER BY priority DESC, doc_id LIMIT 50""",
    "t_domain_cap" ->
      "SELECT doc_id, source FROM (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id) AS rn FROM documents) WHERE rn <= 10",
    "t_repetition" ->
      """WITH tc AS (SELECT doc_id, tok, count(*) AS cnt FROM (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS tok FROM documents) GROUP BY 1, 2), ts AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens, CAST(max(cnt) AS BIGINT) AS top_cnt FROM tc GROUP BY 1), bs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(count(DISTINCT bg) AS BIGINT) AS n_distinct FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)), i -> tk[i] || ' ' || tk[i+1])) AS bg FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents)) GROUP BY 1) SELECT d.doc_id, COALESCE(ts.n_tokens, 0) AS n_tokens, CAST(CASE WHEN COALESCE(ts.n_tokens, 0) > 0 THEN ts.top_cnt * 1000 // ts.n_tokens ELSE 0 END AS BIGINT) AS top_token_frac_x1000, CAST(CASE WHEN COALESCE(bs.n_bigrams, 0) > 0 THEN (bs.n_bigrams - bs.n_distinct) * 1000 // bs.n_bigrams ELSE 0 END AS BIGINT) AS dup_bigram_frac_x1000 FROM documents d LEFT JOIN ts ON d.doc_id = ts.doc_id LEFT JOIN bs ON d.doc_id = bs.doc_id""",
    // the window-8 base-31 polynomial restated with explicit 31^k constants
    // over code points (ascii() = code point, as does the engine's walk);
    // interior boundaries only (p < len), then [0, …, len] frames the chunks
    "t_cdc_chunks" ->
      """WITH c AS (SELECT doc_id, text, list_transform(split(text, ''), x -> CAST(ascii(x) AS BIGINT)) AS ch FROM documents), b AS (SELECT doc_id, text AS t, list_concat(list_concat([CAST(0 AS BIGINT)], list_filter(list_filter(generate_series(CAST(8 AS BIGINT), len(ch)), i -> (ch[i-7]*27512614111 + ch[i-6]*887503681 + ch[i-5]*28629151 + ch[i-4]*923521 + ch[i-3]*29791 + ch[i-2]*961 + ch[i-1]*31 + ch[i]) % 61 = 0), p -> p < len(ch))), [CAST(len(ch) AS BIGINT)]) AS bl FROM c) SELECT doc_id, CAST(j - 1 AS INTEGER) AS chunk_idx, bl[j] + 1 AS chunk_start, substr(t, CAST(bl[j] + 1 AS INTEGER), CAST(bl[j+1] - bl[j] AS INTEGER)) AS chunk_text FROM (SELECT doc_id, bl, t, unnest(generate_series(CAST(1 AS BIGINT), len(bl) - 1)) AS j FROM b)""",
    // ppm staging replayed with the same tokenizer and integer division;
    // full-outer so side-exclusive tokens rank by their own ppm
    "t_dist_shift" ->
      """WITH ca AS (SELECT token, count(*) AS n_a FROM (SELECT unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS token FROM documents WHERE doc_id % 2 = 0) GROUP BY 1), ta AS (SELECT sum(n_a) AS t FROM ca), fa AS (SELECT token, n_a, CAST((n_a * 1000000) // ta.t AS BIGINT) AS ppm_a FROM ca, ta), cb AS (SELECT token, count(*) AS n_b FROM (SELECT unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS token FROM documents WHERE doc_id % 2 != 0) GROUP BY 1), tbt AS (SELECT sum(n_b) AS t FROM cb), fb AS (SELECT token, n_b, CAST((n_b * 1000000) // tbt.t AS BIGINT) AS ppm_b FROM cb, tbt) SELECT token, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b, coalesce(ppm_a, 0) - coalesce(ppm_b, 0) AS shift_ppm FROM fa FULL OUTER JOIN fb USING (token) ORDER BY abs(coalesce(ppm_a, 0) - coalesce(ppm_b, 0)) DESC, token ASC LIMIT 40""",
    "t_mixture" ->
      """WITH r AS (SELECT * FROM (VALUES ('en', 1, 4), ('de', 1, 1), ('es', 1, 1), ('fr', 1, 1)) AS t(lang, numer, denom)) SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang WHERE ((((d.doc_id % 1000003) * 2654435761) % 1000003) % denom) < numer""",
    // ⌊√n⌋ weights, exact integer quota division + largest-remainder
    // redistribution (Σ quota = budget exactly), same portable-hash rank
    "t_temperature_mix" ->
      """WITH sz AS (SELECT lang, CAST(floor(sqrt(count(*))) AS BIGINT) AS w FROM documents GROUP BY 1), q0 AS (SELECT lang, CAST((w * 250) // (SELECT sum(w) FROM sz) AS BIGINT) AS q0, CAST((w * 250) % (SELECT sum(w) FROM sz) AS BIGINT) AS rem FROM sz), q AS (SELECT lang, q0 + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC) <= 250 - (SELECT sum(q0) FROM q0) THEN 1 ELSE 0 END AS quota FROM q0), r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id) AS rn FROM documents) SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang WHERE r.rn <= q.quota""",
    "t_token_budget" ->
      """SELECT doc_id, lang FROM (SELECT doc_id, lang, sum(nt) OVER (PARTITION BY lang ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM (SELECT doc_id, lang, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt FROM documents)) WHERE cum <= 2000""",
    "t_curation_pipeline" ->
      """WITH q AS (SELECT doc_id, lang, text FROM documents WHERE len(regexp_extract_all(text, '\S+')) >= 5 AND length(text) >= 20), d AS (SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q) WHERE rn = 1) SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id) AS rn2 FROM d) WHERE rn2 <= 40""",
    "t_contamination" ->
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3), bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0), corpus AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 != 0) SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1""",
    // the Bloom gate is a pre-shuffle reduction, not an approximation —
    // identical oracle to t_contamination
    "t_contamination_bloom" ->
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3), bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0), corpus AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 != 0) SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1""",
    // cross-frame brute force: every (corpus, benchmark) pair at J ≥ 1/2,
    // exact integer sizes — recall 1.0 of the 32×2 banding makes the LSH
    // path's output identical
    "t_contamination_fuzzy" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, CAST(len(list_intersect(c.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(c.sh) + len(b.sh) - len(list_intersect(c.sh, b.sh)) AS BIGINT) AS union_sz FROM s c JOIN s b ON c.doc_id % 50 != 0 AND b.doc_id % 50 = 0 WHERE len(list_intersect(c.sh, b.sh)) * 2 >= (len(c.sh) + len(b.sh) - len(list_intersect(c.sh, b.sh))) * 1""",
    // the losslessness law: BPE symbols reconstruct the lowercased token
    // stream (</w> boundaries → spaces) — stated directly on the raw text
    "t_bpe_encode" ->
      """SELECT doc_id, array_to_string(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)), ' ') AS reconstructed FROM documents""",
    "t_shuffle_order" ->
      "SELECT doc_id, CAST(row_number() OVER (ORDER BY mix % 1024, mix, doc_id) - 1 AS BIGINT) AS shuffle_pos FROM (SELECT doc_id, (((doc_id % 1000003) * 2654435761) % 1000003) AS mix FROM documents)",
    "t_shards" ->
      "WITH o AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY mix % 1024, mix, doc_id) - 1 AS BIGINT) AS shuffle_pos FROM (SELECT doc_id, (((doc_id % 1000003) * 2654435761) % 1000003) AS mix FROM documents)), nn AS (SELECT count(*) AS n FROM documents) SELECT doc_id, shuffle_pos, CAST((shuffle_pos * 8) // nn.n AS BIGINT) AS shard FROM o, nn",
    "t_oov_rate" ->
      """WITH tok AS (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS tok FROM documents), vocab AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM tok GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT 20)), pd AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov FROM tok t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY 1) SELECT d.doc_id, COALESCE(pd.n_tokens, CAST(0 AS BIGINT)) AS n_tokens, COALESCE(pd.n_oov, CAST(0 AS BIGINT)) AS n_oov, CAST(CASE WHEN COALESCE(pd.n_tokens, 0) > 0 THEN (pd.n_oov * 1000) // pd.n_tokens ELSE 0 END AS BIGINT) AS oov_x1000 FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""",
    "s_quantize_int8" ->
      "SELECT vec_id, vmin, vmax, array_to_string(CASE WHEN vmax > vmin THEN list_transform(dv, x -> CAST(least(255, floor((x - vmin) * 255.0 / (vmax - vmin))) AS INTEGER)) ELSE list_transform(dv, x -> 0) END, ' ') AS qcodes FROM (SELECT vec_id, dv, list_min(dv) AS vmin, list_max(dv) AS vmax FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings))",
    "s_quantize_bound" ->
      "SELECT CAST(0 AS BIGINT) AS vec_id, 0.0 AS max_err, 0.0 AS bound FROM embeddings WHERE 1 = 0",
    "d_bloom_sound" ->
      "SELECT doc_id FROM documents WHERE 1 = 0",
    // benchmark-window cuts restated in SQL over the even/odd split
    "t_decontaminate" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), c AS (SELECT * FROM t WHERE doc_id % 2 = 0), b AS (SELECT * FROM t WHERE doc_id % 2 = 1), bng AS (SELECT DISTINCT array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM b, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM c, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM occ JOIN bng USING (ng) CROSS JOIN range(0,8) g), alltok AS (SELECT c.doc_id, u.i - 1 AS p, c.toks[u.i] AS tok FROM c, LATERAL (SELECT unnest(generate_series(1, len(c.toks))) AS i) u), kept AS (SELECT a.doc_id, a.p, a.tok FROM alltok a ANTI JOIN cov USING (doc_id, p)) SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept GROUP BY doc_id""",
    // total-coverage round trip: concat(pieces) == concat(tokens) on every
    // document, for any trained model — provably empty
    "t_unigram_roundtrip_contract" ->
      "SELECT doc_id FROM documents WHERE 1 = 0",
    // driver trainer ≡ fully-distributed trainer, row-identical models —
    // symmetric difference provably empty
    "t_unigram_distributed_contract" ->
      "SELECT '' AS src, '' AS piece, CAST(0 AS BIGINT) AS logp_micro FROM documents WHERE 1 = 0",
    // a converged linear model classifies the planted separable corpus
    // perfectly on both splits — misclassified frame provably empty
    "t_quality_classifier_contract" ->
      "SELECT CAST(0 AS BIGINT) AS doc, CAST(0 AS BIGINT) AS y, CAST(0 AS BIGINT) AS margin_micro FROM documents WHERE 1 = 0",
    // calibration laws (argmax/probability agreement, monotone sigmoid by
    // margin decile, noise-surviving ranking) — violations provably empty
    "t_classifier_calibration_contract" ->
      "SELECT CAST(0 AS BIGINT) AS decile, '' AS violation FROM documents WHERE 1 = 0",
    // streaming near-dup gate lifecycle: stream ≡ sequential reference,
    // replay identity, tombstone release, compact invariance — all folded
    // into one provably-empty violations frame
    "d_stream_gate_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0",
    // the versioned substring gate produces the in-place gate's cleaned
    // rows exactly, replay- and consolidation-invariant — provably empty
    "d_substr_gate_versioned_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0",
    // the versioned (rename-free) gate shares the in-place gate's contract
    // shape: streamed ≡ sequential reference + lifecycle probes, all empty
    "d_gate_versioned_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0",
    // healthy-shape audits: the violation frames are provably empty on the
    // harness corpus (headroom documented at the query), and emptiness is
    // exactly what the oracle states
    "d_index_health" ->
      "SELECT CAST(0 AS BIGINT) AS band, CAST(0 AS BIGINT) AS n_sigs, CAST(0 AS BIGINT) AS max_bucket, CAST(0 AS BIGINT) AS sumsq FROM documents WHERE 1 = 0",
    "d_substr_index_health" ->
      "SELECT CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_keys, CAST(0 AS BIGINT) AS max_key FROM documents WHERE 1 = 0",
    // semantic-gate lifecycle: stream ≡ sequential in-memory reference,
    // replay identity, tombstone release — one provably-empty frame
    "s_semantic_gate_contract" ->
      "SELECT CAST(vec_id AS BIGINT) AS vec, '' AS violation FROM embeddings WHERE 1 = 0",
    // composed text→semantic gate: streamed composition ≡ the two stacked
    // sequential references + whole-composition replay identity
    "d_composed_gate_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0",
    "d_composed3_gate_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0",
    // four-stage (classifier → substring → near-dup → semantic): streamed
    // ≡ quality-filtered stacked references + replay identity + the
    // planted junk docs dropped at stage -1 — all provably empty
    "d_composed4_gate_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0",
    // Contract siblings of the 9 production rows-only queries (VERDICT r5
    // #4: bench the operator under its original name; verify the contract
    // as a `_contract` sibling excluded from bench). Each emits a provably-
    // empty violations frame; the oracle states that emptiness (with the
    // schema pinned), so each contract rides the full rows+schema+hash gate
    "a9_approx_distinct_contract" ->
      "SELECT CAST(0 AS BIGINT) AS approx_customers, CAST(0 AS BIGINT) AS exact_customers FROM orders WHERE 1 = 0",
    "t_fingerprint_contract" ->
      "SELECT doc_id, CAST(0 AS BIGINT) AS fp, CAST(0 AS BIGINT) AS fp_ws, CAST(0 AS BIGINT) AS fp_case, CAST(0 AS BIGINT) AS fp_ext, CAST(0 AS BIGINT) AS fp_cont FROM documents WHERE 1 = 0",
    "t_bpe_merges_contract" ->
      "SELECT CAST(0 AS INTEGER) AS merge_rank, CAST(0 AS BIGINT) AS expected, CAST(0 AS BIGINT) AS actual FROM documents WHERE 1 = 0",
    "t_bpe_fast_contract" ->
      "SELECT '' AS src, CAST(0 AS INTEGER) AS merge_rank, '' AS lhs, '' AS rhs, CAST(0 AS BIGINT) AS pair_count FROM documents WHERE 1 = 0",
    "t_bpe_encode_contract" ->
      "SELECT doc_id, CAST(0 AS BIGINT) AS n_enc, CAST(0 AS BIGINT) AS n_bpe_tokens FROM documents WHERE 1 = 0",
    "d_simhash_pairs_contract" ->
      "SELECT doc_id AS doc_a, doc_id AS doc_b, CAST(0 AS INTEGER) AS dist, CAST(0 AS INTEGER) AS true_dist FROM documents WHERE 1 = 0",
    "m_media_features_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS media_id, '' AS row_a, '' AS row_b FROM documents WHERE 1 = 0",
    "m_image_neardup_contract" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc_a, CAST(doc_id AS BIGINT) AS doc_b, '' AS violation FROM documents WHERE 1 = 0",
    "d_embed_neardup_contract" ->
      "SELECT vec_id AS doc_a, vec_id AS doc_b FROM embeddings WHERE 1 = 0",
    "s_knn_lsh_contract" ->
      "SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0",
    "s_knn_pq_contract" ->
      "SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0",
    // merge outcome: every 10th order carries the v2 price, every 100th
    // key ALSO appears re-keyed as an insert — exactly one row per key.
    // Prices compared as per-row cents (round half-up matches Spark for
    // positives) summed as BIGINT: order-independent and hash-exact; the
    // outer CAST keeps DuckDB's sum(BIGINT)→HUGEINT widening out of the hash
    "s16_upsert" ->
      "SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM (SELECT o_orderstatus, CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price FROM orders UNION ALL SELECT o_orderstatus, o_totalprice AS price FROM orders WHERE o_orderkey % 100 = 0) GROUP BY 1",
    // the pruned scan is exact: manifest skipping + residual filter ≡ the
    // plain predicate over the whole table
    "s17_stats_prune" ->
      "SELECT count(*) AS n, sum(o_totalprice) AS sum_price, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000",
    // rerank·k ≥ corpus → every candidate exactly re-ranked → brute force
    "s_knn_pq_exact" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    "s_knn_ivf_contract" ->
      "SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0",
    "s_knn_ivfpq_contract" ->
      "SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0",
    // nprobe = all clusters + rerank·k ≥ corpus → IVF-PQ ≡ brute force
    "s_knn_ivfpq_exact" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // compaction preserves content exactly: the compacted table's aggregate
    // equals the same aggregate over the original orders
    "s18_compact" ->
      "SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM orders GROUP BY 1",
    // partition pruning is exact: the partition-key predicate over the
    // hive layout equals the plain predicate over the whole table
    "s19_partition_prune" ->
      "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS sum_price FROM orders WHERE o_orderstatus = 'F' GROUP BY 1",
    // z-order pruning is exact on BOTH dimensions: each manifest-pruned
    // range scan equals the plain predicate over the whole table
    "s20_zorder_prune" ->
      "SELECT 'custkey' AS dim, count(*) AS n, sum(o_totalprice) AS sum_price FROM orders WHERE o_custkey BETWEEN 1 AND 20 UNION ALL SELECT 'orderkey', count(*), sum(o_totalprice) FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000",
    // reader isolation: v1 read back AFTER the v2 commit is exactly the
    // original table; v2 is the s16 merge outcome
    "s21_time_travel" ->
      "SELECT 'v1' AS snapshot, o_orderstatus, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM orders GROUP BY 2 UNION ALL SELECT 'v2', o_orderstatus, count(*), CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) FROM (SELECT o_orderstatus, CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price FROM orders UNION ALL SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 100 = 0) GROUP BY 2",
    // HLL mergeability contract: provably-empty violations frame
    "a14_hll_slices_contract" ->
      "SELECT CAST(0 AS BIGINT) AS approx_distinct, CAST(0 AS BIGINT) AS exact_distinct FROM events WHERE 1 = 0",
    // CMS join-cardinality bound: provably-empty violations frame
    "j13_join_card" ->
      "SELECT CAST(0 AS BIGINT) AS est_join_rows, CAST(0 AS BIGINT) AS exact_join_rows FROM orders WHERE 1 = 0",
    // streaming per-window HLL accuracy contract: provably-empty frame
    "e_stream_hll_contract" ->
      "SELECT CAST(0 AS BIGINT) AS day, CAST(0 AS BIGINT) AS approx_users, CAST(0 AS BIGINT) AS exact_users FROM events WHERE 1 = 0",
    // Spark session_window semantics replayed: a gap >= 30 min (exclusive
    // window end) starts a new session; session_end = last event + gap
    "e_session_window" ->
      """SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events, sum(value) AS sum_value FROM (SELECT user_id, ts, value, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800 * 1000000 THEN 1 ELSE 0 END AS is_new FROM events)) GROUP BY user_id, sess""",
    // the streamed CDC merge converges to the plain batch latest-per-user
    // ((ts, event_id) version chain; event_id is unique so the pick is
    // total-order deterministic)
    "e_stream_upsert" ->
      "SELECT user_id, ts AS last_ts, event_type, value FROM (SELECT user_id, ts, event_type, value, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1",
    // ...with tombstones: a user whose LATEST change is a delete (every 7th
    // event) is absent from the converged view
    "e_stream_cdc" ->
      "SELECT user_id, ts AS last_ts, event_type, value FROM (SELECT user_id, ts, event_type, value, event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 AND event_id % 7 != 0",
    // CDC survivor set: non-deleted originals (re-priced where updated)
    // plus the re-keyed inserts
    "s22_cdc_merge" ->
      "SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents FROM (SELECT o_orderstatus, CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100000.0 ELSE o_totalprice END AS price FROM orders WHERE o_orderkey % 20 != 0 UNION ALL SELECT o_orderstatus, o_totalprice AS price FROM orders WHERE o_orderkey % 100 = 0) GROUP BY 1",
    // the audit report replayed as one aggregate + a 4-way union; NULL
    // predicate results count as violations on both sides
    "s24_constraints" ->
      "WITH j AS (SELECT o.*, c.c_custkey AS fk FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey), t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v1, CAST(coalesce(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v2, CAST(coalesce(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v3, CAST(coalesce(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v4 FROM j) SELECT 'orderkey_not_null' AS check_name, v1 AS n_violations, n_rows, v1 * 1000000 // n_rows AS violation_ppm FROM t UNION ALL SELECT 'totalprice_positive', v2, n_rows, v2 * 1000000 // n_rows FROM t UNION ALL SELECT 'status_domain', v3, n_rows, v3 * 1000000 // n_rows FROM t UNION ALL SELECT 'custkey_fk', v4, n_rows, v4 * 1000000 // n_rows FROM t",
    // SCD2 point-in-time: the oracle builds the same tiled lead() intervals
    // (same-instant losers are the zero-width rows the WHERE drops) and
    // containment-joins the purchase facts — the as-of plan must agree
    // exactly, including inclusive effective_from and the open current row
    "j14_scd2_pit" ->
      "WITH dim AS (SELECT user_id, event_id AS change_id, value AS profile_value, ts AS effective_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to FROM events WHERE event_type = 'view'), tiled AS (SELECT * FROM dim WHERE effective_to IS NULL OR effective_to > effective_from) SELECT f.event_id AS fact_id, f.user_id, f.ts, f.value AS amount, d.profile_value, d.change_id, d.effective_from FROM events f JOIN tiled d ON f.user_id = d.user_id AND f.ts >= d.effective_from AND (d.effective_to IS NULL OR f.ts < d.effective_to) WHERE f.event_type = 'purchase'",
    "e_stream_theta" ->
      "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events GROUP BY 1",
    // identical to j14's containment-join restatement: the streamed PIT
    // enrichment must converge to the batch join exactly
    "e_stream_asof" ->
      "WITH dim AS (SELECT user_id, event_id AS change_id, value AS profile_value, ts AS effective_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to FROM events WHERE event_type = 'view'), tiled AS (SELECT * FROM dim WHERE effective_to IS NULL OR effective_to > effective_from) SELECT f.event_id AS fact_id, f.user_id, f.ts, f.value AS amount, d.profile_value, d.change_id, d.effective_from FROM events f JOIN tiled d ON f.user_id = d.user_id AND f.ts >= d.effective_from AND (d.effective_to IS NULL OR f.ts < d.effective_to) WHERE f.event_type = 'purchase'",
    // the stream-lifetime audit ≡ one batch aggregate over the whole table
    "e_stream_constraints" ->
      "WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v1, CAST(coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v2, CAST(coalesce(sum(CASE WHEN NOT coalesce(event_type IN ('view', 'click', 'purchase', 'signup', 'error'), FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v3, CAST(coalesce(sum(CASE WHEN NOT coalesce(abs(value) < 1000000000000.0, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v4 FROM events) SELECT 'user_not_null' AS check_name, v1 AS n_violations, n_rows, v1 * 1000000 // n_rows AS violation_ppm FROM t UNION ALL SELECT 'ts_not_null', v2, n_rows, v2 * 1000000 // n_rows FROM t UNION ALL SELECT 'type_domain', v3, n_rows, v3 * 1000000 // n_rows FROM t UNION ALL SELECT 'value_finite', v4, n_rows, v4 * 1000000 // n_rows FROM t",
    "e_stream_cms" ->
      "SELECT CAST(0 AS INT) AS d, CAST(0 AS INT) AS b, CAST(0 AS BIGINT) AS c_stream, CAST(0 AS BIGINT) AS c_batch FROM events WHERE 1 = 0",
    // the deterministic mutation family restated directly: re-priced
    // non-deleted tenths are U (new price), deleted twentieths D (old
    // price), re-keyed hundredths I
    "s26_snapshot_diff" ->
      "SELECT o_orderkey, o_totalprice + 100000.0 AS o_totalprice, 'U' AS op FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 != 0 UNION ALL SELECT o_orderkey, o_totalprice, 'D' FROM orders WHERE o_orderkey % 20 = 0 UNION ALL SELECT -o_orderkey - 1, o_totalprice, 'I' FROM orders WHERE o_orderkey % 100 = 0",
    // incremental apply ≡ the full-history build: same tiled lead()
    // intervals over the WHOLE change log
    "s25_scd2_apply" ->
      "WITH dim AS (SELECT user_id, event_id AS change_id, value AS profile_value, ts AS effective_from, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to FROM events WHERE event_type = 'view') SELECT user_id, change_id, profile_value, effective_from, effective_to, effective_to IS NULL AS is_current FROM dim WHERE effective_to IS NULL OR effective_to > effective_from",
    // the dynamically re-loaded day carries doubled values; every other day
    // is untouched (the file-set require() in the query pins the physical
    // side the SQL cannot see)
    "s23_dynamic_overwrite" ->
      "SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n, sum(CASE WHEN CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events) THEN value * 2 ELSE value END) AS sum_v FROM events GROUP BY 1, 2",
    "d_exact_dup_groups" ->
      "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1",
    "d_jaccard_brute" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""",
    "d_jaccard_char" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(length(t) - 4, 0)), i -> substr(t, i, 5))) AS sh FROM (SELECT doc_id, lower(text) AS t FROM documents) WHERE length(t) >= 5) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 4 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 3""",
    "d_dup_clusters" -> DupClusterClosureSql,
    // the LSH-fed composition converges to the same clusters (recall 1.0
    // at this threshold/banding), so it shares the closure oracle
    "d_dup_clusters_lsh" -> DupClusterClosureSql,
    // alternating-star components are exactly the same min-label closure
    "d_cc_altstar" -> DupClusterClosureSql,
    // split label = portable mixer over the cluster representative (the
    // closure's min id; singletons hash their own id), 4-in-5 to train
    "d_split_leakfree" ->
      s"""WITH clusters AS ($DupClusterClosureSql) SELECT d.doc_id, CASE WHEN (((coalesce(c.cluster, d.doc_id) % 1000003) * 2654435761) % 1000003) % 5 < 4 THEN 'train' ELSE 'holdout' END AS split FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc""",
    // LSH recall is 1.0 at J ≥ 1/2 with 32×2 bands on this corpus (identical
    // signatures always collide; the spec asserts LSH ≡ brute), so the LSH
    // path shares the brute-force oracle — a hash mismatch here would mean
    // either lost recall or broken verify math
    "d_jaccard_lsh" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""",
    // manifest path lands the identical pair set (recall-1.0 banding +
    // hashed-shingle verify ≡ string verify) → same oracle
    "d_manifest_pairs" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""",
    "d_embed_brute" ->
      "SELECT a.vec_id AS doc_a, b.vec_id AS doc_b FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4",
    // SemDeDup survivors = embeddings minus non-minimum members of each
    // cosine-pair connected component (same closure shape as d_keepers)
    "d_semantic_keepers" ->
      """WITH RECURSIVE pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4), edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs), reach(src, dst) AS (SELECT a, a FROM edges UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a), clusters AS (SELECT src AS doc, min(dst) AS cluster FROM reach GROUP BY 1) SELECT v.vec_id FROM embeddings v LEFT JOIN clusters c ON v.vec_id = c.doc AND c.doc != c.cluster WHERE c.doc IS NULL""",
    // keepers = all documents minus each cluster's non-minimum members
    "d_keepers" ->
      s"""WITH clusters AS ($DupClusterClosureSql) SELECT d.doc_id FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc AND c.doc != c.cluster WHERE c.doc IS NULL""",
    // quality keepers: per cluster keep argmax(length(text), min doc_id)
    "d_keepers_quality" ->
      s"""WITH clusters AS ($DupClusterClosureSql), ranked AS (SELECT c.doc, row_number() OVER (PARTITION BY c.cluster ORDER BY length(d.text) DESC, c.doc ASC) AS rn FROM clusters c JOIN documents d ON d.doc_id = c.doc) SELECT d.doc_id FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc AND r.rn > 1 WHERE r.doc IS NULL""",
    "j11_salted_join" ->
      "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS sum_price FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1",
    "j12_bloom_join" ->
      "SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_size = 1 GROUP BY 1",
    "j15_adaptive_skew" ->
      "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS sum_price FROM (SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE o_custkey END AS custkey, o_totalprice FROM orders) o JOIN customer c ON o.custkey = c.c_custkey GROUP BY 1",
    // latest click ≤ purchase ts, then the 2 h staleness cut — the latest
    // being stale means every other candidate is staler, so cutting after
    // df-capped intersection over the RAW source shingle count — the cap
    // is part of the operator's semantics, restated here
    "d_containment" ->
      """WITH tk AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT DISTINCT doc_id, array_to_string(tk[i : i + 2], ' ') AS s FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM tk WHERE len(tk) >= 3)), sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM tri GROUP BY 1), dfr AS (SELECT s FROM (SELECT s, count(*) AS df FROM tri GROUP BY 1) WHERE df BETWEEN 2 AND 500), g AS (SELECT tri.doc_id, tri.s FROM tri JOIN dfr USING (s)), inter AS (SELECT a.doc_id AS src, b.doc_id AS dst, CAST(count(*) AS BIGINT) AS inter_sz FROM g a JOIN g b USING (s) WHERE a.doc_id != b.doc_id GROUP BY 1, 2) SELECT src, dst, inter_sz, CAST(inter_sz * 1000000 // n_sh AS BIGINT) AS containment_ppm FROM inter JOIN sizes ON sizes.doc_id = inter.src WHERE inter_sz * 1000000 // n_sh >= 600000""",
    // integer RRF contributions: 10^9 // (60 + rank) summed across the
    // two rankers, re-ranked on the exact integer score
    // hybrid fusion: the BM25 CTE + self-free dense CTE + integer RRF
    "s_hybrid_retrieval" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2), lex AS (SELECT query_id, doc_id AS item_id, rank FROM (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5), dense AS (SELECT query_id, neighbor_id AS item_id, rank FROM (SELECT e.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings e JOIN embeddings c ON c.vec_id != e.vec_id WHERE e.vec_id < 5) WHERE rank <= 5), u AS (SELECT query_id, item_id, 1000000000 // (60 + rank) AS contrib FROM lex UNION ALL SELECT query_id, item_id, 1000000000 // (60 + rank) FROM dense), f AS (SELECT query_id, item_id, CAST(sum(contrib) AS BIGINT) AS rrf_x1e9 FROM u GROUP BY 1, 2) SELECT query_id, item_id, rrf_x1e9, rank FROM (SELECT query_id, item_id, rrf_x1e9, row_number() OVER (PARTITION BY query_id ORDER BY rrf_x1e9 DESC, item_id ASC) AS rank FROM f) WHERE rank <= 5""",
    // the persisted-index probe shares the RECOMPUTE face's oracle — the
    // index is bit-equivalent to re-deriving tf/df/stats from the corpus
    "s_bm25_indexed" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""",
    // frozen-stats semantics restated: tf and doc lengths over ALL docs
    // (appended postings carry their own dl), df and N/avgdl over the BASE
    // build only (doc_id % 4 != 3) — terms unseen at base time drop out
    "s_bm25_appended" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf WHERE doc_id % 4 != 3 GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens WHERE doc_id % 4 != 3), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""",
    "s_bm25_health" ->
      "SELECT CAST(0 AS BIGINT) AS n_segments, CAST(0 AS BIGINT) AS base_rows, CAST(0 AS BIGINT) AS appended_rows, CAST(0 AS BIGINT) AS tombstoned_ids FROM documents WHERE 1 = 0",
    // tombstones screen results only: df/stats CTEs stay over ALL docs
    // (frozen), candidates restricted to surviving doc ids
    "s_bm25_deleted" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s WHERE tf.doc_id % 7 != 3), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""",
    // the purge resets everything to the survivors — full recompute over
    // doc_id % 7 != 3 (df, stats, tf and candidates alike)
    "s_bm25_delete_purged" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents WHERE doc_id % 7 != 3), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(list_transform(regexp_extract_all(text, '\S+'), x -> lower(x))) AS term FROM documents WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""",
    // the streaming segments reconstruct exactly the batch-append state
    // (frozen stats + all arrivals' postings incl. the replayed batch
    // exactly once) — s_bm25_appended's oracle verbatim
    "e_bm25_stream_append" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf WHERE doc_id % 4 != 3 GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens WHERE doc_id % 4 != 3), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""",
    // consolidation resets the frozen stats to the full corpus — the
    // merged index must equal a from-scratch build, so the oracle is the
    // FULL recompute (t_bm25_topk's SQL verbatim)
    "s_bm25_consolidated" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""",
    // indexed hybrid = the recomputed hybrid (BM25 segments ≡ recompute;
    // IVF at nprobe = #centroids ≡ brute) — one oracle covers both faces
    "s_hybrid_indexed" ->
      """WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2), lex AS (SELECT query_id, doc_id AS item_id, rank FROM (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5), dense AS (SELECT query_id, neighbor_id AS item_id, rank FROM (SELECT e.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings e JOIN embeddings c ON c.vec_id != e.vec_id WHERE e.vec_id < 5) WHERE rank <= 5), u AS (SELECT query_id, item_id, 1000000000 // (60 + rank) AS contrib FROM lex UNION ALL SELECT query_id, item_id, 1000000000 // (60 + rank) FROM dense), f AS (SELECT query_id, item_id, CAST(sum(contrib) AS BIGINT) AS rrf_x1e9 FROM u GROUP BY 1, 2) SELECT query_id, item_id, rrf_x1e9, rank FROM (SELECT query_id, item_id, rrf_x1e9, row_number() OVER (PARTITION BY query_id ORDER BY rrf_x1e9 DESC, item_id ASC) AS rank FROM f) WHERE rank <= 5""",
    "s_rrf_fuse" ->
      "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), cosr AS (SELECT query_id, item_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS item_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM q JOIN embeddings c ON c.vec_id != q.vec_id) WHERE rank <= 5), l2r AS (SELECT query_id, item_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS item_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(q.embedding, c.embedding) ASC, c.vec_id ASC) AS rank FROM q JOIN embeddings c ON c.vec_id != q.vec_id) WHERE rank <= 5), u AS (SELECT query_id, item_id, 1000000000 // (60 + rank) AS contrib FROM cosr UNION ALL SELECT query_id, item_id, 1000000000 // (60 + rank) FROM l2r), f AS (SELECT query_id, item_id, CAST(sum(contrib) AS BIGINT) AS rrf_x1e9 FROM u GROUP BY 1, 2) SELECT query_id, item_id, rrf_x1e9, rank FROM (SELECT query_id, item_id, rrf_x1e9, row_number() OVER (PARTITION BY query_id ORDER BY rrf_x1e9 DESC, item_id ASC) AS rank FROM f) WHERE rank <= 5",
    // the same integer recurrence unrolled: // is BIGINT floor-div in
    // DuckDB as DIV is in Spark, so every iteration is exact on both sides
    "g_pagerank" ->
      "WITH base AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem), edges AS (SELECT s * 2 + 1 AS src, p * 2 AS dst FROM base UNION ALL SELECT p * 2 AS src, s * 2 + 1 AS dst FROM base), deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1), nodes AS (SELECT DISTINCT src AS node FROM edges), nn AS (SELECT count(*) AS n FROM nodes), r0 AS (SELECT node, (1000000000000 // nn.n) AS r, (1000000000000 // nn.n) AS base FROM nodes, nn), r1 AS (SELECT n.node, (n.base * 15 + coalesce(f.inflow, 0) * 85) // 100 AS r, n.base FROM r0 n LEFT JOIN (SELECT e.dst AS node, sum(r.r // d.outdeg) AS inflow FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1) f USING (node)), r2 AS (SELECT n.node, (n.base * 15 + coalesce(f.inflow, 0) * 85) // 100 AS r, n.base FROM r1 n LEFT JOIN (SELECT e.dst AS node, sum(r.r // d.outdeg) AS inflow FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1) f USING (node)), r3 AS (SELECT n.node, (n.base * 15 + coalesce(f.inflow, 0) * 85) // 100 AS r FROM r2 n LEFT JOIN (SELECT e.dst AS node, sum(r.r // d.outdeg) AS inflow FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1) f USING (node)) SELECT node, CAST(r AS BIGINT) AS rank_x1e12 FROM r3",
    // the similarity COLUMN is hashed, not just the pair set: the native
    // expression is bit-identical to DuckDB's comparator (LinkageSpec)
    "j17_linkage" ->
      "WITH k AS (SELECT p_partkey AS id, p_name AS name, p_brand || '|' || CAST(p_size AS VARCHAR) AS block FROM part) SELECT a.block AS block, a.id AS a_id, b.id AS b_id, CAST(round(jaro_winkler_similarity(a.name, b.name) * 1000000) AS BIGINT) AS jw_x1e6 FROM k a JOIN k b ON a.block = b.block AND a.id < b.id WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9",
    // transitive closure as a recursive CTE; alt-star's min-id labeling
    // restated as least(src, min(reachable))
    "j18_golden" ->
      "WITH RECURSIVE k AS (SELECT p_partkey AS id, p_name AS name, p_brand || '|' || CAST(p_size AS VARCHAR) AS block, p_retailprice FROM part), e AS (SELECT a.id AS a, b.id AS b FROM k a JOIN k b ON a.block = b.block AND a.id < b.id WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9), ed AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e), reach(src, dst) AS (SELECT src, dst FROM ed UNION SELECT r.src, ed.dst FROM reach r JOIN ed ON r.dst = ed.src), ent0 AS (SELECT src AS id, least(src, min(dst)) AS entity FROM reach GROUP BY src), lab AS (SELECT k.id, k.p_retailprice, coalesce(e0.entity, k.id) AS entity FROM k LEFT JOIN ent0 e0 USING (id)), g AS (SELECT entity, id AS golden_id, p_retailprice, row_number() OVER (PARTITION BY entity ORDER BY p_retailprice DESC, id ASC) AS rn FROM lab), sz AS (SELECT entity, count(*) AS n_members FROM lab GROUP BY 1) SELECT g.entity, g.golden_id, sz.n_members FROM g JOIN sz USING (entity) WHERE rn = 1",
    "d_sorted_neighborhood" ->
      "WITH k AS (SELECT doc_id AS id, lang AS block, lower(substr(text, 1, 32)) AS skey FROM documents), r AS (SELECT id, block, skey, row_number() OVER (PARTITION BY block ORDER BY skey, id) AS rn FROM k) SELECT a.block AS block, a.id AS a_id, b.id AS b_id, CAST(b.rn - a.rn AS INT) AS rank_distance, levenshtein(a.skey, b.skey) AS lev FROM r a JOIN r b ON a.block = b.block AND b.rn > a.rn AND b.rn <= a.rn + 4 WHERE levenshtein(a.skey, b.skey) <= 8",
    // rn=1 equals cutting in the join
    "j16_asof_tolerance" ->
      "WITH c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2), f AS (SELECT event_id AS fact_id, user_id, ts FROM events WHERE event_type = 'purchase'), j AS (SELECT f.fact_id, f.user_id, f.ts, c.click_id, c.click_ts, row_number() OVER (PARTITION BY f.fact_id ORDER BY c.click_ts DESC) AS rn FROM f JOIN c ON f.user_id = c.user_id AND c.click_ts <= f.ts) SELECT fact_id, user_id, ts, click_id, click_ts FROM j WHERE rn = 1 AND click_ts >= ts - INTERVAL 2 HOUR",
    // the update means, float32-rounded on both sides; 0-based pos
    "s_kmeans_update" ->
      "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), scored AS (SELECT e.vec_id, cent.c, list_cosine_similarity(e.embedding, cent.cv) AS sim FROM embeddings e CROSS JOIN cent), assign AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c DESC) AS rn FROM scored) WHERE rn = 1) SELECT CAST(a.c AS BIGINT) AS c, CAST(u.pos - 1 AS BIGINT) AS pos, CAST(avg(u.x) AS FLOAT) AS m FROM assign a JOIN (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM embeddings) u ON a.vec_id = u.vec_id GROUP BY 1, 2",
    // assigned-centroid cosine ranked ASC per cluster (hardest first),
    // integer-exact ⌊n/4⌋ quota — ordering by list_cosine_similarity is
    // the same cross-engine contract every s_knn oracle already relies on
    "s_prototype_prune" ->
      "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), scored AS (SELECT e.vec_id, cent.c, list_cosine_similarity(e.embedding, cent.cv) AS sim FROM embeddings e CROSS JOIN cent), assign AS (SELECT vec_id, c, sim FROM (SELECT vec_id, c, sim, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c DESC) AS rn FROM scored) WHERE rn = 1), r AS (SELECT vec_id, c, row_number() OVER (PARTITION BY c ORDER BY sim ASC, vec_id ASC) AS rn, count(*) OVER (PARTITION BY c) AS n FROM assign) SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM r WHERE rn * 4 <= n * 1",
    // argmax by (sim, cluster-idx) lexicographic max == greatest(struct)
    "s_kmeans_assign" ->
      "WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), scored AS (SELECT e.vec_id, cent.c, list_cosine_similarity(e.embedding, cent.cv) AS sim FROM embeddings e CROSS JOIN cent) SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c DESC) AS rn FROM scored) WHERE rn = 1",
    "s_knn_brute" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // nprobe = #centroids probes every bucket → identical to brute force
    "s_knn_ivf_exact" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // the persisted-index path probes every stored cluster (nprobe =
    // #centroids) → provably equal to brute force; write→read→probe all
    // inside the hash gate
    "s_knn_indexed" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // base-half build + frozen-centroid append must reconstruct the FULL
    // corpus: exhaustive probe ≡ brute force — a lost/duplicated append row
    // cannot hash-match
    "s_knn_indexed_incremental" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // streamed build + append must reconstruct the FULL corpus, same
    // exactness argument as the batch incremental face
    "e_stream_index_append" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // PQ codes table after delete: same surviving-corpus brute oracle
    "s_knn_ivfpq_deleted" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5",
    // delete → purge → stream re-add reconstructs the FULL corpus: the
    // purge must both clear the screen (else the re-add is silently
    // dropped) and not resurrect/lose anything else
    "s_knn_purge_readd" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // every stored row sits in its argmax cluster — provably-empty frame
    "s_knn_drift_contract" ->
      "SELECT CAST(0 AS BIGINT) AS ingest_batch, CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS misassigned FROM embeddings WHERE 1 = 0",
    // the versioned (generation-log) lifecycle: build → append → tombstone
    // delete → consolidate → retrain → vacuum, all marker-committed —
    // brute force over the surviving membership (everything minus %7==3)
    "s_knn_versioned" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5",
    // every live row of the versioned index sits in its argmax cluster —
    // provably-empty frame over the full-lifecycle fixture
    "s_knn_versioned_drift_contract" ->
      "SELECT CAST(0 AS BIGINT) AS ingest_batch, CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS misassigned FROM embeddings WHERE 1 = 0",
    // generation-log lifecycle telemetry: the settled-shape violation
    // frames are provably empty on every consolidated + vacuumed fixture
    "s_knn_versioned_health_contract" ->
      "SELECT CAST(0 AS BIGINT) AS n_generations, CAST(0 AS BIGINT) AS n_segments, CAST(0 AS BIGINT) AS n_tombstones FROM embeddings WHERE 1 = 0",
    "d_gate_versioned_health_contract" ->
      "SELECT CAST(0 AS BIGINT) AS n_generations, CAST(0 AS BIGINT) AS n_segments, CAST(0 AS BIGINT) AS n_tombstones FROM documents WHERE 1 = 0",
    "d_substr_versioned_health_contract" ->
      "SELECT CAST(0 AS BIGINT) AS n_generations, CAST(0 AS BIGINT) AS n_segments, CAST(0 AS BIGINT) AS n_tombstones FROM documents WHERE 1 = 0",
    // versioned build + marker-committed stream segments must reconstruct
    // the FULL corpus, same exactness argument as e_stream_index_append
    "e_versioned_stream_ingest" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // the in-place retrain's full rewrite must preserve corpus content
    // exactly (exhaustive probe ≡ brute holds for ANY centroid set)
    "s_knn_retrained" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // brute force over the SURVIVING corpus only — deleted rows must be
    // gone from the index, surviving rows must all still be there
    "s_knn_indexed_deleted" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5",
    // same exactness argument, exercised through the NON-broadcast
    // (sort-merge probe join) plan — the large-query-set path
    "s_knn_ivfpq_indexed" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // the versioned IVF-PQ lifecycle preserves membership exactly: brute
    // over everything minus the tombstoned %7==3 set
    "s_knn_ivfpq_versioned" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5",
    // the PQ retrain's three-table swap must preserve index membership
    // exactly (exact probe + exact re-rank ≡ brute for ANY quantizers)
    "s_knn_ivfpq_retrained" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    "s_knn_shuffled" ->
      "SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5",
    // the synthetic-PNG loop is id-deterministic end-to-end: real imageio
    // decode must recover width = 4 + id%13, height = 4 + id%7
    "m_media_dims" ->
      "SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind, CAST(4 + doc_id % 13 AS INTEGER) AS width, CAST(4 + doc_id % 7 AS INTEGER) AS height, CAST(0 AS BIGINT) AS duration_ms FROM documents",
    // the AVI loop is id-deterministic end-to-end: 1 + id%8 frames at 2 fps
    // → duration (1+id%8)·500 ms; n = min(4, max(1, dur/1000)) samples at
    // stride dur/n — real container parse must recover exactly these
    // two segments per clip around the planted gap: [0, g) and [g+4, 20)
    // in 50 ms windows, g = 6 + id % 4
    "m_audio_segments" ->
      "WITH i AS (SELECT doc_id AS media_id, CAST(6 + doc_id % 4 AS INTEGER) AS g FROM documents WHERE doc_id < 100) SELECT media_id, CAST(0 AS INTEGER) AS segment_idx, CAST(0 AS INTEGER) AS start_window, g AS end_window FROM i UNION ALL SELECT media_id, CAST(1 AS INTEGER), g + 4, CAST(20 AS INTEGER) FROM i",
    // the planted cut index is a pure formula of the id — the whole
    // boundary table hash-checks the real AVI-parse + JPEG-decode path
    "m_shot_bounds" ->
      "SELECT doc_id AS media_id, CAST(1 + doc_id % 7 AS INTEGER) AS boundary_idx FROM documents WHERE doc_id < 100",
    "m_frame_sample" ->
      """WITH v AS (SELECT doc_id AS media_id, (1 + doc_id % 8) * 500 AS dur FROM documents WHERE doc_id < 100), p AS (SELECT media_id, dur, least(4, greatest(1, dur // 1000)) AS n FROM v) SELECT media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * (dur // n) AS BIGINT) AS ts_ms FROM (SELECT media_id, dur, n, unnest(generate_series(0, n - 1)) AS i FROM p)""",
    // candidate set ≡ exact J ≥ 1/2 pair set on this corpus (see the query
    // comment; set equality pinned in OperatorsSpec)
    "d_minhash_candidates" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""",
    // ExactSubstr semantics straight from window strings (no hashing):
    // all-but-first occurrences of ≥2-count 8-token windows, covered
    // positions unioned, islands merged by the p - row_number() trick
    "d_substr_spans" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov) SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(min(p) AS BIGINT) AS span_start, CAST(count(*) AS BIGINT) AS span_len FROM isl GROUP BY doc_id, grp""",
    // one-shot spans over the WHOLE corpus, restricted to the late-arrival
    // half — the incremental face must land exactly these
    "d_substr_incremental" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov) SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(min(p) AS BIGINT) AS span_start, CAST(count(*) AS BIGINT) AS span_len FROM isl WHERE doc_id >= 250 GROUP BY doc_id, grp""",
    // the gate's batch 2 ≡ one-shot clean restricted to [416,∞)
    "d_substr_gate" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), alltok AS (SELECT t.doc_id, u.i - 1 AS p, t.toks[u.i] AS tok FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) u), kept AS (SELECT a.doc_id, a.p, a.tok FROM alltok a ANTI JOIN cov USING (doc_id, p)) SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept WHERE doc_id >= 416 GROUP BY doc_id""",
    // the full streamed output ≡ one-shot clean over every arrival batch
    "d_substr_gate_contract" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), alltok AS (SELECT t.doc_id, u.i - 1 AS p, t.toks[u.i] AS tok FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) u), kept AS (SELECT a.doc_id, a.p, a.tok FROM alltok a ANTI JOIN cov USING (doc_id, p)) SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept WHERE doc_id >= 250 GROUP BY doc_id""",
    // kept tokens re-joined by single spaces; fully-covered docs vanish
    "d_substr_clean" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), alltok AS (SELECT t.doc_id, u.i - 1 AS p, t.toks[u.i] AS tok FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) u), kept AS (SELECT a.doc_id, a.p, a.tok FROM alltok a ANTI JOIN cov USING (doc_id, p)) SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept GROUP BY doc_id""",
    // real javax.sound decode must recover duration_ms = 100 + id % 400
    "m_audio_dims" ->
      "SELECT CAST(doc_id AS BIGINT) AS media_id, 'audio' AS kind, CAST(100 + doc_id % 400 AS BIGINT) AS duration_ms FROM documents",
    // the DCF fixture is the reference's own in-repo sample (doc/
    // Data_Format.md:36-117) — a constant, so its parse is oracle-able as a
    // literal table (incl. the format's 'RecordDesciption' misspelling)
    "s4_dcf_parse" ->
      """SELECT * FROM (VALUES ('RecordDesciption','BJHR71','*','*','*','RECODE7','Standard Recode DHS-VII   1.1.1 - Benin, 2017', CAST(16 AS INTEGER), CAST(3 AS INTEGER), CAST(1 AS INTEGER), FALSE, FALSE, CAST(0 AS INTEGER), '', ''), ('IdItem','BJHR71','RECH0','H00','Household''s basic data','HHID','Case Identification', 1, 12, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV000','Country code and phase', 19, 3, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV001','Cluster number', 22, 6, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV006','Month of interview', 49, 2, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD'), ('Item','BJHR71','RECH0','H00','Household''s basic data','HV015','Result of household interview', 76, 1, 1, FALSE, FALSE, 0, 'HOUSEHOLD', 'HOUSEHOLD')) AS t("itemType","fileCode","recordName","recordTypeValue","recordLabel","name","label","start","len","occurrences","zeroFill","decimalChar","decimal","levelName","levelLabel")"""
  )
}

/** The reference's in-repo DCF sample (ref doc/Data_Format.md:36-117),
  * embedded for the S4 verify query.
  */
private object DcfFixture {
  val content: String =
    """[Dictionary]
      |Version=CSPro 6.3
      |Label=Standard Recode DHS-VII   1.1.1 - Benin, 2017
      |Name=RECODE7
      |RecordTypeStart=16
      |RecordTypeLen=3
      |Positions=Absolute
      |ZeroFill=No
      |DecimalChar=No
      |
      |[Level]
      |Label=HOUSEHOLD
      |Name=HOUSEHOLD
      |
      |[IdItems]
      |
      |[Item]
      |Label=Case Identification
      |Name=HHID
      |Start=1
      |Len=12
      |DataType=Alpha
      |
      |[Record]
      |Label=Household's basic data
      |Name=RECH0
      |RecordTypeValue='H00'
      |RecordLen=172
      |
      |[Item]
      |Label=Country code and phase
      |Name=HV000
      |Start=19
      |Len=3
      |DataType=Alpha
      |
      |[Item]
      |Label=Cluster number
      |Name=HV001
      |Start=22
      |Len=6
      |
      |[Item]
      |Label=Month of interview
      |Name=HV006
      |Start=49
      |Len=2
      |
      |[ValueSet]
      |Label=Month of interview
      |Name=HV006_VS1
      |Value=1:12
      |
      |[Item]
      |Label=Result of household interview
      |Name=HV015
      |Start=76
      |Len=1
      |
      |[ValueSet]
      |Label=Result of household interview
      |Name=HV015_VS1
      |Value=1;Completed
      |Value=9;Other
      |""".stripMargin
}
