package graft
package queries

import graft.operators.{Dedup, GenerationLog, Similarity, SparseSim, TextClassifier, VersionedIvf, VersionedNearDup, VersionedSubstring}
import graft.streaming.ComposedGate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** The harness tables and the gate and index fixtures that query builds
  * share: each fixture is built once per sf dir (through [[Fixtures.memo]])
  * and read by a bench face and its `_contract` sibling alike — and the
  * pieces every gate `_contract` composes: the kept-set verdict, one
  * sequential-reference step per gate stage and the settled-health audit.
  */
private[graft] object QueryFixtures {

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

  /** The embedding twin of [[gateIndexBase]]: the vec_id ≡ 2 mod 4 quarter. */
  def gateEmbBase(embs: DataFrame): DataFrame =
    embs.filter(pmod(col("vec_id"), lit(4)) === 2)
      .select(col("vec_id"), col("embedding"))

  private def gateDeletedIds(docs: DataFrame): DataFrame =
    gateIndexBase(docs).filter(pmod(col("doc_id"), lit(20)) === 2)
      .select(col("doc_id"))

  /** Order-independent content hash of a frame: (row count, sum of per-row
    * hashes) — the replay/compact invariance currency of the gate contracts
    * and of the Stress replay receipts.
    */
  private[graft] def contentHash(df: DataFrame, cols: Seq[String]): (Long, Long) = {
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
    val base = gateEmbBase(embs)
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
      idx.toString, kept.toString, 1L, SemGateTau, SemGateNprobe)
    val replayOk = outputsHash() == beforeReplay
    VersionedIvf.delete(s, idx.toString,
      base.filter(pmod(col("vec_id"), lit(20)) === 2).select(col("vec_id")),
      "vec_id")
    Similarity.semanticGateBatch(semSubBatch(arrivals, 2), "embedding", "vec_id",
      idx.toString, kept.toString, 2L, SemGateTau, SemGateNprobe)
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
    GenerationLog.vacuum(s, root.toString, ttlMs = 0L)
    val compactOk = contentHash(
      VersionedSubstring.manifest(s, root.toString), Seq("h1", "h2")) == liveBefore &&
      GenerationLog.committedGenerations(s, root.toString).size == 1
    (root.toString, clean.toString, replayOk, compactOk)
  }

  /** The composed gate's stage kinds, in CCNet chain order. */
  val ComposedChain: Seq[String] = Seq("quality", "substring", "neardup", "semantic")

  val ClsGateBuckets = 1 << 12

  /** Arrival rows for the composed gates: the ≡0 mod 4 quarter with text
    * AND embedding (documents ⋈ embeddings share the 0..n-1 id space).
    * With `junk`, every ≡4 mod 16 doc's text is replaced by vocabulary the
    * quality classifier was trained to reject, so a Quality stage must
    * drop exactly these before the later stages ever see them.
    */
  def composedArrivals(s: SparkSession, d: String, junk: Boolean): DataFrame = {
    val docs = tb(s, d, "documents")
    val embs = tb(s, d, "embeddings")
    val arrivals = docs.join(embs, docs("doc_id") === embs("vec_id"))
      .select(docs("doc_id"), col("text"), col("embedding"))
      .filter(pmod(col("doc_id"), lit(4)) === 0)
    if (!junk) arrivals
    else arrivals.withColumn("text",
      when(pmod(col("doc_id"), lit(16)) === 4, junkText(col("doc_id")))
        .otherwise(col("text")))
  }

  /** Train the gate's quality classifier once per sf dir: base-corpus text
    * as the reference class vs junk-vocabulary docs, integer-exact LR.
    */
  def composedModel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Fixtures.memo("composedModel", d) {
      val labeled = junkLabeled(gateIndexBase(tb(s, d, "documents")), 2000000L)
      // 5 iterations: the classes have DISJOINT vocabularies, so the sign
      // structure converges in the first couple of passes — the contract's
      // non-vacuity probe (planted junk must be dropped) guards the margin
      TextClassifier.train(labeled, "text", "doc_id", "label",
        numBuckets = ClsGateBuckets, iterations = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }.toDF("bucket", "w_micro")
  }

  /** One stage per kind in `kinds` (see [[ComposedChain]]), each with the
    * base state it needs: substring windows and near-dup signatures on the
    * ≡2 mod 4 doc quarter, IVF on the matching embedding quarter, the
    * quality classifier. They are independent, so they build on concurrent
    * futures (Spark actions are thread-safe; local[32] has slack) to keep
    * the whole fixture + one composed execution inside the smoke gate's
    * 20 s single-shot bound. One Lloyd round: the contracts compare the
    * stream against a reference sharing the SAME frozen centroids, so
    * centroid quality is not under test here (the recall contracts are).
    */
  private def writeComposedBaseIndexes(
      s: SparkSession, d: String, kinds: Seq[String]): Seq[ComposedGate.Stage] = {
    import ComposedGate.Stage._
    val baseDocs = gateIndexBase(tb(s, d, "documents"))
    val baseEmb = gateEmbBase(tb(s, d, "embeddings"))
    def dir(prefix: String): String = Fixtures.dir(prefix).toString
    val built = kinds.map {
      case "quality" =>
        Future(Quality(composedModel(s, d), ClsGateBuckets, dir("cmpq")))
      case "substring" =>
        val st = Substring(dir("cmps"), dir("cmpcl"))
        Future { VersionedSubstring.write(baseDocs, "text", "doc_id", st.indexPath,
          n = SubstrGateN); st }
      case "neardup" =>
        val st = NearDup(dir("cmpt"), dir("cmptk"))
        Future { VersionedNearDup.write(baseDocs, "text", "doc_id", st.indexPath,
          GateShingle, GateNumer, GateDenom, GateBands, GateRows); st }
      case "semantic" =>
        val st = Semantic(dir("cmpa"), dir("cmpk"), SemGateTau, SemGateNprobe)
        Future {
          VersionedIvf.write(baseEmb, "embedding", "vec_id",
            Similarity.trainIvfCentroids(baseEmb, "embedding", "vec_id",
              k = 8, iterations = 1), st.indexPath)
          st
        }
    }
    built.map(Await.result(_, Duration.Inf))
  }

  /** The composed gate over `kinds`, built once per sf dir: each stage's
    * base state from [[writeComposedBaseIndexes]], then arrival batches
    * 0 until `batches` streamed through [[streaming.ComposedGate.stream]]
    * (ONE foreachBatch, one checkpoint). Deliberately no further composed
    * executions: the smoke gate's 20 s bound prices every one, so the
    * replay probe lives in the contract and the bench face replays the
    * last streamed batch itself. Cross-batch composition of the longer
    * chains is pinned by ComposedGateSpec's planted two-batch cases.
    * Value: the stages, whose dirs hold the streamed outputs.
    */
  def composedFixture(s: SparkSession, d: String, kinds: Seq[String],
      batches: Int): Seq[ComposedGate.Stage] =
    Fixtures.memo(s"composedGate:${kinds.mkString(",")}:$batches", d) {
      val stages = writeComposedBaseIndexes(s, d, kinds)
      val arrivals = composedArrivals(s, d, kinds.contains("quality"))
      val landing = Fixtures.dir("cmpl")
      (0 until batches).foreach(k => landBatch(gateSubBatch(arrivals, k), landing, k))
      ComposedGate.stream(
        s.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1)
          .parquet(landing.toString),
        "text", "embedding", "doc_id", stages, Fixtures.dir("cmpc").toString)
        .awaitTermination()
      stages
    }

  /** Content hashes of a composed gate's output tables: every stage's kept
    * (or cleaned) table in stage order, then every index view in stage
    * order — the replay-identity currency of the composed contracts, the
    * Stress receipts and ComposedGateSpec.
    */
  private[graft] def composedOutputsHash(
      s: SparkSession, stages: Seq[ComposedGate.Stage]): Seq[(Long, Long)] = {
    import ComposedGate.Stage._
    // a replay rewrites the batch's own partitions BETWEEN two hashes of the
    // same path — drop the session's cached file listings first, or the
    // second read can chase the pre-replay part files. Index views need no
    // refresh: they list committed dirs per call
    val outs = stages.map { st =>
      s.catalog.refreshByPath(st.outDir)
      s.read.parquet(st.outDir)
    }
    val views = stages.collect {
      case Substring(idx, _) => VersionedSubstring.manifest(s, idx)
      case NearDup(idx, _) => VersionedNearDup.liveManifest(s, idx)
      case Semantic(idx, _, _, _) => VersionedIvf.corpusView(s, idx)
    }
    (outs ++ views).map(df => contentHash(df, df.columns.toSeq))
  }

  /** The sequential reference of a composed gate: each of `batches` through
    * one pure-batch step per stage, stacked in stage order, with no index
    * or stream machinery and base state from the ≡2 mod 4 corpus — the
    * same-model quality filter, the substring manifest fold,
    * [[textGateStep]] and [[semanticGateStep]] over the Semantic index's
    * frozen centroids. Value: the final kept doc ids.
    */
  def composedReferenceKept(s: SparkSession, d: String,
      stages: Seq[ComposedGate.Stage], batches: Seq[DataFrame]): DataFrame = {
    import s.implicits._
    import ComposedGate.Stage._
    def cp(df: DataFrame): DataFrame = graft.CacheScope.localCheckpoint(df)
    val baseDocs = gateIndexBase(tb(s, d, "documents"))
    val start: Seq[DataFrame] = stages.map {
      case _: Quality => s.emptyDataFrame
      case _: Substring =>
        cp(Dedup.substringWindowManifest(baseDocs, "text", "doc_id", SubstrGateN))
      case _: NearDup => cp(gateManifest(baseDocs))
      case _: Semantic => cp(gateEmbBase(tb(s, d, "embeddings")).toDF("doc_id", "embedding"))
    }
    // one (kept, grown state) step of stage `st` over its input `in`
    def step(st: ComposedGate.Stage, in: DataFrame, state: DataFrame): (DataFrame, DataFrame) =
      st match {
        case Quality(model, buckets, _) => (cp(in.join(
          TextClassifier.scoreDocs(in, "text", "doc_id", model, buckets)
            .filter(col("quality") === 1L).select(col("doc").as("doc_id")),
          Seq("doc_id"))), state)
        case _: Substring =>
          // cleaned text, fully-duplicated docs dropped, manifest grown by
          // the input's ORIGINAL windows
          val spans = Dedup.substringSpansAgainstManifest(
            in, state, "text", "doc_id", SubstrGateN)
          (cp(Dedup.applyRemovedSpans(in, spans, "text", "doc_id")
            .select(col("doc").as("doc_id"), col("cleaned_text").as("text"))
            .join(in.select(col("doc_id"), col("embedding")), Seq("doc_id"))),
            cp(state.unionByName(
              Dedup.substringWindowManifest(in, "text", "doc_id", SubstrGateN)).distinct()))
        case _: NearDup => textGateStep(in, state)
        case Semantic(idx, _, _, _) =>
          semanticGateStep(in, state, "doc_id", VersionedIvf.frozenCentroids(s, idx)._2)
      }
    batches.foldLeft((start, s.emptyDataset[Long].toDF("doc_id"))) { case ((states, acc), bk) =>
      val (kept, grown) = stages.zip(states).foldLeft((bk, Seq.empty[DataFrame])) {
        case ((in, done), (st, state)) =>
          val (k, g) = step(st, in, state)
          (k, done :+ g)
      }
      (grown, acc.union(kept.select(col("doc_id"))))
    }._2
  }

  /** The text gate's signature manifest at the gate's LSH shape. */
  def gateManifest(docs: DataFrame): DataFrame =
    Dedup.nearDupManifest(docs, "text", "doc_id", GateShingle, GateBands, GateRows)

  /** One text-gate step of a sequential reference, in pure batch ops: drop
    * the batch's near-dups of `manifest`, self-dedup the rest by exact
    * Jaccard, then grow the manifest by the kept docs. Both results are
    * eagerly checkpointed, not lazily persisted: dropSeen reads the
    * manifest twice and the dedup pipeline reads the batch four times, so a
    * fold over these steps otherwise grows its LOGICAL plan exponentially
    * in the step count and Catalyst analysis alone dwarfs execution
    * (measured at sf0.01: 98 s with lazy persist, ~6 s checkpointed).
    * Value: (kept docs, grown manifest).
    */
  def textGateStep(batch: DataFrame, manifest: DataFrame): (DataFrame, DataFrame) = {
    val unseen = Dedup.dropSeenNearDuplicates(batch, manifest, "text", "doc_id",
      GateShingle, GateNumer, GateDenom, GateBands, GateRows)
    val kept = graft.CacheScope.localCheckpoint(Dedup.dropNearDuplicates(
      unseen,
      Dedup.jaccardDuplicatePairs(unseen, "text", "doc_id",
        GateShingle, GateNumer, GateDenom, GateBands, GateRows),
      "doc_id"))
    (kept, graft.CacheScope.localCheckpoint(
      manifest.union(gateManifest(kept.select(col("doc_id"), col("text"))))))
  }

  /** One semantic-gate step of a sequential reference, in pure batch ops:
    * suppress the batch vectors with a cosine ≥ τ neighbour in `corpus`
    * (in-memory ivfTopK over the same frozen centroids and nprobe), keep
    * the in-batch semantic keepers of the rest, then grow the corpus by
    * them. Both results are eagerly checkpointed (see [[textGateStep]]).
    * Value: (kept (id, embedding) rows, grown corpus).
    */
  def semanticGateStep(batch: DataFrame, corpus: DataFrame, id: String,
      cents: Seq[Seq[Float]]): (DataFrame, DataFrame) = {
    val vecs = batch.select(col(id), col("embedding"))
    val sup = Similarity.ivfTopK(vecs, corpus, "embedding", id,
        k = 1, cents, SemGateNprobe)
      .filter(col("cos") >= SemGateTau).select(col("query_id"))
    val unseen = vecs.join(sup, vecs(id) === sup("query_id"), "left_anti")
    val kept = graft.CacheScope.localCheckpoint(
      Dedup.semanticKeepers(unseen, "embedding", id, SemGateTau))
    (kept, graft.CacheScope.localCheckpoint(corpus.union(kept)))
  }

  /** The gate contracts' verdict: rows of `got` not in `want` and rows of
    * `want` not in `got`, each under its own label, plus one row (id 0)
    * per failed lifecycle probe — one `(out, violation)` frame keyed by
    * `id` cast to bigint, provably empty when the gate holds.
    */
  def keptVerdict(got: DataFrame, want: DataFrame, id: String, out: String,
      gotOnly: String, wantOnly: String, probes: (String, Boolean)*): DataFrame = {
    val s = got.sparkSession
    import s.implicits._
    def labeled(df: DataFrame, label: String): DataFrame =
      df.select(col(id).cast("bigint").as(out), lit(label).as("violation"))
    labeled(got.except(want), gotOnly)
      .union(labeled(want.except(got), wantOnly))
      .union(probes.filterNot(_._2).map(p => (0L, p._1)).toDF(out, "violation"))
  }

  /** The settled-shape audit of a consolidated + ttl-0-vacuumed generation
    * log root: ONE committed generation, zero staged debris, zero segments,
    * zero tombstones. Any row is a violation (a vacuum regression, crash
    * loop or tombstone leak).
    */
  def settledHealthViolations(s: SparkSession, root: String): DataFrame =
    GenerationLog.indexHealth(s, root)
      .filter(col("n_generations") =!= 1L || col("n_staged_debris") =!= 0L ||
        col("n_segments") =!= 0L || col("n_stream_segments") =!= 0L ||
        col("n_tombstones") =!= 0L)
      .select(col("n_generations"), col("n_segments"), col("n_tombstones"))

  /** The oracle of [[settledHealthViolations]]: its empty frame over `table`. */
  def settledHealthOracle(table: String): String =
    "SELECT CAST(0 AS BIGINT) AS n_generations, CAST(0 AS BIGINT) AS n_segments, " +
      s"CAST(0 AS BIGINT) AS n_tombstones FROM $table WHERE 1 = 0"

  /** Planted low-quality text in the classifier's junk vocabulary —
    * deterministic per id; disjoint from the harness corpus vocabulary, so
    * a converged linear model separates the classes exactly.
    */
  private[graft] def junkText(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ",
      concat(lit("jnk"), pmod(id, lit(7))), lit("zzq xxq"),
      concat(lit("jnk"), pmod(id, lit(5))), lit("qqz jnky zzq"),
      concat(lit("jnk"), pmod(id, lit(3))))

  /** The planted-junk labeled set the quality classifiers train on: `docs`
    * (doc_id, text) as label 1, plus one [[junkText]] doc per doc at id +
    * `offset` as label 0.
    */
  private[graft] def junkLabeled(docs: DataFrame, offset: Long): DataFrame = {
    val pos = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    pos.withColumn("label", lit(1L)).unionByName(
      pos.select((col("doc_id") + lit(offset)).as("doc_id"),
        junkText(col("doc_id")).as("text"), lit(0L).as("label")))
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
    *      gated AFTER the delete (forgotten docs must no longer suppress).
    * No consolidation here: it would fold batch 2's segment into the base,
    * and the d_stream_gate face's re-gate of batch 2 would then find the
    * batch's own signatures and empty its kept partition. Compaction of
    * this index family is checked by [[buildVersionedGateFixture]].
    * Value: (indexDir, keptDir, replayOk).
    */
  def buildNearDupGateFixture(
      s: SparkSession, d: String): (String, String, Boolean) = {
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
    (idx.toString, kept.toString, replayOk)
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
    val arrivals = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val deleted = gateDeletedIds(docs).select(col("doc_id").as("__t"))
    val start = (graft.CacheScope.localCheckpoint(gateManifest(gateIndexBase(docs))),
      s.emptyDataset[Long].toDF("doc_id"))
    (0 to 2).foldLeft(start) { case ((man, acc), k) =>
      val live =
        if (k == 2) man.join(broadcast(deleted), col("doc") === col("__t"), "left_anti")
        else man
      val (kept, grown) = textGateStep(gateSubBatch(arrivals, k), live)
      (grown, acc.union(kept.select(col("doc_id"))))
    }._2
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
    GenerationLog.vacuum(s, dir.toString, ttlMs = 0L)
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
    GenerationLog.vacuum(s, root.toString, ttlMs = 0L)
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
