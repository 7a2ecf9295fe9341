package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, VersionedIvf, VersionedNearDup, VersionedSubstring}

/** The PRODUCTION ingest composition: text near-dup gate → semantic gate,
  * stacked in ONE foreachBatch over one arrival stream (the shape a crawl
  * pipeline actually runs — exact/near-dup text dedup first because it is
  * cheap and catches the bulk, SemDeDup on the survivors because embedding
  * probes are the expensive tail). Each stage is the proven standalone
  * gate; this wires their per-batch entry points so one micro-batch flows
  * batch → text-kept → semantic-kept with a single checkpoint.
  *
  * Replay safety composes because each stage already has it: both stages
  * key every write to `ingest_batch=<batchId>` dynamic overwrites and read
  * only STRICTLY EARLIER batches for suppression, so a replayed batch
  * replaces its own text-kept partition, re-derives the same survivors
  * from it, and replaces its own semantic outputs — byte-identical end to
  * end (pinned by the d_composed_gate_contract query and the Stress
  * receipt). The stage-1 → stage-2 handoff reads the WRITTEN text-kept
  * partition back rather than re-evaluating the gate plan — the same
  * read-back-what-you-wrote rationale as each gate's own manifest append.
  *
  * Batch rows must carry text AND embedding columns (`idCol`, `textCol`,
  * `vecCol`); ids must be globally unique across both indexes and the
  * stream. Scale shape: stage 1 is manifest-scale IO (never corpus text),
  * stage 2's probe exchange is bounded by (text survivors) × nprobe — the
  * composition strictly shrinks stage 2's input, it never adds cost.
  */
object ComposedGate {

  /** One composed micro-batch, exposed for replay testing and receipts.
    * `frozenGen` tags the generation `centroids` were read from (see
    * [[graft.operators.Similarity.semanticGateBatch]]): the stream entry
    * points pass it so each batch skips the centroid re-read; `None` (the
    * direct-call test shape) re-validates by re-reading — cheap, since
    * centroids are memoized per committed generation.
    */
  def ingestBatch(
      batch: DataFrame, textCol: String, vecCol: String, idCol: String,
      textIndexPath: String, annIndexPath: String,
      centroids: Seq[Seq[Float]],
      textKeptDir: String, keptDir: String, batchId: Long,
      threshold: Double, nprobe: Int,
      frozenGen: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    // stage 1: text near-dup gate. The embedding column rides along into
    // the kept partition (the gate keeps every batch column), so stage 2
    // needs no join back to the arrival source.
    graft.Trace.t("composed.stage-text")(VersionedNearDup.gateBatch(
      batch, textCol, idCol, textIndexPath, textKeptDir, batchId))
    // stage 2: semantic gate over stage 1's survivors, read back from the
    // written partition. An all-suppressed batch wrote no partition and
    // has nothing to gate semantically.
    // read the batch's own partition dir directly: listing the whole kept
    // table to prune back to one partition costs a full dir listing that
    // grows with stream age (one subdir per batch ever gated)
    val part = s"$textKeptDir/ingest_batch=$batchId"
    if (graft.operators.IndexMeta.dirHasRows(spark, part)) {
      val survivors = spark.read.parquet(part)
        .select(col(idCol), col(vecCol))
      graft.Trace.t("composed.stage-sem")(
        Similarity.semanticGateBatch(survivors, vecCol, idCol,
          annIndexPath, keptDir, centroids, batchId, threshold, nprobe,
          frozenGen = frozenGen))
    }
  }

  /** The FULL three-modality ingest: substring gate → near-dup gate →
    * semantic gate in one micro-batch. Stage 0 cuts duplicated token
    * windows out of the arriving TEXT (boilerplate removal — run first
    * because downstream near-dup similarity should be judged on the
    * de-boilerplated text, the order real pipelines use) and drops
    * fully-duplicated docs outright; survivors re-attach their embedding
    * (one batch-sized join back to the arrival frame) and flow through the
    * proven two-stage composition. Replay safety composes exactly as
    * before: stage 0's clean table and window-key append are
    * `ingest_batch` dynamic overwrites reading strictly-earlier batches,
    * so a replayed batch rewrites its own partitions byte-identically and
    * re-derives identical downstream inputs.
    */
  def ingestBatch3(
      batch: DataFrame, textCol: String, vecCol: String, idCol: String,
      substrIndexPath: String, textIndexPath: String, annIndexPath: String,
      centroids: Seq[Seq[Float]],
      cleanDir: String, textKeptDir: String, keptDir: String, batchId: Long,
      threshold: Double, nprobe: Int,
      frozenGen: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    graft.Trace.t("composed.stage-substr")(VersionedSubstring.gateBatch(
      batch, textCol, idCol, substrIndexPath, cleanDir, batchId))
    // an all-duplicate batch wrote no partition — nothing survives stage 0.
    // Direct-partition read, same rationale as ingestBatch's survivors read
    val part = s"$cleanDir/ingest_batch=$batchId"
    if (graft.operators.IndexMeta.dirHasRows(spark, part)) {
      val cleaned = spark.read.parquet(part)
        .select(col("doc").as(idCol), col("cleaned_text").as(textCol))
      val withVec = cleaned.join(batch.select(col(idCol), col(vecCol)), Seq(idCol))
      ingestBatch(withVec, textCol, vecCol, idCol,
        textIndexPath, annIndexPath, centroids,
        textKeptDir, keptDir, batchId, threshold, nprobe, frozenGen)
    }
  }

  /** The FULL CCNet-style production crawl pipeline as ONE checkpointed
    * composition: quality-classifier score gate → substring cut → near-dup
    * gate → semantic gate. Stage -1 (the classifier) is STATELESS — a pure
    * function of (batch, model) — so replay identity composes for free:
    * a replayed batch re-scores identically and the stateful stages keep
    * their own replay contracts. Kept-quality rows land by static
    * overwrite of the batch's own `$qualityKeptDir/ingest_batch=<id>` dir
    * (the audit ledger of what the score gate passed — replay rewrites it
    * byte-identically); survivors are read back from the WRITTEN partition
    * (the standing read-back-what-you-wrote rationale) and flow through
    * [[ingestBatch3]] unchanged. Scale shape: scoring is one broadcast
    * model join + a map-side-combined per-doc agg — the batch text never
    * shuffles — and the composition strictly SHRINKS every downstream
    * stage's input (cheap stateless filter first, expensive embedding
    * probes last).
    */
  def ingestBatch4(
      batch: DataFrame, textCol: String, vecCol: String, idCol: String,
      model: DataFrame, numBuckets: Int,
      substrIndexPath: String, textIndexPath: String, annIndexPath: String,
      centroids: Seq[Seq[Float]],
      qualityKeptDir: String, cleanDir: String, textKeptDir: String,
      keptDir: String, batchId: Long,
      threshold: Double, nprobe: Int,
      frozenGen: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val keptQ = batch.join(
      graft.operators.TextClassifier
        .scoreDocs(batch, textCol, idCol, model, numBuckets)
        .filter(col("quality") === 1L)
        .select(col("doc").as(idCol)),
      Seq(idCol))
    val batchQDir = s"$qualityKeptDir/ingest_batch=$batchId"
    graft.Trace.t("composed.stage-quality")(
      keptQ.write.mode("overwrite").option("partitionOverwriteMode", "static")
        .parquet(batchQDir))
    // emptiness from the written part-files' footers — no Spark job
    val hasData = graft.operators.IndexMeta.dirHasRows(spark, batchQDir)
    if (hasData)
      ingestBatch3(
        spark.read.parquet(batchQDir)
          .select(col(idCol), col(textCol), col(vecCol)),
        textCol, vecCol, idCol,
        substrIndexPath, textIndexPath, annIndexPath, centroids,
        cleanDir, textKeptDir, keptDir, batchId, threshold, nprobe, frozenGen)
  }

  /** [[ingestBatch4]] as a Structured Streaming query — one checkpoint for
    * the whole four-stage composition. The classifier model is FROZEN at
    * stream start (same posture as the centroids).
    */
  def stream4(
      stream: DataFrame, textCol: String, vecCol: String, idCol: String,
      model: DataFrame, numBuckets: Int,
      substrIndexPath: String, textIndexPath: String, annIndexPath: String,
      qualityKeptDir: String, cleanDir: String, textKeptDir: String,
      keptDir: String, checkpointDir: String,
      threshold: Double, nprobe: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (gen, centroids) = VersionedIvf.frozenCentroids(stream.sparkSession, annIndexPath)
    GateStream.start(stream, checkpointDir)((batch, batchId) =>
      ingestBatch4(batch, textCol, vecCol, idCol, model, numBuckets,
        substrIndexPath, textIndexPath, annIndexPath, centroids,
        qualityKeptDir, cleanDir, textKeptDir, keptDir, batchId,
        threshold, nprobe, frozenGen = Some(gen)))
  }

  /** [[ingestBatch3]] as a Structured Streaming query — one checkpoint for
    * the whole three-stage composition. The near-dup index should be built
    * over substring-CLEANED base text (the same normalization arrivals get
    * before reaching it); the substring index pins its own window size.
    */
  def stream3(
      stream: DataFrame, textCol: String, vecCol: String, idCol: String,
      substrIndexPath: String, textIndexPath: String, annIndexPath: String,
      cleanDir: String, textKeptDir: String, keptDir: String,
      checkpointDir: String, threshold: Double, nprobe: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (gen, centroids) = VersionedIvf.frozenCentroids(stream.sparkSession, annIndexPath)
    GateStream.start(stream, checkpointDir)((batch, batchId) =>
      ingestBatch3(batch, textCol, vecCol, idCol,
        substrIndexPath, textIndexPath, annIndexPath, centroids,
        cleanDir, textKeptDir, keptDir, batchId, threshold, nprobe,
        frozenGen = Some(gen)))
  }

  /** Drive the composition as a Structured Streaming query (AvailableNow,
    * one checkpoint for the whole composition — a batch either fully
    * commits both stages or replays both). LSH parameters come from the
    * text index's pinned params; centroids are FROZEN at stream start
    * (the standing [[graft.operators.VersionedIvf.append]] contract). Final kept rows land under
    * `$keptDir/ingest_batch=<id>` as (id, vector); the text-kept dir is
    * the intermediate ledger (useful for auditing what each stage
    * dropped).
    */
  def stream(
      stream: DataFrame, textCol: String, vecCol: String, idCol: String,
      textIndexPath: String, annIndexPath: String,
      textKeptDir: String, keptDir: String, checkpointDir: String,
      threshold: Double, nprobe: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (gen, centroids) = VersionedIvf.frozenCentroids(stream.sparkSession, annIndexPath)
    GateStream.start(stream, checkpointDir)((batch, batchId) =>
      ingestBatch(batch, textCol, vecCol, idCol,
        textIndexPath, annIndexPath, centroids,
        textKeptDir, keptDir, batchId, threshold, nprobe, frozenGen = Some(gen)))
  }
}
