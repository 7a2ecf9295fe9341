package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IndexMeta, Similarity, TextClassifier, VersionedIvf, VersionedNearDup, VersionedSubstring}

/** The PRODUCTION ingest composition: the CCNet-style filter chain
  * (quality score → substring cut → near-dup → semantic, Wenzek et al.,
  * LREC 2020), or any ordered part of it, stacked in ONE foreachBatch over
  * one arrival stream with a single checkpoint. Each stage is the proven
  * standalone gate; cheap filters run first and every stage strictly
  * shrinks the next one's input (embedding probes are the expensive tail).
  *
  * One rule drives every stage: a stage writes its own
  * `ingest_batch=<id>` partition, the next stage reads back what was
  * WRITTEN (never the plan that wrote it), and an empty partition ends the
  * batch. Replay safety composes because each stage already has it: every
  * write is an `ingest_batch` overwrite and every stateful stage reads only
  * STRICTLY EARLIER batches for suppression, so a replayed batch rewrites
  * its own partitions byte-identically and re-derives identical downstream
  * inputs (pinned by the d_composed*_gate_contract queries and the Stress
  * receipts).
  *
  * Batch rows must carry text AND embedding columns (`idCol`, `textCol`,
  * `vecCol`); ids must be globally unique across the indexes and the
  * stream.
  */
object ComposedGate {

  /** One stage of the composition and the dir its kept rows land in. */
  sealed trait Stage { def outDir: String }

  object Stage {
    /** Stateless classifier score gate (a pure function of batch and
      * model): docs scored `quality = 1` land in `keptDir`, every batch
      * column kept — the audit ledger of what the score gate passed.
      */
    final case class Quality(model: DataFrame, numBuckets: Int, keptDir: String) extends Stage {
      def outDir: String = keptDir
    }

    /** [[VersionedSubstring.gateBatch]]: duplicated token windows cut out of
      * the text, fully-duplicated docs dropped. The next stage gets the
      * cleaned text with the embedding joined back from this stage's input.
      * A near-dup index behind it should be built over substring-cleaned
      * base text, the normalization arrivals get.
      */
    final case class Substring(indexPath: String, cleanDir: String) extends Stage {
      def outDir: String = cleanDir
    }

    /** [[VersionedNearDup.gateBatch]]: LSH parameters come from the index's
      * pinned params; every batch column is kept.
      */
    final case class NearDup(indexPath: String, keptDir: String) extends Stage {
      def outDir: String = keptDir
    }

    /** [[Similarity.semanticGateBatch]] over `(id, vec)`; kept rows land as
      * (id, vector). It writes no text, so it must be the last stage.
      */
    final case class Semantic(indexPath: String, keptDir: String,
        threshold: Double, nprobe: Int = 2) extends Stage {
      def outDir: String = keptDir
    }
  }

  /** One composed micro-batch, exposed for replay testing and receipts.
    * `frozen` is the Semantic stage's generation-tagged centroids (see
    * [[graft.operators.Similarity.semanticGateBatch]]): [[stream]] passes
    * them so each batch skips the centroid re-read; `None` (the direct-call
    * shape) re-reads them — cheap, since centroids are memoized per
    * committed generation.
    */
  def ingestBatch(
      batch: DataFrame, textCol: String, vecCol: String, idCol: String,
      stages: Seq[Stage], batchId: Long,
      frozen: Option[(Long, Seq[Seq[Float]])] = None): Unit = {
    require(!stages.dropRight(1).exists(_.isInstanceOf[Stage.Semantic]),
      "ComposedGate: the Semantic stage must be the last stage")
    val spark = batch.sparkSession
    def run(stage: Stage, in: DataFrame): Unit = stage match {
      case Stage.Quality(model, numBuckets, keptDir) =>
        val kept = in.join(
          TextClassifier.scoreDocs(in, textCol, idCol, model, numBuckets)
            .filter(col("quality") === 1L)
            .select(col("doc").as(idCol)),
          Seq(idCol))
        graft.Trace.t("composed.stage-quality")(
          kept.write.mode("overwrite").option("partitionOverwriteMode", "static")
            .parquet(s"$keptDir/ingest_batch=$batchId"))
      case Stage.Substring(indexPath, cleanDir) =>
        graft.Trace.t("composed.stage-substr")(VersionedSubstring.gateBatch(
          in, textCol, idCol, indexPath, cleanDir, batchId))
      case Stage.NearDup(indexPath, keptDir) =>
        graft.Trace.t("composed.stage-text")(VersionedNearDup.gateBatch(
          in, textCol, idCol, indexPath, keptDir, batchId))
      case Stage.Semantic(indexPath, keptDir, threshold, nprobe) =>
        graft.Trace.t("composed.stage-sem")(Similarity.semanticGateBatch(
          in.select(col(idCol), col(vecCol)), vecCol, idCol, indexPath,
          keptDir, batchId, threshold, nprobe, frozen))
    }
    @annotation.tailrec
    def drive(in: DataFrame, rest: List[Stage]): Unit = rest match {
      case stage :: next =>
        run(stage, in)
        // the batch's own partition dir, read directly: listing the whole
        // table to prune back to one partition grows with stream age. Its
        // emptiness comes from the part-files' footers — no Spark job
        val part = s"${stage.outDir}/ingest_batch=$batchId"
        if (next.nonEmpty && IndexMeta.dirHasRows(spark, part)) {
          val written = spark.read.parquet(part)
          drive(stage match {
            case _: Stage.Substring =>
              written.select(col("doc").as(idCol), col("cleaned_text").as(textCol))
                .join(in.select(col(idCol), col(vecCol)), Seq(idCol))
            case _ => written
          }, next)
        }
      case Nil => ()
    }
    drive(batch, stages.toList)
  }

  /** [[ingestBatch]] as a Structured Streaming query (AvailableNow, one
    * checkpoint for the whole composition — a batch either fully commits
    * every stage or replays every stage). The Semantic stage's centroids
    * and any Quality model are FROZEN at stream start (the standing
    * [[graft.operators.VersionedIvf.append]] contract). Each stage's
    * `ingest_batch=<id>` partitions are the ledger of what it passed.
    */
  def stream(
      stream: DataFrame, textCol: String, vecCol: String, idCol: String,
      stages: Seq[Stage], checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val frozen = stages.collectFirst { case s: Stage.Semantic =>
      VersionedIvf.frozenCentroids(stream.sparkSession, s.indexPath)
    }
    GateStream.start(stream, checkpointDir)(
      ingestBatch(_, textCol, vecCol, idCol, stages, _, frozen))
  }
}
