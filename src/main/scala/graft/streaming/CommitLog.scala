package graft.streaming

import org.apache.spark.sql.SparkSession

/** Read-only view of a Structured Streaming checkpoint's progress logs —
  * the mechanical invariant behind "run index maintenance only when the
  * ingest stream has no uncommitted batches".
  *
  * A micro-batch leaves two footprints in its checkpoint dir: an
  * `offsets/<batchId>` entry written when the batch STARTS and a
  * `commits/<batchId>` entry written after its sink work completed (the
  * engine's own exactly-once bookkeeping). A batch id present in `offsets`
  * but absent from `commits` is therefore in flight or crashed-pending —
  * exactly the batch whose eventual replay a consolidation/compaction/purge
  * must not race ([[graft.operators.VersionedIvf.consolidate]] and
  * friends document the failure shapes). Both logs are plain
  * batch-id-named files (HDFSMetadataLog); temp files and non-numeric
  * names are ignored.
  */
object CommitLog {

  private def maxBatchId(
      spark: SparkSession, dir: org.apache.hadoop.fs.Path): Option[Long] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).iterator.filter(_.isFile)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .maxOption
  }

  /** Highest batch id the stream has STARTED (offsets log). */
  def lastStartedBatch(spark: SparkSession, checkpointDir: String): Option[Long] =
    maxBatchId(spark, new org.apache.hadoop.fs.Path(checkpointDir, "offsets"))

  /** Highest batch id the stream has fully COMMITTED (commits log). */
  def lastCommittedBatch(spark: SparkSession, checkpointDir: String): Option[Long] =
    maxBatchId(spark, new org.apache.hadoop.fs.Path(checkpointDir, "commits"))

  /** The in-flight/crashed-pending batch id, if any: started past the last
    * commit. (Batch ids are monotonically increasing and committed in
    * order, so comparing the two maxima is exact.)
    */
  def uncommittedBatch(spark: SparkSession, checkpointDir: String): Option[Long] = {
    val started = lastStartedBatch(spark, checkpointDir)
    val committed = lastCommittedBatch(spark, checkpointDir)
    started.filter(s => committed.forall(_ < s))
  }

  /** Fail fast when the checkpoint shows an uncommitted batch — the guard
    * the maintenance entry points run when given their stream's checkpoint
    * dir. `what` names the refused operation in the error.
    */
  def requireAllCommitted(
      spark: SparkSession, checkpointDir: String, what: String): Unit =
    uncommittedBatch(spark, checkpointDir).foreach { b =>
      throw new IllegalStateException(
        s"$what: streaming checkpoint $checkpointDir shows batch $b started " +
          "but not committed — a maintenance rewrite now would race that " +
          "batch's replay (re-appending rows the rewrite just folded or " +
          "purged). Stop the stream or let the batch commit, then retry.")
    }
}
