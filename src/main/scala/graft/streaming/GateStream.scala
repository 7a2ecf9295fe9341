package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The stream face of every persisted-index gate and ingest: one
  * AvailableNow append query under `checkpointDir` that hands each
  * micro-batch and its checkpoint batch id to `batch`. Exactly-once comes
  * from the batch function (its marker-named segments and static
  * overwrites of `ingest_batch=<id>` dirs make a replay converge), not
  * from the sink.
  */
object GateStream {
  def start(stream: DataFrame, checkpointDir: String)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: Dataset[Row], batchId: Long) => batch(b.toDF(), batchId))
      .start()
}
