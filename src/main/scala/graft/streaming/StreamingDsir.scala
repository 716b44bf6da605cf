package graft.streaming

import graft.operators.Dsir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DSIR quality scoring against a FROZEN model snapshot —
  * the at-ingest half of `doc_dsir_weights`: the weight table is built
  * once from a curated batch corpus ([[Dsir.model]] → [[Dsir.weights]]
  * → [[Dsir.saveWeights]]), then every arriving micro-batch of
  * documents is scored map-side against that snapshot. This is how a
  * production pipeline applies data selection at ingest: the model
  * must NOT drift with the stream (importance weights are only
  * meaningful against a fixed raw/target pair), so the snapshot is
  * immutable and scoring is embarrassingly parallel — the B-row weight
  * table broadcasts, and the only shuffle per batch is the per-doc
  * combine within that batch.
  *
  * Driver state across batches: NONE (the same discipline as
  * [[StreamingNearDup]]/[[IndexMaintainer]] — the on-disk artifacts
  * are the state).
  *
  * Crash story: each batch's scores land in a `batch=<id>` directory
  * overwritten WHOLE. A driver kill between the write and the
  * checkpoint commit replays the same batch under the same id and
  * rewrites the same directory — readers of [[readScores]] see either
  * the old or the new complete set, never a partial or doubled one.
  */
object StreamingDsir {

  /** Score a streaming documents DataFrame (doc_id, text, source, …)
    * against the frozen weight table at `weightsPath`, appending
    * per-batch results under `outPath`.
    */
  def start(
      docs: DataFrame,
      weightsPath: String,
      outPath: String,
      checkpoint: String): StreamingQuery = {
    StoreFs.forkFreeCheckpoints(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) processBatch(batch, batchId, weightsPath, outPath)
      }
      .start()
  }

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      weightsPath: String, outPath: String): Unit = {
    val weights = Dsir.loadWeights(batch.sparkSession, weightsPath)
    Dsir.score(batch, weights)
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
  }

  /** All scores so far; `batch` comes back as a partition column. */
  def readScores(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
}
