package graft.streaming

import graft.operators.Lm
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming LM perplexity scoring against a FROZEN model snapshot —
  * the at-ingest half of `doc_lm_surprisal` / `doc_lm_backoff`
  * (VERDICT_r10 next-round #3, completing the quality-filter-at-ingest
  * story next to [[StreamingDsir]]): the vocab/bigram tables and their
  * totals are trained once on a curated batch corpus ([[Lm.unigrams]] /
  * [[Lm.bigrams]] → [[Lm.saveModel]]), then every arriving micro-batch
  * of documents is scored against that snapshot. The model must NOT
  * drift with the stream — a perplexity filter is only meaningful
  * against a fixed reference distribution — so the snapshot is
  * immutable; the frozen totals are Long literals, and per batch the
  * only shuffles are the token-stream joins to the snapshot tables
  * (AQE broadcasts while the vocab fits) and the per-doc combine.
  *
  * Driver state across batches: NONE. Crash story: per-batch scores
  * land in a `batch=<id>` directory overwritten WHOLE — a driver kill
  * between write and checkpoint commit replays the same id onto the
  * same directory (same rows, same frozen model), never a partial or
  * doubled set. Same discipline as [[StreamingDsir]].
  */
object StreamingLm {

  /** Score a streaming documents DataFrame (doc_id, text, …) against
    * the frozen model at `modelPath`, appending per-batch results under
    * `outPath`. `backoff = true` scores with the bigram stupid-backoff
    * model, `false` with the add-one unigram model — both read the same
    * snapshot.
    */
  def start(
      docs: DataFrame,
      modelPath: String,
      outPath: String,
      checkpoint: String,
      backoff: Boolean = true): StreamingQuery = {
    StoreFs.forkFreeCheckpoints(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(batch, batchId, modelPath, outPath, backoff)
      }
      .start()
  }

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      modelPath: String, outPath: String, backoff: Boolean): Unit = {
    val snap = Lm.loadModel(batch.sparkSession, modelPath)
    val scored =
      if (backoff) Lm.scoreBackoffFrozen(batch, snap)
      else Lm.scoreUnigramFrozen(batch, snap)
    scored.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
  }

  /** All scores so far; `batch` comes back as a partition column. */
  def readScores(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)

  // -------------------------------------------------- two-model contrast

  /** Contrast-score arriving micro-batches against TWO frozen snapshots
    * (general + target — the at-ingest `doc_lm_contrast`): domain
    * routing/selection at ingest, with the same immutability argument
    * as the single-model scorers, doubled — a drifting BASELINE model
    * is as meaningless for a contrast as a drifting target. Same
    * zero-driver-state, whole-directory-per-batch replay discipline.
    */
  def startContrast(
      docs: DataFrame,
      generalPath: String,
      targetPath: String,
      outPath: String,
      checkpoint: String): StreamingQuery = {
    StoreFs.forkFreeCheckpoints(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processContrastBatch(batch, batchId, generalPath, targetPath, outPath)
      }
      .start()
  }

  private[graft] def processContrastBatch(batch: DataFrame, batchId: Long,
      generalPath: String, targetPath: String, outPath: String): Unit = {
    val spark = batch.sparkSession
    Lm.scoreContrastFrozen(batch,
        Lm.loadModel(spark, generalPath), Lm.loadModel(spark, targetPath))
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
  }
}
