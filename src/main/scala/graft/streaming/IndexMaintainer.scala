package graft.streaming

import graft.operators.IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-maintained persistent ANN indexes: a `foreachBatch`
  * driver over a (vec_id, embedding) stream that keeps an
  * [[IndexStore]] IVF (or PQ) index up to date as vectors arrive —
  * the streaming half the batch stores lacked (VERDICT_r9 #6).
  *
  * Contract per micro-batch:
  *   - FIRST non-empty batch with no index on disk: trains and freezes
  *     the geometry (centroids / codebooks) on that batch and appends
  *     it — the standard "train on a sample, append the rest" shape.
  *     Pass a pre-built index path to train on a curated corpus instead.
  *   - Every later batch: [[IndexStore.appendIvf]]/[[IndexStore.appendPq]]
  *     against the frozen geometry — one delta file per touched list,
  *     file-count-triggered compaction, layout-marker guarded.
  *
  * Crash story (spec: IndexMaintainerSpec): the appends are
  * replay-idempotent per batchId — a driver kill after the append but
  * before the checkpoint commit replays the SAME batch under the SAME
  * id, every delta rename skips as dest-exists, and the build-path
  * window (crash between the centroid freeze and the first append)
  * converges because the replay sees the centroids and takes the
  * append path with the same batchId ([[IndexStore.buildIvf]] stamps
  * the initial deltas with the triggering batch's id). Probes run
  * against the store at any point — they only ever see promoted files.
  *
  * Driver state across batches: NONE (the on-disk index is the state),
  * the same discipline as [[StreamingNearDup]]/[[StreamingEmbNearDup]].
  */
object IndexMaintainer {

  /** Maintain an IVF index at `path` from a streaming (vec_id,
    * embedding) DataFrame. `afterAppend` fires after each non-empty
    * batch's append, BEFORE the checkpoint commit — tests use it to
    * inject the crash-replay window.
    */
  def startIvf(
      vectors: DataFrame,
      path: String,
      nLists: Int,
      checkpoint: String,
      afterAppend: Long => Unit = _ => ()): StreamingQuery = {
    StoreFs.forkFreeCheckpoints(vectors.sparkSession)
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          processIvfBatch(batch, batchId, path, nLists)
          afterAppend(batchId)
        }
      }
      .start()
  }

  private[graft] def processIvfBatch(batch: DataFrame, batchId: Long,
      path: String, nLists: Int): Unit = {
    val spark = batch.sparkSession
    val cents = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val fs = cents.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cents)) IndexStore.buildIvf(batch, nLists, path, batchId)
    else IndexStore.appendIvf(batch, path, batchId)
  }

  /** Maintain a PQ index at `path`; geometry (m subspaces, k codes) is
    * trained on the first batch if absent.
    */
  def startPq(
      vectors: DataFrame,
      path: String,
      m: Int,
      k: Int,
      checkpoint: String,
      afterAppend: Long => Unit = _ => ()): StreamingQuery = {
    StoreFs.forkFreeCheckpoints(vectors.sparkSession)
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          processPqBatch(batch, batchId, path, m, k)
          afterAppend(batchId)
        }
      }
      .start()
  }

  private[graft] def processPqBatch(batch: DataFrame, batchId: Long,
      path: String, m: Int, k: Int): Unit = {
    val spark = batch.sparkSession
    val books = new org.apache.hadoop.fs.Path(s"$path/codebooks")
    val fs = books.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(books)) IndexStore.buildPq(batch, m, k, path, batchId)
    else IndexStore.appendPq(batch, path, batchId)
  }
}
