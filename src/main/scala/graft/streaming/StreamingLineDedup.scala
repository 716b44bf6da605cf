package graft.streaming

import graft.operators.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** C4/CCNet line-level dedup AT INGEST — the streaming twin of the
  * declared `doc_line_dedup` query: every 12-token segment keeps its
  * FIRST ARRIVAL (within a batch the lowest (doc_id, seg_idx); across
  * batches an anti-join against the persistent segment-hash index) and
  * later copies are dropped. Per micro-batch the output records, for
  * every arriving segment, whether it survived — the per-doc
  * kept/removed counts any downstream reassembly or curation audit
  * derives by aggregation ([[readCounts]]).
  *
  * Segmentation is [[Dedup.segments]] VERBATIM — the same kernel the
  * batch query runs, so a corpus streamed through this path in doc_id
  * order produces exactly the batch query's survivor set (pinned by
  * StreamingLineDedupSpec).
  *
  * Index + replay discipline is [[StreamingPipeline]]'s, at segment
  * granularity: the seen-segment history lives in a [[BucketIndex]]
  * LSM store (hash-bucketed deltas, count-and-size-ratio-triggered
  * compaction — file count bounded O(log batches), rewrite volume
  * linear in ingested bytes; the anti-join stays a plain equi-join at
  * any history size, no driver state). Exactly-once by
  * WRITE ORDER: the batch's segment verdicts are committed under
  * `out/batch=<id>` BEFORE the fresh hashes are appended, so a
  * replayed batch either recomputes against an index that cannot yet
  * contain its own keys (output uncommitted) or skips recompute
  * entirely (output committed — re-running the anti-join would see the
  * batch's own keys and mark everything removed) and only re-runs the
  * file-level-idempotent append.
  *
  * Scale: per batch ONE shuffle on the 8-byte segment hash (the
  * within-batch first-occurrence window) + the history anti-join;
  * appended deltas are one file per touched bucket. The first-kept
  * rule means the index holds exactly the distinct segments seen — it
  * grows with corpus novelty, not corpus size.
  */
object StreamingLineDedup {

  private val SegSchema = StructType(Seq(StructField("line_hash", LongType)))

  def start(
      docs: DataFrame,
      outPath: String,
      segsPath: String,
      checkpoint: String,
      numBuckets: Int = 64,
      compactThreshold: Int = 8): StreamingQuery = {
    StoreFs.forkFreeCheckpoints(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(batch, batchId, outPath, segsPath,
            numBuckets, compactThreshold)
      }
      .start()
  }

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      outPath: String, segsPath: String,
      numBuckets: Int = 64, compactThreshold: Int = 8): Unit = {
    val spark = batch.sparkSession
    val storeDir = new Path(segsPath)
    val fs = StoreFs.fileSystem(storeDir, spark.sparkContext.hadoopConfiguration)
    BucketIndex.checkLayout(fs, storeDir, "_linededup_layout",
      numBuckets.toString)
    val outDir = new Path(s"$outPath/batch=$batchId")

    val verdicts: DataFrame =
      if (fs.exists(new Path(outDir, "_SUCCESS"))) {
        // replay world (b): committed verdicts are authoritative
        spark.read.parquet(outDir.toString)
          .select("doc_id", "seg_idx", "line_hash", "kept")
      } else {
        val segs = Dedup.segments(batch, "doc_id", "text")
        // first arrival within the batch…
        val w = Window.partitionBy(col("line_hash"))
          .orderBy(col("doc_id"), col("seg_idx"))
        val ranked = segs.withColumn("rn", row_number().over(w))
        // …and unseen across all committed history
        val seen = storedSegs(spark, fs, storeDir)
          .select(col("line_hash"), lit(1L).as("seen"))
        val out = ranked
          .join(seen, Seq("line_hash"), "left")
          .select(col("doc_id"), col("seg_idx"), col("line_hash"),
            (col("rn") === 1 && col("seen").isNull).cast("long").as("kept"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out.write.mode("overwrite").parquet(outDir.toString)
        val ret = spark.read.parquet(outDir.toString)
          .select("doc_id", "seg_idx", "line_hash", "kept")
        out.unpersist(blocking = false)
        ret
      }

    val fresh = verdicts.filter(col("kept") === 1L)
      .select(col("line_hash")).distinct()
      .withColumn("bucket", pmod(col("line_hash"), lit(numBuckets.toLong)))
    BucketIndex.appendDelta(fresh, dataCols = Seq("line_hash"),
      batchId, numBuckets, compactThreshold,
      schema = SegSchema, dedupCols = Seq("line_hash"),
      sortCols = Seq("line_hash"), fs, storeDir)
  }

  /** Every segment hash committed so far (empty before the first append). */
  private def storedSegs(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, storeDir: Path): DataFrame = {
    val buckets =
      if (!fs.exists(storeDir)) Array.empty[String]
      else fs.listStatus(storeDir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .map(_.getPath.toString)
    if (buckets.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], SegSchema)
    else spark.read.schema(SegSchema).parquet(buckets.toIndexedSeq: _*)
  }

  /** All per-segment verdicts so far; `batch` is a partition column. */
  def readOut(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)

  /** The batch query's per-doc view of everything streamed so far:
    * (doc_id, n_segs, n_kept, n_removed).
    */
  def readCounts(spark: SparkSession, outPath: String): DataFrame =
    readOut(spark, outPath)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"), sum(col("kept")).as("n_kept"))
      .withColumn("n_removed", col("n_segs") - col("n_kept"))
      .select("doc_id", "n_segs", "n_kept", "n_removed")
}
