package graft.streaming

import graft.operators.{Lm, Pii}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The COMPOSED curation pipeline at ingest — the streaming twin of the
  * declared `doc_pipeline_e2e` query. Per arriving micro-batch:
  *
  *   1. PII scrub ([[Pii.scrub]] — the same one-definition patterns as
  *      the batch query; downstream stages see only scrubbed text);
  *   2. LM quality filter against a FROZEN snapshot ([[Lm]] unigram
  *      kernel; keep docs at or below the snapshot's bits-per-token
  *      threshold — trained once by [[trainAndFreeze]], immutable
  *      thereafter: a quality gate that drifted with the stream would
  *      let early garbage raise the bar for later good data);
  *   3. exact near-dup dedup against ALL HISTORY: the normalized
  *      64-char-prefix key of the batch query, first-arrival-wins —
  *      within a batch the lowest doc_id, across batches an anti-join
  *      on the persistent key index;
  *   4. survivors committed under `out/batch=<id>`, then their keys
  *      appended into the index.
  *
  * The key index is a [[BucketIndex]] LSM store (the
  * [[StreamingNearDup]] discipline): keys bucket-partitioned by a
  * key-hash prefix, one delta file per touched bucket per batch,
  * compaction folding each bucket into one file SORTED by key_hash —
  * so the per-batch history anti-join reads a bounded number of files
  * no matter how many batches have run (the per-batch-directory
  * alternative degrades to O(#batches) file listings and opens), and
  * stays a plain equi-anti-join, shuffle-joinable at any history size.
  * The fold trigger is count AND size-ratio gated ([[BucketIndex
  * .appendDelta]], VERDICT_r16 #3): a bucket folds when its file count
  * crosses `compactThreshold` and its delta bytes have caught up with
  * its base — a geometric schedule whose total rewrite volume is
  * linear in ingested bytes, instead of the fixed-count trigger that
  * re-wrote the whole store every `threshold` batches. Measured at
  * both shapes (SCALE_r17 §2–3): the default WINS the 100-batch
  * 2k-KB-doc production run the old trigger lost (256.6 vs 235.9
  * docs/s; r16: 186.1 vs 236.8), wins the 150-batch tiny-doc run
  * whole-run (91.5 vs 69.6), and holds a 2.27× settle-regime ratio at
  * 400 batches — no per-shape tuning required.
  *
  * Exactly-once across replays WITHOUT driver state, by WRITE ORDER:
  * survivors are committed (whole-directory overwrite + `_SUCCESS`)
  * BEFORE their keys are appended. A replayed batch id therefore sees
  * one of two worlds: (a) output not committed — the index cannot
  * contain this batch's keys, so the recompute's anti-join is exact
  * and the overwrite discards any partial attempt; (b) output
  * committed — the committed survivors are authoritative, recompute is
  * SKIPPED (re-running the anti-join now would see the batch's own
  * keys and emit nothing), and the key append re-runs, which is
  * file-level idempotent (same-batchId delta promotions skip on
  * dest-exists; duplicate rows from a mid-append crash are folded by
  * compaction and absorbed by the set-semantic anti-join).
  */
object StreamingPipeline {

  private val KeySchema = StructType(Seq(StructField("key_hash", StringType)))

  /** Train the quality model on a curated corpus and freeze it:
    * [[Lm.saveModel]] (vocab + totals) plus the keep threshold — the
    * corpus mean bits-per-token, the same scalar-subquery rule as
    * `doc_pipeline_e2e` — as a 1-row parquet. Training runs on
    * SCRUBBED text, matching what the stream is scored on.
    */
  def trainAndFreeze(corpus: DataFrame, modelPath: String): Unit = {
    val clean = corpus.select(col("doc_id"), Pii.scrub(col("text")).as("text"))
    val rows = Lm.tokenStream(clean)
    val uni = Lm.unigrams(rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Lm.saveModel(uni, Lm.bigrams(rows), modelPath)
    val snap = Lm.loadModel(corpus.sparkSession, modelPath)
    Lm.scoreUnigram(rows, Lm.surprisalTable(snap.uni, snap.tvSql), snap.tvSql)
      .agg((sum(col("nll_q")) / sum(col("n_tokens"))).cast("long").as("th"))
      .coalesce(1).write.mode("overwrite").parquet(s"$modelPath/threshold")
    uni.unpersist(blocking = false)
  }

  def start(
      docs: DataFrame,
      modelPath: String,
      outPath: String,
      keysPath: String,
      sigsPath: String,
      checkpoint: String,
      numBuckets: Int = 64,
      compactThreshold: Int = 8,
      minEq: Int = 8): StreamingQuery = {
    StoreFs.forkFreeCheckpoints(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          processBatch(batch, batchId, modelPath, outPath, keysPath,
            sigsPath, numBuckets, compactThreshold, minEq)
          ()
        }
      }
      .start()
  }

  /** The normalized dedup key — one definition with the batch query. */
  private def keyOf(text: org.apache.spark.sql.Column) =
    md5(substring(lower(text), 1, 64))

  /** `reuseProbeSigs` (default on, VERDICT_r13 #3): the fresh world
    * appends the probe-side [[StreamingNearDup.bandRows]] rows
    * semi-joined to the committed survivor ids instead of re-shingling
    * the committed text — one MinHash pass per batch instead of two.
    * The appended CONTENT is identical either way (bandRows is a pure
    * function of (doc_id, text), and a survivor's text is byte-equal in
    * both derivations), so fresh and replay worlds still converge to the
    * same index — StreamingPipelineSpec proves it. `false` keeps the
    * recompute-from-commit path (the replay world always uses it); the
    * StreamBench pipeline A/B prices the difference.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      modelPath: String, outPath: String, keysPath: String,
      sigsPath: String, numBuckets: Int = 64, compactThreshold: Int = 8,
      minEq: Int = 8,
      reuseProbeSigs: Boolean = true): Option[StreamingNearDup.ProbeResult] = {
    val spark = batch.sparkSession
    val storeDir = new Path(keysPath)
    val fs = StoreFs.fileSystem(storeDir, spark.sparkContext.hadoopConfiguration)
    BucketIndex.checkLayout(fs, storeDir, "_pipe_layout", numBuckets.toString)
    val sigsDir = new Path(sigsPath)
    // checked in BOTH worlds (the replay branch skips the probe, whose
    // own check would otherwise be the only one before the sig append)
    StreamingNearDup.checkIndexLayout(fs, sigsDir, numBuckets)
    val outDir = new Path(s"$outPath/batch=$batchId")

    val (survivors: DataFrame,
         probe: Option[StreamingNearDup.ProbeResult],
         probeRows: Option[DataFrame]) =
      if (fs.exists(new Path(outDir, "_SUCCESS"))) {
        // replay world (b): committed output is authoritative — do NOT
        // re-run the anti-join or the probe (the indexes may already
        // hold these keys/signatures)
        (spark.read.parquet(outDir.toString).select("doc_id", "text"),
          None, None)
      } else {
        val scrubbed = batch
          .select(col("doc_id"), Pii.scrub(col("text")).as("text"))
        val snap = Lm.loadModel(spark, modelPath)
        val threshold =
          spark.read.parquet(s"$modelPath/threshold").head().getLong(0)
        val kept = Lm.scoreUnigramFrozen(scrubbed, snap)
          .filter(col("ppl_bits_q") <= threshold)
          .join(scrubbed, "doc_id")
          .withColumn("key_hash", keyOf(col("text")))
        // first-arrival-wins: lowest doc_id within the batch…
        val w = Window.partitionBy(col("key_hash")).orderBy(col("doc_id"))
        val firstHere = kept.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        // …then anti-join the whole history in the key index
        val fresh = firstHere
          .join(storedKeys(spark, keysPath, fs, storeDir),
            Seq("key_hash"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // near-dup stage (the StreamingNearDup probe, composed): a fresh
        // doc whose MinHash signature agrees with an already-committed
        // doc in ≥ minEq of NumHashes components — or with a lower-id
        // doc in this batch — is dropped. The probe reads ONLY the
        // signature-index buckets this batch's band keys hash into.
        val rows = StreamingNearDup
          .bandRows(fresh.select("doc_id", "text"), numBuckets)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pr0 = StreamingNearDup.probeMatches(rows, sigsPath, numBuckets, minEq)
        // pin the probe's matches BEFORE the index appends below:
        // appendIndexDelta may compact (delete) the delta files the lazy
        // `matches`/`idx` scans reference, so a caller evaluating the
        // returned ProbeResult afterwards would hit missing files or a
        // mutated index (ADVICE_r13). One eager localCheckpoint, shared
        // with the dup filter, so the probe still evaluates exactly once.
        val pr = pr0.copy(
          matches = pr0.matches.localCheckpoint(true), idx = None)
        val dupIds = pr.matches.select(col("new_doc").as("doc_id")).distinct()
        fresh.join(dupIds, Seq("doc_id"), "left_anti")
          .select("doc_id", "text", "n_tokens", "ppl_bits_q")
          .write.mode("overwrite").parquet(outDir.toString)
        fresh.unpersist(blocking = false)
        // the just-committed parquet is the ONE evaluation of the
        // anti-join + probe pipeline: deriving survivors from `fresh`'s
        // lineage would re-run the whole history probe inside
        // appendDelta (measured double key-store scan per batch) — read
        // the commit back instead, exactly as the replay branch does.
        // `rows` stays persisted when reuseProbeSigs: the sig append
        // below filters it to survivors instead of re-shingling.
        if (!reuseProbeSigs) rows.unpersist(blocking = false)
        (spark.read.parquet(outDir.toString).select("doc_id", "text"),
          Some(pr), if (reuseProbeSigs) Some(rows) else None)
      }

    val keyed = survivors.select(keyOf(col("text")).as("key_hash"))
      .distinct()
      .withColumn("bucket",
        conv(substring(col("key_hash"), 1, 4), 16, 10).cast("long")
          % numBuckets)
    BucketIndex.appendDelta(keyed, dataCols = Seq("key_hash"),
      batchId, numBuckets, compactThreshold,
      schema = KeySchema, dedupCols = Seq("key_hash"),
      sortCols = Seq("key_hash"), fs, storeDir)
    // signature-index append LAST, survivors only (a dropped doc never
    // indexes); same-batchId re-appends are file-level idempotent, so
    // any crash window between the three writes replays clean. Fresh
    // world with reuseProbeSigs: reuse the probe's band rows filtered to
    // the committed survivor ids (bandRows is pure in (doc_id, text), so
    // the content equals the replay world's recompute-from-commit).
    val sigRows = probeRows match {
      case Some(rows) =>
        rows.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
      case None => StreamingNearDup.bandRows(survivors, numBuckets)
    }
    StreamingNearDup.appendIndexDelta(
      sigRows, batchId, numBuckets, compactThreshold, fs, sigsDir)
    probeRows.foreach(_.unpersist(blocking = false))
    probe
  }

  /** Every key committed so far (empty DF before the first append). */
  private def storedKeys(spark: SparkSession, keysPath: String,
      fs: org.apache.hadoop.fs.FileSystem, storeDir: Path): DataFrame = {
    val buckets =
      if (!fs.exists(storeDir)) Array.empty[String]
      else fs.listStatus(storeDir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .map(_.getPath.toString)
    if (buckets.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], KeySchema)
    else spark.read.schema(KeySchema).parquet(buckets.toIndexedSeq: _*)
  }

  /** Everything curated so far; `batch` comes back as a partition col. */
  def readOut(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
}
