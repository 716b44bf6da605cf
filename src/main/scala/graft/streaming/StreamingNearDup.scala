package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental MinHash-LSH near-duplicate detection over a document
  * stream — the streaming form of [[Dedup.minhashCandidates]]: a
  * late-arriving near-duplicate of a document ingested long ago is
  * caught WITHOUT rescanning the corpus.
  *
  * The reference's standing-subscription dataflow
  * (`/root/reference/gun/scoped_fetch.go:89-217` — seed from the store,
  * then match each live update against registered interest) is the
  * pattern: here the "interest set" is the LSH band-bucket index of
  * every document seen so far, persisted as a bucket-partitioned
  * parquet store built with [[BucketIndex]]'s LSM machinery (per-batch
  * staged write → idempotent parallel rename promotion →
  * file-count-triggered per-bucket compaction).
  *
  * Per micro-batch:
  *   1. MinHash signatures + band keys for the batch docs (map-side;
  *      [[Dedup.minhashSignatures]] / [[Dedup.bandKeys]]).
  *   2. PROBE: read ONLY the index buckets the batch's band keys hash
  *      into — per-batch probe I/O is O(batch × bands), bounded by
  *      `numBuckets`, and independent of corpus size. The join yields
  *      (new, old) candidates sharing ≥1 band; candidates are verified
  *      by signature agreement (`n_eq` of NumHashes components equal —
  *      an integer-lattice Jaccard estimate) against `minEq`.
  *   3. Within-batch pairs via the same band self-join (a batch
  *      carrying both copies of a doc must still match).
  *   4. Matches land at `matchesPath/batch-<id>` (overwrite —
  *      idempotent on micro-batch replay); the batch's
  *      (band, band_key, doc_id, sig) rows append to the index as one
  *      delta file per touched bucket.
  *
  * State: the driver holds NOTHING across batches — all cross-batch
  * state is the on-disk index, so memory is O(batch) while history is
  * disk-bounded (the only thing that CAN hold 100 TB of signatures).
  * Replayed batches re-append under the same batchId (dest-exists
  * renames skip) and rewrite the same matches dir, so the output is a
  * set under at-least-once delivery; compaction dedupes
  * (band, band_key, doc_id) rows, making a crash between compaction
  * steps at worst a transient duplicate that the next compaction folds.
  *
  * Docs under 3 whitespace tokens have no 3-gram shingles, hence no
  * signature — they never index or match (same contract as the batch
  * operator).
  */
object StreamingNearDup {

  /** Per-batch probe telemetry (driver-side metadata only — counts and
    * bucket ids, never row data). `inListKeys` is the number of band
    * keys pushed down as a parquet IN filter, or -1 when the batch was
    * over [[MaxPushdownKeys]] and the probe fell back to the broadcast
    * semi-join (bounded driver memory, no filter literal).
    */
  final case class ProbeStats(
      batchId: Long,
      batchDocs: Long,
      bucketsProbed: Int,
      bucketsOccupied: Int,
      indexRowsScanned: Long,
      matches: Long,
      processMs: Long,
      inListKeys: Int = 0)

  /** Band-key-count ceiling for the collected IN-list probe pushdown.
    * Under it, the batch's distinct band keys are pushed as a parquet
    * In() filter — compaction sorts the index by band_key, so the scan
    * row-group-prunes to point lookups. Over it (a catch-up batch of
    * millions of docs), the collected literal would put O(batch×bands)
    * strings in driver memory AND in the plan; the probe switches to a
    * broadcast LEFT SEMI join of the bucket scan against the batch's
    * band keys — same candidate set, no driver round-trip. The
    * threshold probe costs one `limit(N+1)` collect, so driver memory
    * is bounded by N either way.
    */
  val MaxPushdownKeys = 4096

  /** Per-band_key cap on the OLD side of the candidate joins — the
    * streaming mirror of [[Dedup.DefaultMaxBucket]]: one viral band key
    * (boilerplate shared by a large fraction of the corpus) would
    * otherwise make the probe join fan-out, and the per-key index read,
    * grow without bound. Keys over the cap keep their `MaxKeyRows`
    * SMALLEST doc_ids (the stable family representatives — a new copy
    * still matches the family through them, same contract as the batch
    * operator's representative linking); only intra-family pair
    * enumeration beyond the cap is sacrificed.
    */
  val MaxKeyRows = 1024

  private[graft] val indexSchema = StructType(Seq(
    StructField("band", LongType),
    StructField("band_key", StringType),
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType))))

  /** The new-side probe rows for a batch of (doc_id, text): MinHash
    * signature + band keys + index-bucket id per (doc, band). Shared by
    * this operator's own micro-batch and the composed
    * [[StreamingPipeline]] near-dup stage so both index the SAME rows.
    */
  private[graft] def bandRows(docs: DataFrame, numBuckets: Int): DataFrame = {
    val sigs = Dedup.minhashSignatures(docs.toDF(), "doc_id", "text")
    Dedup.bandKeys(sigs)
      .join(Dedup.sigArray(sigs), "doc_id")
      .withColumn("bucket", pmod(hash(col("band"), col("band_key")), lit(numBuckets)))
  }

  /** Result of one pruned probe: `matches` is (new_doc, old_doc,
    * n_shared_bands, n_eq) — UNMATERIALIZED (the caller decides where it
    * lands); `idx` is the pruned index scan when any bucket was probed
    * (for telemetry counts).
    */
  /** `matches` and `idx` are LAZY plans whose scan paths are fixed at
    * probe time: consume (or checkpoint) them BEFORE any
    * [[appendIndexDelta]] on the same index — compaction deletes the
    * delta files they reference. [[StreamingPipeline.processBatch]]
    * returns a checkpointed copy for exactly this reason.
    */
  private[graft] final case class ProbeResult(
      matches: DataFrame,
      bucketsProbed: Int,
      bucketsOccupied: Int,
      idx: Option[DataFrame],
      inListKeys: Int)

  /** The probe stage alone, against a CALLER-persisted `rows` (the
    * [[bandRows]] shape — this method runs several actions over it):
    * prune to touched+occupied buckets, push the batch's band keys into
    * the scan (bounded IN-list or broadcast semi-join), cap viral keys,
    * verify candidates by signature agreement. Reused by the composed
    * [[StreamingPipeline]], so "near-dup against all history" is ONE
    * implementation wherever it appears.
    */
  private[graft] def probeMatches(
      rows: DataFrame,
      indexPath: String,
      numBuckets: Int,
      minEq: Int,
      probeAllBuckets: Boolean = false,
      maxPushdownKeys: Int = MaxPushdownKeys,
      maxKeyRows: Int = MaxKeyRows): ProbeResult = {
    val spark = rows.sparkSession
    val storeDir = new org.apache.hadoop.fs.Path(indexPath)
    val fs = StoreFs.fileSystem(storeDir, spark.sparkContext.hadoopConfiguration)
    checkIndexLayout(fs, storeDir, numBuckets)
    // touched buckets: driver-side METADATA, ≤ numBuckets ids — the
    // same O(#partitions) collect the prefix-sum packing does, not a
    // data collect
    val touched = rows.select("bucket").distinct().collect()
      .map(_.getInt(0)).toSet
    val occupied =
      if (!fs.exists(storeDir)) Array.empty[Int]
      else fs.listStatus(storeDir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .map(_.getPath.getName.stripPrefix("bucket=").toInt)
    val probeIds =
      if (probeAllBuckets) occupied.toSeq // the naive A/B leg: full-index probe
      else occupied.filter(touched.contains).toSeq
    val probePaths = probeIds.map(b => s"$indexPath/bucket=$b")
    // the batch's band keys, pushed into the bucket scan so
    // compaction-sorted files row-group-prune to point lookups
    // (PushedFilters: In(band_key, ...)) — but BOUNDED: the collect is
    // limit(MaxPushdownKeys + 1), and past the threshold the probe
    // switches to a broadcast semi-join instead of a driver literal
    // (ADVICE_r8: an unbounded batch×NumBands IN-list is a driver-
    // memory and plan-size blowup on a catch-up batch). The naive A/B
    // leg skips it — it exists to price the rescan shape.
    var inListKeys = 0
    val idx =
      if (probePaths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexSchema)
      else {
        val scan = spark.read.schema(indexSchema).parquet(probePaths: _*)
        if (probeAllBuckets) scan
        else {
          val distinctKeys = rows.select("band_key").distinct()
          val sample = distinctKeys.limit(maxPushdownKeys + 1).collect()
          if (sample.length <= maxPushdownKeys) {
            inListKeys = sample.length
            scan.filter(col("band_key").isInCollection(
              sample.map(_.getString(0)).toSeq))
          } else {
            inListKeys = -1
            scan.join(broadcast(distinctKeys), Seq("band_key"), "left_semi")
          }
        }
      }
    // hot-key guard: cap the OLD side of both candidate joins to the
    // MaxKeyRows smallest doc_ids per (band, band_key) — runs on the
    // already-pruned probe subset, so the window is O(probe), and a
    // viral key degrades to representative matching instead of an
    // unbounded fan-out
    def capPerKey(df: DataFrame): DataFrame =
      if (maxKeyRows <= 0) df
      else df.withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("band", "band_key").orderBy("old_doc")))
        .filter(col("_rn") <= maxKeyRows).drop("_rn")
    val old = capPerKey(idx.select(col("band"), col("band_key"),
      col("doc_id").as("old_doc"), col("sig").as("old_sig")))
    val newBands = rows.select(col("doc_id").as("new_doc"),
      col("band"), col("band_key"), col("sig"))
    val vsHistory = newBands.join(old, Seq("band", "band_key"))
      .filter(col("old_doc") =!= col("new_doc"))
    // within-batch: both sides new, ordered to emit each pair once
    val inBatch = newBands.join(
      capPerKey(rows.select(col("doc_id").as("old_doc"), col("band"),
        col("band_key"), col("sig").as("old_sig"))),
      Seq("band", "band_key"))
      .filter(col("old_doc") < col("new_doc"))
    val nEq = aggregate(
      zip_with(col("sig"), col("old_sig"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val matches = vsHistory.unionByName(inBatch)
      .groupBy("new_doc", "old_doc")
      .agg(count(lit(1)).as("n_shared_bands"),
        first(col("sig")).as("sig"), first(col("old_sig")).as("old_sig"))
      .withColumn("n_eq", nEq)
      .filter(col("n_eq") >= minEq)
      .select("new_doc", "old_doc", "n_shared_bands", "n_eq")
    ProbeResult(matches, probeIds.size, occupied.length,
      if (probePaths.isEmpty) None else Some(idx), inListKeys)
  }

  /** Start the standing query: `docs` must stream (doc_id, text) rows.
    * `minEq` is the match threshold in signature components (of
    * [[Dedup.NumHashes]]): 8/16 ≈ Jaccard 0.5.
    */
  def start(
      docs: DataFrame,
      indexPath: String,
      matchesPath: String,
      numBuckets: Int = 64,
      minEq: Int = 8,
      compactThreshold: Int = 8,
      onStats: ProbeStats => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    StoreFs.forkFreeCheckpoints(docs.sparkSession)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onStats(processBatch(batch, batchId, indexPath, matchesPath,
          numBuckets, minEq, compactThreshold))
      }
      .start()
  }

  /** One micro-batch: probe → match → append. Exposed for the bench
    * harness (drive batches without a streaming source) and tests.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      matchesPath: String,
      numBuckets: Int,
      minEq: Int,
      compactThreshold: Int,
      probeAllBuckets: Boolean = false,
      maxPushdownKeys: Int = MaxPushdownKeys,
      maxKeyRows: Int = MaxKeyRows): ProbeStats = {
    val t0 = System.nanoTime()
    val spark = batch.sparkSession
    val rows = bandRows(batch, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pr = probeMatches(rows, indexPath, numBuckets, minEq,
        probeAllBuckets, maxPushdownKeys, maxKeyRows)
      pr.matches.write.mode("overwrite").parquet(s"$matchesPath/batch-$batchId")
      val nMatches = spark.read.parquet(s"$matchesPath/batch-$batchId").count()
      val idxRows = pr.idx.map(_.count()).getOrElse(0L)
      val storeDir = new org.apache.hadoop.fs.Path(indexPath)
      val fs = StoreFs.fileSystem(storeDir, spark.sparkContext.hadoopConfiguration)
      appendIndexDelta(rows, batchId, numBuckets, compactThreshold, fs, storeDir)
      ProbeStats(batchId, rows.select("doc_id").distinct().count(),
        pr.bucketsProbed, pr.bucketsOccupied, idxRows, nMatches,
        (System.nanoTime() - t0) / 1000000L, pr.inListKeys)
    } finally rows.unpersist()
  }

  /** Bucket-count layout guard ([[BucketIndex.checkLayout]]): a restart
    * with a different `numBuckets` would silently probe the wrong
    * buckets (missed duplicates, no error).
    */
  private[graft] def checkIndexLayout(
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: org.apache.hadoop.fs.Path,
      numBuckets: Int): Unit =
    try BucketIndex.checkLayout(fs, storeDir, "_nd_layout", numBuckets.toString)
    catch { case e: IllegalArgumentException =>
      // keep the pre-refactor message shape (numBuckets=N) for callers
      throw new IllegalArgumentException(
        s"near-dup index at $storeDir was built with numBuckets=" +
          s"${e.getMessage.replaceAll("(?s).*layout '([^']*)'.*", "$1")}, " +
          s"probed with $numBuckets — band-bucket routing would be wrong")
    }

  /** Append the batch's index rows as ONE delta file per touched bucket
    * ([[BucketIndex.appendDelta]]); compaction sorts by band_key so the
    * probe's pushdown filter row-group-prunes.
    */
  private[graft] def appendIndexDelta(
      rows: DataFrame,
      batchId: Long,
      numBuckets: Int,
      compactThreshold: Int,
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: org.apache.hadoop.fs.Path): Unit =
    BucketIndex.appendDelta(rows,
      dataCols = Seq("band", "band_key", "doc_id", "sig"),
      batchId, numBuckets, compactThreshold,
      schema = indexSchema,
      dedupCols = Seq("band", "band_key", "doc_id"),
      sortCols = Seq("band_key", "band", "doc_id"),
      fs, storeDir)
}
