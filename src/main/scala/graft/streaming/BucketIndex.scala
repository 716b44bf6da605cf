package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The LSM (log-structured merge) machinery of the bucket-partitioned
  * parquet disk indexes: append-only delta files per bucket plus
  * compaction. [[promoteDelta]] is their delta promotion — staged write,
  * then an idempotent parallel rename to `delta-b<batchId>-<i>.parquet` —
  * used by the disk indexes of the streaming near-dup operators
  * ([[StreamingNearDup]] minhash signatures, [[StreamingEmbNearDup]]
  * embedding sketches) and `IndexStore`, through [[appendDelta]]: a
  * count-and-size-ratio triggered per-bucket fold that sorts by the probe
  * key so point probes row-group-prune. The cell store
  * ([[HamStream.appendBatchIntoStore]]) appends one level-0 file per batch
  * instead and shares only [[promote]], the idempotent rename; the indexes
  * keep per-bucket deltas until their own probe legs measure that layout.
  *
  * Crash contract: a replayed batch re-appends under the same batchId
  * (dest-exists renames skip) — duplicate rows, folded by the next
  * compaction. A crash between a compaction's promote and its deletes
  * leaves old deltas next to the compacted copy; on the same-batchId
  * replay the promoted `compact-b<id>-*` dest may be the bucket's ONLY
  * copy, so it is excluded from the delete list (ADVICE_r8 high — the
  * delete would otherwise silently empty the bucket).
  */
private[graft] object BucketIndex {

  /** Layout guard: bucket routing (and any sketch geometry recorded in
    * `layout`) must match between every writer and prober of an index —
    * a mismatched reopen would silently probe the wrong buckets. First
    * touch stamps the marker; later touches must match it exactly.
    */
  def checkLayout(
      fs: FileSystem,
      storeDir: Path,
      markerName: String,
      layout: String): Unit = {
    val marker = new Path(storeDir, markerName)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val recorded =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      require(recorded == layout,
        s"index at $storeDir was built with layout '$recorded', " +
          s"opened with '$layout' — bucket/sketch routing would be wrong")
    } else {
      fs.mkdirs(storeDir)
      val out = fs.create(marker, true)
      try out.write(layout.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Append `rows` (must carry a `bucket` partition column plus
    * `dataCols`) as ONE delta file per touched bucket, then fold a
    * bucket into a single deduped file sorted by `sortCols` (first of
    * which should be the probe's pushdown key, so its row-group stats
    * become selective) when BOTH triggers agree:
    *
    *   - file count ≥ `compactThreshold` (the LSM level-0 trigger —
    *     probe cost is per-file, so the count bounds read
    *     amplification), AND
    *   - accumulated delta BYTES ≥ the compacted base's bytes (the
    *     size-ratio trigger: each fold roughly doubles the base, so a
    *     bucket ingesting N bytes rewrites O(N) total instead of the
    *     fixed-count trigger's O(N²/threshold) — the measured ~4 s/batch
    *     rewrite tax that made compaction LOSE the 100-batch
    *     2k-KB-doc production run, 186.1 vs 236.8 docs/s, SCALE_r16 §3).
    *
    * A bucket with no base yet folds on count alone (first fold), and a
    * hard ceiling of 8×`compactThreshold` files folds regardless of the
    * byte ratio so a long tail of tiny deltas behind a big base cannot
    * grow probe amplification unboundedly. At the tiny-doc shape this
    * schedule folds at ~8, 16, 32, … batches (geometric), keeping the
    * file count O(log batches) — still far under the compaction-off
    * leg's linear growth that loses from ~150 batches (SCALE_r15 §4).
    */
  def appendDelta(
      rows: DataFrame,
      dataCols: Seq[String],
      batchId: Long,
      indexPath: String,
      numBuckets: Int,
      compactThreshold: Int,
      schema: StructType,
      dedupCols: Seq[String],
      sortCols: Seq[String],
      fs: FileSystem,
      storeDir: Path): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = rows.sparkSession
    val promoted = promoteDelta(rows.select((dataCols :+ "bucket").map(col): _*),
      batchId, storeDir, numBuckets, fs)
    // one post-promotion listing feeds BOTH triggers — the file count and
    // the delta-vs-base byte split (base = prior compact-* output, delta
    // = everything since) — and names the files a fold replaces
    promoted.filter { case (_, files) =>
      compactThreshold > 0 && files.length >= compactThreshold && {
        val (base, delta) = files.partition(_.getPath.getName.startsWith("compact-"))
        val baseBytes = base.map(_.getLen).sum
        baseBytes == 0L || delta.map(_.getLen).sum >= baseBytes ||
          files.length >= compactThreshold * 8
      }
    }.foreach { case (name, files) =>
      val live = new Path(storeDir, name)
      val before = files.map(_.getPath)
      // sorted by sortCols: the compacted file's parquet row-group stats
      // become selective for the probe's key filter, so a point probe
      // inside a big bucket skips row groups instead of scanning them
      val compacted = spark.read.schema(schema)
        .parquet(before.map(_.toString): _*)
        .dropDuplicates(dedupCols)
        .coalesce(1)
        .sortWithinPartitions(sortCols.map(col): _*)
      val cStaging = new Path(
        indexPath, s".compact-staging-$name-b$batchId")
      compacted.write.options(StoreFs.writeOptions(cStaging, spark.sparkContext.hadoopConfiguration))
        .mode("overwrite").parquet(cStaging.toString)
      val cFiles = fs.listStatus(cStaging)
        .filter(_.getPath.getName.endsWith(".parquet"))
      cFiles.zipWithIndex.foreach { case (f, i) =>
        promote(fs, f.getPath, new Path(live, s"compact-b$batchId-$i.parquet"))
      }
      // crash between promote and these deletes leaves old deltas next to
      // the compacted copy — duplicate ROWS the set-semantic probe absorbs
      // and the next compaction folds. On a same-batchId REPLAY of that
      // crash, `before` includes the prior attempt's compact-b<batchId>-*
      // dest (the rename above then skips as dest-exists): that dest may
      // by then be the bucket's ONLY copy, so it must never be on the
      // delete list — deleting it would silently empty the bucket.
      before.filterNot(_.getName.startsWith(s"compact-b$batchId-"))
        .foreach(fs.delete(_, false))
      fs.delete(cStaging, true)
    }
  }

  /** The delta promotion of the disk indexes ([[appendDelta]]). `rows`
    * carry a `bucket` column;
    *   1. they are hash-repartitioned on it (at most `numBuckets` tasks),
    *      so each touched bucket gets ONE staged file per batch, and
    *      written to `<storeDir>/.staging-delta-<batchId>/bucket=N/`
    *      (through [[StoreFs.writeOptions]]: no process per file);
    *   2. each staged file renames to
    *      `bucket=N/delta-b<batchId>-<i>.parquet` ([[promote]]: a
    *      same-batchId replay finds its dest already there and skips; a
    *      failed rename throws its `IOException`, unwrapped) —
    *      buckets in parallel on up to 16 threads, so a batch pays
    *      max(rename latency), not the sum over its buckets (Hadoop
    *      `FileSystem` instances are thread-safe);
    *   3. the staging dir is deleted.
    * Returns each touched bucket's name (`bucket=N`) with its parquet
    * files after the promotion — the compaction trigger reads it instead
    * of listing again.
    */
  private[streaming] def promoteDelta(
      rows: DataFrame,
      batchId: Long,
      storeDir: Path,
      numBuckets: Int,
      fs: FileSystem): Seq[(String, Array[FileStatus])] = {
    import org.apache.spark.sql.functions.col
    def parquet(dir: Path) =
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
    val spark = rows.sparkSession
    val staging = new Path(storeDir, s".staging-delta-$batchId")
    rows.repartition(numBuckets min spark.sessionState.conf.numShufflePartitions, col("bucket"))
      .write.options(StoreFs.writeOptions(staging, spark.sparkContext.hadoopConfiguration))
      .mode("overwrite").partitionBy("bucket").parquet(staging.toString)
    val staged = fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
    // threads start on submit: an empty batch starts none
    val pool = java.util.concurrent.Executors.newFixedThreadPool(staged.length max 1 min 16)
    val promoted =
      try staged.map { bdir =>
        val task: java.util.concurrent.Callable[(String, Array[FileStatus])] = () => {
          val name = bdir.getPath.getName
          val live = new Path(storeDir, name)
          if (!fs.exists(live)) fs.mkdirs(live)
          parquet(bdir.getPath).zipWithIndex.foreach { case (f, i) =>
            promote(fs, f.getPath, new Path(live, s"delta-b$batchId-$i.parquet"))
          }
          name -> parquet(live)
        }
        pool.submit(task)
      }.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }.toSeq
      finally pool.shutdown()
    fs.delete(staging, true)
    promoted
  }

  /** Rename a staged file to its promoted name. `rename` signals failure
    * by returning false, not by throwing: a false with `dest` present is
    * a same-batchId replay whose earlier attempt already promoted the
    * file (benign — the stores are HAM- or set-idempotent); any other
    * false throws, so the batch fails instead of committing rows that
    * never reached the store.
    */
  private[streaming] def promote(fs: FileSystem, src: Path, dest: Path): Unit =
    if (!fs.rename(src, dest) && !fs.exists(dest))
      throw new java.io.IOException(s"promotion rename failed: $src -> $dest")
}
