package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The LSM (log-structured merge) machinery of the bucket-partitioned
  * parquet stores: append-only files per bucket plus compaction.
  * [[promoteDelta]] is their promotion — staged write, then an
  * idempotent parallel rename to `<prefix>-<i>.parquet` in each bucket —
  * and [[fold]] is their one compaction: it promotes the merge of the
  * files it listed and then deletes exactly those files. The disk indexes
  * of the streaming near-dup operators ([[StreamingNearDup]] minhash
  * signatures, [[StreamingEmbNearDup]] embedding sketches) and
  * `IndexStore` append through [[appendDelta]]: one delta per touched
  * bucket and a count-and-size-ratio triggered fold that sorts by the
  * probe key so point probes row-group-prune. The cell store
  * ([[HamStream.appendBatchIntoStore]]) appends one level-0 file per batch
  * instead ([[promote]]) and folds level 0 into its buckets through
  * [[fold]] ([[HamStream.compactBuckets]]).
  *
  * Crash contract: a replayed batch re-appends under the same name
  * (dest-exists renames skip) — duplicate rows, absorbed by the next
  * fold. A crash between a fold's promote and its deletes, or in the
  * middle of its deletes, leaves input files next to the fold's output:
  * duplicate rows again, which the set-semantic probes and the HAM merge
  * (commutative, associative, idempotent) absorb and the next fold
  * removes. A fold's output therefore must never take a name that an
  * earlier fold left in the bucket, or that fold's promote would skip
  * and its delete would drop what it just folded: the indexes name it
  * after the batch, `compact-b<batchId>`, and the cell store, whose
  * `compactStore` has no batch, after a fresh UUID. On a same-batchId
  * replay of an index fold that crashed after its promote, the listing
  * holds the earlier attempt's `compact-b<batchId>-*` output, which may
  * by then be the bucket's ONLY copy: [[fold]] never deletes a file of
  * its own name (ADVICE_r8 high — the delete would otherwise silently
  * empty the bucket).
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
    * `dataCols`) as ONE delta file per touched bucket, then [[fold]] a
    * bucket into a single file, deduped on `dedupCols` and sorted by
    * `sortCols`, when BOTH triggers agree (the buckets that do fold in
    * one batch fold in one Spark job):
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
      numBuckets: Int,
      compactThreshold: Int,
      schema: StructType,
      dedupCols: Seq[String],
      sortCols: Seq[String],
      fs: FileSystem,
      storeDir: Path): Unit = {
    import org.apache.spark.sql.functions.col
    val promoted = promoteDelta(rows.select((dataCols :+ "bucket").map(col): _*),
      s"delta-b$batchId", Nil, storeDir, numBuckets, fs)
    // one post-promotion listing feeds BOTH triggers — the file count and
    // the delta-vs-base byte split (base = prior compact-* output, delta
    // = everything since) — and names the files a fold replaces
    val folded = promoted.filter { case (_, files) =>
      compactThreshold > 0 && files.length >= compactThreshold && {
        val (base, delta) = files.partition(_.getPath.getName.startsWith("compact-"))
        val baseBytes = base.map(_.getLen).sum
        baseBytes == 0L || delta.map(_.getLen).sum >= baseBytes ||
          files.length >= compactThreshold * 8
      }
    }
    if (folded.nonEmpty) {
      val listed = folded.flatMap(_._2.map(_.getPath))
      // `basePath` makes each file's `bucket=N` dir its bucket column
      val merged = rows.sparkSession.read.schema(schema).option("basePath", storeDir.toString)
        .parquet(listed.map(_.toString): _*)
        .dropDuplicates("bucket" +: dedupCols)
      fold(merged, sortCols, listed, s"compact-b$batchId", storeDir, folded.length, fs)
    }
  }

  /** The fold of a bucketed store: `merged` — the merge of the `listed`
    * files, with a `bucket` column — is written as ONE file per bucket,
    * sorted by `sortCols` (the first of them the probe's pushdown key, so
    * the file's row-group stats are selective for it), and promoted into
    * each `bucket=N/` dir as `<name>-<i>.parquet` ([[promoteDelta]]); then
    * exactly the `listed` files are deleted, so a file that lands after
    * the listing stays for the next fold. A listed file of the fold's own
    * name is an earlier attempt's output, which a same-name replay's
    * promote skipped: it is kept. Until the deletes end, readers see the
    * inputs and the output side by side — duplicates the merge absorbs.
    * Returns the buckets (`bucket=N`) that got a file.
    */
  private[streaming] def fold(
      merged: DataFrame,
      sortCols: Seq[String],
      listed: Seq[Path],
      name: String,
      storeDir: Path,
      numBuckets: Int,
      fs: FileSystem): Seq[String] = {
    val promoted = promoteDelta(merged, name, sortCols, storeDir, numBuckets, fs).map(_._1)
    listed.filterNot(_.getName.startsWith(s"$name-")).foreach(fs.delete(_, false))
    promoted
  }

  /** The promotion of bucketed rows: an index delta ([[appendDelta]],
    * `prefix` `delta-b<batchId>`) or a fold's output ([[fold]]). `rows`
    * carry a `bucket` column;
    *   1. they are hash-repartitioned on it (at most `numBuckets` tasks),
    *      so each bucket gets ONE staged file, sorted by `sortCols`, and
    *      written to `<storeDir>/.staging-<prefix>/bucket=N/` (through
    *      [[StoreFs.writeOptions]]: no process per file);
    *   2. each staged file renames to `bucket=N/<prefix>-<i>.parquet`
    *      ([[promote]]: a same-name replay finds its dest already there
    *      and skips; a failed rename throws its `IOException`,
    *      unwrapped) — buckets in parallel on up to 16 threads, so a
    *      batch pays max(rename latency), not the sum over its buckets
    *      (Hadoop `FileSystem` instances are thread-safe);
    *   3. the staging dir is deleted.
    * Returns each bucket it wrote (`bucket=N`) with its parquet files
    * after the promotion — the compaction trigger reads it instead of
    * listing again.
    */
  private[streaming] def promoteDelta(
      rows: DataFrame,
      prefix: String,
      sortCols: Seq[String],
      storeDir: Path,
      numBuckets: Int,
      fs: FileSystem): Seq[(String, Array[FileStatus])] = {
    import org.apache.spark.sql.functions.col
    def parquet(dir: Path) =
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
    val spark = rows.sparkSession
    val staging = new Path(storeDir, s".staging-$prefix")
    rows.repartition(numBuckets min spark.sessionState.conf.numShufflePartitions, col("bucket"))
      .sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
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
            promote(fs, f.getPath, new Path(live, s"$prefix-$i.parquet"))
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
