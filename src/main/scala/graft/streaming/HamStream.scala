package graft.streaming

import graft.core.{GunCell, GunValue, Ham}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming form of the reference's standing dataflow (SURVEY
  * §3.3): continuous ingest → HAM merge per (soul, field) → update stream
  * for subscribers.
  *
  * One `flatMapGroupsWithState` keyed by (soul, field) holds the current
  * winner plus parked future writes, reproducing:
  *   - HAM resolution per incoming cell (gun/state.go:60-79),
  *   - deferral of conflicting future writes with a processing-time timer
  *     re-applying them when the clock catches up (+100 ms slack,
  *     gun/storage.go:107-117),
  *   - TTL eviction of idle keys (7 h default, gun/gun.go:84-85) via the
  *     same timer mechanism,
  *   - emit-on-transition only (subscribers see each value once — the
  *     per-subscription dedupe of gun/scoped_fetch.go:173-178 falls out).
  *
  * Scale: state is one small record per live (soul, field); the watermark/
  * TTL bound keeps the state store finite. The operator shuffles once on
  * the key — the same partitioning a 1000-executor cluster would use.
  */
object HamStream {

  /** Per-key state: the current winner (if any) + deferred future cells. */
  final case class KeyState(
      value: Option[GunValue],
      state: Option[Double],
      deferred: List[DeferredCell])
  final case class DeferredCell(value: GunValue, state: Double)

  /** An emitted update (what a subscriber receives). */
  final case class Update(soul: String, field: String, value: GunValue, state: Double)

  val DeferSlackMs = 100L

  /** Core state-transition function, factored out for unit testing: applies
    * a batch of cells at machine-time `nowMs`, returning the new state and
    * the emitted updates.
    *
    * The key's current winner, its matured deferred cells and the batch's
    * cells go through [[Ham.mergeBatch]] at `nowMs`, the one HAM rule of
    * every store: a future cell defers when the key has a value or a
    * present cell in this batch, and applies when the key is never seen
    * (gun/storage.go:100-117). Subscribers see the batch's net transition
    * (deterministic under shuffle reordering, and the reference's
    * eventual outcome since HAM merge is commutative/associative): one
    * update iff the winner's (value, state) changed. Then a winner older
    * than the retention window is evicted.
    */
  def step(
      key: (String, String),
      cells: Seq[GunCell],
      st: KeyState,
      nowMs: Double,
      ttlMs: Double): (KeyState, Seq[Update]) = {
    val (soul, field) = key
    val cur = st.value.zip(st.state)
    val (matured, stillDeferred) = st.deferred.partition(_.state <= nowMs)
    val (merged, deferred) = Ham.mergeBatch(
      cur.iterator.map { case (v, s) => GunCell(soul, field, v, s) },
      matured.map(d => GunCell(soul, field, d.value, d.state)) ++ cells, nowMs)
    val winner = merged.headOption.map(c => (c.value, c.state))
    val out = winner.filterNot(cur.contains).map { case (v, s) => Update(soul, field, v, s) }
    val kept = winner.filterNot(_._2 < nowMs - ttlMs)
    (KeyState(kept.map(_._1), kept.map(_._2),
      deferred.map(c => DeferredCell(c.value, c.state)).toList ::: stillDeferred), out.toSeq)
  }

  /** Wire the state machine into a streaming Dataset of cells. Produces the
    * update stream (one record per net state transition).
    *
    * `timers = true` (production) uses processing-time timers to re-apply
    * matured deferred writes and TTL-evict idle keys even when no new data
    * arrives for them — at the cost of Spark running periodic empty
    * micro-batches. `timers = false` applies deferred/TTL transitions
    * lazily on the key's next incoming cell (useful for tests and for
    * pipelines where a periodic compaction pass handles eviction).
    *
    * `tracking` applies the reference's ingest tracking policy to EVERY
    * received put before it can touch state (gun/gun.go:59-78, 266-286 —
    * the same rule `HamMerge.applyTracking` implements for batch):
    * `TrackingEverything` merges all; `TrackingRequested` drops cells for
    * keys this operator has never seen (state-presence gate — seed the
    * known keys from a store snapshot via `initialStore`); `TrackingNothing`
    * drops everything (wire passthrough, no merge). `initialStore` is
    * HAM-collapsed to one winner per key and loaded as the operator's
    * initial state, so a restart (or a policy gate) starts from the merged
    * store rather than empty — the streaming analogue of the reference
    * answering from storage.
    */
  def updates(
      cells: Dataset[GunCell],
      ttlMs: Double = 7.0 * 3600 * 1000,
      timers: Boolean = true,
      tracking: graft.operators.HamMerge.Tracking =
        graft.operators.HamMerge.TrackingEverything,
      initialStore: Option[Dataset[GunCell]] = None): Dataset[Update] = {
    import graft.operators.HamMerge
    implicit val keyEnc: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val updEnc: Encoder[Update] = Encoders.product[Update]
    implicit val stEnc: Encoder[KeyState] = Encoders.product[KeyState]
    val timeoutConf =
      if (timers) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val fn = (key: (String, String), it: Iterator[GunCell], gs: GroupState[KeyState]) => {
      if (tracking == HamMerge.TrackingNothing) Iterator.empty
      else if (tracking == HamMerge.TrackingRequested && gs.getOption.isEmpty) {
        // never-seen key under the Requested policy: drop without creating
        // state (the reference's onlyIfExists storage put)
        Iterator.empty
      } else if (!timers && !it.hasNext) {
        // without timers Spark calls with no cells only for an
        // `initialStore` key in the first batch: its TTL and deferred
        // transitions wait for its next cell, like every other key's, so
        // the outcome does not depend on which batch that cell lands in
        Iterator.empty
      } else {
        val nowMs = gs.getCurrentProcessingTimeMs().toDouble
        val st = gs.getOption.getOrElse(KeyState(None, None, Nil))
        val (newSt, out) = step(key, it.toSeq, st, nowMs, ttlMs)
        if (newSt.value.isEmpty && newSt.deferred.isEmpty) {
          gs.remove()
        } else {
          gs.update(newSt)
          if (timers) {
            // Re-fire when the earliest deferred cell matures (+slack),
            // or at TTL expiry for eviction; floor at 1s to avoid
            // hot-spinning micro-batches.
            val nextDefer = newSt.deferred.map(_.state).minOption
              .map(s => (s - nowMs).toLong + DeferSlackMs)
            val ttlFire = newSt.state.map(s => (s + ttlMs - nowMs).toLong)
            (nextDefer.toSeq ++ ttlFire.toSeq).minOption
              .foreach(ms => gs.setTimeoutDuration(ms max 1000L))
          }
        }
        out.iterator
      }
    }
    val grouped = cells.groupByKey(c => (c.soul, c.field))
    initialStore match {
      case Some(snap) =>
        val init = HamMerge.mergeTyped(snap)
          .groupByKey(c => (c.soul, c.field))
          .mapValues(c => KeyState(Some(c.value), Some(c.state), Nil))
        grouped.flatMapGroupsWithState[KeyState, Update](
          OutputMode.Append(), timeoutConf, init)(fn)
      case None =>
        grouped.flatMapGroupsWithState[KeyState, Update](
          OutputMode.Append(), timeoutConf)(fn)
    }
  }

  /** A subscription = the update stream filtered to one cell — the
    * reference's soul-interest routing (gun/gun.go:299-307): N subscribers
    * share one source and one merge operator.
    */
  def subscribe(updates: Dataset[Update], soul: String, field: String): Dataset[Update] =
    updates.filter(u => u.soul == soul && u.field == field)

  /** Snapshot-then-stream subscription — the reference's `Fetch` contract
    * (gun/scoped_fetch.go:98-110, initial emit at :104-107): a new
    * subscriber first receives the CURRENT local value of the cell (if
    * any), then every subsequent transition. The snapshot side is a
    * filtered read of the `store` frame (≤1 row collected by a Spark
    * query; the path-based form below reads the key's files on the
    * driver without one) seeded into a one-shot in-memory
    * stream and unioned with the live subscription, so the result is a
    * single streaming Dataset a sink can consume uniformly. The
    * per-subscription dedupe (gun/scoped_fetch.go:173-178) suppresses a
    * repeated (value, state) pair — in particular the case where the
    * write that produced the snapshot is still in flight on the update
    * stream when the subscription starts. Dedupe state is BOUNDED by a
    * watermark over a timestamp derived from `state` (`dedupeRetention`):
    * transitions older than the watermark age out of the dedupe store
    * instead of accumulating for the life of a standing subscription. The
    * default matches the reference's 7 h storage retention
    * (gun/gun.go:84-85): a watermark narrower than the store TTL would not
    * merely stop deduping a stale-but-winning write — `dropDuplicates`
    * DROPS rows older than the watermark, so a 2 h-stale write that
    * legitimately wins the upstream HAM merge would never reach
    * subscribers. Retention-aligned, delivery matches the store: anything
    * the store still accepts, the subscription still delivers.
    */
  def subscribeWithSnapshot(
      store: Dataset[GunCell],
      updates: Dataset[Update],
      soul: String,
      field: String,
      dedupeRetention: String = "7 hours"): Dataset[Update] = {
    import org.apache.spark.sql.functions.col
    // Column predicates, NOT a typed lambda: a Scala-closure filter would
    // deserialize every store row and defeat Parquet predicate pushdown —
    // at 100× store size the one-cell snapshot becomes a full scan. With
    // col() the (soul, field) equality reaches the scan as PushedFilters.
    val initial = store
      .filter(col("soul") === soul && col("field") === field)
      .limit(1).as[GunCell](Encoders.product[GunCell])
      .collect()
      .map(c => Update(c.soul, c.field, c.value, c.state))
    seedAndSubscribe(initial.toIndexedSeq, updates, soul, field, dedupeRetention)
  }

  /** [[subscribeWithSnapshot]] against an on-disk bucketed store: the
    * snapshot seed is a [[fetchFromStore]] point read — level 0 and the
    * key's ONE `bucket=N/` directory read on the driver, no Spark job,
    * regardless of store size (SnapshotPruningSpec asserts the bound).
    */
  def subscribeWithSnapshot(
      storePath: String,
      updates: Dataset[Update],
      soul: String,
      field: String,
      dedupeRetention: String,
      numBuckets: Int): Dataset[Update] = {
    val res = fetchFromStore(updates.sparkSession, storePath, soul, field, numBuckets)
    val initial = (res.value, res.state) match {
      case (Some(v), Some(s)) => Seq(Update(soul, field, v, s))
      case _                  => Seq.empty[Update]
    }
    seedAndSubscribe(initial, updates, soul, field, dedupeRetention)
  }

  /** Union a snapshot seed (≤1 row, via a one-shot MemoryStream) with the
    * live subscription and apply the watermark-bounded per-subscription
    * dedupe — the shared tail of both [[subscribeWithSnapshot]] forms.
    */
  private def seedAndSubscribe(
      initial: Seq[Update],
      updates: Dataset[Update],
      soul: String,
      field: String,
      dedupeRetention: String): Dataset[Update] = {
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val spark = updates.sparkSession
    implicit val updEnc: Encoder[Update] = Encoders.product[Update]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Update]
    if (initial.nonEmpty) mem.addData(initial.toIndexedSeq)
    mem.toDS().unionByName(subscribe(updates, soul, field))
      .withColumn("event_ts", timestamp_millis(col("state").cast("long")))
      .withWatermark("event_ts", dedupeRetention)
      .dropDuplicates(Seq("soul", "field", "value", "state", "event_ts"))
      .drop("event_ts")
      .as[Update]
  }

  /** Store bucket id for a cell: xxhash64 over (soul, field) — NOT the
    * soul alone. Soul-only bucketing concentrated every cell of a viral
    * soul (unbounded fields/subscribers on one hot node) into ONE bucket,
    * making every fold of that bucket O(soul size); hashing the full cell
    * key spreads a hot soul uniformly across buckets (HotSoulSpec
    * measures the bound). The store's only read shapes — point reads
    * ([[fetchFromStore]]) and the per-key HAM merge — are per (soul,
    * field), so every one of them still prunes to exactly one bucket.
    */
  private[streaming] def bucketOf(
      soul: org.apache.spark.sql.Column,
      field: org.apache.spark.sql.Column,
      numBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(soul, field), lit(numBuckets.toLong))
  }

  /** [[bucketOf]] for one key, evaluated on the driver without a Spark
    * job: the same catalyst `XxHash64` (seed 42, as `xxhash64`) over the
    * two string literals, reduced with `floorMod` exactly as `pmod`
    * reduces it. The session store ([[graft.graph.Graft]]) routes every
    * cell with it, and point reads prune with it.
    */
  private[graft] def bucketIdOf(soul: String, field: String, numBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(soul), Literal(field)), 42L).eval().asInstanceOf[Long]
    java.lang.Math.floorMod(h, numBuckets.toLong).toInt
  }

  /** Bucket count of the delta store and of the session store. */
  val DefaultBuckets = 64

  /** Store layout version, stamped as a `_layout` file in the store root.
    * v2 = buckets keyed by xxhash64(soul, field). The round-5 change from
    * soul-only bucketing silently mis-read older stores: point reads pruned
    * to the NEW bucket and reported valueExists=false for cells parked in
    * an old one, and merges left stale duplicate keys in untouched old
    * buckets. Every store entry point now verifies the marker and fails
    * fast on a store written under a different (or unmarked pre-v2)
    * layout — corruption by silent mis-read is strictly worse than an
    * explicit "re-bucket this store" error. (Underscore-prefixed files are
    * invisible to parquet scans, like `_SUCCESS`.)
    *
    * v3 = v2 plus level 0: the `_l0/` dir of one file per micro-batch
    * ([[appendBatchIntoStore]]), which a v2 build would not read. A v2
    * store is a v3 store with an empty level 0, so this build reads it,
    * and its first write re-stamps the marker before it adds a level-0
    * file: from then on a v2 build refuses the store.
    */
  val LayoutVersion = "v3"

  /** Level 0 of the store: one parquet file per micro-batch. The `_`
    * prefix hides it from partition discovery, so `spark.read.parquet`
    * of the store root reads only the buckets.
    */
  private val L0Dir = "_l0"

  /** Verify the store's `_layout` marker, stamping it on stores that have
    * no data yet and re-stamping a v2 marker. Throws
    * [[IllegalStateException]] on a mismatched or missing-but-populated
    * marker. `stamp = false` (read paths) never writes — a read of a
    * pre-v2 store must fail, not quietly re-label it. Also throws on what
    * an older build's writer left for its next writer to repair, as this
    * build neither reads nor repairs it: a `.buffer-journal` dir (a
    * buffered sink's committed batches, in no bucket) and a
    * `.trash-bucket=N` dir (a bucket swap's parked bucket, maybe the
    * bucket's only copy). A point read passes its key's `bucket`: it
    * reads that bucket alone, so only that bucket's parked dir can change
    * its answer, and it looks that one dir up instead of listing the root.
    */
  private[streaming] def checkLayout(fs: FileSystem, storeDir: Path, stamp: Boolean,
      bucket: Option[Int] = None): Unit = {
    if (!fs.exists(storeDir)) {
      if (stamp) writeLayoutMarker(fs, storeDir)
      return
    }
    val journal = new Path(storeDir, ".buffer-journal")
    if (fs.exists(journal)) throw new IllegalStateException(
      s"store at $storeDir has a buffered-sink journal at $journal: its " +
        "batches were committed upstream but never written to the store; " +
        "open it once with the build that wrote it, whose appendIntoStore " +
        "replays the journal, before using it with this build")
    val parked = bucket.fold(fs.listStatus(storeDir).toSeq.map(_.getPath))(b =>
      Seq(new Path(storeDir, s".trash-bucket=$b")).filter(fs.exists))
    parked.find(_.getName.startsWith(".trash-bucket=")).foreach { p =>
      throw new IllegalStateException(
        s"store at $storeDir has a bucket parked at $p by an older build's " +
          "interrupted bucket swap, maybe the bucket's only copy, which this build " +
          "does not read: open the store once with a writer of the previous build, " +
          "which restores it, before using it with this build")
    }
    val marker = new Path(storeDir, "_layout")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val found =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      if (found != LayoutVersion && found != "v2") throw new IllegalStateException(
        s"store at $storeDir has layout '$found' but this build reads " +
          s"'v2' and '$LayoutVersion' — re-bucket the store (read every bucket, " +
          "append them through appendBatchIntoStore to a fresh root) " +
          "instead of letting point reads prune to the wrong bucket")
      if (stamp && found != LayoutVersion) writeLayoutMarker(fs, storeDir)
    } else {
      val hasData = fs.listStatus(storeDir).exists { s =>
        s.isDirectory && (s.getPath.getName.startsWith("bucket=") || s.getPath.getName == L0Dir)
      }
      if (hasData) throw new IllegalStateException(
        s"store at $storeDir has bucket data but no _layout marker: it " +
          s"predates layout v2 (xxhash64(soul, field) " +
          "bucketing); reading it here would silently miss cells parked " +
          "in soul-only buckets — re-bucket it first")
      else if (stamp) writeLayoutMarker(fs, storeDir)
    }
  }

  private def writeLayoutMarker(fs: FileSystem, storeDir: Path): Unit = {
    val out = fs.create(new Path(storeDir, "_layout"), true)
    try out.write(LayoutVersion.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The cell store's streaming sink (SURVEY §3.3 output (a)): an LSM
    * (log-structured merge) store of two levels.
    *   - Level 0, `_l0/`: each micro-batch appends its cells as ONE
    *     immutable file, sorted by (soul, field), each row with its
    *     `bucket` ([[appendBatchIntoStore]]), so per-batch I/O is one file
    *     and one rename, whatever the store's size or the batch's key
    *     spread.
    *   - Level 1, `bucket=N/` dirs (N = xxhash64(soul, field) mod
    *     numBuckets — see [[bucketOf]] for why the full cell key): the
    *     per-bucket bases. Cells reach them only when level 0 is folded
    *     ([[compactBuckets]]), into the bucket their level-0 row names, so
    *     the bucket count is fixed by the appends alone.
    *
    * A store may hold SEVERAL rows per (soul, field): every reader
    * collapses them to the HAM winner ([[fetchFromStore]] does, and bulk
    * readers go through [[readStore]]), which is exactly the CRDT's own
    * merge, so reads are correct at any compaction lag. When level 0 holds
    * `compactThreshold` files it is folded into the buckets its keys
    * touch, in the same batch; [[compactStore]] folds and TTL-purges the
    * whole store on the caller's cadence. Crash safety: files land via
    * write-to-staging then one rename each, and a fold promotes its output
    * into the buckets before it deletes the files it folded
    * ([[BucketIndex.fold]]); a crash leaves duplicate cells (a replayed
    * batch re-appends under the same name, which skips; an interrupted
    * fold leaves its inputs beside its output), and duplicates are
    * HAM-idempotent, so the store stays correct (just uncompacted).
    * At-least-once + idempotent merge is the same contract the
    * reference's peers rely on. Readers never write the store: only
    * this sink, [[compactStore]] and its auto-trigger create, rename or
    * delete store files.
    */
  def appendIntoStore(
      updates: Dataset[Update],
      storePath: String,
      numBuckets: Int = DefaultBuckets,
      compactThreshold: Int = DefaultCompactThreshold): org.apache.spark.sql.streaming.StreamingQuery = {
    StoreFs.forkFreeCheckpoints(updates.sparkSession)
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Update], batchId: Long) =>
        appendBatchIntoStore(batch, batchId, storePath, numBuckets, compactThreshold)
      }
      .start()
  }

  /** Level-0 file count at which [[appendBatchIntoStore]] folds level 0
    * into the buckets ([[compactBuckets]]) — the standard LSM level-0
    * file-count trigger. An append path without one degrades unboundedly:
    * every point read opens EVERY level-0 file, so read cost grows
    * linearly with the uncompacted-file count. The reference's storage
    * layer runs its own maintenance on a cadence (the 5 s purge ticker,
    * gun/storage.go:56-77); here the trigger is count-based, so
    * maintenance cost stays proportional to write activity, and a fold
    * rewrites only the buckets the level-0 keys touch.
    */
  val DefaultCompactThreshold = 12

  /** One micro-batch of [[appendIntoStore]] (exposed for specs/sinks),
    * after the layout check every store entry runs:
    *   1. the cells, stamped `valueExists = true` and with their
    *      `bucket` ([[bucketOf]] over `numBuckets`) as a column, sorted by
    *      (soul, field), are written as one staged parquet file (one write
    *      task);
    *   2. the file renames to `_l0/delta-b<batchId>.parquet` — a
    *      same-batchId replay finds that name taken and skips
    *      ([[BucketIndex.promote]]); a batch with no rows adds no file, so
    *      the idle batches of `timers = true` leave level 0 as it is;
    *   3. when level 0 then holds `compactThreshold` files, they are folded
    *      into the buckets ([[compactBuckets]]).
    *
    * `compactThreshold` ≤ 0 disables the auto-trigger (callers owning
    * their own compaction cadence). Auto-triggered folds are FOLD-ONLY
    * (ttl = ∞): TTL expiry is retention policy, owned by the caller's
    * [[compactStore]] cadence, not a side effect of crossing a file-count
    * threshold mid-ingest.
    */
  private[graft] def appendBatchIntoStore(
      batch: Dataset[Update], batchId: Long,
      storePath: String, numBuckets: Int,
      compactThreshold: Int = DefaultCompactThreshold): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = batch.sparkSession
    val storeDir = new Path(storePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = StoreFs.fileSystem(storeDir, conf)
    checkLayout(fs, storeDir, stamp = true)
    val staging = new Path(storeDir, s".staging-l0-$batchId")
    batch.toDF().select(col("soul"), col("field"), col("value"), col("state"),
        lit(true).as("valueExists"),
        bucketOf(col("soul"), col("field"), numBuckets).cast("int").as("bucket"))
      .repartition(1).sortWithinPartitions("soul", "field")
      // one file whatever the session's maxRecordsPerFile: a second file
      // would find the batch's level-0 name taken and be skipped
      .write.options(StoreFs.writeOptions(staging, conf)).option("maxRecordsPerFile", 0L)
      .mode("overwrite").parquet(staging.toString)
    // Spark writes a file with no rows for an empty batch: not promoted
    parquetFiles(fs, staging).filter(rowCount(_, conf) > 0).foreach { f =>
      val l0 = new Path(storeDir, L0Dir)
      fs.mkdirs(l0)
      BucketIndex.promote(fs, f.getPath, new Path(l0, s"delta-b$batchId.parquet"))
    }
    fs.delete(staging, true)
    if (compactThreshold > 0) {
      val level0 = level0Files(fs, storeDir)
      if (level0.length >= compactThreshold)
        compactBuckets(spark, storePath, level0.map(_.getPath), Nil,
          nowMs = 0.0, ttlMs = Double.PositiveInfinity)
    }
  }

  /** Rows in a parquet file, from its footer. */
  private def rowCount(file: FileStatus, conf: org.apache.hadoop.conf.Configuration): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    try reader.getRecordCount finally reader.close()
  }

  private def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".parquet"))

  /** The level-0 files; none before the store's first level-0 file (a
    * v2 store, or no batch with rows yet). Level 0's dir, once made, is
    * never deleted.
    */
  private def level0Files(fs: FileSystem, storeDir: Path): Seq[FileStatus] =
    try parquetFiles(fs, new Path(storeDir, L0Dir))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Bulk read of a store as its MERGED view — one HAM winner per
    * (soul, field), however many un-compacted appends a key has. Every
    * level-0 file and every bucket's files are read ([[readCells]]: the
    * store's fixed schema, so no footer job, and no listing job), and the
    * merge is one hash aggregation over the scan. A store that does not
    * exist reads as empty; the read lists and scans, and never creates,
    * renames or deletes a store file. Prefer [[fetchFromStore]] for point
    * reads: it reads level 0 and one bucket and needs no Spark job.
    * `numBuckets` does not change a bulk read, which reads every bucket
    * the store holds.
    * The frame scans the files listed when `readStore` is called. A fold
    * that lands before an action on it deletes files it names, so that
    * action fails with `FileNotFoundException`; re-listing on that miss,
    * as point reads do, is left to the work that moves folds off the
    * micro-batch.
    */
  def readStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      numBuckets: Int = DefaultBuckets): org.apache.spark.sql.DataFrame = {
    val storeDir = new Path(storePath)
    val fs = StoreFs.fileSystem(storeDir, spark.sparkContext.hadoopConfiguration)
    checkLayout(fs, storeDir, stamp = false)
    val files = level0Files(fs, storeDir) ++
      storedBuckets(fs, storeDir).flatMap(bucketDir(fs, storeDir, _)).flatMap(parquetFiles(fs, _))
    graft.operators.HamMerge.mergeSnapshot(readCells(spark, files.map(_.getPath)))
  }

  /** Ids of the buckets under a store root, from its `bucket=N` dirs;
    * empty when the root does not exist.
    */
  private def storedBuckets(fs: FileSystem, storeDir: Path): Seq[Int] =
    if (!fs.exists(storeDir)) Nil
    else fs.listStatus(storeDir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt)

  /** The store's cell columns. A bucket's files hold exactly these (its
    * dir names the bucket), so readers pass the schema instead of
    * inferring it — inference is one Spark job that reads a parquet
    * footer, on every read.
    */
  private val CellSchema = Encoders.product[GunCell].schema

  /** The cell columns plus `bucket`: a level-0 file's columns, and a
    * bucket's files read with `bucket` as a partition column.
    */
  private val StoreSchema = CellSchema.add("bucket", org.apache.spark.sql.types.IntegerType)

  /** Scans of the named store files with `schema` (and `basePath`, if
    * given). Each `spark.read` gets at most `spark.sql.sources
    * .parallelPartitionDiscovery.threshold` paths, which Spark lists on the
    * driver; more in one read would start a listing job.
    */
  private def scans(
      spark: SparkSession,
      files: Seq[Path],
      schema: org.apache.spark.sql.types.StructType,
      basePath: Option[Path] = None): Seq[DataFrame] =
    files.grouped(spark.sessionState.conf.parallelPartitionDiscoveryThreshold max 1).map { g =>
      val read = spark.read.schema(schema)
      basePath.fold(read)(p => read.option("basePath", p.toString)).parquet(g.map(_.toString): _*)
    }.toSeq

  private def union(spark: SparkSession, frames: Seq[DataFrame],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    frames.reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))

  /** The cells in the named store files, of either level, read with
    * [[CellSchema]] — the path by which bulk reads read store data (a
    * point read, [[fetchFromStore]], reads its files on the driver). No
    * files ⇒ an empty frame, no job.
    */
  private def readCells(spark: SparkSession, files: Seq[Path]): DataFrame =
    union(spark, scans(spark, files, CellSchema), CellSchema)

  /** Bucket `b`'s dir, if it exists. */
  private def bucketDir(fs: FileSystem, root: Path, b: Int): Option[Path] =
    Some(new Path(root, s"bucket=$b")).filter(fs.exists)

  /** Point read against the store — the read-side complement of
    * [[appendIntoStore]] (reference storage-get semantics,
    * gun/storage.go:79-89: absent ⇒ exists=false, not an error). It runs
    * on the driver and starts no Spark job, whatever the store's size:
    *   - it lists level 0, then the key's one bucket dir ([[bucketDir]]);
    *   - it reads every listed parquet file with parquet-hadoop's reader,
    *     which returns only the key's rows, one per un-compacted append
    *     of the key ([[keyCells]]); the files are read concurrently, on
    *     the common fork-join pool, so a read waits for its slowest file
    *     rather than for the sum of them. That pool has one worker fewer
    *     than the host has cores and serves the whole JVM: concurrent
    *     reads queue their opens on it, and other users of the pool wait
    *     behind them (DeltaStoreSpec runs 16 concurrent reads);
    *   - it folds those rows with [[Ham.mergeCells]], the HAM argmax over
    *     (state, canonical JSON) that `HamMerge.mergeSnapshot` computes;
    *   - a missing store, level 0 or bucket dir reads as valueExists=false.
    * What a read opens is bounded by the fold trigger, not by the key: all
    * of level 0 (fewer than `compactThreshold` batch files, whichever
    * keys they hold; every batch since the last [[compactStore]] when the
    * trigger is off) plus the key's bucket. So under sparse batches (few
    * keys per batch against the bucket count) a read opens level-0 files
    * that hold no row of its key; StreamBench `readamp_sparse` (4 keys
    * per batch, 64 buckets) measures that shape.
    * Bulk reads and folds keep the distributed scan ([[readCells]],
    * [[compactBuckets]]).
    * A fold promotes its output into the buckets, then deletes the
    * level-0 and bucket files it folded ([[BucketIndex.fold]]); listing
    * level 0 first means a fold that lands between the two listings has
    * deleted level-0 files the read listed. So whenever a fold lands
    * after the first listing, opening a listed file, or the bucket
    * listing itself, throws `FileNotFoundException`, and the read lists
    * once more, which finds the fold's output. (Listed the other
    * way round, a fold into a bucket that had no files would go unseen.)
    * A second miss throws.
    */
  def fetchFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      soul: String,
      field: String,
      numBuckets: Int = DefaultBuckets): graft.core.FetchResult = {
    import scala.jdk.CollectionConverters._
    val storeDir = new Path(storePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = StoreFs.fileSystem(storeDir, conf)
    val bucket = bucketIdOf(soul, field, numBuckets)
    checkLayout(fs, storeDir, stamp = false, Some(bucket)) // a pre-v2 store must error, not miss
    def attempt(): Option[Seq[GunCell]] =
      try {
        val level0 = level0Files(fs, storeDir)
        val files = level0 ++ bucketDir(fs, storeDir, bucket).toSeq.flatMap(parquetFiles(fs, _))
        Some(files.asJava.parallelStream()
          .map[Seq[GunCell]](keyCells(_, soul, field, conf))
          .collect(java.util.stream.Collectors.toList[Seq[GunCell]]()).asScala.flatten.toSeq)
      } catch { case _: java.io.FileNotFoundException => None }
    attempt().orElse(attempt()).getOrElse(throw new java.io.FileNotFoundException(
      s"point read of bucket $bucket in $storePath: the listed files vanished twice " +
        "between listing and read"))
      .reduceOption(Ham.mergeCells) match {
      case None    => graft.core.FetchResult(field, None, None, valueExists = false)
      case Some(c) => graft.core.FetchResult(field, Some(c.value), Some(c.state), c.valueExists)
    }
  }

  /** The key's rows in one store file, as cells. The reader is built from
    * the listed status and the session's Hadoop conf, so it opens the file
    * through that conf's `FileSystem` (checksums, any scheme) without a
    * status call or a conf of its own. The pushed (soul, field) equality
    * compares UTF-8 bytes, as the Spark column predicate does, and also
    * skips row groups whose statistics exclude the key.
    */
  private def keyCells(
      file: FileStatus,
      soul: String,
      field: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[GunCell] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    def is(column: String, v: String) =
      FilterApi.eq(FilterApi.binaryColumn(column), Binary.fromString(v))
    val reader = new org.apache.parquet.hadoop.ParquetReader.Builder[Group](
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      new org.apache.parquet.conf.HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport() =
        new org.apache.parquet.hadoop.example.GroupReadSupport
    }.withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(
      FilterApi.and(is("soul", soul), is("field", field)))).build()
    def opt(g: Group, name: String) = Option.when(g.getFieldRepetitionCount(name) > 0)(g)
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { r =>
      val v = opt(r, "value").map(_.getGroup("value", 0))
      def str(name: String) = v.flatMap(opt(_, name)).map(_.getString(name, 0))
      GunCell(soul, field,
        GunValue(str("kind").orNull, str("str"), str("num"),
          v.flatMap(opt(_, "bool")).map(_.getBoolean("bool", 0)), str("rel")),
        r.getDouble("state", 0), r.getBoolean("valueExists", 0))
    }.toList
    finally reader.close()
  }

  /** TTL compaction of a store — the reference's periodic purge tick (5 s
    * scan dropping cells older than the retention window,
    * gun/storage.go:56-75; 7 h default gun/gun.go:84-85) as a batch job
    * run on the compaction cadence: the [[compactBuckets]] fold of ALL of
    * level 0 into EVERY bucket, dropping cells with `state < nowMs - ttlMs`
    * after the merge. Buckets left fully expired are removed outright. It
    * needs no bucket count: level-0 rows carry the bucket their append
    * routed them to.
    */
  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      nowMs: Double,
      ttlMs: Double = graft.operators.HamMerge.DefaultTtlMs): Unit = {
    val storeDir = new Path(storePath)
    val fs = StoreFs.fileSystem(storeDir, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(storeDir)) return
    checkLayout(fs, storeDir, stamp = false)
    compactBuckets(spark, storePath, level0Files(fs, storeDir).map(_.getPath),
      storedBuckets(fs, storeDir), nowMs, ttlMs)
  }

  /** The fold of level 0 into the buckets — merge-then-TTL, the shared
    * body of [[compactStore]] (all of level 0 and every bucket, the
    * caller's retention cadence) and [[appendBatchIntoStore]]'s auto
    * trigger (the level-0 files it listed, ttl = ∞). In order:
    *   1. the buckets named by the `level0` rows' `bucket` column, read on
    *      the driver ([[level0Buckets]]: no Spark job), plus `alsoBuckets`,
    *      and those buckets' files are listed;
    *   2. `level0` and the listed bucket files are read with
    *      [[StoreSchema]] (no listing job; `basePath` makes a bucket
    *      file's dir its `bucket`) and HAM-merged, then expired winners
    *      are dropped — an expired winner must not resurrect a
    *      stale-but-in-window loser (reference purge drops the cell
    *      outright, gun/storage.go:56-75);
    *   3. [[BucketIndex.fold]] writes one file per bucket, sorted by
    *      (soul, field), promotes each into its `bucket=N/` dir as
    *      `compact-<uuid>-0.parquet`, and then deletes exactly the files
    *      of 1, the bucket files first — a level-0 file appended since the
    *      listing stays for the next fold;
    *   4. a bucket with no surviving row is removed outright.
    * `bucket` is functionally determined by the key, so it passes through
    * the merge as a group key, and every row the fold writes lands in a
    * bucket of step 1. Per-fold I/O is O(level 0 + touched buckets), not
    * O(store). Each fold's output takes a fresh name: `compactStore` has no
    * batch id, and an output that took an earlier fold's name would find
    * it taken, skip, and be deleted with the files it folded. A crash
    * after the promote, or in the middle of the deletes, leaves input
    * files beside the output: duplicates the next fold absorbs, as HAM
    * merge is idempotent. Until then a winner that this fold's TTL filter
    * dropped is still read from an input file that was not deleted; the
    * next [[compactStore]] drops it. The bucket files go first because
    * [[appendIntoStore]]'s level 0 holds newer cells than the bucket
    * bases (the update stream emits a key only when its winner changes):
    * a stop mid-delete then leaves a dropped key's newest rows, and never
    * a loser whose winner is gone. A level-0 row older than its key's
    * base row, which only a direct append can write, can still show
    * after such a stop until the next [[compactStore]].
    */
  private[streaming] def compactBuckets(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      level0: Seq[Path],
      alsoBuckets: Seq[Int],
      nowMs: Double,
      ttlMs: Double): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val storeDir = new Path(storePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = StoreFs.fileSystem(storeDir, conf)
    val touched = (alsoBuckets ++ level0.flatMap(level0Buckets(_, conf))).distinct
    if (touched.isEmpty) return
    val bases = touched.flatMap(bucketDir(fs, storeDir, _)).flatMap(parquetFiles(fs, _)).map(_.getPath)
    val kept = graft.operators.HamMerge.mergeSnapshot(
        union(spark, scans(spark, level0, StoreSchema) ++
          scans(spark, bases, StoreSchema, Some(storeDir)), StoreSchema),
        passThrough = Seq("bucket"))
      .filter(col("state") >= lit(nowMs - ttlMs))
    val written = BucketIndex.fold(kept, Seq("soul", "field"), bases ++ level0,
      s"compact-${java.util.UUID.randomUUID}", storeDir, touched.length, fs)
    touched.map(b => s"bucket=$b").filterNot(written.contains)
      .foreach(b => fs.delete(new Path(storeDir, b), true)) // fully expired
  }

  /** The distinct `bucket` ids of a level-0 file: that one column, read
    * on the driver with parquet-hadoop's reader (a batch's worth of ints),
    * so a fold learns its buckets without a Spark job.
    */
  private def level0Buckets(file: Path, conf: org.apache.hadoop.conf.Configuration): Set[Int] = {
    import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
    val reader = new org.apache.parquet.hadoop.ParquetReader.Builder[org.apache.parquet.example.data.Group](
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      new org.apache.parquet.conf.HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport() = new org.apache.parquet.hadoop.example.GroupReadSupport {
        override def init(context: InitContext): ReadSupport.ReadContext = {
          val schema = context.getFileSchema
          new ReadSupport.ReadContext(
            new org.apache.parquet.schema.MessageType(schema.getName, schema.getType(schema.getFieldIndex("bucket"))))
        }
      }
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map(_.getInteger("bucket", 0)).toSet
    finally reader.close()
  }
}
