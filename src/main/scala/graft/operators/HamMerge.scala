package graft.operators

import graft.core.{CanonicalJson, GunCell, Ham}
import graft.functions.GunFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Batch HAM merge — the reference's CRDT applied set-at-a-time
  * (reference: gun/state.go:60-79 resolver; gun/storage.go:91-122 apply).
  *
  * Winner per (soul, field) = argmax over the composite ordering
  * `(state, canonical_json_bytes)`; expressed with `max_by` so Spark runs it
  * as a partial (map-side) + final aggregation — one shuffle on the key,
  * no window/sort. At 100 TB this is the right shape: the partial aggregate
  * collapses each input partition to ≤1 row per key before the exchange.
  */
object HamMerge {

  /** Composite ordering key for HAM: (state, canonical json). String
    * comparison in Spark is by UTF8String binary order — same as Go
    * bytes.Compare on UTF-8, so `max_by` over this struct reproduces the
    * reference tiebreak exactly.
    */
  private def hamOrderKey =
    struct(col("state"), GunFunctions.canonicalJsonBuiltin(col("value")))

  /** Collapse a cell set to its HAM winners, one row per (soul, field).
    * `passThrough` names extra columns functionally determined by the key
    * (e.g. the store's `bucket` partition column) — they join the group-by
    * and survive into the output unchanged.
    */
  def mergeSnapshot(cells: DataFrame, passThrough: Seq[String] = Nil): DataFrame =
    cells
      .groupBy((Seq("soul", "field") ++ passThrough).map(col): _*)
      .agg(
        max_by(struct(col("value"), col("state"), col("valueExists")), hamOrderKey)
          .as("w"))
      .select((Seq(col("soul"), col("field"), col("w.value").as("value"),
        col("w.state").as("state"), col("w.valueExists").as("valueExists")) ++
        passThrough.map(col)): _*)

  /** Merge an incoming batch of cells into an existing store snapshot with
    * the reference's deferral rule (gun/storage.go:100-117):
    *   - incoming cells with state > sysState *that conflict with an existing
    *     cell* are deferred (returned separately, to be re-applied when the
    *     clock catches up);
    *   - never-seen cells apply immediately regardless of state (the
    *     reference only defers on conflict — ConflictResolve is not called
    *     when there is no existing value);
    *   - everything else resolves by HAM argmax.
    *
    * INCREMENTAL: only store rows whose (soul, field) appears in the batch
    * enter the re-merge aggregation; every other store row passes through
    * untouched (a semi/anti split on the incoming key set — the batch-API
    * analogue of the streaming cell store's touched-bucket fold,
    * HamStream.compactBuckets). Work per batch is O(|incoming| +
    * |touched store rows|), not O(|store|): at 100 TB store size the old
    * full-store re-aggregation was a table rewrite per batch.
    * Precondition: `store` is key-collapsed — one row per (soul, field) —
    * which every producer of a store guarantees (mergeSnapshot, this
    * function's own output, `HamStream.readStore` over the streaming
    * cell store).
    *
    * Returns (mergedStore, deferred).
    *
    * Reference form: no `main` code calls it. The session store
    * ([[graft.graph.Graft]]) merges per bucket with [[Ham.mergeBatch]],
    * which BucketMergePropertySpec checks against this function.
    */
  def merge(store: DataFrame, incoming: DataFrame, sysState: Double): (DataFrame, DataFrame) = {
    val incomingKeys = incoming.select("soul", "field").distinct()
    val touched = store.join(incomingKeys, Seq("soul", "field"), "left_semi")
    val untouched = store.join(incomingKeys, Seq("soul", "field"), "left_anti")
    // A key counts as "seen" if it exists in the store OR a non-future cell
    // for it arrives in this same batch: the reference applies writes one at
    // a time (gun/storage.go:91-122), so the batch's present-time write for
    // a new key would land first and the future write for that key would
    // then hit the conflict path and defer — set-at-a-time must reproduce
    // that, not let the future cell win because the key "didn't exist yet".
    val presentNow = incoming.filter(col("state") <= sysState)
    val existingKeys = touched.select("soul", "field")
      .unionByName(presentNow.select("soul", "field"))
    val future = incoming.filter(col("state") > sysState)
    // Deferred = future AND key already seen (left-semi keeps incoming cols).
    val deferred = future.join(existingKeys, Seq("soul", "field"), "left_semi")
    val applicableNow = presentNow
      .unionByName(future.join(existingKeys, Seq("soul", "field"), "left_anti"))
    val merged = untouched
      .unionByName(mergeSnapshot(touched.unionByName(applicableNow)))
    (merged, deferred)
  }

  /** Re-apply matured deferred cells (reference re-schedules at
    * `state - now + 100ms`, gun/storage.go:107-117). Batch form: anything
    * with state <= sysState re-merges now; the rest stays deferred.
    * Incremental like [[merge]]: only store keys matured cells touch are
    * re-aggregated. Reference form, like [[merge]]: `Graft.applyDeferred`
    * is property-tested against it.
    */
  def applyDeferred(store: DataFrame, deferred: DataFrame, sysState: Double): (DataFrame, DataFrame) = {
    val matured = deferred.filter(col("state") <= sysState)
    val still = deferred.filter(col("state") > sysState)
    val maturedKeys = matured.select("soul", "field").distinct()
    val touched = store.join(maturedKeys, Seq("soul", "field"), "left_semi")
    val untouched = store.join(maturedKeys, Seq("soul", "field"), "left_anti")
    val merged = untouched
      .unionByName(mergeSnapshot(touched.unionByName(matured)))
    (merged, still)
  }

  /** TTL purge — drop cells older than the retention window (reference:
    * 7h default, 5s scan; gun/gun.go:84-85, gun/storage.go:56-75). Batch
    * form is a partition-prunable filter; see streaming for timer eviction.
    */
  val DefaultTtlMs: Double = 7.0 * 3600 * 1000
  def purge(cells: DataFrame, nowMs: Double, ttlMs: Double = DefaultTtlMs): DataFrame =
    cells.filter(col("state") >= lit(nowMs - ttlMs))

  /** Ingest tracking policy (reference gun/gun.go:59-78, 266-286):
    * Everything = merge all; Requested = merge only cells whose key already
    * exists (`onlyIfExists`); Nothing = passthrough (no merge).
    */
  sealed trait Tracking
  case object TrackingEverything extends Tracking
  case object TrackingRequested extends Tracking
  case object TrackingNothing extends Tracking

  def applyTracking(store: DataFrame, incoming: DataFrame, policy: Tracking): DataFrame =
    policy match {
      case TrackingEverything => incoming
      case TrackingRequested =>
        incoming.join(store.select("soul", "field"), Seq("soul", "field"), "left_semi")
      case TrackingNothing => incoming.limit(0)
    }

  /** Typed HAM-merge Aggregator for Dataset users: byte-exact tiebreak via
    * [[CanonicalJson]] (no builtin-escape caveats). Usable as a UDAF.
    */
  class HamAggregator extends Aggregator[GunCell, GunCell, GunCell] {
    override def zero: GunCell = null
    override def reduce(b: GunCell, a: GunCell): GunCell =
      if (b == null) a else Ham.mergeCells(b, a)
    override def merge(b1: GunCell, b2: GunCell): GunCell =
      if (b1 == null) b2 else if (b2 == null) b1 else Ham.mergeCells(b1, b2)
    override def finish(r: GunCell): GunCell = r
    override def bufferEncoder: Encoder[GunCell] = Encoders.product[GunCell]
    override def outputEncoder: Encoder[GunCell] = Encoders.product[GunCell]
  }

  /** Typed merge of a Dataset[GunCell] to winners per key. */
  def mergeTyped(cells: Dataset[GunCell]): Dataset[GunCell] = {
    implicit val enc: Encoder[GunCell] = Encoders.product[GunCell]
    cells.groupByKey(c => (c.soul, c.field))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .reduceGroups((a, b) => Ham.mergeCells(a, b))
      .map(_._2)
  }
}
