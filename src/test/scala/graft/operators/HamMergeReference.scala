package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The batch HAM merge with the reference's deferral rule, set-at-a-time
  * over DataFrames: the reference form that the in-memory merge of the
  * session store ([[graft.core.Ham.mergeBatch]]) is tested against.
  */
object HamMergeReference {

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
    * The session store ([[graft.graph.Graft]]) merges per bucket with
    * [[graft.core.Ham.mergeBatch]], which BucketMergePropertySpec checks
    * against this function.
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
      .unionByName(HamMerge.mergeSnapshot(touched.unionByName(applicableNow)))
    (merged, deferred)
  }

  /** Re-apply matured deferred cells (reference re-schedules at
    * `state - now + 100ms`, gun/storage.go:107-117). Batch form: anything
    * with state <= sysState re-merges now; the rest stays deferred.
    * Incremental like [[merge]]: only store keys matured cells touch are
    * re-aggregated. `Graft.applyDeferred` is property-tested against it.
    */
  def applyDeferred(store: DataFrame, deferred: DataFrame, sysState: Double): (DataFrame, DataFrame) = {
    val matured = deferred.filter(col("state") <= sysState)
    val still = deferred.filter(col("state") > sysState)
    val maturedKeys = matured.select("soul", "field").distinct()
    val touched = store.join(maturedKeys, Seq("soul", "field"), "left_semi")
    val untouched = store.join(maturedKeys, Seq("soul", "field"), "left_anti")
    val merged = untouched
      .unionByName(HamMerge.mergeSnapshot(touched.unionByName(matured)))
    (merged, still)
  }
}
