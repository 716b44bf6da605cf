package graft.operators

import org.apache.spark.sql.DataFrame

/** The leave-no-cache-behind invariant for persisting operators.
  *
  * Operators that persist a derived intermediate (MinHash bands, SimHash
  * fingerprints, unit vectors, exploded shingle tables, ...) must not leak
  * that persistence past their own return: a library user composing
  * operators in a long-lived session would otherwise accumulate cached
  * blocks with no handle to release them — the OOM class that poisoned an
  * earlier round's benchmarks via GraphX's internal caches.
  *
  * The contract, shared with `graph.Analytics`:
  *   1. the operator persists what IT needs to evaluate more than once
  *      (measured: Spark 4.1 does NOT reuse the exchange across our
  *      derived-table self-joins — AQE picks a broadcast join and both
  *      branches recompute the full upstream pipeline);
  *   2. before returning it eagerly materializes its RESULT with a
  *      `localCheckpoint` (truncating the result's lineage off the cached
  *      intermediates) and unpersists every intermediate it persisted;
  *   3. the only cached blocks that survive are the checkpointed result
  *      itself — owned by the handle the caller holds, reclaimed by
  *      Spark's ContextCleaner when that handle is garbage-collected.
  *
  * Net effect: cache lifetime == result-handle lifetime, and nothing is
  * pinned by an operator the caller can no longer reach. Results passed
  * through this helper are operator OUTPUTS (candidate pairs, top-k rows,
  * per-doc scores) — orders of magnitude smaller than the intermediates
  * being released, so checkpoint storage is not a scale concern.
  */
object Caching {

  /** Session conf key: set to `false` for LAZY composition mode — operator
    * results keep their full declarative plan (no eager checkpoint) and
    * the intermediates stay persisted for the CALLER to release (e.g. via
    * a `getPersistentRDDs` sweep). Use it to `.explain` the real pipeline
    * plans (the Explain main sets it) or to fuse several operators into
    * one job before materializing. Default (absent/`true`): results
    * materialize eagerly and every operator-installed cache is released
    * on return — the leave-no-cache-behind contract.
    */
  val EagerReleaseKey = "spark.graft.eagerRelease"

  /** Eagerly materialize `result`, then unpersist each `owned`
    * intermediate (the persists this operator installed). In lazy mode
    * ([[EagerReleaseKey]] = false) returns `result` untouched and leaves
    * `owned` cached — cache ownership transfers to the caller.
    */
  def materializeAndRelease(result: DataFrame, owned: DataFrame*): DataFrame = {
    if (result.sparkSession.conf.get(EagerReleaseKey, "true") == "false") result
    else {
      val out = result.localCheckpoint(eager = true)
      owned.foreach(_.unpersist(blocking = false))
      out
    }
  }

  /** Persist `df` and fill its cache at once, in an action of its own.
    * Adaptive execution gives every scan of a cache that is not filled
    * yet a stage that fills it, so a plan reading one cache in several
    * places — directly or through other caches' plans — fills it once per
    * scan that starts before the first fill ends: repeated work, and a
    * job count that depends on timing.
    */
  def persistFilled(df: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.write.format("noop").mode("overwrite").save()
    cached
  }

  /** Persist a CALLER-supplied DataFrame only if the caller has not
    * already done so; returns the DF and whether this operator owns (and
    * must release) the persistence. A caller sharing one cached input
    * across several operator calls keeps its cache.
    */
  def ownPersist(df: DataFrame): (DataFrame, Boolean) =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      (df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), true)
    else (df, false)
}
