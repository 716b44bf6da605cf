package graft.operators

import graft.core.{GunCell, Ham}
import graft.plans.GraftExtensions
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
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

  /** Composite ordering key for HAM: (state, canonical json), the order of
    * [[Ham.mergeCells]]. The JSON is `gun_canonical_json`, the codegen'd
    * Catalyst form of [[graft.core.CanonicalJson.encode]], registered on
    * `spark` here (idempotent). String comparison in Spark is by
    * UTF8String binary order — same as Go bytes.Compare on UTF-8, so
    * `max_by` over this struct reproduces the reference tiebreak exactly.
    */
  private def hamOrderKey(spark: org.apache.spark.sql.SparkSession) = {
    GraftExtensions.register(spark)
    struct(col("state"), call_function("gun_canonical_json", col("value")))
  }

  /** Collapse a cell set to its HAM winners, one row per (soul, field).
    * `passThrough` names extra columns functionally determined by the key
    * (e.g. the store's `bucket` partition column) — they join the group-by
    * and survive into the output unchanged.
    */
  def mergeSnapshot(cells: DataFrame, passThrough: Seq[String] = Nil): DataFrame =
    cells
      .groupBy((Seq("soul", "field") ++ passThrough).map(col): _*)
      .agg(
        max_by(struct(col("value"), col("state"), col("valueExists")),
          hamOrderKey(cells.sparkSession)).as("w"))
      .select((Seq(col("soul"), col("field"), col("w.value").as("value"),
        col("w.state").as("state"), col("w.valueExists").as("valueExists")) ++
        passThrough.map(col)): _*)

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

  /** Typed merge of a Dataset[GunCell] to winners per key. */
  def mergeTyped(cells: Dataset[GunCell]): Dataset[GunCell] = {
    implicit val enc: Encoder[GunCell] = Encoders.product[GunCell]
    cells.groupByKey(c => (c.soul, c.field))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .reduceGroups((a, b) => Ham.mergeCells(a, b))
      .map(_._2)
  }
}
