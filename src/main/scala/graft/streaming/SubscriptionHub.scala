package graft.streaming

import graft.streaming.HamStream.Update
import org.apache.spark.sql.Dataset

/** Multiplexed subscription dispatcher — the reference's listener
  * registry (gun/gun.go:349-359: `registerValueIdListener` keyed by
  * "soul/field", each incoming merged update fanned to the matching
  * listener channels) mapped to ONE Structured Streaming query instead of
  * one query per subscriber.
  *
  * [[HamStream.subscribe]] is the honest per-subscription form (each call
  * = its own streaming query); it is the right shape for a handful of
  * standing subscriptions but its per-query cost (checkpoint, trigger
  * loop, state store) is paid N times for N subscribers. The reference
  * makes N listeners cheap because they share the single ingest loop —
  * this hub reproduces that: ONE foreachBatch consumer of the update
  * stream routes each batch's net transitions to an in-memory listener
  * registry keyed by (soul, field). Adding a listener is a map insert —
  * no new query, no new state store — so subscription count scales to
  * the reference's envelope (SubBench measures the per-subscription
  * added cost; SCALE_r7.md has the table).
  *
  * Semantics per listener (mirrors the per-subscription contract):
  *   - transitions for its (soul, field) only, in batch order;
  *   - per-listener DEDUPE of a repeated (value, state) pair — the
  *     reference's per-subscription dedupe (gun/scoped_fetch.go:173-178),
  *     which also absorbs the snapshot/live overlap;
  *   - optional SNAPSHOT seed: `subscribeWithSnapshot` delivers the
  *     store's current value first (a one-bucket point read), then live
  *     transitions — `Fetch`-contract ordering (gun/scoped_fetch.go:98-110).
  *
  * Scale shape: the per-batch routing filters the (already net-collapsed)
  * update batch to REGISTERED souls with a column predicate before any
  * driver collect — the driver touches only the subscription working set,
  * never the full update volume. Callbacks run on the streaming batch
  * thread (the reference runs listeners on the message loop the same
  * way); a slow callback backpressures the batch, so heavy consumers
  * should hand off to their own executor.
  *
  * EXECUTOR delivery (`executorSink = Some(...)`): for fat-payload /
  * high-match workloads even the working set is too much to funnel
  * through one driver thread. With a serializable sink the matched
  * updates are delivered from `foreachPartition` ON THE EXECUTORS —
  * payloads never cross to the driver, and delivery parallelism is the
  * partition count instead of one collect loop. The trade: the sink
  * must be idempotent (at-least-once on micro-batch replay, like every
  * executor-side Spark sink) and the per-listener cross-batch dedupe
  * does not apply — registrations define the matched (soul, field) set;
  * the per-subscription `callback` is NOT invoked in this mode.
  * SUB_BENCH's driver-vs-executor legs price the two shapes.
  */
final class SubscriptionHub(
    updates: Dataset[Update],
    executorSink: Option[SubscriptionHub.ExecutorSink] = None) {

  /** Listener handle; [[close]] unregisters. */
  final class Subscription private[SubscriptionHub] (
      val soul: String,
      val field: String,
      callback: Update => Unit) extends AutoCloseable {
    // per-listener dedupe state: last delivered (value, state).
    // deliver is synchronized: the snapshot seed (subscribeWithSnapshot,
    // caller thread) and live routing (streaming batch thread) both
    // mutate `last`, and an unsynchronized interleave could double-fire
    // or miss the dedupe.
    private var last: Option[(graft.core.GunValue, Double)] = None
    private[SubscriptionHub] def deliver(u: Update): Unit = synchronized {
      val key = (u.value, u.state)
      if (!last.contains(key)) {
        last = Some(key)
        callback(u)
      }
    }
    override def close(): Unit = unregister(this)
  }

  private val listeners =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      java.util.concurrent.CopyOnWriteArrayList[Subscription]]()
  // registered souls, kept as a separate set so the per-batch filter
  // predicate is a plain isInCollection over strings
  @volatile private var registeredSouls: Set[String] = Set.empty

  /** Register a listener for (soul, field) transitions. */
  def subscribe(soul: String, field: String)(callback: Update => Unit): Subscription = {
    val sub = new Subscription(soul, field, callback)
    // compute, not computeIfAbsent-then-add: per-key atomic against
    // unregister's remove-if-empty, so the list this insert lands in can
    // never be one that remove already detached from the map (which
    // would silently drop the new subscription)
    listeners.compute((soul, field), (_, cur) => {
      val list =
        if (cur == null)
          new java.util.concurrent.CopyOnWriteArrayList[Subscription]()
        else cur
      list.add(sub)
      list
    })
    synchronized { registeredSouls += soul }
    sub
  }

  /** Register a listener that first receives the store's CURRENT value
    * (a driver-side point read of level 0 and the key's bucket, no Spark job;
    * absent ⇒ nothing) and
    * then every live transition — the snapshot-then-stream `Fetch`
    * contract. The
    * per-listener dedupe absorbs the case where the write that produced
    * the snapshot is still in flight on the update stream.
    */
  def subscribeWithSnapshot(
      storePath: String,
      soul: String,
      field: String,
      numBuckets: Int)(callback: Update => Unit): Subscription = {
    val sub = subscribe(soul, field)(callback)
    val res = HamStream.fetchFromStore(
      updates.sparkSession, storePath, soul, field, numBuckets)
    (res.value, res.state) match {
      case (Some(v), Some(s)) => sub.deliver(Update(soul, field, v, s))
      case _                  => ()
    }
    sub
  }

  private def unregister(sub: Subscription): Unit = {
    // remove-if-empty inside compute: atomic with subscribe's insert on
    // the same key (the old isEmpty-then-remove raced a concurrent
    // subscribe that had just fetched the list)
    listeners.compute((sub.soul, sub.field), (_, cur) => {
      if (cur == null) null
      else {
        cur.remove(sub)
        if (cur.isEmpty) null else cur
      }
    })
    synchronized {
      import scala.jdk.CollectionConverters._
      registeredSouls = listeners.keySet.asScala.map(_._1).toSet
    }
  }

  /** Listener count (introspection/specs). */
  def size: Int = {
    import scala.jdk.CollectionConverters._
    listeners.values.asScala.map(_.size).sum
  }

  /** The hub's single streaming query. Stop it to shut the hub down. */
  val query: org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.col
    StoreFs.forkFreeCheckpoints(updates.sparkSession)
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Update], _: Long) =>
        val souls = registeredSouls // snapshot: one routing set per batch
        if (souls.nonEmpty) executorSink match {
          case Some(sink) =>
            // executor-side delivery: the key set (bounded by the
            // registered working set) ships in the task closure; matched
            // payloads stay on the executors
            val keys = {
              import scala.jdk.CollectionConverters._
              listeners.keySet.asScala.toSet
            }
            batch.filter(col("soul").isInCollection(souls))
              .foreachPartition { (it: Iterator[Update]) =>
                it.foreach(u =>
                  if (keys.contains((u.soul, u.field))) sink.deliver(u))
              }
          case None =>
            // column-predicate prefilter: only the registered working set
            // crosses to the driver, not the batch
            val hits = batch.filter(col("soul").isInCollection(souls)).collect()
            hits.foreach { u =>
              val list = listeners.get((u.soul, u.field))
              if (list != null) {
                val it = list.iterator()
                while (it.hasNext) it.next().deliver(u)
              }
            }
        } else batch.count() // full pass: every state partition must commit
        ()
      }
      .start()
  }
}

object SubscriptionHub {
  /** Executor-side delivery target — runs on executors, so it must be
    * serializable and idempotent (at-least-once under micro-batch
    * replay). On a cluster this is where a webhook/queue/socket push
    * belongs; the driver never sees the payload.
    */
  trait ExecutorSink extends Serializable {
    def deliver(u: Update): Unit
  }
}
