package graft.graph

import graft.core._
import graft.streaming.HamStream
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark-native gun engine: a session-scoped cell store with the reference's
  * path-scoped API (reference: gun/gun.go:147-156, gun/scoped.go,
  * gun/scoped_fetch.go, gun/scoped_put.go).
  *
  * The reference's peers collapse into the single authoritative distributed
  * store, so `FetchOne` (local-then-remote) and `FetchOneLocal` coincide;
  * "broadcast to peers" is the store merge itself (SURVEY §3.1/§3.2).
  *
  * Layout: the reference's flat `(parentSoul, field)` map
  * (gun/storage.go:33-45) is split into [[Graft.Buckets]] (64) hash buckets
  * by the delta store's own function, `pmod(xxhash64(soul, field), 64)`
  * (`HamStream.bucketOf`), evaluated on the driver. Each bucket is a
  * one-partition `RDD[GunCell]` holding one HAM winner per key, stored in
  * executor block storage by `localCheckpoint`. The bucket vector and the
  * deferred cells form one immutable snapshot behind a `@volatile`
  * reference: writers are serialized and publish a new snapshot only after
  * its job succeeded, so a concurrent reader sees a put entirely or not at
  * all.
  *
  * Jobs per operation:
  *   - point read ([[fetchCell]]): one job of one task on the key's bucket,
  *     no SQL planning (a scoped read adds one such read per unresolved
  *     path link);
  *   - put, [[applyDeferred]]: one job over the union of the buckets the
  *     cells touch, each rewritten by [[graft.core.Ham.mergeBatch]] and
  *     checkpointed; untouched buckets are reused as they are. A put's job
  *     returns the cells it deferred; `applyDeferred` runs no job when
  *     nothing matured;
  *   - [[purge]]: one job over all buckets;
  *   - construction: one job that collapses the seed cells to HAM winners
  *     in every bucket that has any.
  *
  * Deferred (future, conflicting) cells live on the driver, like the
  * reference's deferred-write timers (gun/storage.go:107-117), until
  * [[applyDeferred]] re-merges the matured ones. [[store]] and [[deferred]]
  * expose both as DataFrames for bulk readers; the data-plane bulk paths
  * are the pure-DataFrame operators in [[graft.operators.HamMerge]] and
  * [[PathOps]].
  */
final class Graft(val spark: SparkSession, initial: Seq[GunCell] = Nil,
    val clock: () => Double = () => System.currentTimeMillis().toDouble,
    soulGen: () => String = () => SoulGen(),
    publisher: Seq[GunCell] => Unit = _ => (),
    peerClient: Option[graft.sources.GunClient] = None) {
  import Graft._
  import spark.implicits._

  private val sc = spark.sparkContext

  @volatile private var snap: Snapshot = {
    val seeds = initial.groupBy(c => bucketOf(c.soul, c.field))
    val empty = Snapshot(Vector.tabulate(Buckets)(b =>
      sc.parallelize(seeds.getOrElse(b, Nil), 1)), Vector.empty)
    // merging no incoming cells collapses each seeded bucket to its winners
    rewrite(empty, seeds.keys.map(b => b -> mergeBucket(Nil, 0.0)).toMap)
  }

  /** The store's cells, one HAM winner per key: the union of the buckets,
    * one partition each.
    */
  def store: DataFrame = spark.createDataset(sc.union(snap.buckets)).toDF()
  def deferred: DataFrame = spark.createDataset(snap.deferred).toDF()

  def scoped(field: String, children: String*): Scoped =
    children.foldLeft(new Scoped(this, None, field))((p, f) => new Scoped(this, Some(p), f))

  /** Merge a batch of cells through HAM (with deferral) into the store,
    * then — unless the write is local-only — hand the batch to the
    * session's publisher (the reference's broadcast-to-peers step,
    * gun/scoped_put.go:139-183; wire it to `GunClient.put` for a live
    * peer, or to a MemoryStream feeding `HamStream.updates`). Local store
    * always happens first, exactly like the reference's immediate local
    * ack before fan-out (gun/scoped_put.go:129-137).
    */
  def putCells(cells: Seq[GunCell], storeLocalOnly: Boolean = false): Unit = {
    // Fire-and-forget must still release its ack listener: with a peerClient
    // set, every put registers a correlation entry that only doneWith/close
    // removes (gun/scoped_put.go:187-203's PutDone) — dropping the handle
    // would leak one listener (plus queued ack envelopes) per put.
    putCellsWithAck(cells, storeLocalOnly).close()
  }

  /** Like [[putCells]], but returns the reference's put-result surface
    * (gun/scoped_put.go:153-173: the result channel carries the immediate
    * local-store result, then each peer's ack or error). The local HAM
    * merge IS the local ack — it has completed by the time this returns;
    * the handle exposes the remote side when the session has a
    * `peerClient`, so a caller can observe a remote peer rejecting the
    * write instead of the fire-and-forget publisher hiding it.
    */
  def putCellsWithAck(cells: Seq[GunCell], storeLocalOnly: Boolean = false): PutAck = {
    synchronized {
      val sys = clock()
      snap = rewrite(snap, merging(cells, sys))
    }
    if (storeLocalOnly) PutAck.localOnly
    else {
      publisher(cells)
      peerClient match {
        case Some(c) => new PutAck(Some((c, c.put(cells))))
        case None    => PutAck.localOnly
      }
    }
  }

  /** Re-apply matured deferred writes (reference: gun/storage.go:107-117). */
  def applyDeferred(): Unit = synchronized {
    val sys = clock()
    val (matured, still) = snap.deferred.partition(_.state <= sys)
    if (matured.nonEmpty) snap = rewrite(snap.copy(deferred = still), merging(matured, sys))
  }

  /** TTL purge pass (reference: gun/storage.go:56-75). */
  def purge(ttlMs: Double = graft.operators.HamMerge.DefaultTtlMs): Unit = synchronized {
    val cutoff = clock() - ttlMs
    snap = rewrite(snap, (0 until Buckets).map(b => b -> keepingFrom(cutoff)).toMap)
  }

  /** Point read of one cell: one single-task job on its bucket. Absent ⇒
    * ValueExists=false, not an error (gun/scoped_fetch.go:56-74).
    */
  private[graph] def fetchCell(soul: String, field: String): FetchResult =
    lookup(sc, snap.buckets(bucketOf(soul, field)), soul, field) match {
      case None    => FetchResult(field, None, None, valueExists = false)
      case Some(c) => FetchResult(field, Some(c.value), Some(c.state), c.valueExists)
    }

  /** One job over the union of the rewritten buckets: each bucket in
    * `rewrites` is replaced by its rewrite's store cells, checkpointed by
    * this job; the cells the rewrites defer join the snapshot's deferred.
    */
  private def rewrite(s: Snapshot, rewrites: Map[Int, Rewrite]): Snapshot =
    if (rewrites.isEmpty) s
    else {
      val slots = rewrites.map { case (b, f) => b -> s.buckets(b).mapPartitions(f) }
      slots.values.foreach(_.localCheckpoint())
      val deferred = sc.runJob(sc.union(slots.values.toSeq), deferredOf)
      val buckets = slots.foldLeft(s.buckets) { case (bs, (b, r)) =>
        bs.updated(b, r.mapPartitions(storeOf, preservesPartitioning = true))
      }
      Snapshot(buckets, s.deferred ++ deferred.iterator.flatten)
    }

  private[graph] def genSoul(): String = soulGen()

  /** Local-then-remote point read — the reference's `FetchOne` (Gun JS
    * `once`, gun/scoped_fetch.go:43-54): local store first; on a miss,
    * send a wire `get` through the peer client, take the FIRST response
    * (gun/scoped_fetch.go:80-87), HAM-merge its put fragment into the
    * session store (the ingest step of gun/gun.go:266-286), and answer
    * from the store — so a later read hits locally even with the peer
    * gone, exactly the reference's TestGunGetSimple behavior
    * (gun/tests/gun_test.go:10-40: read remote, kill server, read local).
    */
  def fetchOnce(
      soul: String,
      field: String,
      client: graft.sources.GunClient,
      timeoutMs: Long = 5000): FetchResult = {
    val local = fetchCell(soul, field)
    if (local.valueExists) local
    else {
      val id = client.get(soul, field)
      try {
        client.awaitAck(id, timeoutMs) match {
          case Some(env) =>
            env.putJson.foreach { put =>
              val cells = graft.sources.GunWire.decodePutFragment(put)
              if (cells.nonEmpty) putCells(cells, storeLocalOnly = true)
            }
            fetchCell(soul, field)
          case None => local // timeout: absent, not an error
        }
      } finally client.doneWith(id)
    }
  }
}

/** Handle for the remote half of a put's result channel
  * (gun/scoped_put.go:153-173). The local ack is implicit: the session
  * store merge completed before the handle was returned. `await` yields
  * the first correlated peer response — `ok` set on success, `err` set on
  * rejection — or None on timeout. Close releases the ack listener.
  */
final class PutAck private[graph] (
    private val remote: Option[(graft.sources.GunClient, String)])
    extends AutoCloseable {

  /** True when a peer ack may arrive (a live client published the put). */
  def hasRemote: Boolean = remote.isDefined

  /** First peer response for this put: check `.err` for a rejection
    * (first-response-wins, like the reference's channel consumer).
    */
  def await(timeoutMs: Long): Option[graft.sources.WireEnvelope] =
    remote.flatMap { case (c, id) => c.awaitAck(id, timeoutMs) }

  override def close(): Unit =
    remote.foreach { case (c, id) => c.doneWith(id) }
}

object PutAck {
  private[graph] val localOnly = new PutAck(None)
}

object Graft {
  /** Bucket count: the delta store's, so a key lands in the same bucket. */
  val Buckets: Int = HamStream.DefaultBuckets

  private def bucketOf(soul: String, field: String): Int =
    HamStream.bucketIdOf(soul, field, Buckets)

  /** A rewritten bucket's stored element: `Right` is a store cell, `Left` a
    * cell the rewrite deferred (returned by the rewrite's job).
    */
  private type Slot = Either[GunCell, GunCell]
  private type Rewrite = Iterator[GunCell] => Iterator[Slot]

  private final case class Snapshot(buckets: Vector[RDD[GunCell]], deferred: Vector[GunCell])

  // Closures shipped to tasks are built here, away from the (unserializable)
  // session instance.
  private def mergeBucket(cells: Seq[GunCell], sys: Double): Rewrite = store => {
    val (merged, deferred) = Ham.mergeBatch(store, cells, sys)
    merged.iterator.map(Right(_)) ++ deferred.iterator.map(Left(_))
  }

  /** One merge per bucket the cells touch, each given that bucket's cells. */
  private def merging(cells: Seq[GunCell], sys: Double): Map[Int, Rewrite] =
    cells.groupBy(c => bucketOf(c.soul, c.field)).map { case (b, cs) => b -> mergeBucket(cs, sys) }

  private def keepingFrom(cutoff: Double): Rewrite =
    _.filter(_.state >= cutoff).map(Right(_))

  private val storeOf: Iterator[Slot] => Iterator[GunCell] = _.collect { case Right(c) => c }
  private val deferredOf: Iterator[Slot] => Vector[GunCell] = _.collect { case Left(c) => c }.toVector

  private def lookup(sc: SparkContext, bucket: RDD[GunCell], soul: String,
      field: String): Option[GunCell] =
    sc.runJob(bucket, (it: Iterator[GunCell]) =>
      it.find(c => c.soul == soul && c.field == field), Seq(0)).head

  sealed abstract class GraftError(msg: String) extends Exception(msg)
  /** Mirrors the reference's ErrNotObject (gun/scoped.go:36-42). */
  final case class ErrNotObject(soul: String, field: String)
      extends GraftError(s"field '$field' under '$soul' is not a relation")
  final case class ErrLookupOnTopLevel(field: String)
      extends GraftError(s"cannot put on top-level field '$field'")
  final case class ErrParentMissing(path: String)
      extends GraftError(s"parent missing for path '$path' (failWithoutParent)")
}

/** A lazy path scope `top/f1/f2/...` — the reference's Scoped linked list
  * (gun/scoped.go:10-34). No I/O until fetch/put; resolved souls are
  * memoized per scope (gun/scoped.go:51-81).
  */
final class Scoped private[graph] (g: Graft, private val parent: Option[Scoped], val field: String) {
  import Graft._

  @volatile private var cachedSoul: Option[String] = None

  def scoped(children: String*): Scoped =
    children.foldLeft(this)((p, f) => new Scoped(g, Some(p), f))

  def pathString: String =
    parent.map(_.pathString + "/").getOrElse("") + field

  /** Resolve this scope's soul. A top-level field *is* its own soul
    * (gun/scoped_fetch.go:59-62); deeper scopes hold the relation value of
    * `field` under the parent's soul. Returns None when the path does not
    * exist; throws ErrNotObject when a non-relation occupies the slot.
    */
  def soul(): Option[String] = cachedSoul.orElse {
    val resolved = parent match {
      case None => Some(field) // top-level field is its own soul
      case Some(p) =>
        p.soul().flatMap { ps =>
          val r = g.fetchCell(ps, field)
          if (!r.valueExists) None
          else r.value match {
            case Some(v) if v.kind == ValueKind.Rel => v.rel
            case _ => throw ErrNotObject(ps, field)
          }
        }
    }
    cachedSoul = resolved
    resolved
  }

  /** Point read (the reference's FetchOne / Gun JS `once`). */
  def fetchOne(): FetchResult = parent match {
    case None =>
      // Reading a top-level scope yields its identity relation, mirroring
      // the reference's self-soul rule.
      FetchResult(field, Some(GunValue.relation(field)), None, valueExists = true)
    case Some(p) =>
      p.soul() match {
        case None => FetchResult(field, None, None, valueExists = false)
        case Some(ps) => g.fetchCell(ps, field)
      }
  }

  /** Write with lazy path materialization (gun/scoped_put.go:50-185): every
    * missing intermediate node gets a generated soul and a relation cell in
    * the same HAM batch, stamped with one shared state (gun/scoped_put.go:102).
    * `storeLocalOnly` is the reference's PutOptionStoreLocalOnly
    * (gun/scoped_put.go:31-48): store locally, skip the publish step.
    */
  def put(value: GunValue, failWithoutParent: Boolean = false,
      storeLocalOnly: Boolean = false): Unit = {
    putWithAck(value, failWithoutParent, storeLocalOnly).close()
  }

  /** [[put]] returning the put-result handle (gun/scoped_put.go:153-173):
    * local merge is complete on return; `PutAck.await` surfaces the first
    * remote peer ack/err when the session publishes through a GunClient.
    */
  def putWithAck(value: GunValue, failWithoutParent: Boolean = false,
      storeLocalOnly: Boolean = false): PutAck = {
    val chain = ancestors // root-first, excluding this leaf scope
    if (chain.isEmpty) throw ErrLookupOnTopLevel(field)
    val state = g.clock()
    val batch = Seq.newBuilder[GunCell]
    // Walk down from the root, materializing missing links.
    var parentSoul = chain.head.field // top-level: soul == field
    chain.head.cachedSoul = Some(parentSoul)
    for (sc <- chain.tail) {
      sc.soulNoThrowCached() match {
        case Some(s) => parentSoul = s
        case None =>
          val existing = g.fetchCell(parentSoul, sc.field)
          existing.value match {
            case Some(v) if v.kind == ValueKind.Rel && existing.valueExists =>
              parentSoul = v.rel.get
              sc.cachedSoul = Some(parentSoul)
            case Some(_) if existing.valueExists => throw ErrNotObject(parentSoul, sc.field)
            case _ =>
              if (failWithoutParent) throw ErrParentMissing(sc.pathString)
              val newSoul = g.genSoul()
              batch += GunCell(parentSoul, sc.field, GunValue.relation(newSoul), state)
              sc.cachedSoul = Some(newSoul)
              parentSoul = newSoul
          }
      }
    }
    batch += GunCell(parentSoul, field, value, state)
    g.putCellsWithAck(batch.result(), storeLocalOnly)
  }

  private def soulNoThrowCached(): Option[String] = cachedSoul

  /** Ancestor scopes root-first (excluding this scope). */
  private def ancestors: List[Scoped] = {
    def up(s: Option[Scoped], acc: List[Scoped]): List[Scoped] = s match {
      case None => acc
      case Some(p) => up(p.parent, p :: acc)
    }
    up(parent, Nil)
  }
}
