package graft.core

/** HAM ("Hypothetical Amnesia Machine") conflict resolution — the CRDT at the
  * heart of the reference (gun/state.go:22-79). Per-field last-write-wins with
  * a machine-state guard and a lexical JSON tiebreak:
  *
  *   - incoming state beyond machine-now        → defer (re-apply later)
  *   - incoming state older than existing state → discard (historical)
  *   - incoming state newer                     → update
  *   - equal states                             → compare canonical JSON
  *     bytes; the lexically larger value wins (gun/state.go:68-78); exact
  *     equality keeps the existing value.
  */
object Ham {

  sealed abstract class Resolution(val isImmediateUpdate: Boolean)
  case object NeverSeenUpdate extends Resolution(true)
  case object TooFutureDeferred extends Resolution(false)
  case object OlderHistorical extends Resolution(false)
  case object NewerUpdate extends Resolution(true)
  case object SameKeep extends Resolution(false)
  case object SameUpdate extends Resolution(true)

  /** Resolve an incoming write against an existing cell. `existing == None`
    * means never seen (gun/storage.go:100-106 handles that case outside
    * ConflictResolve; folded in here for convenience — but note the reference
    * defers-checks only AFTER the never-seen branch is excluded: a never-seen
    * future write is still deferred by the storage layer? No — in the
    * reference (gun/storage.go:100-117) never-seen goes straight to
    * NeverSeenUpdate and is applied immediately regardless of sysState; only
    * conflicting writes are deferred. We reproduce that exactly.)
    */
  def resolve(
      existing: Option[(GunValue, Double)],
      newVal: GunValue,
      newState: Double,
      sysState: Double
  ): Resolution = existing match {
    case None => NeverSeenUpdate
    case Some((exVal, exState)) =>
      if (sysState < newState) TooFutureDeferred
      else if (newState < exState) OlderHistorical
      else if (exState < newState) NewerUpdate
      else {
        val incoming = GunCell("", "", newVal, newState)
        if (mergeCells(GunCell("", "", exVal, exState), incoming) eq incoming) SameUpdate
        else SameKeep
      }
  }

  /** Compare two strings by their UTF-8 byte sequences (Go bytes.Compare):
    * CanonicalJson escapes keep its output ASCII for every char it escapes,
    * and UTF-8 byte order is code-point order.
    */
  def byteCompare(a: String, b: String): Int = {
    val ab = a.getBytes("UTF-8")
    val bb = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val c = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  /** Pairwise merge of two cells for the same (soul, field) key under a fixed
    * sysState snapshot, ignoring deferral (batch-merge form: both cells are
    * already visible). Winner = argmax by (state, canonical json bytes); ties
    * on both keep the left. Commutative, associative, idempotent.
    */
  def mergeCells(a: GunCell, b: GunCell): GunCell = {
    if (b.state > a.state) b
    else if (b.state < a.state) a
    else if (byteCompare(CanonicalJson.encode(a.value), CanonicalJson.encode(b.value)) < 0) b
    else a
  }

  /** Merge a batch into a key-collapsed set of store cells under the
    * reference's deferral rule (gun/storage.go:91-122) — the one HAM rule
    * of the session store ([[graft.graph.Graft]]) and of the streaming
    * state machine (`HamStream.step`):
    *   - a key is *seen* when the store holds it or the batch carries a
    *     present (state <= sysState) cell for it, since the reference
    *     applies the batch's present write first;
    *   - a future cell for a seen key is deferred, a future cell for an
    *     unseen key applies now;
    *   - the store's cells and every applied cell resolve by HAM argmax
    *     ([[mergeCells]]); a full tie keeps the store's cell.
    * With every cell present (matured deferred cells) this is the argmax
    * re-merge of the deferred cells.
    * Returns (merged store cells, deferred cells).
    */
  def mergeBatch(
      store: Iterator[GunCell],
      incoming: Seq[GunCell],
      sysState: Double): (Vector[GunCell], Vector[GunCell]) = {
    val winners = scala.collection.mutable.LinkedHashMap.empty[(String, String), GunCell]
    def add(c: GunCell): Unit =
      winners.updateWith((c.soul, c.field)) {
        case Some(w) => Some(mergeCells(w, c))
        case None    => Some(c)
      }
    store.foreach(add)
    val (present, future) = incoming.partition(_.state <= sysState)
    val seen = winners.keySet.toSet ++ present.map(c => (c.soul, c.field))
    val (deferred, applicable) = future.partition(c => seen((c.soul, c.field)))
    present.foreach(add)
    applicable.foreach(add)
    (winners.values.toVector, deferred.toVector)
  }
}
