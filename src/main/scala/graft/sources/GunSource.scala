package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 streaming source speaking the gun wire protocol — the
  * reference's transport + receive loop (A22/A20: gun/websocket.go:125-161,
  * gun/gun.go:236-259) as a Spark `MicroBatchStream`.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("gun")
  *     .option("conn", "<registered InMemoryPeerConn name>")  // or
  *     .option("url", "ws://host:port/gun")
  *     .load()                                 // → one STRING column `frame`
  * }}}
  * Each output row is ONE message JSON (batch frames are already split via
  * the double-encoded-array rule, gun/websocket.go:141-159); pipe through
  * [[GunWire.framesToCells]] → `HamStream.updates` for the standing ingest
  * dataflow (SURVEY §3.3).
  *
  * DAM handshake messages are handled INSIDE the source (they are
  * transport control, not data): a `dam:"?"` without pid is answered with
  * our peer id (gun/gun.go:309-325) and consumed; a reply with pid is
  * recorded and consumed.
  *
  * Delivery semantics: frames buffer on the driver between offsets;
  * `commit` drops delivered messages AND prunes the WAL. Every PLANNED
  * micro-batch is journaled to `<checkpointLocation>/gun-wal/<start>-<end>`
  * before its partition is handed out, and a post-restart replay of a
  * checkpointed range is served from that journal — at-least-once for
  * planned batches (re-delivery is safe: the downstream HAM merge is
  * idempotent, the same property the reference's CRDT gives its peers).
  * Only frames received after the last planned batch are lost on a crash
  * (the reference loses ALL in-flight frames, gun/gun.go:236-259 — a live
  * socket with no journal).
  */
class GunSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gun"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GunSourceProvider.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GunSourceTable(properties)
}

object GunSourceProvider {
  val schema: StructType = StructType(Seq(StructField("frame", StringType)))
}

final class GunSourceTable(properties: util.Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "gun-wire-source"
  override def schema(): StructType = GunSourceProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GunSourceProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GunMicroBatchStream(options, Option(checkpointLocation))
      }
    }
}

/** Offset = count of messages ever received on this source instance. */
final case class GunOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final class GunMicroBatchStream(
    options: CaseInsensitiveStringMap,
    checkpointLocation: Option[String] = None)
    extends MicroBatchStream {

  // A conn looked up by name is BORROWED from the application (which may
  // keep using it after the query stops); only a conn this source dialed
  // itself is closed on stop().
  private val (conn: PeerConn, ownsConn: Boolean) = {
    val byName = Option(options.get("conn")).map { key =>
      InMemoryPeerConn.lookup(key).getOrElse(
        throw new IllegalArgumentException(s"no registered conn named '$key'")) -> false
    }
    byName.orElse(Option(options.get("url")).map(WebSocketPeerConn.dial(_) -> true))
      .getOrElse(throw new IllegalArgumentException(
        "gun source requires option 'conn' (registered name) or 'url'"))
  }
  private val myPid: String =
    Option(options.get("pid")).getOrElse(graft.core.SoulGen())

  // driver-side message buffer: (firstOffsetInBuffer, messages)
  private var base: Long = 0L
  private val buffered = new scala.collection.mutable.ArrayBuffer[String]()

  /** Drain the conn; answer/record DAM control messages, buffer the rest. */
  private def poll(): Unit = synchronized {
    conn.drain().foreach { frame =>
      WireCodec.splitFrame(frame).foreach { msg =>
        val env = WireCodec.decodeEnvelope(msg)
        env.dam match {
          case Some(_) if env.pid.isEmpty => conn.send(WireCodec.damReply(myPid))
          case Some(_)                    => () // peer's id recorded implicitly; control-only
          case None                       => buffered += msg
        }
      }
    }
  }

  override def initialOffset(): Offset = GunOffset(0L)

  /** On checkpoint restart the driver buffer is empty but Spark replays
    * offsets from its log (e.g. start=100): anchor `base` at the highest
    * restored offset so NEW messages map to offsets beyond the
    * checkpointed position. Without this, post-restart messages landed at
    * offsets 0..n and were silently swallowed until the count caught up
    * with the old offset. The replayed in-flight range itself still yields
    * an empty batch (`planInputPartitions` clamps below `base`) — the
    * documented at-most-once loss for messages in flight at the crash, not
    * an ongoing loss of new traffic. Only bumps while the buffer is empty:
    * once polling has buffered frames, `base` is already anchored.
    */
  override def deserializeOffset(json: String): Offset = synchronized {
    val n = json.toLong
    if (buffered.isEmpty && n > base) base = n
    GunOffset(n)
  }

  override def latestOffset(): Offset = synchronized {
    poll()
    GunOffset(base + buffered.length)
  }

  // ---- micro-batch WAL: planned ranges journal to the checkpoint dir so
  // a post-restart replay re-delivers instead of dropping. Dot-free dir
  // name is fine — Spark never parquet-scans the checkpoint location.
  // `option("wal", "false")` disables the journal, narrowing delivery to
  // the reference's own class (ALL in-flight frames lost on a crash,
  // gun/gun.go:236-259) — for pipelines that prefer ingest rate over
  // replay, and for the WAL-overhead A/B in graft.StreamBench.
  private lazy val walDir: Option[org.apache.hadoop.fs.Path] =
    if (Option(options.get("wal")).exists(_.equalsIgnoreCase("false"))) None
    else checkpointLocation.map(c => new org.apache.hadoop.fs.Path(c, "gun-wal"))
  // journal files are created without a process spawn on `file:`
  // (graft.streaming.StoreFs)
  private lazy val walFs: Option[org.apache.hadoop.fs.FileSystem] =
    walDir.map(graft.streaming.StoreFs.fileSystem(_,
      // the session's hadoopConfiguration carries filesystem credentials
      // (s3a keys, custom defaultFS); a bare `new Configuration()` would
      // resolve session-configured checkpoint locations to the wrong FS
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())))

  private def walWrite(s: Long, e: Long, msgs: Array[String]): Unit =
    for (fs <- walFs; dir <- walDir) {
      val p = new org.apache.hadoop.fs.Path(dir, s"$s-$e")
      if (!fs.exists(p)) {
        // messages encoded as a JSON array of JSON strings — the wire
        // codec's own batch shape, so decode = WireCodec.splitFrame
        val payload = msgs.map(graft.core.CanonicalJson.quote)
          .mkString("[", ",", "]")
        // write-then-rename: a crash mid-write must not leave a truncated
        // journal at the final name — a replay of this range would then
        // fail to parse on every restart, wedging the stream (walRead also
        // tolerates a torn file as absent, for pre-existing checkpoints)
        val tmp = new org.apache.hadoop.fs.Path(dir, s".$s-$e.tmp")
        val out = fs.create(tmp, true)
        try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!fs.rename(tmp, p)) {
          // a lost journal narrows delivery from at-least-once back to the
          // in-flight-loss class — keep running, but say so
          System.err.println(
            s"[gun-source] WAL rename failed for range $s-$e; " +
              "a post-crash replay of this batch will be empty")
          fs.delete(tmp, false)
        }
      }
    }

  private def walRead(s: Long, e: Long): Option[Array[String]] =
    (for (fs <- walFs; dir <- walDir) yield {
      val p = new org.apache.hadoop.fs.Path(dir, s"$s-$e")
      if (!fs.exists(p)) None
      else {
        // Genuine IO failures (permissions, transient FS errors) PROPAGATE:
        // swallowing them would silently replay the range as empty — data
        // loss in exactly the path the WAL exists to protect. Spark retries
        // the failed micro-batch, so a transient error self-heals.
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try in.readFully(0, bytes)
        catch {
          // shorter-than-status content = torn file; fall through to the
          // parse guard below with what we have
          case _: java.io.EOFException => ()
        } finally in.close()
        try Some(WireCodec.splitFrame(
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8)).toArray)
        catch {
          // torn/truncated journal (crash mid-write before the rename fix,
          // or a partial copy): same contract as an absent journal — the
          // range becomes an empty batch instead of wedging every restart
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[gun-source] WAL journal $s-$e unparseable ($e); " +
                "replaying the range as empty")
            None
        }
      }
    }).flatten

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val s = start.asInstanceOf[GunOffset].n
      val e = end.asInstanceOf[GunOffset].n
      if (e <= base) {
        // replayed pre-restart range: serve from the WAL (at-least-once
        // for planned batches); absent journal ⇒ empty batch (the
        // documented loss class for frames that never reached a plan)
        walRead(s, e) match {
          case Some(msgs) if msgs.nonEmpty => Array(GunFramesPartition(msgs))
          case _                           => Array.empty
        }
      } else {
        val lo = math.max(0L, s - base).toInt
        val hi = math.max(0L, e - base).toInt
        val msgs = buffered.slice(lo, hi).toArray
        if (msgs.isEmpty) Array.empty
        else {
          walWrite(s, e, msgs) // journal BEFORE the batch is handed out
          Array(GunFramesPartition(msgs))
        }
      }
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GunFrameReaderFactory

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[GunOffset].n
    val drop = (e - base).toInt
    if (drop > 0) { buffered.remove(0, math.min(drop, buffered.length)); base = e }
    // prune journals whose range is fully committed
    for (fs <- walFs; dir <- walDir; if fs.exists(dir)) {
      fs.listStatus(dir).foreach { st =>
        st.getPath.getName.split("-") match {
          case Array(_, hi) if hi.forall(_.isDigit) && hi.toLong <= e =>
            fs.delete(st.getPath, false)
          case _ => ()
        }
      }
    }
  }

  override def stop(): Unit = if (ownsConn) conn.close()
}

final case class GunFramesPartition(frames: Array[String]) extends InputPartition

final class GunFrameReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val frames = partition.asInstanceOf[GunFramesPartition].frames
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < frames.length }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](UTF8String.fromString(frames(i))))
      override def close(): Unit = ()
    }
  }
}
