package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The count-and-size-ratio compaction trigger (VERDICT_r16 #3): a
  * bucket folds when its file count crosses `compactThreshold` AND its
  * accumulated delta bytes have caught up with its compacted base — so
  * total rewrite volume stays linear in ingested bytes (the fixed-count
  * trigger re-wrote the whole store every `threshold` batches, the
  * measured ~4 s/batch production-shape tax, SCALE_r16 §3). A bucket
  * with no base folds on count alone; a hard ceiling of 8×threshold
  * files folds regardless, bounding probe read-amplification under a
  * long tail of tiny deltas.
  */
class BucketIndexSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 3.5 s (the
  // size-ratio gate); the limit is 17x that, room for a first suite that
  // starts the session and for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("key_hash", StringType), StructField("seq", LongType)))

  // distinct pseudo-random 64-char payloads: snappy cannot collapse them,
  // so file sizes track row counts (the property the trigger prices)
  private def rows(ids: Range) = ids.map { i =>
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"bidx:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    (h, i.toLong)
  }.toDF("key_hash", "seq").withColumn("bucket", lit(0L))

  private def append(df: org.apache.spark.sql.DataFrame, batchId: Long,
      idx: String, threshold: Int): Unit =
    appendWith(new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration),
      df, batchId, idx, threshold)

  private def appendWith(fs: FileSystem, df: org.apache.spark.sql.DataFrame,
      batchId: Long, idx: String, threshold: Int): Unit = {
    val storeDir = new Path(idx)
    BucketIndex.appendDelta(df, dataCols = Seq("key_hash", "seq"),
      batchId, numBuckets = 1, compactThreshold = threshold,
      schema = schema, dedupCols = Seq("key_hash"),
      sortCols = Seq("key_hash"), fs, storeDir)
  }

  private def bucketFiles(idx: String): Seq[String] = {
    val d = new java.io.File(idx, "bucket=0")
    if (!d.exists()) Seq.empty
    else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
  }

  test("size-ratio gate: tiny deltas behind a big base defer the fold " +
      "until the hard file ceiling") {
    val idx = java.nio.file.Files.createTempDirectory("bidx").toString
    // two 1000-row batches: second append crosses count threshold 2 with
    // no base yet -> first fold on count alone
    append(rows(0 until 1000), 0L, idx, threshold = 2)
    append(rows(1000 until 2000), 1L, idx, threshold = 2)
    val afterFirstFold = bucketFiles(idx)
    assert(afterFirstFold.size == 1 &&
      afterFirstFold.head.startsWith("compact-b1-"),
      s"first fold should fire on count alone: $afterFirstFold")
    // a tail of 1-row deltas: every append is over the count threshold,
    // but delta bytes stay far under the ~2000-row base, so NO fold may
    // fire until the 8x hard ceiling (16 files) is reached
    var folds = 0
    (0 until 15).foreach { i =>
      append(rows((2000 + i) to (2000 + i)), 2L + i, idx, threshold = 2)
      val fc = bucketFiles(idx).size
      if (fc == 1) folds += 1
      else assert(fc == i + 2,
        s"fold fired below the byte ratio at tiny delta $i: $fc files")
    }
    assert(folds == 1, s"expected exactly the hard-ceiling fold, got $folds")
    assert(bucketFiles(idx).size == 1,
      s"hard ceiling (16 files) must fold: ${bucketFiles(idx)}")
    // one big batch (>= base bytes) folds immediately at the count gate
    append(rows(4000 until 8100), 20L, idx, threshold = 2)
    assert(bucketFiles(idx).size == 1,
      s"delta >= base must fold: ${bucketFiles(idx)}")
    // nothing lost across the whole schedule: base + tail + big batch
    val got = spark.read.schema(schema)
      .parquet(s"$idx/bucket=0").count()
    assert(got == 2000 + 15 + 4100, s"rows lost across folds: $got")
  }

  /** A file system whose `rename` moves nothing and returns false — the
    * way Hadoop reports a failed rename.
    */
  private def refusingRenames(fs: FileSystem): FileSystem = new FilterFileSystem(fs) {
    override def rename(src: Path, dst: Path): Boolean = false
  }

  test("delta promotion: a failed rename fails the append, a replayed one is skipped") {
    val idx = java.nio.file.Files.createTempDirectory("bidx_promote").toString
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = rows(0 until 40).withColumn("bucket", col("seq") % 2)
    def deltas(): Seq[String] = Seq("bucket=0", "bucket=1").flatMap { b =>
      Option(new java.io.File(idx, b).list()).toSeq.flatten
        .filter(_.endsWith(".parquet")).map(f => s"$b/$f")
    }.sorted

    // no dest: the false rename fails the batch, and no file is committed
    val err = intercept[java.io.IOException] {
      appendWith(refusingRenames(fs), batch, 0L, idx, threshold = 0)
    }
    assert(err.getMessage.contains("promotion rename failed"), err.getMessage)
    assert(deltas().isEmpty, s"a failed promotion committed ${deltas()}")

    // the batch's replay on a working file system lands it
    append(batch, 0L, idx, threshold = 0)
    val landed = deltas()
    assert(landed == Seq("bucket=0/delta-b0-0.parquet", "bucket=1/delta-b0-0.parquet"))
    // a same-batchId replay whose renames return false finds every dest
    // present: it succeeds and adds no file
    appendWith(refusingRenames(fs), batch, 0L, idx, threshold = 0)
    assert(deltas() == landed)
    assert(spark.read.schema(schema).parquet(s"$idx/bucket=0", s"$idx/bucket=1")
      .count() == 40)
  }
}
