package graft.streaming

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a local cell store holds on disk, for specs: its level-0 files,
  * its bucket files, its raw (un-merged) rows, its whole tree, a fold of
  * level 0, and a fold stopped between its promote and its last delete.
  */
object StoreFiles {
  private def parquet(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** The level-0 files of store `dir`, by name. */
  def level0(dir: String): Seq[File] = parquet(new File(dir, "_l0"))

  def level0Paths(dir: String): Seq[Path] = level0(dir).map(f => new Path(f.getPath))

  /** Each `bucket=N` dir of store `dir` with its parquet files. */
  def buckets(dir: String): Map[String, Seq[File]] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(d => d.getName -> parquet(d)).toMap

  /** Every row of store `dir`, both levels, not merged: the cell
    * columns, which level-0 files hold with their `bucket`.
    */
  def rawCells(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.Encoders.product[graft.core.GunCell].schema).parquet((level0(dir) ++ buckets(dir).values.flatten).map(_.getPath): _*)

  /** Folds all of level 0 into the buckets, expiring nothing. */
  def fold(spark: SparkSession, dir: String): Unit =
    HamStream.compactStore(spark, dir, nowMs = 0.0, ttlMs = Double.PositiveInfinity)

  /** Every path under `dir` with its size and mtime. A dir's mtime moves
    * when an entry is made, renamed or removed in it, so an unchanged tree
    * means nothing was written, renamed or deleted.
    */
  def tree(dir: String): Set[(String, Long, Long)] = {
    def walk(f: File): Seq[(String, Long, Long)] =
      (f.getPath, f.length, f.lastModified) +: Option(f.listFiles).toSeq.flatten.flatMap(walk)
    walk(new File(dir)).toSet
  }

  /** Whether `p` is a data file of local store `dir`: a level-0 file or a
    * bucket file, not a staged or temporary one.
    */
  def isDataFile(dir: String, p: Path): Boolean = {
    val parent = p.getParent
    p.getName.endsWith(".parquet") && parent.getParent.toUri.getPath == dir &&
      (parent.getName == "_l0" || parent.getName.startsWith("bucket="))
  }

  private final class InjectedCrash extends RuntimeException("injected crash inside a fold")

  /** Runs `op`, which folds local store `dir` through the `counted:`
    * scheme ([[CountedFs.path]]), and crashes it just before its delete of
    * a data file number `n + 1`: `n = 0` stops the fold after its promote
    * and before its delete, a larger `n` in the middle of its delete.
    * Returns the data files it deleted; throws if `op` ends first.
    */
  def crashFold(dir: String, n: Int)(op: => Unit): Seq[Path] = {
    val deleted = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      CountedFs.during(deleteHook = p => if (isDataFile(dir, p)) {
        if (deleted.size == n) throw new InjectedCrash
        deleted += p
      })(op)
      throw new AssertionError(s"the fold deleted ${deleted.size} data files, not more than $n")
    } catch { case _: InjectedCrash => deleted.toSeq }
  }
}
