package graft.streaming

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a local cell store holds on disk, for specs: its level-0 files,
  * its bucket files, its raw (un-merged) rows, and a fold of level 0.
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
}
