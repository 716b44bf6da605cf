package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SemDeDup-variant headroom probe (round-13 scale evidence): times ONE
  * variant — `pinned` (k=8, the oracle anchor), `auto` (k=√(N/2),
  * single-level unconstrained optimum), `auto2` (cap-aware
  * k = max(√(N/2), 4N/cap) — recall-preserving, assignment quadratic
  * past ~32k), or `hier` (coarse ∛N cells + per-cell auto-k,
  * ~N^(4/3) total) — over the embeddings at SPARK_GRAFT_SF_DIR, in its
  * own JVM so variants never share cache warmth. Reports corpus size,
  * the derived sizing, wall seconds, and the dup-flag count (the
  * variants legitimately differ in flags — coarser blocking scores
  * fewer cross-cell pairs; what's compared across variants is COST).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf10 runMain graft.SemDedupProbe hier
  */
object SemDedupProbe {
  def main(args: Array[String]): Unit = {
    val variant = args.headOption.getOrElse("hier")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val sizing = variant match {
      case "pinned" => "k=8"
      case "auto"   => s"k=${operators.Similarity.autoKmeansK(n)}"
      case "auto2"  => s"k=${operators.Similarity.autoKmeansKCapAware(n)}"
      case _        => s"k1=${operators.Similarity.autoCoarseK(n)},k2=auto-per-cell"
    }
    val t0 = System.nanoTime()
    val res = variant match {
      case "pinned" =>
        operators.Similarity.semanticDedup(emb, k = 8, iters = 1, threshold = 0.4)
      case "auto" =>
        operators.Similarity.semanticDedup(emb,
          k = operators.Similarity.autoKmeansK(n), iters = 1, threshold = 0.4)
      // cap-aware sizing (VERDICT_r15 #1): the recall-preserving
      // single-level form — its assignment term is 4N²/cap past the
      // ~32k crossover, so its cost race vs `hier` is the decision input
      case "auto2" =>
        operators.Similarity.semanticDedup(emb,
          k = operators.Similarity.autoKmeansKCapAware(n), iters = 1,
          threshold = 0.4)
      case _ =>
        // SPARK_GRAFT_HIER_BUDGET sizes the bounded passes to the box:
        // at 30M the default 1e9's crest would not fit this box's
        // usable ceiling next to the ~2.5 GiB/M persisted projections.
        // SPARK_GRAFT_HIER_SHARDS > 1 bounds the ASSIGNMENT phase the
        // same way (coarse-cell hash ranges): both 24M and 30M unsharded
        // probes died in assignment materialization at ~2.81 GiB/M of
        // concurrent working set, so >24M on this box needs the
        // per-shard footprint of n/shards.
        val shards = sys.env.getOrElse("SPARK_GRAFT_HIER_SHARDS", "1").toInt
        val budget = sys.env.getOrElse("SPARK_GRAFT_HIER_BUDGET",
          operators.Similarity.DefaultPairRowBudget.toString).toLong
        operators.Similarity.semanticDedupHier(emb, threshold = 0.4,
          shards = shards, pairRowBudget = budget)
    }
    val dups = res.agg(sum(col("is_dup"))).first().getLong(0)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"probe":"semdedup","variant":"$variant","sf":"$sfDir","n":$n,"sizing":"$sizing","dups":$dups,"sec":${f"$sec%.1f"}}""")
    spark.stop()
  }
}
