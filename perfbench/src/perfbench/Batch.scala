package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** `batch_analytics`: declared queries of the curation and graph groups,
  * run back to back in whole passes over fixed input tables until the
  * window closes. Every result is checked against the row count and
  * order-independent hash pinned in the expected file.
  */
object Batch {
  val Groups: Seq[(String, Seq[String])] = Seq(
    "curation" -> Seq("emb_semantic_dedup_hier", "minhash_lsh_pairs", "doc_ngram_jaccard"),
    "graph" -> Seq("graph_pagerank_general", "graph_label_prop", "gun_ham_merge"))

  val Tables = Seq("documents", "embeddings", "events", "orders", "customer", "nation",
    "lineitem")

  /** Order-independent 64-bit hash of a result: the sum of per-row hashes. */
  def resultHash(rows: Array[Row]): Long =
    rows.foldLeft(0L) { (acc, r) =>
      val s = r.toSeq.map(String.valueOf).mkString("\u0001")
      acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL))
    }

  /** `query<TAB>rows<TAB>hash` lines; an empty path means record, not check. */
  private def expected(path: String): Map[String, (Long, Long)] =
    if (path.isEmpty) Map.empty
    else new String(Files.readAllBytes(Paths.get(path)), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, n, h) = l.split("\t")
        q -> (n.toLong, h.toLong)
      }.toMap

  def run(a: Main.Args): Main.Result = {
    val want = expected(a.expected)
    val (setupS, spark) = Main.setups { _ =>
      val s = Main.session()
      Tables.foreach(t => s.read.parquet(s"${a.data}/$t.parquet").count())
      s
    }
    val trace = new Trace(a.trace, spark.sparkContext, s"batch_analytics-${a.seed}")
    val out = new Outcome
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val cpu0 = Main.processCpuS
    val t0 = System.nanoTime()
    while (out.attempted == 0 || Main.secondsSince(t0) < a.seconds) {
      for ((group, queries) <- Groups) {
        val g0 = System.nanoTime()
        trace(s"group:$group") {
          for (q <- queries) trace(s"query:$q") {
            out.op(q)(graft.SparkEntry.queries(q)(spark, a.data).collect()) { rows =>
              val got = (rows.length.toLong, resultHash(rows))
              seen(q) = got
              want.get(q) match {
                case Some(w) if w != got => Some(s"rows/hash $got, expected $w")
                case None if want.nonEmpty => Some("no pinned result")
                case _ => None
              }
            }
          }
        }
        out.add(s"pass.$group", Main.secondsSince(g0))
      }
    }
    val windowS = Main.secondsSince(t0)
    trace.setWindow(t0, System.nanoTime())
    val heapMb = Main.retainedHeapMb()
    out.units = out.latMs.values.map(_.length.toLong).sum
    val observed = Json.obj(seen.toSeq.map { case (q, (n, h)) =>
      q -> Json.arr(Seq(Json.num(n), Json.str(h.toString)))
    }: _*)
    Main.Result(setupS, windowS, out, trace, Main.processCpuS - cpu0, heapMb,
      Seq("observed" -> observed))
  }
}
