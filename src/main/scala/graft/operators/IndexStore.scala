package graft.operators

import graft.streaming.{BucketIndex, StoreFs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent, APPEND-ONLY ANN index stores — the amortization the batch
  * operators lack: [[Similarity.ivfLists]] / [[Similarity.pqTopK]]
  * rebuild centroids, codebooks, and assignments on every call, so a
  * corpus queried twice pays the index build twice. Here the index is
  * built ONCE on disk and later calls — including calls in a NEW session
  * — reuse it; new vectors append against the FROZEN geometry (centroid
  * table / codebooks are immutable once built, the standard IVF/PQ
  * contract: appends reuse the trained quantizers).
  *
  * Layout (the [[BucketIndex]] delta discipline — staged write,
  * idempotent rename promotion, crash-safe sorted compaction):
  *   - IVF:  `<path>/centroids` (cid, q) — one small parquet;
  *           `<path>/lists/bucket=<list_id>/` (vec_id, uv) — the
  *           inverted lists ARE the bucket dirs, so a probe of `nprobe`
  *           lists reads exactly those directories, O(corpus/nLists ×
  *           nprobe) regardless of corpus size.
  *   - PQ:   `<path>/codebooks` (s, cid, q) — m small tables;
  *           `<path>/codes/bucket=<vec_id mod NB>/` (vec_id, codes) —
  *           the PQ-compressed corpus (m smallints per vector, never
  *           raw floats).
  *
  * Both stores stamp a layout marker (geometry + quantization scale);
  * a mismatched reopen fails loudly instead of probing wrong lists.
  */
object IndexStore {

  private val ivfListsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("uv", ArrayType(DoubleType))))

  private val pqCodesSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(LongType))))

  private val PqCodeBuckets = 16

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (StoreFs.fileSystem(p, spark.sparkContext.hadoopConfiguration), p)
  }

  // ---------------------------------------------------------------- IVF

  /** Build the IVF index at `path`: freeze the centroid table, then
    * append the corpus as list-partitioned (vec_id, uv) rows. `batchId`
    * names the initial append's delta files — a streaming maintainer
    * whose FIRST batch triggers the build passes its micro-batch id so
    * a crash-replay of that batch (which by then sees the centroids and
    * takes the append path) renames onto the same dests and skips. The
    * default is −1, NOT 0: streaming batchIds start at 0, and a
    * maintainer appending batch 0 to a PRE-built index must not rename
    * onto the build's dests (the dest-exists skip would silently drop
    * the batch — different data under a colliding id).
    */
  def buildIvf(vectors: DataFrame, nLists: Int, path: String,
      batchId: Long = -1L): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = Similarity.collectCentroids(vectors, nLists)
    cents.toSeq.toDF("cid", "q").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    appendIvf(vectors, path, batchId, nLists)
  }

  /** Append vectors against the STORED centroids (one delta file per
    * touched list). Idempotent per batchId — a replay re-renames onto
    * existing dests.
    */
  def appendIvf(vectors: DataFrame, path: String, batchId: Long,
      nLists: Int = 0): Unit = {
    val spark = vectors.sparkSession
    val cents = readIvfCentroids(spark, path)
    val n = if (nLists > 0) nLists else cents.length
    val (fs, storeDir) = fsOf(spark, s"$path/lists")
    BucketIndex.checkLayout(fs, storeDir, "_ivf_layout",
      s"$n:${Similarity.QuantScale}")
    val unit = Similarity.unitVectors(vectors)
    try {
      val rows = Similarity.assignToCentroids(vectors, cents)
        .join(unit, "vec_id")
        .withColumn("bucket", col("list_id").cast("int"))
      BucketIndex.appendDelta(rows,
        dataCols = Seq("vec_id", "uv"),
        batchId, numBuckets = n,
        compactThreshold = 8, schema = ivfListsSchema,
        dedupCols = Seq("vec_id"), sortCols = Seq("vec_id"),
        fs, storeDir)
    } finally unit.unpersist()
  }

  private def readIvfCentroids(spark: SparkSession,
      path: String): Array[(Long, Array[Long])] = {
    import spark.implicits._
    spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("q"))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
  }

  /** IVF top-k from the STORED index: assign each query to its `nprobe`
    * best lists against the frozen centroids (map-side), read ONLY those
    * list directories (partition-pruned on the bucket column), rank by
    * exact cosine of the stored unit vectors. Same ordering contract as
    * [[Similarity.ivfKnn]] — on the same corpus the results are
    * identical (IndexStoreSpec).
    */
  def ivfKnnStored(queries: DataFrame, k: Int, nprobe: Int,
      path: String): DataFrame = {
    val spark = queries.sparkSession
    val cents = readIvfCentroids(spark, path)
    val probes = Similarity.probeAssign(queries, cents, nprobe)
    val scan = spark.read.parquet(s"$path/lists")
      .select(col("bucket").cast("long").as("list_id"),
        col("vec_id").as("neighbor_id"), col("uv").as("cv"))
    val qUnit = Similarity.unitVectors(queries)
    try {
      val pairs = probes.join(scan, "list_id")
        .filter(col("neighbor_id") =!= col("query_id"))
        .join(qUnit.select(col("vec_id").as("query_id"), col("uv").as("qv")),
          "query_id")
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val res = Similarity.cosinePairs(pairs, "query_id", "qv", "neighbor_id", "cv")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
      Caching.materializeAndRelease(res)
    } finally qUnit.unpersist()
  }

  // ---------------------------------------------------------------- MRL

  private val mrlListsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("emb", ArrayType(FloatType))))

  private def prefixOf(vectors: DataFrame, prefixDims: Int): DataFrame =
    vectors.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))

  /** Build the Matryoshka prefix index at `path`: freeze the PREFIX-space
    * coarse centroids (quantized prefixes of the first `nLists` vectors —
    * the [[Similarity.mrlIvfKnn]] convention), then append the corpus as
    * list-partitioned (vec_id, emb) rows — the RAW float embedding is
    * stored so the probe's prefix cosine and full-dim re-rank read only
    * the probed list directories, never the source corpus. `batchId` as
    * on [[buildIvf]].
    */
  def buildMrl(vectors: DataFrame, prefixDims: Int, nLists: Int,
      path: String, batchId: Long = -1L): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents =
      Similarity.collectCentroids(prefixOf(vectors, prefixDims), nLists)
    cents.toSeq.toDF("cid", "q").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/pcentroids")
    appendMrl(vectors, path, batchId, prefixDims, nLists)
  }

  /** Append vectors against the STORED prefix centroids (idempotent per
    * batchId, same delta discipline as [[appendIvf]]).
    */
  def appendMrl(vectors: DataFrame, path: String, batchId: Long,
      prefixDims: Int = 0, nLists: Int = 0): Unit = {
    val spark = vectors.sparkSession
    val cents = readMrlCentroids(spark, path)
    val p = if (prefixDims > 0) prefixDims else cents.head._2.length
    val n = if (nLists > 0) nLists else cents.length
    val (fs, storeDir) = fsOf(spark, s"$path/lists")
    BucketIndex.checkLayout(fs, storeDir, "_mrl_layout",
      s"$n:$p:${Similarity.QuantScale}")
    val rows = Similarity
      .assignToCentroids(prefixOf(vectors, p), cents)
      .join(vectors.select(col("vec_id"), col("embedding").as("emb")),
        "vec_id")
      .withColumn("bucket", col("list_id").cast("int"))
    BucketIndex.appendDelta(rows,
      dataCols = Seq("vec_id", "emb"),
      batchId, numBuckets = n,
      compactThreshold = 8, schema = mrlListsSchema,
      dedupCols = Seq("vec_id"), sortCols = Seq("vec_id"),
      fs, storeDir)
  }

  private def readMrlCentroids(spark: SparkSession,
      path: String): Array[(Long, Array[Long])] = {
    import spark.implicits._
    spark.read.parquet(s"$path/pcentroids")
      .select(col("cid"), col("q"))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
  }

  /** Matryoshka two-stage top-k from the STORED index: each query's
    * prefix probes its `nprobe` best lists against the frozen prefix
    * centroids (map-side), ONLY those list directories are read
    * (partition-pruned on the bucket column — pinned in-plan by
    * IndexStoreSpec), prefix cosine ranks the probed candidates and the
    * exact full-dim cosine re-ranks the top `nCand`. Identical output to
    * [[Similarity.mrlIvfKnn]] on the same corpus (IndexStoreSpec).
    */
  def mrlKnnStored(queries: DataFrame, k: Int, nCand: Int, nprobe: Int,
      path: String): DataFrame = {
    val spark = queries.sparkSession
    val cents = readMrlCentroids(spark, path)
    val p = cents.head._2.length
    val probes = Similarity.probeAssign(prefixOf(queries, p), cents, nprobe)
    val scan = spark.read.parquet(s"$path/lists")
      .select(col("bucket").cast("long").as("list_id"),
        col("vec_id").as("neighbor_id"), col("emb").as("ce"))
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pairs = probes.join(scan, "list_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(q), "query_id")
    Similarity.mrlRerank(pairs, k, p, nCand)
  }

  // ----------------------------------------------------------------- PQ

  /** Build the PQ index at `path`: train the m codebooks once (the
    * [[Similarity.pqTopK]] Lloyd convention), freeze them, and append
    * the corpus's codes. `batchId` as on [[buildIvf]] (default −1 keeps
    * a pre-built index's delta namespace disjoint from streaming ids).
    */
  def buildPq(vectors: DataFrame, m: Int, k: Int, path: String,
      batchId: Long = -1L): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val (quant, owns) = Caching.ownPersist(Similarity.quantized(vectors))
    try {
      val dims = quant.select(size(col("q"))).head.getInt(0)
      require(dims % m == 0, s"dims=$dims not divisible by m=$m")
      val sub = dims / m
      val books = Similarity.pqTrainBooks(quant, m, k, sub)
      books.zipWithIndex.flatMap { case (b, s) =>
        b.map { case (cid, q) => (s, cid, q.toSeq) }
      }.toSeq.toDF("s", "cid", "q").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/codebooks")
      appendPqQuant(quant, path, batchId, m, sub)
    } finally if (owns) quant.unpersist(blocking = false)
  }

  /** Append vectors' codes against the STORED codebooks. */
  def appendPq(vectors: DataFrame, path: String, batchId: Long): Unit = {
    val spark = vectors.sparkSession
    val (m, sub) = {
      val b = readPqBooks(spark, path)
      (b.length, b.head.head._2.length)
    }
    val (quant, owns) = Caching.ownPersist(Similarity.quantized(vectors))
    try appendPqQuant(quant, path, batchId, m, sub)
    finally if (owns) quant.unpersist(blocking = false)
  }

  private def appendPqQuant(quant: DataFrame, path: String, batchId: Long,
      m: Int, sub: Int): Unit = {
    val spark = quant.sparkSession
    val books = readPqBooks(spark, path)
    val (fs, storeDir) = fsOf(spark, s"$path/codes")
    BucketIndex.checkLayout(fs, storeDir, "_pq_layout",
      s"$m:$sub:${Similarity.QuantScale}")
    val rows = Similarity.assignAllSub(quant, books, sub)
      .withColumn("bucket", pmod(col("vec_id"), lit(PqCodeBuckets)).cast("int"))
    BucketIndex.appendDelta(rows,
      dataCols = Seq("vec_id", "codes"),
      batchId, numBuckets = PqCodeBuckets,
      compactThreshold = 8, schema = pqCodesSchema,
      dedupCols = Seq("vec_id"), sortCols = Seq("vec_id"),
      fs, storeDir)
  }

  private def readPqBooks(spark: SparkSession,
      path: String): Array[Array[(Long, Array[Long])]] = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("s"), col("cid"), col("q"))
      .as[(Int, Long, Array[Long])].collect()
    val m = rows.map(_._1).max + 1
    Array.tabulate(m) { s =>
      rows.filter(_._1 == s).map { case (_, cid, q) => (cid, q) }
        .sortBy(_._1)
    }
  }

  /** PQ symmetric top-k from the STORED index: probe codes come from the
    * stored corpus (`probe_id < probes`, the [[Similarity.pqTopK]]
    * convention), distances from the frozen codebooks' k×k tables. Same
    * (pq_dist, vec_id) ranking — identical output to the direct operator
    * on the same corpus (IndexStoreSpec).
    */
  def pqTopKStored(spark: SparkSession, path: String, probes: Int,
      topK: Int): DataFrame = {
    import spark.implicits._
    val books = readPqBooks(spark, path)
    val m = books.length
    val codesDf = spark.read.parquet(s"$path/codes")
      .select(col("vec_id"), col("codes"))
    val corpus = codesDf.select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "s", "code")
    val dtab = for {
      s <- 0 until m
      (ci, qi) <- books(s).toSeq
      (cj, qj) <- books(s).toSeq
    } yield {
      var d = 0L
      var t = 0
      while (t < math.min(qi.length, qj.length)) {
        val df = qi(t) - qj(t); d += df * df; t += 1
      }
      (s, ci, cj, d)
    }
    val dtabDf = dtab.toDF("s", "pcode", "code", "partial")
    val probeCodes = codesDf.filter(col("vec_id") < probes)
      .select(col("vec_id").as("probe_id"), posexplode(col("codes")))
      .toDF("probe_id", "s", "pcode")
    val probeTab = broadcast(
      probeCodes.join(dtabDf, Seq("s", "pcode"))
        .select(col("probe_id"), col("s"), col("code"), col("partial")))
    val dist = corpus.join(probeTab, Seq("s", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("partial")).as("pq_dist"))
    val res = dist
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("pq_dist"), col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("vec_id"), col("pq_dist"),
        col("rank").cast("long").as("rank"))
    Caching.materializeAndRelease(res)
  }
}
