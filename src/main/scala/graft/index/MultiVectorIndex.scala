package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Quantizer, Quantiles}
import graft.util.Fs

/** Index build config — defaults match the reference
  * (next-plaid/src/index.rs:88-102). */
final case class IndexConfig(
    nbits: Int = 4,
    kmeansIters: Int = 4,
    maxPointsPerCentroid: Int = 256,
    seed: Long = 42L,
    numPartitionsOverride: Option[Int] = None,
    heldoutMax: Int = 50000,
    /** E3 hierarchical (Ward) pooling factor applied to each doc's token
      * bag before encoding (next-plaid-onnx pool_document_embeddings);
      * 1 = off. */
    poolFactor: Int = 1
)

/** A multi-vector (late-interaction) index as a set of parquet tables:
  *
  * {{{
  * <path>/tokens/    (doc_id, tok, code, residual: binary)   sorted by doc_id
  * <path>/ivf/       (code, doc_ids: array<long>)            sorted+distinct
  * <path>/doclens/   (doc_id, len)
  * <path>/doc_codes/ (doc_id, codes: array<int>)             codes in tok order
  * <path>/codec/     (code, vec)  — centroid codebook
  * <path>/manifest.json
  * }}}
  *
  * Every path that adds tokens — [[MultiVectorIndex.build]],
  * [[Updater.append]] and [[graft.sources.NpyImport.importIndex]] —
  * writes tokens, ivf, doclens and doc_codes through [[IndexWriter]].
  *
  * The on-disk layout replaces the reference's npy/SQLite directory
  * (index.rs:373-528): parquet is splittable/column-pruned, so the
  * merged-file machinery (mmap.rs:1266-1712) is unnecessary. At 100 TB the
  * tokens table is the big one — it is written sorted by doc_id so the
  * exact-rerank gather is a range read, and IVF stays small (K rows).
  */
final class MultiVectorIndex(val spark: SparkSession, val path: String) {
  lazy val tokens: DataFrame = Fs.readParquet(spark, s"$path/tokens")
  lazy val ivf: DataFrame = Fs.readParquet(spark, s"$path/ivf")
  lazy val doclens: DataFrame = Fs.readParquet(spark, s"$path/doclens")
  /** Build artifact `(doc_id, codes: array<int>)` — see build(). */
  lazy val docCodes: DataFrame = Fs.readParquet(spark, s"$path/doc_codes")

  lazy val manifest: Map[String, String] = {
    val node = MultiVectorIndex.jsonMapper.readTree(
      graft.util.Fs.readBytes(s"$path/manifest.json"))
    val it = node.properties().iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }

  lazy val codec: Codec = MultiVectorIndex.loadCodec(spark, path)

  /** Pending deferred-delete tombstones `(doc_id)` — docs hidden from
    * search but not yet physically removed/renumbered (see
    * [[Updater.deleteDeferred]]). None when the table is absent. */
  def tombstonesOpt: Option[DataFrame] = tombstoneTable.map(_.select("doc_id").distinct())

  /** The stored tombstone table as written (ids may repeat). */
  private[index] def tombstoneTable: Option[DataFrame] =
    if (Fs.exists(s"$path/tombstones")) Some(Fs.readParquet(spark, s"$path/tombstones"))
    else None

  def numDocuments: Long = manifest("num_documents").toLong
  def dim: Int = manifest("embedding_dim").toInt

  /** Conservative estimate of the collected JVM footprint of the packed
    * index (tokens + per-doc codes + IVF lists) — the build-side size
    * the serving fast path's broadcast dispatch compares against its
    * budget (see [[graft.search.SearchParams.localIndexBudgetBytes]]).
    * Per vector: packed residual bytes + array/tuple headers + the code
    * and ivf entries; per doc: map-entry and array overhead. */
  def packedBytesEstimate: Long = {
    val nEmb = manifest("num_embeddings").toLong
    val nbits = manifest("nbits").toInt
    nEmb * (dim.toLong * nbits / 8 + 72) + numDocuments * 160
  }
}

object MultiVectorIndex {

  /** Build an index from `docs(doc_id: long, embeddings: array<array<float>>)`.
    * The full B1→B8 pipeline: sample → k-means → codec training → encode →
    * IVF/doclens → manifest. */
  def build(
      spark: SparkSession,
      docs: DataFrame,
      path: String,
      cfg: IndexConfig = IndexConfig()
  ): MultiVectorIndex = {
    import spark.implicits._

    // E3: optional Ward pooling of each doc's token bag (partition-local,
    // no shuffle). raw_docs stores the POOLED embeddings, so the rebuild
    // path must pass poolFactor=1 (pooling is not idempotent) — Updater
    // handles that and re-records the original factor in the manifest.
    val docsIn = poolDocs(spark, docs, cfg.poolFactor)

    // one pass over the doc table for count + dim (the build used to
    // spend a separate scan on each)
    val docStats = docsIn
      .agg(count(lit(1)).as("n"),
        first(size(element_at(col("embeddings"), 1))).as("dim"))
      .collect()(0)
    val numDocs = docStats.getLong(0)
    require(numDocs > 0, "empty document set")
    val dim = docStats.getInt(1)

    // Keep the raw embeddings while the corpus is small enough for the
    // start-from-scratch rebuild path (index.rs:964-969, threshold 999);
    // clear any stale update-lifecycle state from a previous build.
    Fs.deleteRecursively(s"$path/buffer")
    Renumbering.clear(path)
    if (numDocs <= UpdateConfigDefaults.StartFromScratch) {
      graft.util.Fs.rewrite(docsIn.select("doc_id", "embeddings"), s"$path/raw_docs")
    }

    val tokens = IndexWriter.tokensOf(docsIn).cache()

    // --- B1: sample docs, estimate K, train centroids -------------------
    // Hash-threshold doc sampling (no global sort; see GraftKMeans.train).
    // The sampling predicate only needs numDocs, so the token count AND
    // the sample stats come out of ONE aggregation pass (which also
    // populates the cache) instead of two.
    val nSampleDocs = GraftKMeans.numSampleDocs(numDocs)
    val sampledCond =
      if (nSampleDocs >= numDocs) lit(true)
      else {
        val keepPerMillion =
          math.max((nSampleDocs.toDouble / numDocs * 1e6).toLong, 1L)
        pmod(xxhash64(col("doc_id"), lit(cfg.seed)), lit(1000000L)) < lit(keepPerMillion)
      }
    val tokenStats = tokens.agg(
      count(lit(1)).as("total"),
      sum(when(sampledCond, 1L).otherwise(0L)).as("n"),
      countDistinct(when(sampledCond, col("doc_id"))).as("d"))
      .collect()(0)
    val numTokens = tokenStats.getLong(0)
    val sampleTokens = tokens.filter(sampledCond).select("doc_id", "tok", "vec")
    val totalSampleTokens = tokenStats.getLong(1)
    val actualSampleDocs = math.max(tokenStats.getLong(2), 1L)
    val avgTokensPerDoc = totalSampleTokens.toDouble / actualSampleDocs
    val estTotalTokens = avgTokensPerDoc * numDocs
    val k = math.min(
      cfg.numPartitionsOverride.getOrElse(GraftKMeans.numPartitions(estTotalTokens)).toLong,
      totalSampleTokens
    ).toInt

    val centroids = GraftKMeans.train(
      spark, sampleTokens, dim, k, cfg.kmeansIters, cfg.seed, cfg.maxPointsPerCentroid,
      totalCount = Some(totalSampleTokens))

    // --- B3: codec training on a heldout token sample -------------------
    // heldout = min(5% of tokens, 50k) (index.rs:182-287)
    val heldoutN = math.min((numTokens * 0.05).toLong.max(1L), cfg.heldoutMax.toLong).toInt
    val centBc = spark.sparkContext.broadcast(centroids)
    val heldoutKeepPerMillion =
      math.min(math.max((heldoutN.toDouble / numTokens * 1e6).toLong, 1L), 1000000L)
    val heldoutResiduals: Array[Array[Float]] = tokens
      .filter(pmod(xxhash64(col("doc_id"), col("tok"), lit(cfg.seed + 2)), lit(1000000L))
        < lit(heldoutKeepPerMillion))
      // deterministic order for the quantile/average folds below
      .orderBy("doc_id", "tok")
      .select("vec").as[Array[Float]]
      .mapPartitions { vecs =>
        val cents = centBc.value
        val kNow = cents.length / dim
        val kern = new NearestKernel(cents, kNow, dim)
        vecs.map { vec =>
          val code = kern.nearestDotF32(vec)
          val r = new Array[Float](dim)
          var i = 0
          while (i < dim) { r(i) = vec(i) - cents(code * dim + i); i += 1 }
          r
        }
      }
      .collect()

    val flatResiduals = heldoutResiduals.flatten
    val quantizer = Quantizer.train(flatResiduals, cfg.nbits)
    val avgResidual = {
      val acc = new Array[Double](dim)
      heldoutResiduals.foreach { r =>
        var i = 0
        while (i < dim) { acc(i) += math.abs(r(i)); i += 1 }
      }
      acc.map(v => (v / heldoutResiduals.length).toFloat)
    }
    val norms = heldoutResiduals.map { r =>
      var s = 0.0
      var i = 0
      while (i < dim) { s += r(i).toDouble * r(i); i += 1 }
      math.sqrt(s).toFloat
    }
    val clusterThreshold = Quantiles.quantile(norms, 0.75)
    val codec = Codec(dim, centroids, quantizer, avgResidual, clusterThreshold)

    // --- B4-B8: one encode pass, cached; the writer derives every table
    // from it, never re-reading the written tokens
    val encoded = IndexWriter.encode(spark, codec, tokens).drop("rnorm").cache()
    IndexWriter.write(spark, path, encoded, IndexWriter.Fresh(numTokens))
    encoded.unpersist()
    tokens.unpersist()
    centBc.destroy()

    // --- codec + manifest -------------------------------------------------
    saveCodec(spark, path, codec)
    writeManifest(path, Map(
      "nbits" -> cfg.nbits.toString,
      "embedding_dim" -> dim.toString,
      "num_partitions" -> k.toString,
      "seed" -> cfg.seed.toString,
      // full build config, so later update-lifecycle rebuilds preserve
      // the original geometry instead of silently reverting to defaults
      "kmeans_iters" -> cfg.kmeansIters.toString,
      "max_points_per_centroid" -> cfg.maxPointsPerCentroid.toString,
      "pool_factor" -> cfg.poolFactor.toString
    ) ++ IndexWriter.counts(numDocs, numTokens))
    new MultiVectorIndex(spark, path)
  }

  /** E3 Ward pooling over a doc batch (partition-local; factor ≤ 1 or
    * single-token docs pass through unchanged). */
  private[graft] def poolDocs(spark: SparkSession, docs: DataFrame, poolFactor: Int): DataFrame = {
    import spark.implicits._
    if (poolFactor <= 1) docs
    else docs.select("doc_id", "embeddings")
      .as[(Long, Array[Array[Float]])]
      .map { case (id, emb) => (id, graft.core.Ward.poolDocument(emb, poolFactor)) }
      .toDF("doc_id", "embeddings")
  }

  private[graft] def bestDot(
      cents: Array[Float], k: Int, dim: Int, vec: Array[Float]): Int = {
    var best = -1
    var bestScore = Float.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = 0.0f
      val off = c * dim
      var i = 0
      while (i < dim) { s += cents(off + i) * vec(i); i += 1 }
      if (!s.isNaN && (best < 0 || s > bestScore || bestScore.isNaN)) {
        best = c; bestScore = s
      }
      c += 1
    }
    if (best < 0) 0 else best
  }

  /** Jackson (bundled with Spark) — real JSON, not string splitting. */
  private[graft] val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[graft] def writeManifest(path: String, kv: Map[String, String]): Unit = {
    val node = jsonMapper.createObjectNode()
    kv.foreach { case (k, v) => node.put(k, v) }
    // Every manifest write marks an index-state change (build, append,
    // delete, rebuild): stamp a fresh build id, ALWAYS overwriting one
    // carried in from an old manifest map. The serving fast path keys
    // its stale-image guard on this — a (mtime,length) stamp can
    // collide when a rebuild lands within filesystem timestamp
    // granularity with a same-length manifest (coarse object-store
    // mtimes, same digit-width counts).
    node.put("build_id", java.util.UUID.randomUUID().toString)
    // replaceBytes, not writeBytes: a concurrent search may read the
    // manifest at any moment (async updates); truncate-then-write can
    // serve it a torn JSON
    graft.util.Fs.replaceBytes(s"$path/manifest.json", jsonMapper.writeValueAsBytes(node))
  }

  /** The current on-disk build id at `path`, read fresh (no caching) —
    * the stale-image guard's comparison key. Indexes written before
    * build ids existed fall back to the (mtime,length) stamp. */
  private[graft] def readBuildId(path: String): String = {
    val m = jsonMapper.readTree(graft.util.Fs.readBytes(s"$path/manifest.json"))
    val id = m.path("build_id")
    if (id.isMissingNode || id.isNull) graft.util.Fs.stamp(s"$path/manifest.json").toString
    else id.asText()
  }

  def saveCodec(spark: SparkSession, path: String, codec: Codec): Unit = {
    import spark.implicits._
    val k = codec.numCentroids
    // scale file count with codebook bytes (~32 MB/file): one file for
    // toy K, but a 2^20×128-dim codebook (512 MB) splits so the sparse
    // search path's distributed centroid pass parallelizes
    val nParts = math.max(1L, k.toLong * codec.dim * 4 / (32L << 20)).toInt
    val codeRows = (0 until k).map(c => (c, codec.centroid(c))).toDF("code", "vec")
    graft.util.Fs.rewrite(
      (if (nParts == 1) codeRows.coalesce(1)
       else codeRows.repartitionByRange(nParts, col("code")))
        .sortWithinPartitions("code"),
      s"$path/codec")
    val q = codec.quantizer
    val node = jsonMapper.createObjectNode()
    node.put("nbits", q.nbits)
    node.put("dim", codec.dim)
    node.put("cluster_threshold", codec.clusterThreshold)
    def putArr(name: String, arr: Array[Float]): Unit = {
      val a = node.putArray(name)
      arr.foreach(a.add)
    }
    putArr("bucket_cutoffs", q.bucketCutoffs)
    putArr("bucket_weights", q.bucketWeights)
    putArr("avg_residual", codec.avgResidual)
    graft.util.Fs.writeBytes(s"$path/codec.json", jsonMapper.writeValueAsBytes(node))
  }

  /** Load only the small codec scalars (quantizer buckets, avg residual,
    * cluster threshold) — NOT the centroid codebook. The sparse search
    * path uses this so a 2^20-centroid codebook never has to fit on the
    * driver. */
  def loadQuantizerMeta(path: String): (Quantizer, Array[Float], Float) = {
    val node = jsonMapper.readTree(graft.util.Fs.readBytes(s"$path/codec.json"))
    def arr(key: String): Array[Float] = {
      val n = node.get(key)
      Array.tabulate(n.size())(i => n.get(i).floatValue())
    }
    (new Quantizer(node.get("nbits").intValue(), arr("bucket_cutoffs"), arr("bucket_weights")),
      arr("avg_residual"),
      node.get("cluster_threshold").floatValue())
  }

  /** The codebook is K rows: one collect, sorted on the driver. */
  def loadCodec(spark: SparkSession, path: String): Codec = {
    import spark.implicits._
    val rows = Fs.readParquet(spark, s"$path/codec")
      .select(col("code").cast("long"), col("vec")).as[(Long, Array[Float])].collect().sortBy(_._1)
    val dim = rows(0)._2.length
    val flat = new Array[Float](rows.length * dim)
    rows.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, flat, i * dim, dim)
    }
    val (quantizer, avgResidual, clusterThreshold) = loadQuantizerMeta(path)
    Codec(dim, flat, quantizer, avgResidual, clusterThreshold)
  }
}
