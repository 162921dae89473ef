package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.MaxSim
import graft.index.MultiVectorIndex
import graft.util.Plan

/** Search parameters — defaults match the reference
  * (next-plaid/src/search.rs:27-69). */
final case class SearchParams(
    topK: Int = 10,
    nIvfProbe: Int = 8,
    nFullScores: Int = 4096,
    centroidScoreThreshold: Option[Float] = Some(0.4f),
    /** Above this many centroids the funnel switches to the sparse
      * formulation (search.rs:518-600 search_one_mmap_batched): probe
      * selection becomes a distributed pass over the centroid table and
      * approximate scoring a join over only the candidate docs' code
      * union — no dense Q×K driver matrices, no driver codebook load.
      * The reference batches at the same order of K. */
    sparseCentroidThreshold: Int = 100000,
    /** Memory budget for the dense path's broadcast score matrices
      * (Q × tokens × K × 4 bytes). A batch whose matrices exceed this is
      * split into query chunks that each fit, the funnel runs per chunk
      * (results are per-query, so chunking is result-identical), and each
      * chunk's broadcasts are destroyed before the next chunk starts — the
      * Spark twin of the reference's query batching (search.rs:521-640,
      * batch_size = 2000). The switch to the sparse path stays keyed on K:
      * with chunking the batch size Q no longer multiplies into the
      * broadcast footprint. */
    denseScoreBudgetBytes: Long = 1L << 30,
    /** Serving fast path: when the packed index's estimated collected
      * footprint ([[graft.index.MultiVectorIndex.packedBytesEstimate]])
      * fits this budget, the index is collected once per Searcher into a
      * driver-held image, and every batch of up to
      * [[Searcher.LocalMaxBatch]] queries runs the S1–S8 funnel
      * in-process on the driver with no Spark job: phase A (S1–S6)
      * parallel over the queries, or over the tokens of a single query,
      * then phase B (the S7 rerank) parallel over the surviving docs.
      * Result-identical to the distributed funnel (same probe/score/cut/
      * rerank kernels and tie-breaks); what changes is that a warm batch
      * pays no job instead of ~7 shuffle barriers. The budget bounds the
      * fast path's estimated DRIVER RESIDENCY — dispatch compares it
      * against [[Searcher.LocalResidencyFactor]] (3) × the packed-image
      * estimate, which overstates the held image plus the transient
      * collect rows (see there). The 768 MB default admits ≤256 MB
      * images (~10% of the default 8 GB driver heap). Above the budget —
      * the 100 TB regime — the distributed funnel is the only correct
      * plan and runs unchanged.
      * The same budget bounds FOUR resident images: the local packed
      * index image above, the sharded slices below (sharded dispatch is
      * gated on this budget too, since its slices are the same
      * collected-image idea spread across executors), the FTS
      * artifact's BM25 image ([[graft.fts.FtsIndex]]), which also gates
      * driver-side keyword/hybrid fusion in [[HybridSearch]], and a
      * [[graft.GraftIndex]]'s metadata image, which filtered searches
      * evaluate their condition on. The three DRIVER images share it,
      * admitted in a fixed order: the semantic image when its residency
      * ([[Searcher.residentBytes]]) fits; the FTS image when
      * [[graft.fts.FtsIndex.residentBytesEstimate]] plus the semantic
      * charge fits; the metadata image when
      * [[graft.GraftIndex.metadataBytesEstimate]] plus both charges fits
      * (each image is charged whenever it is admitted), so their
      * combined estimate never exceeds the budget. 0 disables all four;
      * to disable only the sharded path set shardedScoreBudgetBytes
      * to 0. */
    localIndexBudgetBytes: Long = 768L << 20,
    /** Sharded serving fast path: when the packed image EXCEEDS the
      * local budget (too big to collect to one node) but the batch is
      * serving-shaped, the image is split into doc-id slices held
      * RESIDENT across calls (cached RDD partitions — on a cluster each
      * executor keeps its slices in memory), and the funnel runs as TWO
      * shuffle-free jobs over the slices: phase A (S3–S6 per slice, the
      * global cut merged driver-side — sound because a global survivor
      * is always within its slice's local top-n) and phase B (S7 doc-
      * grouped on the slice owning each survivor). The S1 GEMM runs
      * once per query on the driver (token-parallel) and is broadcast,
      * like the distributed funnel's one-stage S1. This budget bounds
      * that broadcast (batch × tokens × K × 4B); bigger batches take
      * the distributed funnel, whose chunking bounds the same matrices.
      * Result-identical to both other paths (same kernels, same global
      * cut and tie-breaks). 0 disables sharded dispatch. */
    shardedScoreBudgetBytes: Long = 64L << 20,
    /** Slice count for the sharded fast path; 0 = the session's default
      * parallelism. The slice layout is cached per Searcher (first call
      * wins; a changed value rebuilds the resident image). */
    shardedSlices: Int = 0,
    /** S7 exact-rerank precision. Default (true): f32 with a SIMD /
      * unrolled dot ([[graft.core.MaxSim.scoreFast]]) — the reference's
      * own rerank precision (its kernel is SIMD f32, maxsim.rs:270-314),
      * several × faster on long documents. `false` switches to double
      * precision with FIXED summation order, which is what every
      * declared oracle query pins explicitly so its scores hash-match
      * DuckDB's double arithmetic bit-for-bit — verifiability stays on
      * the contract path, while a default-constructed SearchParams
      * serves at the reference's own arithmetic. Ranking equivalence
      * between the two kernels is unit-tested. Honored identically by
      * the fast path and both distributed funnels (dense and sparse),
      * which stay result-identical at either setting. */
    rerankFloat32: Boolean = true
)

/** Batch late-interaction search: the reference's per-query funnel
  * (search.rs:327-516) re-expressed as one DataFrame pipeline over ALL
  * queries at once, so per-stage fixed costs amortize (SURVEY §3.1: the
  * only real shuffles are the IVF join, the per-(query,doc) grouping, and
  * the final per-query top-k window).
  *
  * Queries are collected and broadcast (a query batch is small — tens to
  * thousands of rows); the index side stays fully distributed. The
  * query-token × centroid score matrices (the S1 GEMM) are computed ONCE
  * in a tiny stage over the query batch and broadcast, then reused by S2
  * probing and S5 approximate scoring — the reference computes this
  * matrix once per query too (search.rs:345); recomputing it per
  * partition would be P× redundant GEMM work.
  *
  * Open-handle semantics: a Searcher (like its MultiVectorIndex, whose
  * manifest/codec are lazily cached) snapshots the index when first
  * used — the fast path's collected image included. After an update
  * lifecycle (append/delete/rebuild), open a fresh handle, as the
  * reference reopens its index; only the deferred-delete tombstone
  * table is re-read per search call on every path.
  */
final class Searcher(index: MultiVectorIndex) {
  private val spark: SparkSession = index.spark
  import spark.implicits._

  /** doc -> codes array; persisted at build time (no per-session shuffle
    * of the tokens table — the biggest table in the index). */
  private lazy val docCodes: DataFrame = index.docCodes

  /** Full funnel. `queries(query_id: long, embeddings: array<array<float>>)`;
    * optional `subset(doc_id)` pre-filter (S4). Returns
    * (query_id, doc_id, score, rank). */
  def search(
      queries: DataFrame,
      params: SearchParams = SearchParams(),
      subset: Option[DataFrame] = None
  ): DataFrame = {
    val queryMap = collectQueries(queries)
    val k = index.manifest("num_partitions").toInt

    // Serving dispatch: the driver-held image answers every batch it
    // admits (see localIndexBudgetBytes). Its subset ids are collected —
    // bounded by the corpus, which fits the budget by dispatch — and the
    // subset's count and eligible codes are read from them and the image.
    if (Searcher.servesLocally(index, params, queryMap.size)) {
      val img = localImage
      val ids = subset.map(_.select("doc_id").as[Long].collect())
      val (nProbe, eligible) = probeScope(params, k, ids.map(_.length.toLong)) { mask =>
        ids.foreach(_.foreach(d => img.docCodes.get(d).foreach(_.foreach(mask(_) = true))))
      }
      return searchResident(Left(img), queryMap, params, nProbe, eligible, ids)
    }

    // Subset counted ONCE (drives sharded dispatch, probe scaling, and
    // every subset join's plan — a broad filter selecting 10⁹ ids must
    // never be force-broadcast OR driver-collected). The eligible codes
    // come from the doc_codes artifact (one size-planned semi-join),
    // never from a driver-collected corpus.
    val counted: Option[(DataFrame, Long)] = subset.map { s =>
      val ids = s.select("doc_id")
      (ids, Plan.countIds(ids))
    }
    val (nProbe, eligible) = probeScope(params, k, counted.map(_._2)) { mask =>
      counted.foreach { case (ids, n) =>
        docCodes
          .join(Plan.broadcastIfBounded(ids, n), Seq("doc_id"), "left_semi")
          .select(explode(col("codes")).as("code")).distinct()
          .as[Int].collect().foreach(mask(_) = true)
      }
    }
    if (k > params.sparseCentroidThreshold)
      return searchSparse(queryMap, params, counted, nProbe, eligible)

    // Sharded serving fast path: the image is too big to collect to ONE
    // node (it failed the dispatch above) but the batch is serving-
    // shaped — serve from doc-sliced resident images instead of paying
    // the distributed funnel's shuffle barriers. Bounded by the S1
    // broadcast footprint (batch × tokens × K × 4B) AND — when a subset
    // filter is present — by its driver/broadcast residency (per-id
    // bytes of the HashSet the slices receive): the sharded path exists
    // because the CORPUS doesn't fit one node, so a corpus-sized subset
    // must route to the distributed funnel, whose subset joins are
    // size-planned.
    if (params.localIndexBudgetBytes > 0 && params.shardedScoreBudgetBytes > 0 &&
        queryMap.size <= Searcher.LocalMaxBatch &&
        queryMap.valuesIterator.map(_.length.toLong).sum * k * 4L <=
          params.shardedScoreBudgetBytes &&
        counted.forall(_._2 * Plan.SubsetBytesPerId <= params.localIndexBudgetBytes)) {
      val slices = if (params.shardedSlices > 0) params.shardedSlices
        else math.max(2, spark.sparkContext.defaultParallelism)
      return searchResident(Right(shardedImage(slices)), queryMap, params,
        nProbe, eligible, counted.map(_._1.as[Long].collect()))
    }

    // Memory bounding (search.rs:521-640, batch_size = 2000): the dense
    // funnel's footprint is the broadcast score matrices —
    // Q × tokens × K × 4 bytes — so the batch is greedily packed (in
    // sorted-qid order, deterministic) into chunks that each fit
    // `denseScoreBudgetBytes`. A single query is never split: its matrix
    // is at most maxTokens × K floats, ~13 MB at the K=100k dense
    // ceiling. Every per-query stage (probe, cut, top-k window) makes a
    // chunked run result-identical to the unchunked one.
    val budget = math.max(params.denseScoreBudgetBytes, 1L)
    val qids = queryMap.keys.toSeq.sorted
    def bytesOf(qid: Long): Long = queryMap(qid).length.toLong * k * 4L
    val chunks: Seq[Seq[Long]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      val cur = scala.collection.mutable.ArrayBuffer.empty[Long]
      var curBytes = 0L
      qids.foreach { q =>
        val b = bytesOf(q)
        if (cur.nonEmpty && curBytes + b > budget) {
          out += cur.toSeq; cur.clear(); curBytes = 0L
        }
        cur += q; curBytes += b
      }
      if (cur.nonEmpty) out += cur.toSeq
      out.toSeq
    }

    if (chunks.size <= 1)
      searchDenseChunk(queryMap, params, counted, nProbe, eligible)._1
    else {
      // Chunked run executes eagerly, one chunk at a time: each chunk's
      // result is tiny (≤ chunkQueries × topK rows) so it collects to the
      // driver, and the chunk's broadcasts are destroyed before the next
      // chunk's are built — peak footprint is ONE chunk's matrices, not
      // the whole batch's.
      var schema: org.apache.spark.sql.types.StructType = null
      val allRows = chunks.flatMap { cq =>
        val cmap: Map[Long, Array[Array[Float]]] =
          cq.iterator.map(q => q -> queryMap(q)).toMap
        val (df, bcs) = searchDenseChunk(cmap, params, counted, nProbe, eligible)
        schema = df.schema
        val rows = df.collect()
        bcs.foreach(_.destroy())
        rows
      }
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(allRows.toList.asJava, schema)
    }
  }

  private def collectQueries(queries: DataFrame): Map[Long, Array[Array[Float]]] =
    queries
      .select("query_id", "embeddings")
      .as[(Long, Array[Array[Float]])]
      .collect()
      .toMap

  /** S4 pre-computation, shared by every funnel: adaptive probe scaling
    * (search.rs:370-382) — with a subset of `n` ids, probe more
    * centroids so recall holds — and the eligible-centroid restriction
    * (search.rs:350-364): only centroids that actually contain subset
    * docs compete for the probe budget. `markSubsetCodes` marks the
    * subset docs' codes from wherever the caller keeps them; it runs
    * only when there is a subset. Returns (nProbe, eligible mask). */
  private def probeScope(params: SearchParams, k: Int, n: Option[Long])(
      markSubsetCodes: Array[Boolean] => Unit): (Int, Option[Array[Boolean]]) = {
    val nProbe = n.fold(params.nIvfProbe) { n =>
      val scaled = params.nIvfProbe.toLong * math.max(
        index.numDocuments / math.max(n, 1L), 1L)
      math.min(scaled, k.toLong).toInt
    }
    val eligible = n.map { _ =>
      val mask = new Array[Boolean](k)
      markSubsetCodes(mask)
      mask
    }
    (nProbe, eligible)
  }

  /** S3 + S4 of the distributed funnels: gather the probed IVF lists
    * (`probed(query_id, code)`, join-hinted by the caller), dedup the
    * candidates, restrict them to the subset (planned by its count) and
    * drop deferred-delete tombstones (anti-join on the candidate set —
    * O(tombstones), not O(corpus)). */
  private def candidates(probed: DataFrame, counted: Option[(DataFrame, Long)]): DataFrame = {
    val gathered = index.ivf
      .join(probed, "code")
      .select(col("query_id"), explode(col("doc_ids")).as("doc_id"))
      .distinct()
    val inSubset = counted.fold(gathered) { case (ids, n) =>
      gathered.join(Plan.broadcastIfBounded(ids, n), Seq("doc_id"), "left_semi")
    }
    index.tombstonesOpt.fold(inSubset)(tomb => inSubset.join(tomb, Seq("doc_id"), "left_anti"))
  }

  /** S6 funnel cut of the distributed funnels: per query, the top
    * `nDecompress` candidates by approx score, doc ascending on ties
    * (search.rs:460-469). */
  private def cut(approx: DataFrame, nDecompress: Int): DataFrame =
    approx
      .withColumn("_r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("approx_score").desc, col("doc_id").asc)))
      .filter(col("_r") <= nDecompress)
      .select("query_id", "doc_id")

  /** S7 input of the distributed funnels: the tokens of each surviving
    * doc with `qids`, the queries that kept it. Survivors are bounded by
    * queries × n_full/4 rows — a driver-known bound, so the tokens join
    * is planned from it: broadcast for typical batches (the tokens table
    * never shuffles), shuffle join for mega-batches where the build side
    * would not fit. */
  private def survivorTokens(survivors: DataFrame, bound: Long): DataFrame =
    index.tokens.join(Plan.broadcastIfBounded(
      survivors.groupBy("doc_id").agg(collect_list("query_id").as("qids")), bound), "doc_id")

  /** S8 of the distributed funnels: final per-query top-k, score desc,
    * doc asc. */
  private def finalTopK(exact: DataFrame, k: Int): DataFrame =
    exact
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)

  /** One dense-funnel pass over a query chunk whose score matrices fit
    * the memory budget. Returns the (lazy) result plus the broadcasts it
    * created, so a chunked caller can destroy them between chunks. */
  private def searchDenseChunk(
      queryMap: Map[Long, Array[Array[Float]]],
      params: SearchParams,
      counted: Option[(DataFrame, Long)],
      nProbe: Int,
      eligible: Option[Array[Boolean]]
  ): (DataFrame, Seq[org.apache.spark.broadcast.Broadcast[_]]) = {
    val codec = index.codec
    val dim = codec.dim
    val k = codec.numCentroids
    val rerank32 = params.rerankFloat32
    val queriesBc = spark.sparkContext.broadcast(queryMap)
    val codecBc = spark.sparkContext.broadcast(codec)

    // S1: per-query centroid-score matrices, computed once in a tiny
    // distributed stage and collected (Q × n_tokens × K floats; for K
    // beyond ~100k switch to the reference's sparse candidate-codes-only
    // variant, search.rs:256-302).
    val dimLocal = dim
    val kLocal = k
    val qids = queryMap.keys.toSeq.sorted
    def scoreOne(emb: Array[Array[Float]], cents: Array[Float]): Array[Array[Float]] =
      Searcher.centroidScores(emb, cents, kLocal, dimLocal)
    // Small batches score on the driver (a Spark job would be pure
    // overhead) but in PARALLEL across driver cores — single-threaded
    // this was the dominant cost of a warm 64-query batch at K=4096
    // (4.3 GFLOPs ≈ 2 s, measured round 9). Large batches run as one
    // tiny distributed stage.
    val scoreMatrices: scala.collection.Map[Long, Array[Array[Float]]] =
      if (qids.size <= 64)
        qids.zip(Searcher.parMap(qids.toIndexedSeq)(q =>
          scoreOne(queryMap(q), codec.centroids))).toMap
      else
        spark.sparkContext
          .parallelize(qids, math.min(qids.size, 32).max(1))
          .map(qid => (qid, scoreOne(queriesBc.value(qid), codecBc.value.centroids)))
          .collectAsMap()
    val scoresBc = spark.sparkContext.broadcast(
      scoreMatrices.toMap: Map[Long, Array[Array[Float]]])

    // S2: per token top-nProbe centroids (bounded-heap partial selection);
    // threshold filter keeps a centroid if its max score across ALL query
    // tokens meets it (search.rs:417-425 — not just the tokens that
    // selected it). Driver-side: the matrices are already here.
    val probedPairs: Seq[(Long, Int)] = qids.flatMap { qid =>
      Searcher.probeCentroids(
        scoreMatrices(qid), nProbe, params.centroidScoreThreshold, eligible)
        .map(c => (qid, c))
    }

    // S3 + S4: gather IVF lists, dedup, subset and tombstone restriction
    val cands = candidates(broadcast(probedPairs.toDF("query_id", "code")), counted)

    // S5: approximate (codes-only) MaxSim per candidate, reusing the
    // broadcast score matrices (no per-partition recompute).
    val approx = cands
      .join(docCodes, "doc_id")
      .select("doc_id", "query_id", "codes")
      .as[(Long, Long, Array[Int])]
      .mapPartitions { rows =>
        val scores = scoresBc.value
        rows.map { case (docId, qid, codes) =>
          (qid, docId, MaxSim.approxScore(scores(qid), codes))
        }
      }
      .toDF("query_id", "doc_id", "approx_score")

    // S6: funnel cut — top n_full_scores by approx, then n_full/4 (>= topK)
    // go to decompression (search.rs:460-469).
    val nDecompress = Searcher.nDecompress(params)
    val survivors = cut(approx, nDecompress)

    // S7: exact MaxSim on decompressed survivors. Grouped by DOC, not by
    // (query, doc): with a dense rerank set (n_full/4 docs per query and
    // overlapping survivor lists) a per-pair grouping decodes the same
    // doc once per query that reranks it (12.6× redundant decode at the
    // QPS twin's shape, measured round 9) and shuffles its packed
    // residuals that many times. Each surviving doc is decoded ONCE and
    // scored against every query in its survivor list (queries come from
    // the broadcast, so the fan-out adds no shuffled bytes).
    val exact = survivorTokens(survivors, qids.size.toLong * nDecompress)
      .groupBy("doc_id")
      .agg(first(col("qids")).as("qids"),
        collect_list(struct(col("tok"), col("code"), col("residual"))).as("toks"))
      .as[(Long, Array[Long], Array[(Int, Int, Array[Byte])])]
      .mapPartitions { rows =>
        val codecV = codecBc.value
        val queriesV = queriesBc.value
        rows.flatMap { case (docId, docQids, toks) =>
          val docEmb = toks.sortBy(_._1).map { case (_, code, packed) =>
            codecV.decode(code, packed)
          }
          docQids.iterator.map { qid =>
            val s = if (rerank32) MaxSim.scoreFast(queriesV(qid), docEmb).toDouble
                    else MaxSim.scoreDouble(queriesV(qid), docEmb)
            (qid, docId, s)
          }
        }
      }
      .toDF("query_id", "doc_id", "score")

    // S8: final top-k.
    (finalTopK(exact, params.topK), Seq(queriesBc, codecBc, scoresBc))
  }

  /** The sparse/batched funnel for large centroid counts
    * (search.rs:518-600): result-identical to the dense path — probe
    * selection uses the same per-token top-n + all-token threshold
    * semantics, and approximate scoring covers every candidate doc's
    * code (the code union of candidates spans all codes the dense
    * per-doc max would look at). What changes is WHERE the work runs:
    *
    *  - S1/S2: one distributed pass over the centroid parquet table
    *    with per-partition bounded heaps (the Spark twin of
    *    ivf_probe_batched, search.rs:140-254) — no Q×K driver matrix,
    *    no driver codebook load (only the small quantizer scalars).
    *  - S5: per-(query,code) score vectors computed by joining the
    *    candidate code union to the centroid table
    *    (build_sparse_centroid_scores, search.rs:256-302), then an
    *    elementwise-max aggregation per (query, doc).
    *  - S7: survivors' tokens decode against centroid rows fetched by
    *    join, not a broadcast codebook.
    *
    * S3/S4, S6 and S8 are the dense path's own steps.
    */
  private def searchSparse(
      queryMap: Map[Long, Array[Array[Float]]],
      params: SearchParams,
      counted: Option[(DataFrame, Long)],
      nProbe: Int,
      eligible: Option[Array[Boolean]]
  ): DataFrame = {
    val dim = index.dim
    val (quantizer, _, _) = MultiVectorIndex.loadQuantizerMeta(index.path)
    val quantBc = spark.sparkContext.broadcast(quantizer)
    val queriesBc = spark.sparkContext.broadcast(queryMap)
    val maxTokens = queryMap.values.map(_.length).foldLeft(1)(math.max)

    val centDf = spark.read.parquet(s"${index.path}/codec").select("code", "vec")

    // S1/S2 distributed probe selection
    val probed = Searcher.sparseProbe(
      spark, centDf, queryMap, dim, nProbe, params.centroidScoreThreshold, eligible)

    // S3 + S4; probed is bounded by queries × tokens × nProbe distinct codes
    val probedBound = queryMap.size.toLong * maxTokens * nProbe
    val cands = candidates(Plan.broadcastIfBounded(probed, probedBound), counted)

    // S5 sparse approximate scoring (search.rs:256-302): the candidate
    // docs' distinct-code union joins the centroid table once for
    // per-(query,code) score vectors; per-(query,doc) scores are an
    // elementwise NaN-safe max then a token-order sum — arithmetic
    // identical to MaxSim.approxScore over a dense matrix.
    val dimLocal = dim
    val candCodes = cands
      .join(docCodes, "doc_id")
      .select(col("query_id"), col("doc_id"),
        explode(array_distinct(col("codes"))).as("code"))
    val svecs = candCodes.select("query_id", "code").distinct()
      .join(centDf, "code")
      .select("code", "query_id", "vec")
      .as[(Int, Long, Array[Float])]
      .mapPartitions { rows =>
        val qs = queriesBc.value
        rows.map { case (code, qid, vec) =>
          val emb = qs(qid)
          val sv = new Array[Float](emb.length)
          var ti = 0
          while (ti < emb.length) {
            val q = emb(ti)
            var s = 0.0f
            var i = 0
            while (i < dimLocal) { s += vec(i) * q(i); i += 1 }
            sv(ti) = s
            ti += 1
          }
          (qid, code, sv)
        }
      }
      .toDF("query_id", "code", "svec")
    // Typed Aggregator (not mapGroups): Spark plans it as an
    // ObjectHashAggregate with a PARTIAL stage before the exchange, so
    // each map task pre-merges its candidates' per-code score vectors
    // into one max-vector per (query, doc) — the shuffle carries
    // ~distinct (query, doc) keys instead of every (candidate, code)
    // svec row of maxTokens floats. Same map-side-combine discipline the
    // dedup pipeline uses; arithmetic identical to the mapGroups form.
    val approx = candCodes
      .join(svecs, Seq("query_id", "code"))
      .select(col("query_id"), col("doc_id"), col("svec"))
      .as[(Long, Long, Array[Float])]
      .groupByKey { case (qid, docId, _) => (qid, docId) }
      .agg(new Searcher.ElementwiseMaxSum(
        implicitly[org.apache.spark.sql.Encoder[Array[Float]]])
        .toColumn.name("approx_score"))
      .select(col("key._1").as("query_id"), col("key._2").as("doc_id"),
        col("approx_score"))

    // S6: funnel cut — same as dense
    val nDecompress = Searcher.nDecompress(params)
    val survivors = cut(approx, nDecompress)

    // S7: survivors' tokens decode against centroid rows fetched by join
    // (no broadcast codebook), then exact MaxSim — kernel choice follows
    // params.rerankFloat32 like the dense/fast paths, so all three
    // funnels stay result-identical at any given setting. Grouped by
    // DOC like the dense path: a per-(query, doc) grouping decoded the
    // same doc once per query that reranked it and shuffled the decoded
    // floats that many times (the 12.6× redundancy the dense S7 was
    // restructured to remove); each surviving doc now decodes ONCE and
    // scores against every query in its survivor list.
    val rerank32 = params.rerankFloat32
    val exact = survivorTokens(survivors, queryMap.size.toLong * nDecompress)
      .join(centDf, "code")
      .select(col("doc_id"), col("qids"), col("tok"), col("residual"), col("vec"))
      .as[(Long, Array[Long], Int, Array[Byte], Array[Float])]
      .mapPartitions { rows =>
        val qz = quantBc.value
        rows.map { case (docId, docQids, tok, packed, cent) =>
          (docId, docQids, tok, qz.decompress(packed, cent))
        }
      }
      .toDF("doc_id", "qids", "tok", "dvec")
      .groupBy("doc_id")
      .agg(first(col("qids")).as("qids"),
        collect_list(struct(col("tok"), col("dvec"))).as("toks"))
      .as[(Long, Array[Long], Array[(Int, Array[Float])])]
      .mapPartitions { rows =>
        val qs = queriesBc.value
        rows.flatMap { case (docId, docQids, toks) =>
          val docEmb = toks.sortBy(_._1).map(_._2)
          docQids.iterator.map { qid =>
            val s = if (rerank32) MaxSim.scoreFast(qs(qid), docEmb).toDouble
                    else MaxSim.scoreDouble(qs(qid), docEmb)
            (qid, docId, s)
          }
        }
      }
      .toDF("query_id", "doc_id", "score")

    // S8: final top-k
    finalTopK(exact, params.topK)
  }

  // ---------------------------------------------------------------------
  // Resident serving: one two-phase funnel over a resident index image —
  // the driver-held image (one slice, dispatch:
  // SearchParams.localIndexBudgetBytes) or doc-id slices cached on the
  // executors (dispatch: SearchParams.shardedScoreBudgetBytes).
  // ---------------------------------------------------------------------

  /** Manifest build id snapshotted EAGERLY when this Searcher is
    * constructed — one stamp per handle, checked by the stale-image
    * guard of every resident call and NEVER re-captured. Stamping at
    * image-build time (the pre-r15 shape) had two holes: a sharded
    * image rebuild on a slice-count change re-stamped with the POST-
    * flip build id and served the stale lazy codec/DataFrame snapshots
    * without tripping the guard, and an index flip between handle
    * construction and the first image build was absorbed the same way.
    * With an eager stamp, any flip after construction trips the guard
    * (worst case a false positive when nothing stale was read yet —
    * the caller reopens, which is the documented contract anyway). */
  private val snapshotStamp: String =
    graft.index.MultiVectorIndex.readBuildId(index.path)

  /** Collected-once image of a small index — IVF lists, per-doc code
    * arrays (tok order, the S5 input), packed token residuals (tok
    * order, the S7 input). Held on the driver, built lazily on the first
    * local search of this Searcher; sized by
    * [[graft.index.MultiVectorIndex.packedBytesEstimate]]. */
  private lazy val localImage: Searcher.LocalIndexImage = {
    val ivfM: Map[Int, Array[Long]] = index.ivf
      .select("code", "doc_ids").as[(Int, Array[Long])]
      .collect().toMap
    val codesM: Map[Long, Array[Int]] = index.docCodes
      .select("doc_id", "codes").as[(Long, Array[Int])]
      .collect().toMap
    val toksM: Map[Long, Array[(Int, Array[Byte])]] = index.tokens
      .select("doc_id", "tok", "code", "residual")
      .as[(Long, Int, Int, Array[Byte])]
      .collect()
      .groupBy(_._1)
      .map { case (d, rows) => d -> rows.sortBy(_._2).map(r => (r._3, r._4)) }
    Searcher.LocalIndexImage(ivfM, codesM, toksM)
  }

  /** Codec broadcast shared across sharded calls (the codec is
    * immutable per index) — a repeated warm batch must not pay a fresh
    * broadcast each call. */
  private lazy val codecBcShared
      : org.apache.spark.broadcast.Broadcast[graft.index.Codec] =
    spark.sparkContext.broadcast(index.codec)

  @volatile private var shardedImageCache
      : (Int, org.apache.spark.rdd.RDD[Searcher.LocalIndexImage]) = _

  /** Doc-sliced index image, one [[Searcher.LocalIndexImage]] per
    * partition (slice = doc_id % slices — dense build ids balance), each
    * holding only its docs' IVF postings, code arrays, and packed
    * residuals. Built with ONE co-partitioned shuffle of the three index
    * tables, then cached; the corpus never reaches the driver. */
  private def shardedImage(slices: Int)
      : org.apache.spark.rdd.RDD[Searcher.LocalIndexImage] = synchronized {
    if (shardedImageCache != null && shardedImageCache._1 == slices)
      shardedImageCache._2
    else {
      if (shardedImageCache != null)
        shardedImageCache._2.unpersist(blocking = false)
      // NO re-stamp here: the guard compares against the handle's
      // construction-time snapshotStamp, so a rebuild triggered by a
      // slice-count change cannot absorb an on-disk index flip
      val part = new org.apache.spark.HashPartitioner(slices)
      val n = slices.toLong
      val ivfR = index.ivf.select("code", "doc_ids").as[(Int, Array[Long])].rdd
        .flatMap { case (c, ds) => ds.iterator.map(d => ((d % n).toInt, (c, d))) }
        .partitionBy(part)
      val codesR = index.docCodes.select("doc_id", "codes").as[(Long, Array[Int])].rdd
        .map { case (d, cs) => ((d % n).toInt, (d, cs)) }
        .partitionBy(part)
      val toksR = index.tokens.select("doc_id", "tok", "code", "residual")
        .as[(Long, Int, Int, Array[Byte])].rdd
        .map { case (d, t, c, r) => ((d % n).toInt, (d, t, c, r)) }
        .partitionBy(part)
      val img = ivfR.zipPartitions(codesR, toksR, preservesPartitioning = true) {
        (ivfIt, codesIt, toksIt) =>
          val ivfM = scala.collection.mutable.HashMap
            .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
          ivfIt.foreach { case (_, (c, d)) =>
            ivfM.getOrElseUpdate(c,
              new scala.collection.mutable.ArrayBuffer[Long]) += d
          }
          val codesM = codesIt.map { case (_, (d, cs)) => d -> cs }.toMap
          val toksM = toksIt.map(_._2).toSeq.groupBy(_._1).map { case (d, rows) =>
            d -> rows.sortBy(_._2).map(r => (r._3, r._4)).toArray
          }
          Iterator.single(Searcher.LocalIndexImage(
            ivfM.map { case (c, b) => c -> b.toArray }.toMap, codesM, toksM))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      img.count() // materialize: residency is the point
      shardedImageCache = (slices, img)
      img
    }
  }

  /** The dense funnel over a resident image in two phases, the shape of
    * distributed top-k with per-partition pruning (per-slice top-n, a
    * global merge, a rerank on the owning slice). `image` is either the
    * driver-held image — ONE slice, both phases in-process with no
    * Spark job — or the cached executor slices, one shuffle-free job
    * per phase. Phase A runs S3–S6 per slice and returns each slice's
    * top-n survivors with their approx scores; the driver finishes the
    * GLOBAL S6 cut by merging them — equal to the unsliced cut because
    * every global survivor is inside its slice's local top-n under the
    * same (approx desc, doc asc) order. Phase B decodes each global
    * survivor ONCE (on the slice owning it) and exact-scores it for
    * every query that kept it; the driver assembles S8. Same kernels,
    * float order and tie-breaks as the distributed funnel, so results
    * are bit-identical — asserted by IndexSearchSpec's equivalence legs
    * and every search oracle. The tombstone table is re-read per call
    * (it can grow after the image was built); the image itself is
    * immutable build output. */
  private def searchResident(
      image: Either[Searcher.LocalIndexImage, org.apache.spark.rdd.RDD[Searcher.LocalIndexImage]],
      queryMap: Map[Long, Array[Array[Float]]],
      params: SearchParams,
      nProbe: Int,
      eligible: Option[Array[Boolean]],
      subsetIds: Option[Array[Long]]): DataFrame = {
    // Refuse to serve from a stale image: compact()/rebuild rewrite the
    // manifest (and renumber ids), and silently answering from the
    // pre-rewrite image would resurrect deleted docs in the OLD id
    // space. Deferred deletes don't touch the manifest and stay
    // correct — tombstones are re-read below on every call. Keyed on
    // the manifest's build_id (a per-write UUID), not (mtime,length):
    // a rebuild within filesystem timestamp granularity producing a
    // same-length manifest must still trip the guard.
    val nowStamp = graft.index.MultiVectorIndex.readBuildId(index.path)
    if (snapshotStamp != nowStamp)
      throw new IllegalStateException(
        s"index at ${index.path} changed on disk since this Searcher loaded " +
        s"its image (manifest build id $snapshotStamp -> $nowStamp); " +
        "open a fresh Searcher/GraftIndex handle after updates")

    val cdc = index.codec
    val qids: IndexedSeq[Long] = queryMap.keys.toIndexedSeq.sorted
    val subsetSet: Option[java.util.HashSet[java.lang.Long]] = subsetIds.map { ids =>
      val s = new java.util.HashSet[java.lang.Long](ids.length * 2)
      ids.foreach(s.add(_))
      s
    }
    val tombstones: java.util.HashSet[java.lang.Long] = {
      val s = new java.util.HashSet[java.lang.Long]()
      index.tombstonesOpt.foreach(
        _.select("doc_id").as[Long].collect().foreach(s.add(_)))
      s
    }
    val nDec = Searcher.nDecompress(params)
    val rerank32 = params.rerankFloat32
    // S1 + S2 for one query: its centroid-score matrix and probe set
    def probe(qid: Long, parallelTokens: Boolean): (Array[Array[Float]], Seq[Int]) = {
      val m = Searcher.centroidScores(queryMap(qid), cdc.centroids, cdc.numCentroids,
        cdc.dim, parallel = parallelTokens)
      (m, Searcher.probeCentroids(m, nProbe, params.centroidScoreThreshold, eligible))
    }
    // every broadcast of this call, destroyed once its results are on
    // the driver — a warm serving loop must not accumulate blocks
    val bcs = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]
    def bc[T: scala.reflect.ClassTag](v: T): org.apache.spark.broadcast.Broadcast[T] = {
      val b = spark.sparkContext.broadcast(v)
      bcs += b
      b
    }
    try {
      // Phase A — S1–S6, NO decode: each (query, slice)'s survivors
      // with their approx scores
      val sliceSurvivors: Seq[(Long, Array[(Long, Float)])] = image match {
        case Left(im) =>
          // in-process, S1 per query in the loop: parallel over queries,
          // or over the tokens of a single query
          Searcher.parMap(qids) { qid =>
            val (m, probed) = probe(qid, parallelTokens = qids.size == 1)
            qid -> Searcher.funnelSurvivorsScored(im, m, probed, subsetSet, tombstones, nDec)
          }
        case Right(slices) =>
          // S1 + S2 once per query on the driver, token-parallel (the
          // reference computes this matrix once per query too), broadcast
          // with the filter sets — bounded by shardedScoreBudgetBytes at
          // dispatch
          val aBc = bc((qids.map(q => q -> probe(q, parallelTokens = true)),
            subsetSet, tombstones))
          slices.flatMap { slice =>
            val (probes, sub, tomb) = aBc.value
            probes.iterator.map { case (qid, (m, probed)) =>
              qid -> Searcher.funnelSurvivorsScored(slice, m, probed, sub, tomb, nDec)
            }
          }.collect().toSeq
      }
      // global S6 cut under the per-slice ordering — a no-op merge for
      // one slice — then each surviving doc with the queries that kept it
      val docToQids: IndexedSeq[(Long, Array[Long])] = sliceSurvivors
        .groupBy(_._1).iterator.flatMap { case (qid, parts) =>
          val kept = if (parts.size == 1) parts.head._2
            else Searcher.approxCut(parts.flatMap(_._2).toArray, nDec)
          kept.iterator.map { case (d, _) => (d, qid) }
        }.toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).toArray).toIndexedSeq
        .sortBy(_._1)
      // Phase B — S7 doc-grouped: decode each UNIQUE surviving doc once
      // and score it against every query that kept it (per-(query,doc)
      // decode was up to batch-size× redundant on overlapping survivor
      // sets). The scored pairs are driver-bounded (queries × nDec rows).
      val scored: Seq[(Long, Long, Double)] = image match {
        case Left(im) =>
          Searcher.parMap(docToQids) { case (d, qs) =>
            Searcher.scoreDocForQueries(im, cdc, d, qs, queryMap, rerank32)
          }.flatten
        case Right(slices) =>
          val codecBc = codecBcShared
          val bBc = bc((docToQids, queryMap))
          slices.flatMap { slice =>
            val (docs, qm) = bBc.value
            docs.iterator
              .filter { case (d, _) => slice.toks.contains(d) }
              .flatMap { case (d, qs) =>
                Searcher.scoreDocForQueries(slice, codecBc.value, d, qs, qm, rerank32)
              }
          }.collect().toSeq
      }
      // S8 — final top-k per query, assembled driver-side (≤ nDec rows
      // per query): score desc, doc asc, as in the distributed window.
      scored.groupBy(_._1).toIndexedSeq.flatMap { case (qid, ss) =>
        ss.sortWith { (a, b) =>
          val c = java.lang.Double.compare(b._3, a._3)
          c < 0 || (c == 0 && a._2 < b._2)
        }.take(params.topK).zipWithIndex.map { case ((_, d, s), i) => (qid, d, s, i + 1) }
      }.toDF("query_id", "doc_id", "score", "rank")
    } finally bcs.foreach(_.destroy())
  }

  /** S1–S5 oracle twin in FIXED-ORDER f64: centroid scoring (S1),
    * per-token top-`nProbe` probe + max-over-all-tokens threshold (S2,
    * search.rs:417-425), IVF candidate gather with tombstone exclusion
    * (S3), and codes-only approximate MaxSim per candidate TOKEN (S5) —
    * every dot accumulates sequentially in double, so a SQL engine
    * reading the dumped centroids / doc codes / query tokens replays
    * each value bit-for-bit (the same discipline `rerankFloat32=false`
    * pins for S7 in v_index_search). Production serves the f32 kernels
    * ([[Searcher.centroidScores]] / [[Searcher.probeCentroids]] /
    * [[graft.core.MaxSim.approxScore]]); IndexSearchSpec asserts both
    * select identical probe sets and candidate rankings on the gate
    * corpus. Returns PER-QUERY-TOKEN rows `(query_id, doc_id, qtok,
    * best)` — the caller quantizes each `best` to integer micro-units
    * before summing so the cross-engine sum is order-free. */
  def approxFunnelF64(queries: DataFrame, nProbe: Int,
      threshold: Option[Double]): DataFrame = {
    val codec = index.codec
    val dim = codec.dim
    val k = codec.numCentroids
    val cents = codec.centroids
    val queryMap = collectQueries(queries)
    // S1 (f64): per token × centroid sequential double dot — products
    // of two f32 are exact in f64, so DuckDB's
    // list_sum(list_transform(... ::DOUBLE ...)) is bit-identical
    def matrixOf(emb: Array[Array[Float]]): Array[Array[Double]] =
      emb.map { q =>
        val r = new Array[Double](k)
        var c = 0
        while (c < k) {
          var s = 0.0; val off = c * dim; var i = 0
          while (i < dim) { s += cents(off + i).toDouble * q(i).toDouble; i += 1 }
          r(c) = s; c += 1
        }
        r
      }
    val mats: Map[Long, Array[Array[Double]]] =
      queryMap.map { case (q, e) => q -> matrixOf(e) }
    // S2: per-token top-nProbe (score DESC, code ASC — the bounded-heap
    // tie semantics of topNIndices), union over tokens, then keep a
    // centroid iff its max over ALL query tokens meets the threshold
    val t = threshold.getOrElse(Double.NegativeInfinity)
    val probedPairs: Seq[(Long, Int)] =
      mats.toSeq.sortBy(_._1).flatMap { case (qid, m) =>
        val sel = scala.collection.mutable.SortedSet.empty[Int]
        m.foreach { row =>
          (0 until k).sortBy(c => (-row(c), c)).take(math.min(nProbe, k))
            .foreach(sel += _)
        }
        sel.iterator.filter { c =>
          var mx = Double.NegativeInfinity
          m.foreach { row => if (!row(c).isNaN && row(c) > mx) mx = row(c) }
          mx >= t
        }.map(c => (qid, c)).toSeq
      }
    // S3: IVF gather + dedup + tombstone exclusion (the production
    // funnel's own step)
    val cands = candidates(broadcast(probedPairs.toDF("query_id", "code")), None)
    // S5 (f64): per query token, max over the doc's codes of the S1
    // score — emitted per token so the caller's integer-micro sum is
    // accumulation-order-free across engines
    val matsBc = spark.sparkContext.broadcast(mats)
    cands.join(docCodes, "doc_id")
      .select("doc_id", "query_id", "codes")
      .as[(Long, Long, Array[Int])]
      .mapPartitions { rows =>
        val ms = matsBc.value
        rows.flatMap { case (docId, qid, codes) =>
          val m = ms(qid)
          m.indices.iterator.map { qi =>
            var best = Double.NegativeInfinity
            var ci = 0
            while (ci < codes.length) {
              val s = m(qi)(codes(ci))
              if (!s.isNaN && s > best) best = s
              ci += 1
            }
            (qid, docId, qi, best)
          }
        }
      }
      .toDF("query_id", "doc_id", "qtok", "best")
  }

  /** S10 reconstruction: decompressed embeddings for given doc ids. */
  def reconstruct(docIds: DataFrame): DataFrame = {
    val codecBc = spark.sparkContext.broadcast(index.codec)
    val ids = docIds.select("doc_id")
    // size-planned like every other caller-sized join side: a bulk
    // reconstruction of 10^8 ids must fall back to a shuffle semi-join,
    // never a forced broadcast
    index.tokens
      .join(Plan.broadcastIfBounded(ids, ids.count()),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "tok", "code", "residual")
      .as[(Long, Int, Int, Array[Byte])]
      .mapPartitions { rows =>
        val c = codecBc.value
        rows.map { case (docId, tok, code, packed) =>
          (docId, tok, c.decode(code, packed))
        }
      }
      .toDF("doc_id", "tok", "vec")
  }

  /** S11 rerank: exact MaxSim of one query against supplied docs
    * (ad-hoc, no index probing). `docs(doc_id, embeddings)`. */
  def rerank(query: Array[Array[Float]], docs: DataFrame, topK: Int): DataFrame =
    Searcher.rerank(spark, query, docs, topK)

  /** Brute-force exact search (the in-repo oracle for funnel recall —
    * mirrors the reference's exact n_full_scores path). */
  def bruteForce(queries: DataFrame, topK: Int): DataFrame = {
    val codecBc = spark.sparkContext.broadcast(index.codec)
    val queriesBc = spark.sparkContext.broadcast(collectQueries(queries))
    val liveTokens = index.tombstonesOpt match {
      case Some(tomb) => index.tokens.join(tomb, Seq("doc_id"), "left_anti")
      case None       => index.tokens
    }
    val exact = liveTokens
      .groupBy("doc_id")
      .agg(collect_list(struct(col("tok"), col("code"), col("residual"))).as("toks"))
      .as[(Long, Array[(Int, Int, Array[Byte])])]
      .mapPartitions { rows =>
        val c = codecBc.value
        val qs = queriesBc.value
        rows.flatMap { case (docId, toks) =>
          val docEmb = toks.sortBy(_._1).map { case (_, code, packed) =>
            c.decode(code, packed)
          }
          qs.iterator.map { case (qid, q) => (qid, docId, MaxSim.scoreDouble(q, docEmb)) }
        }
      }
      .toDF("query_id", "doc_id", "score")
    finalTopK(exact, topK)
  }

}

object Searcher {

  /** Resident image of an index (or of one doc-id slice of it) for
    * the resident funnel: IVF lists, per-doc codes (tok order), packed
    * residuals (tok order). */
  private[search] final case class LocalIndexImage(
      ivf: Map[Int, Array[Long]],
      docCodes: Map[Long, Array[Int]],
      toks: Map[Long, Array[(Int, Array[Byte])]])

  /** Fast-path ceiling on batch size: phase A/B collect
    * queries × n_full/4 intermediate rows to the driver (~100 MB at
    * this bound with default params). Mega-batches above it use the
    * dense funnel's chunked flow, which never materializes more than
    * one memory-budgeted chunk. */
  private[search] val LocalMaxBatch = 4096

  /** Driver-residency multiplier for the fast-path dispatch:
    * localIndexBudgetBytes bounds a packed image estimated at N bytes
    * by N × this factor. It was sized when the image also had a
    * broadcast block (collected intermediate rows + the held image +
    * the block, ~3N); the image is now held on the driver only, so its
    * transient peak is ~2N and 3 overstates it. The factor is kept so
    * that admission — which images serve locally, and what the FTS and
    * metadata images are charged — does not change. */
  private[search] val LocalResidencyFactor = 3L

  /** Estimated driver residency of `index`'s local image (packed
    * estimate × [[LocalResidencyFactor]]) when `budgetBytes` admits it,
    * else 0 — what the sibling resident images of [[graft.GraftIndex]]
    * (FTS and metadata) charge against the same budget. */
  def residentBytes(index: MultiVectorIndex, budgetBytes: Long): Long = {
    val r = index.packedBytesEstimate * LocalResidencyFactor
    if (budgetBytes > 0 && r <= budgetBytes) r else 0L
  }

  /** True when [[Searcher.search]] answers an `nQueries` batch from the
    * resident local image — the dispatch itself, shared with callers
    * that decide what to hand the search. */
  private[search] def servesLocally(
      index: MultiVectorIndex, params: SearchParams, nQueries: Int): Boolean =
    index.manifest("num_partitions").toInt <= params.sparseCentroidThreshold &&
      nQueries <= LocalMaxBatch && params.localIndexBudgetBytes > 0 &&
      index.packedBytesEstimate * LocalResidencyFactor <= params.localIndexBudgetBytes

  /** Survivors per query sent to the S7 rerank: n_full/4, at least
    * topK (search.rs:460-469). */
  private[search] def nDecompress(params: SearchParams): Int =
    math.max(params.nFullScores / 4, params.topK)

  /** `f` over `xs` in parallel on the driver's cores (the common
    * fork-join pool); results in input order. */
  private[search] def parMap[A, B: scala.reflect.ClassTag](xs: IndexedSeq[A])(
      f: A => B): IndexedSeq[B] = {
    val out = new Array[B](xs.length)
    java.util.stream.IntStream.range(0, xs.length).parallel()
      .forEach(i => out(i) = f(xs(i)))
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** S3–S6 against one index image (or image SLICE) from a precomputed
    * S1 matrix and probe set: gather, filter, approximate-score, cut.
    * Ordering and arithmetic mirror the distributed funnel exactly:
    * float approx scores, doc_id-ascending ties at the cut. Returns the
    * post-cut survivors WITH their approx scores so the resident funnel
    * can finish the GLOBAL S6 cut by merging slice results under the
    * same (score desc, doc asc) ordering — the cut over a union of
    * per-slice top-n sets equals the unsharded cut because each slice's
    * global survivors are within its local top-n. */
  private[search] def funnelSurvivorsScored(
      im: LocalIndexImage,
      scores: Array[Array[Float]],
      probed: Seq[Int],
      subsetSet: Option[java.util.HashSet[java.lang.Long]],
      tombstones: java.util.HashSet[java.lang.Long],
      nDecompress: Int): Array[(Long, Float)] = {
    // S3 + S4: gather IVF lists, dedup, subset/tombstone restriction
    val cands = new scala.collection.mutable.HashSet[Long]
    probed.foreach(c =>
      im.ivf.getOrElse(c, Array.emptyLongArray).foreach(cands += _))
    // S5: approximate codes-only MaxSim (inner-join semantics on
    // docCodes: a candidate without a codes row is dropped)
    val approx = cands.iterator
      .filter(d => subsetSet.forall(_.contains(d)) && !tombstones.contains(d))
      .flatMap(d => im.docCodes.get(d)
        .map(codes => (d, MaxSim.approxScore(scores, codes))))
      .toArray
    // S6: funnel cut
    approxCut(approx, nDecompress)
  }

  /** S6 funnel cut of (doc, approx) rows: approx desc, doc asc (the
    * distributed window's float ordering and tie-break), first `n`. */
  private[search] def approxCut(approx: Array[(Long, Float)], n: Int): Array[(Long, Float)] =
    approx.sortWith { (a, b) =>
      val c = java.lang.Float.compare(b._2, a._2)
      c < 0 || (c == 0 && a._1 < b._1)
    }.take(n)

  /** S7 for ONE surviving doc: decode once, exact-score against every
    * query that kept it. Kernel choice mirrors the distributed S7
    * (double fixed-order by default for oracle bit-parity; opt-in f32
    * serving kernel). A doc without a tokens row is dropped, as the
    * distributed inner join drops it. */
  private[search] def scoreDocForQueries(
      im: LocalIndexImage, cdc: graft.index.Codec,
      d: Long, qids: Array[Long],
      queryMap: scala.collection.Map[Long, Array[Array[Float]]],
      rerankFloat32: Boolean): Seq[(Long, Long, Double)] =
    im.toks.get(d) match {
      case Some(toks) =>
        val docEmb = toks.map { case (code, packed) => cdc.decode(code, packed) }
        qids.toIndexedSeq.map { qid =>
          val emb = queryMap(qid)
          val s = if (rerankFloat32) MaxSim.scoreFast(emb, docEmb).toDouble
                  else MaxSim.scoreDouble(emb, docEmb)
          (qid, d, s)
        }
      case None => Nil
    }

  /** S1 GEMM kernel: per-query-token scores against all K centroids
    * (row-major centroid matrix). Shared by the dense distributed path
    * (driver / tiny stage) and the resident funnel, so both produce
    * identical float accumulation order. `parallel` spreads the
    * independent token rows across cores (single-query latency);
    * per-row arithmetic is identical either way. */
  private[graft] def centroidScores(
      emb: Array[Array[Float]], cents: Array[Float],
      k: Int, dim: Int, parallel: Boolean = false): Array[Array[Float]] = {
    def row(qvec: Array[Float]): Array[Float] = {
      val r = new Array[Float](k)
      var c = 0
      while (c < k) {
        var s = 0.0f
        val off = c * dim
        var i = 0
        while (i < dim) { s += cents(off + i) * qvec(i); i += 1 }
        r(c) = s
        c += 1
      }
      r
    }
    if (parallel) {
      val out = new Array[Array[Float]](emb.length)
      java.util.stream.IntStream.range(0, emb.length).parallel()
        .forEach(i => out(i) = row(emb(i)))
      out
    } else emb.map(row)
  }

  /** S11 rerank kernel — index-free form (the REST rerank endpoint
    * scores ad-hoc docs without touching an index — api/src/routes.rs
    * rerank handler). Instance method delegates here. */
  def rerank(spark: SparkSession, query: Array[Array[Float]],
      docs: DataFrame, topK: Int): DataFrame = {
    import spark.implicits._
    val qBc = spark.sparkContext.broadcast(query)
    val scored = docs
      .select("doc_id", "embeddings")
      .as[(Long, Array[Array[Float]])]
      .map { case (docId, emb) => (docId, MaxSim.scoreDouble(qBc.value, emb)) }
      .toDF("doc_id", "score")
    graft.operators.Rankers.topKGlobal(
      scored, Seq(col("score").desc, col("doc_id").asc), topK)
  }

  /** S5 sparse approximate-score aggregation
    * (build_sparse_centroid_scores consumers, search.rs:256-302):
    * elementwise NaN-safe max over per-(query,code) score vectors, then
    * a token-order sum of the finite maxima — arithmetic identical to
    * [[graft.core.MaxSim.approxScore]] over a dense matrix.
    *
    * A typed Aggregator (vs mapGroups) so Catalyst inserts a partial
    * aggregation before the (query,doc) exchange: the max-merge runs
    * map-side and only one buffer per key crosses the shuffle. Buffers
    * mutate in place (Spark owns them between calls); the zero is the
    * empty array, replaced by a NegativeInfinity-filled buffer on first
    * merge so untouched positions never contribute to the sum. */
  final class ElementwiseMaxSum(bufEnc: org.apache.spark.sql.Encoder[Array[Float]])
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Array[Float]), Array[Float], Float] {
    import graft.core.MaxSim
    override def zero: Array[Float] = Array.emptyFloatArray
    private def mergeInto(buf: Array[Float], sv: Array[Float]): Array[Float] = {
      if (sv.isEmpty) buf
      else {
        val b =
          if (buf.isEmpty) {
            val fresh = new Array[Float](sv.length)
            java.util.Arrays.fill(fresh, Float.NegativeInfinity)
            fresh
          } else buf
        var ti = 0
        while (ti < sv.length) {
          if (MaxSim.better(sv(ti), b(ti))) b(ti) = sv(ti)
          ti += 1
        }
        b
      }
    }
    override def reduce(buf: Array[Float], in: (Long, Long, Array[Float])): Array[Float] =
      mergeInto(buf, in._3)
    override def merge(b1: Array[Float], b2: Array[Float]): Array[Float] =
      mergeInto(b1, b2)
    override def finish(buf: Array[Float]): Float = {
      var total = 0.0f
      var ti = 0
      while (ti < buf.length) {
        val m = buf(ti)
        if (!m.isInfinite && !m.isNaN) total += m
        ti += 1
      }
      total
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Float]] = bufEnc
    override def outputEncoder: org.apache.spark.sql.Encoder[Float] =
      org.apache.spark.sql.Encoders.scalaFloat
  }

  /** Distributed S1/S2 probe selection for large K — the Spark twin of
    * ivf_probe_batched (search.rs:140-254): each centroid-table
    * partition keeps per-(query,token) bounded heaps, a small global
    * window finishes the per-token top-n, and the threshold is the max
    * score over ALL query tokens (search.rs:417-425 — the same
    * semantics as the dense [[probeCentroids]], computed exactly by
    * joining the selected codes back to the centroid table rather than
    * the reference's heap-entry approximation). Returns
    * `(query_id, code)`. */
  private[graft] def sparseProbe(
      spark: SparkSession,
      centDf: DataFrame,
      queryMap: Map[Long, Array[Array[Float]]],
      dim: Int,
      nProbe: Int,
      threshold: Option[Float],
      eligible: Option[Array[Boolean]]): DataFrame = {
    import spark.implicits._
    val queriesBc = spark.sparkContext.broadcast(queryMap)
    val eligibleBc = eligible.map(spark.sparkContext.broadcast(_))
    val dimLocal = dim
    val nProbeLocal = nProbe

    // pass 1: per-partition per-(query,token) bounded heaps over the
    // partition's centroid rows; emits at most
    // partitions × queries × tokens × nProbe rows
    val partials = centDf
      .as[(Int, Array[Float])]
      .mapPartitions { cents =>
        val qs = queriesBc.value
        val elig = eligibleBc.map(_.value)
        val heaps = scala.collection.mutable.Map
          .empty[(Long, Int), java.util.PriorityQueue[(Float, Int)]]
        val ord: java.util.Comparator[(Float, Int)] =
          (a: (Float, Int), b: (Float, Int)) => java.lang.Float.compare(a._1, b._1)
        cents.foreach { case (code, vec) =>
          if (elig.forall(_(code))) {
            qs.foreach { case (qid, emb) =>
              var ti = 0
              while (ti < emb.length) {
                val q = emb(ti)
                var s = 0.0f
                var i = 0
                while (i < dimLocal) { s += vec(i) * q(i); i += 1 }
                // NaN never enters a selection heap (same guard as
                // topNIndices — an admitted NaN freezes eviction)
                if (!s.isNaN) {
                  val h = heaps.getOrElseUpdate((qid, ti),
                    // initial capacity clamped: nProbe may be Int.MaxValue
                    // (exhaustive search) and the heap grows on demand
                    new java.util.PriorityQueue[(Float, Int)](
                      math.min(nProbeLocal, 1024) + 1, ord))
                  if (h.size < nProbeLocal) h.add((s, code))
                  else if (s > h.peek()._1) { h.poll(); h.add((s, code)) }
                }
                ti += 1
              }
            }
          }
        }
        heaps.iterator.flatMap { case ((qid, ti), h) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Float)]
          val it = h.iterator()
          while (it.hasNext) { val (s, code) = it.next(); out += ((qid, ti, code, s)) }
          out
        }
      }
      .toDF("query_id", "tok", "code", "s")

    // pass 2: global per-token top-n (tiny window over the partials)
    val wTok = Window.partitionBy("query_id", "tok")
      .orderBy(col("s").desc, col("code").asc)
    val selected = partials
      .withColumn("_r", row_number().over(wTok))
      .filter(col("_r") <= nProbeLocal)
      .select("query_id", "code")
      .distinct()

    // threshold: exact max over ALL tokens, computed only for the
    // selected (query, code) pairs via a join back to the centroid table
    threshold match {
      case None => selected
      case Some(t) =>
        selected
          .join(centDf, "code")
          .select("code", "query_id", "vec")
          .as[(Int, Long, Array[Float])]
          .mapPartitions { rows =>
            val qs = queriesBc.value
            rows.map { case (code, qid, vec) =>
              val emb = qs(qid)
              var maxAll = Float.NegativeInfinity
              var ti = 0
              while (ti < emb.length) {
                val q = emb(ti)
                var s = 0.0f
                var i = 0
                while (i < dimLocal) { s += vec(i) * q(i); i += 1 }
                if (!s.isNaN && s > maxAll) maxAll = s
                ti += 1
              }
              (qid, code, maxAll)
            }
          }
          .toDF("query_id", "code", "max_all")
          .filter(col("max_all") >= t)
          .select("query_id", "code")
    }
  }

  /** S2 probe selection for one query: union of each token's
    * top-`nProbe` centroids, then drop centroids whose max score across
    * ALL query tokens is below the threshold (search.rs:388-428; the
    * threshold looks at every token's score row, not only the tokens
    * that selected the centroid). Returns sorted codes (deterministic). */
  private[graft] def probeCentroids(
      m: Array[Array[Float]], nProbe: Int,
      threshold: Option[Float],
      eligible: Option[Array[Boolean]] = None): Seq[Int] = {
    val t = threshold.getOrElse(Float.NegativeInfinity)
    val selected = scala.collection.mutable.Set.empty[Int]
    // eligible-centroid restriction: ineligible columns are masked out
    // of the per-token top-n selection so the probe budget goes to
    // centroids that can produce candidates at all
    val rows = eligible match {
      case None => m
      case Some(mask) => m.map { row =>
        val masked = row.clone()
        var c = 0
        while (c < masked.length) {
          if (!mask(c)) masked(c) = Float.NegativeInfinity
          c += 1
        }
        masked
      }
    }
    rows.foreach { row => topNIndices(row, nProbe).foreach(selected += _) }
    selected.iterator
      // top-n of a masked row can still surface -inf placeholders when
      // fewer than n centroids are eligible — drop them here
      .filter(c => eligible.forall(_(c)))
      .filter { c =>
        var maxAll = Float.NegativeInfinity
        var ti = 0
        while (ti < m.length) {
          val s = m(ti)(c)
          if (!s.isNaN && s > maxAll) maxAll = s
          ti += 1
        }
        maxAll >= t
      }
      .toSeq.sorted
  }

  private[graft] def topNIndices(scores: Array[Float], n: Int): Array[Int] = {
    if (n >= scores.length) return scores.indices.toArray
    // bounded selection: maintain a small min-heap of (score, idx).
    // NaN scores never enter the heap: a NaN admitted early poisons the
    // peek comparison (x > NaN is always false) and silently freezes the
    // selection at "first n columns scanned" — every other funnel stage
    // is NaN-guarded, so probe selection must be too.
    val heap = new java.util.PriorityQueue[(Float, Int)](
      n, (a: (Float, Int), b: (Float, Int)) => java.lang.Float.compare(a._1, b._1))
    var i = 0
    while (i < scores.length) {
      val s = scores(i)
      if (!s.isNaN) {
        if (heap.size < n) heap.add((s, i))
        else if (s > heap.peek()._1) { heap.poll(); heap.add((s, i)) }
      }
      i += 1
    }
    val out = new Array[Int](heap.size)
    var j = 0
    while (!heap.isEmpty) { out(j) = heap.poll()._2; j += 1 }
    out
  }
}
