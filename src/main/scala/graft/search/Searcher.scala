package graft.search

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.core.MaxSim
import graft.index.MultiVectorIndex
import graft.util.{Fs, Plan, ResidentSet}

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
    /** Memory budget for the S1 score matrices the executor placements
      * broadcast (Q × tokens × K × 4 bytes). The batch is packed, in
      * query-id order, into chunks of at most [[Searcher.LocalMaxBatch]]
      * queries whose matrices fit; the two-phase funnel runs per chunk
      * (results are per query, so chunking is result-identical), and
      * each chunk's broadcasts are destroyed before the next chunk
      * starts — the Spark twin of the reference's query batching
      * (search.rs:521-640, batch_size = 2000). A single query is never
      * split. The switch to the sparse path stays keyed on K: with
      * chunking the batch size Q no longer multiplies into the
      * broadcast footprint. */
    denseScoreBudgetBytes: Long = 1L << 30,
    /** Where the dense funnel finds the index, and the budget of every
      * driver-resident image. When the packed index's estimated driver
      * residency ([[Searcher.LocalResidencyFactor]] (3) ×
      * [[graft.index.MultiVectorIndex.packedBytesEstimate]], which
      * overstates the held image plus the transient collect rows) fits
      * it, the index is collected once per Searcher into a driver-held
      * image, and every batch of up to [[Searcher.LocalMaxBatch]]
      * queries runs both funnel phases in-process with no Spark job.
      * The 768 MB default admits ≤256 MB images (~10% of the default
      * 8 GB driver heap). Otherwise the funnel runs on executor slices:
      * with a budget above 0, doc-id slices cached across calls (see
      * shardedSlices), provided a subset's ids fit the budget too (the
      * slices receive them as a set); with 0, or a larger subset,
      * slices read from parquet per call, which hold nothing between
      * calls and collect no id list — the plan for an index no node
      * can hold. All placements return the same rows.
      * The same budget bounds the DRIVER images — semantic
      * ([[Searcher.residentBytes]]), BM25 ([[graft.fts.FtsIndex]]) and
      * metadata ([[graft.GraftIndex]]) — which one
      * [[graft.util.ResidentSet]] per index admits in that order, so
      * their combined estimate never exceeds it. 0 admits no resident
      * image at all. */
    localIndexBudgetBytes: Long = 768L << 20,
    /** Slice count of the cached executor slices; 0 = the session's
      * default parallelism. The slice layout is cached per Searcher
      * (first call wins; a changed value rebuilds the resident image). */
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
      * every placement of the dense funnel and by the sparse funnel,
      * which stay result-identical at either setting. */
    rerankFloat32: Boolean = true
)

/** Batch late-interaction search: the reference's per-query funnel
  * (search.rs:327-516) over ALL queries of a batch at once, in two
  * phases — the shape of distributed top-k with per-partition pruning
  * (REPOSE, ICDE 2021). Phase A runs S1–S6 per index slice and keeps
  * each slice's top-n survivors per query; merging them gives the
  * global S6 cut. Phase B (S7) decodes each surviving doc once, on the
  * slice holding it, and exact-scores it for every query that kept it;
  * the driver assembles S8. The S1 query-token × centroid score
  * matrices are computed once per query on the driver and reused by S2
  * probing and S5 approximate scoring — the reference computes this
  * matrix once per query too (search.rs:345).
  *
  * The slices come from one of three placements, chosen by
  * [[SearchParams.localIndexBudgetBytes]]: the driver-held image (one
  * slice, no Spark job), doc-id slices cached on the executors, or
  * slices read per call from the `doc_codes` and `tokens` parquet (one
  * job per phase, no corpus-sized shuffle). Above
  * [[SearchParams.sparseCentroidThreshold]] centroids the sparse funnel
  * runs instead, as one DataFrame pipeline.
  *
  * Driver values between the ends: a request is read once into a query
  * map by [[Searcher.readQueries]] (a local query frame from its rows,
  * with no SQL execution), every dense placement's funnel yields
  * `(query_id, doc_id, score, rank)` rows, and [[search]] builds one
  * [[Searcher.ResultSchema]] frame from them ([[Searcher.resultFrame]]).
  * The driver image's funnel is also exposed as rows
  * ([[residentRows]]), so [[HybridSearch]]'s resident path fuses the
  * semantic leg's rows without a frame round trip.
  *
  * Open-handle semantics: a Searcher (like its MultiVectorIndex, whose
  * manifest/codec are lazily cached) snapshots the index when first
  * used — the cached images included. After an update lifecycle
  * (append/delete/rebuild), open a fresh handle, as the reference
  * reopens its index; only the deferred-delete tombstones are followed
  * per call, their ids held per stamp of `tombstones/` ([[tombstoneIds]])
  * or anti-joined by the parquet placement.
  */
final class Searcher(index: MultiVectorIndex) {
  private val spark: SparkSession = index.spark
  import spark.implicits._

  /** doc -> codes array; persisted at build time (no per-session shuffle
    * of the tokens table — the biggest table in the index). */
  private lazy val docCodes: DataFrame = index.docCodes

  /** Full funnel. `queries(query_id: long, embeddings: array<array<float>>)`,
    * read by [[Searcher.readQueries]]; optional `subset(doc_id)`
    * pre-filter (S4). Returns (query_id, doc_id, score, rank): every
    * dense placement a local relation under [[Searcher.ResultSchema]]
    * built from the funnel's driver rows, the sparse funnel a lazy plan. */
  def search(
      queries: DataFrame,
      params: SearchParams = SearchParams(),
      subset: Option[DataFrame] = None
  ): DataFrame = searchMap(Searcher.readQueries(queries), params, subset)

  /** [[search]] over queries already read. */
  private[search] def searchMap(
      queryMap: Map[Long, Array[Array[Float]]],
      params: SearchParams,
      subset: Option[DataFrame]
  ): DataFrame = {
    val k = index.manifest("num_partitions").toInt

    // Serving dispatch: the driver-held image answers every batch it
    // admits (see localIndexBudgetBytes). Its subset ids are collected —
    // bounded by the corpus, which fits the budget by dispatch.
    if (servesLocally(params, queryMap.size))
      return Searcher.resultFrame(spark,
        residentRows(queryMap, params, subset.map(_.select("doc_id").as[Long].collect())))

    // Subset counted ONCE (drives the placement, probe scaling, and
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

    // Executor placement. The cached slices serve when the budget admits
    // resident images at all and a subset's ids fit it (the slices
    // receive them as a set): they exist because the CORPUS does not fit
    // one node, so a corpus-sized subset reads parquet slices instead,
    // whose subset join is size-planned.
    val (slices, filters) =
      if (params.localIndexBudgetBytes > 0 &&
          counted.forall(_._2 * Plan.SubsetBytesPerId <= params.localIndexBudgetBytes)) {
        requireFresh()
        val n = if (params.shardedSlices > 0) params.shardedSlices
          else math.max(2, spark.sparkContext.defaultParallelism)
        lazy val img = shardedImage(n)
        (new Searcher.Slices(img, _ => img), filterSets(counted.map(_._1.as[Long].collect())))
      } else (parquetSlices(counted), (None, new java.util.HashSet[java.lang.Long]()))
    Searcher.resultFrame(spark, chunks(queryMap, k, params.denseScoreBudgetBytes)
      .flatMap(c => searchResident(Right(slices), c, params, nProbe, eligible, filters)))
  }

  /** The driver-image funnel as rows: (query_id, doc_id, score, rank) of
    * a batch [[servesLocally]] admits, with the subset's ids already on
    * the driver; their count and eligible codes are read from them and
    * the image. [[search]] wraps the rows in a frame; the hybrid
    * resident path fuses them as they are. Runs no Spark job once the
    * image is held. */
  private[graft] def residentRows(
      queryMap: Map[Long, Array[Array[Float]]],
      params: SearchParams,
      subsetIds: Option[Array[Long]]
  ): Seq[(Long, Long, Double, Int)] = {
    requireFresh()
    val img = localImage
    val k = index.manifest("num_partitions").toInt
    val (nProbe, eligible) = probeScope(params, k, subsetIds.map(_.length.toLong)) { mask =>
      subsetIds.foreach(_.foreach(d => img.docCodes.get(d).foreach(_.foreach(mask(_) = true))))
    }
    searchResident(Left(img), queryMap, params, nProbe, eligible, filterSets(subsetIds))
  }

  /** Query chunks of the executor placements (search.rs:521-640,
    * batch_size = 2000): packed greedily in query-id order, each at most
    * [[Searcher.LocalMaxBatch]] queries whose S1 matrices
    * (tokens × K × 4 bytes) fit `budget`. A single query is never split:
    * its matrix is at most maxTokens × K floats, ~13 MB at the K = 100k
    * dense ceiling. */
  private def chunks(queryMap: Map[Long, Array[Array[Float]]], k: Int,
      budget: Long): Seq[Map[Long, Array[Array[Float]]]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Array[Array[Float]]]]
    var cur = Map.empty[Long, Array[Array[Float]]]
    var curBytes = 0L
    queryMap.keys.toSeq.sorted.foreach { q =>
      val b = queryMap(q).length.toLong * k * 4L
      if (cur.nonEmpty && (curBytes + b > budget || cur.size == Searcher.LocalMaxBatch)) {
        out += cur; cur = Map.empty; curBytes = 0L
      }
      cur += q -> queryMap(q); curBytes += b
    }
    if (cur.nonEmpty) out += cur
    out.toSeq
  }

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

  /** S3 + S4 of the sparse funnel and the f64 oracle twin: gather the
    * probed IVF lists (`probed(query_id, code)`, join-hinted by the
    * caller), dedup the candidates, restrict them to the subset (planned by its count) and
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

  /** S6 funnel cut of the sparse funnel: per query, the top
    * `nDecompress` candidates by approx score, doc ascending on ties
    * (search.rs:460-469). */
  private def cut(approx: DataFrame, nDecompress: Int): DataFrame =
    approx
      .withColumn("_r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("approx_score").desc, col("doc_id").asc)))
      .filter(col("_r") <= nDecompress)
      .select("query_id", "doc_id")

  /** S7 input of the sparse funnel: the tokens of each surviving
    * doc with `qids`, the queries that kept it. Survivors are bounded by
    * queries × n_full/4 rows — a driver-known bound, so the tokens join
    * is planned from it: broadcast for typical batches (the tokens table
    * never shuffles), shuffle join for mega-batches where the build side
    * would not fit. */
  private def survivorTokens(survivors: DataFrame, bound: Long): DataFrame =
    index.tokens.join(Plan.broadcastIfBounded(
      survivors.groupBy("doc_id").agg(collect_list("query_id").as("qids")), bound), "doc_id")

  /** S8 of the sparse funnel and brute force: final per-query top-k,
    * score desc, doc asc. */
  private def finalTopK(exact: DataFrame, k: Int): DataFrame =
    exact
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)

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
    * S3/S4, S6 and S8 are the DataFrame steps above: the same
    * semantics and tie-breaks as the dense funnel's per-slice kernels.
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

    val centDf = graft.util.Fs.readParquet(spark, s"${index.path}/codec").select("code", "vec")

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

    // S6: funnel cut — the dense funnel's order and tie-break
    val nDecompress = Searcher.nDecompress(params)
    val survivors = cut(approx, nDecompress)

    // S7: survivors' tokens decode against centroid rows fetched by join
    // (no broadcast codebook), then exact MaxSim — kernel choice follows
    // params.rerankFloat32 like the dense funnel, so both funnels stay
    // result-identical at any given setting. Grouped by
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
  // The two-phase funnel and its index placements: the driver-held
  // image, doc-id slices cached on the executors, or slices read from
  // parquet per call (dispatch: SearchParams.localIndexBudgetBytes).
  // ---------------------------------------------------------------------

  /** Manifest build id snapshotted EAGERLY when this Searcher is
    * constructed — one stamp per handle, checked by the stale-image
    * guard of every cached-placement call and NEVER re-captured.
    * Stamping at image-build time (the pre-r15 shape) had two holes: a
    * sharded image rebuild on a slice-count change re-stamped with the
    * POST-flip build id and served the stale lazy codec/DataFrame
    * snapshots without tripping the guard, and an index flip between
    * handle construction and the first image build was absorbed the
    * same way. With an eager stamp, any flip after construction trips
    * the guard (worst case a false positive when nothing stale was read
    * yet — the caller reopens, which is the documented contract
    * anyway). */
  private val snapshotStamp: String =
    graft.index.MultiVectorIndex.readBuildId(index.path)

  /** Refuse to serve from a stale cached image: compact()/rebuild
    * rewrite the manifest (and renumber ids), and silently answering
    * from the pre-rewrite image would resurrect deleted docs in the OLD
    * id space. Deferred deletes don't touch the manifest and stay
    * correct — tombstones are re-stamped on every call. Keyed on the
    * manifest's build_id (a per-write UUID), not (mtime,length): a
    * rebuild within filesystem timestamp granularity producing a
    * same-length manifest must still trip the guard. The parquet
    * placement caches nothing and needs no guard. */
  private def requireFresh(): Unit = {
    val nowStamp = graft.index.MultiVectorIndex.readBuildId(index.path)
    if (snapshotStamp != nowStamp)
      throw new IllegalStateException(
        s"index at ${index.path} changed on disk since this Searcher loaded " +
        s"its image (manifest build id $snapshotStamp -> $nowStamp); " +
        "open a fresh Searcher/GraftIndex handle after updates")
  }

  private val tombstones = {
    val dir = s"${index.path}/tombstones"
    ResidentSet.Entry[Array[Long]]("tombstones", dir, () => Fs.settledFingerprint(dir), () => 0L,
      () => index.tombstonesOpt.fold(Array.emptyLongArray)(_.as[Long].collect()))
  }

  /** The distinct deferred-delete tombstone ids, collected once per
    * stamp of `tombstones/` (they can grow after an image was built) and
    * charged to no budget. */
  private[search] def tombstoneIds: Array[Long] =
    tombstones.resolve(_ => true, tombstones.current()).get

  /** The S4 filter sets of the cached placements: the subset ids and the
    * tombstone ids. */
  private def filterSets(subsetIds: Option[Array[Long]])
      : (Option[java.util.HashSet[java.lang.Long]], java.util.HashSet[java.lang.Long]) = {
    def set(ids: Array[Long]) = {
      val s = new java.util.HashSet[java.lang.Long](ids.length * 2)
      ids.foreach(s.add(_))
      s
    }
    (subsetIds.map(set), set(tombstoneIds))
  }

  /** True when [[search]] answers an `nQueries` batch from the driver
    * image — the dispatch itself, shared with callers that decide what
    * to hand the search. */
  private[search] def servesLocally(params: SearchParams, nQueries: Int): Boolean =
    index.manifest("num_partitions").toInt <= params.sparseCentroidThreshold &&
      nQueries <= Searcher.LocalMaxBatch &&
      Searcher.residentBytes(index, params.localIndexBudgetBytes) > 0

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

  /** Codec broadcast shared across executor-placement calls (the codec
    * is immutable per index) — a repeated warm batch must not pay a
    * fresh broadcast each call. */
  private lazy val codecBcShared: Broadcast[graft.index.Codec] =
    spark.sparkContext.broadcast(index.codec)

  @volatile private var shardedImageCache: (Int, RDD[Searcher.LocalIndexImage]) = _

  /** Doc-sliced index image, one [[Searcher.LocalIndexImage]] per
    * partition (slice = doc_id % slices — dense build ids balance), each
    * holding only its docs' IVF postings, code arrays, and packed
    * residuals. Built with ONE co-partitioned shuffle of the three index
    * tables, then cached; the corpus never reaches the driver. */
  private def shardedImage(slices: Int): RDD[Searcher.LocalIndexImage] = synchronized {
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

  /** Slices read from parquet for ONE call, cached nowhere: an index no
    * node can hold, nor its ids. Phase A's slices are the `doc_codes`
    * input partitions — restricted first to the subset (a semi-join
    * planned by its count) and past the tombstones (an anti-join), so
    * neither is collected — each inverted into a slice-local IVF, which
    * equals the build's IVF gather over those docs (IVF postings are the
    * distinct (code, doc) pairs of the tokens: fsck's `ivf_pairs`).
    * Phase B's slices hold only the global survivors' tokens, filtered
    * by the broadcast survivor set before they leave the scan and
    * grouped by doc: the one shuffle moves survivor tokens only. */
  private def parquetSlices(counted: Option[(DataFrame, Long)]): Searcher.Slices = {
    val inSubset = counted.fold(docCodes) { case (ids, n) =>
      docCodes.join(Plan.broadcastIfBounded(ids, n), Seq("doc_id"), "left_semi")
    }
    val live = index.tombstonesOpt.fold(inSubset)(inSubset.join(_, Seq("doc_id"), "left_anti"))
    new Searcher.Slices(
      live.select("doc_id", "codes").as[(Long, Array[Int])].rdd.mapPartitions { rows =>
        val ivf = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuilder[Long]]
        val codes = Map.newBuilder[Long, Array[Int]]
        rows.foreach { case (d, cs) =>
          codes += d -> cs
          cs.distinct.foreach(c => ivf.getOrElseUpdate(c, Array.newBuilder[Long]) += d)
        }
        Iterator.single(Searcher.LocalIndexImage(
          ivf.iterator.map { case (c, ds) => c -> ds.result() }.toMap, codes.result(), Map.empty))
      },
      survivorsBc => {
        val survives = udf((d: Long) => survivorsBc.value.contains(d))
        index.tokens.filter(survives(col("doc_id")))
          .select("doc_id", "tok", "code", "residual")
          .as[(Long, Int, Int, Array[Byte])].rdd
          .map { case (d, t, c, r) => (d, (t, c, r)) }
          .groupByKey()
          .mapPartitions { docs =>
            Iterator.single(Searcher.LocalIndexImage(Map.empty, Map.empty, docs.map {
              case (d, rows) => d -> rows.toArray.sortBy(_._1).map(r => (r._2, r._3))
            }.toMap))
          }
      })
  }

  /** `f` under the Spark job description `name`, the caller's own
    * restored afterwards: names a funnel phase's jobs for a traced run,
    * and runs no job itself. */
  private def phase[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try f finally sc.setLocalProperty("spark.job.description", prev)
  }

  /** The dense funnel in two phases over one placement's slices, the
    * shape of distributed top-k with per-partition pruning (per-slice
    * top-n, a global merge, a rerank on the owning slice). `image` is
    * either the driver-held image — ONE slice, both phases in-process
    * with no Spark job — or executor slices, one job per phase. Phase A
    * runs S3–S6 per slice and keeps each slice's top-n survivors with
    * their approx scores; merging them is the GLOBAL S6 cut, equal to
    * the unsliced cut because every global survivor is inside its
    * slice's local top-n under the same (approx desc, doc asc) order.
    * Phase B decodes each global survivor ONCE (on the slice holding it)
    * and exact-scores it for every query that kept it; the driver
    * assembles S8. One kernel set, float order and tie-break for every
    * placement, so their results are bit-identical — asserted by
    * IndexSearchSpec's equivalence legs and every search oracle.
    * `filters` are the S4 sets phase A applies per candidate (the
    * parquet placement applies its filters while reading instead).
    * Returns (query_id, doc_id, score, rank) rows. */
  private def searchResident(
      image: Either[Searcher.LocalIndexImage, Searcher.Slices],
      queryMap: Map[Long, Array[Array[Float]]],
      params: SearchParams,
      nProbe: Int,
      eligible: Option[Array[Boolean]],
      filters: (Option[java.util.HashSet[java.lang.Long]], java.util.HashSet[java.lang.Long])
  ): Seq[(Long, Long, Double, Int)] = {
    val cdc = index.codec
    val qids: IndexedSeq[Long] = queryMap.keys.toIndexedSeq.sorted
    val (subsetSet, tombstones) = filters
    val nDec = Searcher.nDecompress(params)
    val rerank32 = params.rerankFloat32
    // S1 + S2 for one query: its centroid-score matrix and probe set,
    // parallel over the tokens of a single query
    def probe(qid: Long): (Array[Array[Float]], Seq[Int]) = {
      val m = Searcher.centroidScores(queryMap(qid), cdc.centroids, cdc.numCentroids,
        cdc.dim, parallel = qids.size == 1)
      (m, Searcher.probeCentroids(m, nProbe, params.centroidScoreThreshold, eligible))
    }
    // every broadcast of this call, destroyed once its results are on
    // the driver — a warm serving loop must not accumulate blocks
    val bcs = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]
    def bc[T: scala.reflect.ClassTag](v: T): Broadcast[T] = {
      val b = spark.sparkContext.broadcast(v)
      bcs += b
      b
    }
    try {
      // Phase A — S1–S6, NO decode: per query, the global cut's
      // survivors with their approx scores
      val survivors: Iterable[(Long, Array[(Long, Float)])] = image match {
        case Left(im) =>
          // in-process, S1 per query in the loop, parallel over queries
          Searcher.parMap(qids) { qid =>
            val (m, probed) = probe(qid)
            qid -> Searcher.funnelSurvivorsScored(im, m, probed, subsetSet, tombstones, nDec)
          }
        case Right(slices) =>
          // S1 + S2 once per query on the driver (bounded by
          // denseScoreBudgetBytes through the caller's chunks), broadcast
          // with the filter sets; the per-slice cuts merge up a tree
          val aBc = bc((Searcher.parMap(qids)(q => q -> probe(q)), filters))
          phase("search phase A") {
            slices.phaseA.map { slice =>
              val (probes, (sub, tomb)) = aBc.value
              probes.iterator.map { case (qid, (m, probed)) =>
                qid -> Searcher.funnelSurvivorsScored(slice, m, probed, sub, tomb, nDec)
              }.toMap
            }.treeAggregate(Map.empty[Long, Array[(Long, Float)]])(
              Searcher.mergeCuts(nDec), Searcher.mergeCuts(nDec))
          }
      }
      // each surviving doc with the queries that kept it
      val docToQids: IndexedSeq[(Long, Array[Long])] = survivors.iterator
        .flatMap { case (qid, kept) => kept.iterator.map { case (d, _) => (d, qid) } }.toSeq
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
          val docsBc = bc(docToQids.toMap)
          val queriesBc = bc(queryMap)
          phase("search phase B") {
            slices.phaseB(docsBc).flatMap { slice =>
              val docs = docsBc.value
              // the survivors this slice holds, walking the smaller key set
              val held =
                if (slice.toks.size < docs.size) slice.toks.keysIterator.filter(docs.contains)
                else docs.keysIterator.filter(slice.toks.contains)
              held.flatMap(d => Searcher.scoreDocForQueries(
                slice, codecBc.value, d, docs(d), queriesBc.value, rerank32))
            }.collect().toSeq
          }
      }
      // S8 — final top-k per query, assembled driver-side (≤ nDec rows
      // per query): score desc, doc asc.
      scored.groupBy(_._1).toIndexedSeq.flatMap { case (qid, ss) =>
        ss.sortWith { (a, b) =>
          val c = java.lang.Double.compare(b._3, a._3)
          c < 0 || (c == 0 && a._2 < b._2)
        }.take(params.topK).zipWithIndex.map { case ((_, d, s), i) => (qid, d, s, i + 1) }
      }
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
    val queryMap = Searcher.readQueries(queries)
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
    val queriesBc = spark.sparkContext.broadcast(Searcher.readQueries(queries))
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

  /** Image of an index, or of one slice of it, for the two-phase
    * funnel: IVF lists, per-doc codes (tok order), packed residuals
    * (tok order). A phase reads only its own part: phase A the IVF and
    * codes, phase B the residuals. */
  private[search] final case class LocalIndexImage(
      ivf: Map[Int, Array[Long]],
      docCodes: Map[Long, Array[Int]],
      toks: Map[Long, Array[(Int, Array[Byte])]])

  /** Executor slices of an index for one search call: phase A's, read
    * on first use (inside the phase's job description), and phase B's
    * for the broadcast global survivors (doc -> the queries that kept
    * it). */
  private[search] final class Slices(
      readA: => RDD[LocalIndexImage],
      val phaseB: Broadcast[Map[Long, Array[Long]]] => RDD[LocalIndexImage]) {
    lazy val phaseA: RDD[LocalIndexImage] = readA
  }

  /** Ceiling on the queries of one funnel call: phase A/B collect
    * queries × n_full/4 intermediate rows to the driver (~100 MB at
    * this bound with default params). The driver image serves batches
    * up to it; the executor placements run larger batches in chunks of
    * at most this many queries. */
  private[search] val LocalMaxBatch = 4096

  /** Decoder of a collected query frame, derived once: `as[...]` derives
    * its encoder by reflection on every call. */
  private val QueryEncoder = Encoders.product[(Long, Array[Array[Float]])]

  /** The one query reader of every placement: `queries(query_id,
    * embeddings)` as a driver map, query_id long or int.
    *
    * A frame whose analyzed plan is a `LocalRelation` — a `Seq.toDF` or
    * `createDataFrame` frame, as a request handler builds one — or a
    * projection over one that only selects and renames columns, is read
    * from the relation's rows ([[localQueries]]): the plan was analyzed
    * when the Dataset was built, so the read runs no Catalyst pass, no
    * encoder derivation and no SQL execution. Any other frame (parquet,
    * filtered, computed) is collected, one SQL execution, through
    * [[QueryEncoder]]. Both read the same map.
    *
    * The ids must be distinct: a map keeps one row per id, so a
    * duplicated id would silently answer fewer queries than were sent. */
  private[graft] def readQueries(queries: DataFrame): Map[Long, Array[Array[Float]]] = {
    val rows = localQueries(queries).getOrElse(
      queries.select("query_id", "embeddings").as(QueryEncoder).collect().toIndexedSeq)
    requireDistinct(rows.iterator.map(_._1))
    rows.toMap
  }

  /** The sorted query ids of a request that needs no embeddings (a
    * keyword one), when there are at most `cap`: a local frame's read
    * from its rows as [[readQueries]] reads them, any other frame's from
    * a collect of at most `cap + 1` ids, so a larger batch never reaches
    * the driver; None above `cap`. The ids must be distinct. */
  private[graft] def readQueryIds(queries: DataFrame, cap: Int): Option[Array[Long]] = {
    val ids = localQueries(queries).map(_.map(_._1).toArray).getOrElse(
      queries.select(col("query_id").cast("long")).limit(cap + 1).as(Encoders.scalaLong).collect())
    requireDistinct(ids.iterator)
    Some(ids.sorted).filter(_.length <= cap)
  }

  private def requireDistinct(ids: Iterator[Long]): Unit = {
    val seen = new scala.collection.mutable.LongMap[Unit]()
    ids.foreach { q =>
      require(seen.put(q, ()).isEmpty,
        s"query_id $q appears more than once in the query frame; query ids must be distinct")
    }
  }

  /** The `(query_id, embeddings)` rows of a frame that is a local
    * relation under zero or more projections that only select and
    * rename its columns, with `query_id` long or int and `embeddings`
    * `array<array<float>>` of non-null floats; None for any other frame,
    * which [[readQueries]] collects instead. */
  private[graft] def localQueries(
      queries: DataFrame): Option[IndexedSeq[(Long, Array[Array[Float]])]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
    // the relation's rows and each output column's ordinal in them
    def columns(plan: LogicalPlan): Option[(Seq[org.apache.spark.sql.catalyst.InternalRow],
        Seq[(Attribute, Int)])] = plan match {
      case l: LocalRelation => Some((l.data, l.output.zipWithIndex))
      case Project(list, child) => columns(child).flatMap { case (data, cols) =>
        val ordinal = cols.map { case (a, i) => a.exprId -> i }.toMap
        val out = list.map {
          case a: AttributeReference => ordinal.get(a.exprId).map(a -> _)
          case al @ Alias(a: AttributeReference, _) => ordinal.get(a.exprId).map(al.toAttribute -> _)
          case _ => None
        }
        if (out.forall(_.isDefined)) Some((data, out.flatten)) else None
      }
      case _ => None
    }
    val resolver = queries.sparkSession.sessionState.conf.resolver
    // the one column named `name`, when its type passes `typeOk`
    def column(cols: Seq[(Attribute, Int)], name: String)(typeOk: DataType => Boolean) =
      cols.filter(c => resolver(c._1.name, name)) match {
        case Seq(c) if typeOk(c._1.dataType) => Some(c)
        case _ => None
      }
    for {
      (data, cols) <- columns(queries.queryExecution.analyzed)
      (qAttr, qi) <- column(cols, "query_id")(t => t == LongType || t == IntegerType)
      (_, ei) <- column(cols, "embeddings") {
        case ArrayType(ArrayType(FloatType, false), _) => true
        case _ => false
      }
    } yield {
      val isLong = qAttr.dataType == LongType
      data.iterator.map { r =>
        require(!r.isNullAt(qi), "null query_id in the query frame")
        val q = if (isLong) r.getLong(qi) else r.getInt(qi).toLong
        val emb =
          if (r.isNullAt(ei)) null
          else {
            val toks = r.getArray(ei)
            Array.tabulate(toks.numElements())(t =>
              if (toks.isNullAt(t)) null else toks.getArray(t).toFloatArray())
          }
        (q, emb)
      }.toIndexedSeq
    }
  }

  /** Schema of every `(query_id, doc_id, score, rank)` search result
    * frame: non-null long, long, double and int columns. */
  val ResultSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  /** The one result builder: driver rows as a local relation under a
    * fixed `schema` (`SparkSession.createDataFrame` over `Row`s, whose
    * analysis is one `LocalRelation` node: no encoder derivation, no
    * SQL execution, and a collect of it runs no Spark job). Each row's
    * values must have the schema's types, in its column order. */
  private[graft] def localFrame(spark: SparkSession, schema: StructType,
      rows: Iterator[Row]): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }

  /** `(query_id, doc_id, score, rank)` rows as a [[ResultSchema]] frame. */
  private[graft] def resultFrame(spark: SparkSession,
      hits: Iterable[(Long, Long, Double, Int)]): DataFrame =
    localFrame(spark, ResultSchema, hits.iterator.map { case (q, d, s, r) => Row(q, d, s, r) })

  /** The rows of any `(query_id, doc_id, score, rank)` result frame,
    * collected once and read by position: no per-call encoder. */
  private[search] def rowsOf(result: DataFrame): Seq[(Long, Long, Double, Int)] =
    result.select("query_id", "doc_id", "score", "rank").collect().toSeq.map { r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).doubleValue, r.getAs[Number](3).intValue)
    }

  /** Driver-residency multiplier for the fast-path dispatch:
    * localIndexBudgetBytes bounds a packed image estimated at N bytes
    * (`packedBytesEstimate`) by N × this factor. It was sized when the
    * image also had a broadcast block (~3N). Measured with Spark's
    * `SizeEstimator` on the driver image as `localImage` collects it:
    * the serve-shaped index (400 docs × 32 tokens × dim 128, 128
    * centroids, nbits 4; N = 1.80 MB) held 0.88N and peaked at 2.20N
    * (the encoded and decoded token rows of the collect next to the
    * IVF and codes maps); the sf0.01 index (100 docs, 500 tokens; N =
    * 68 kB) held 1.15N and peaked at 2.09N. 3 overstates that peak by
    * ~40%. The factor is kept so that admission — which images serve
    * locally, and what the FTS and metadata images are charged — does
    * not change. */
  private[search] val LocalResidencyFactor = 3L

  /** Estimated driver residency of `index`'s local image (packed
    * estimate × [[LocalResidencyFactor]]) when `budgetBytes` admits it,
    * else 0: the semantic image's charge in a
    * [[graft.util.ResidentSet]]. */
  def residentBytes(index: MultiVectorIndex, budgetBytes: Long): Long = {
    val r = index.packedBytesEstimate * LocalResidencyFactor
    if (budgetBytes > 0 && r <= budgetBytes) r else 0L
  }

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
    * Float approx scores, doc_id-ascending ties at the cut. Returns the
    * post-cut survivors WITH their approx scores so the funnel can
    * finish the GLOBAL S6 cut by merging slice results under the same
    * (score desc, doc asc) ordering ([[mergeCuts]]) — the cut over a
    * union of per-slice top-n sets equals the unsliced cut because each
    * slice's global survivors are within its local top-n. */
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

  /** S6 funnel cut of (doc, approx) rows: approx desc, doc asc, first
    * `n`. */
  private[search] def approxCut(approx: Array[(Long, Float)], n: Int): Array[(Long, Float)] =
    approx.sortWith { (a, b) =>
      val c = java.lang.Float.compare(b._2, a._2)
      c < 0 || (c == 0 && a._1 < b._1)
    }.take(n)

  /** Merge of two sets of per-query S6 cuts over disjoint docs. The cut
    * orders by a total order (approx desc, doc asc), so cutting a union
    * of cuts equals cutting the union of their inputs: the merge is
    * associative and commutative, and any merge tree of per-slice cuts
    * yields the global cut. */
  private[search] def mergeCuts(n: Int)(
      a: Map[Long, Array[(Long, Float)]],
      b: Map[Long, Array[(Long, Float)]]): Map[Long, Array[(Long, Float)]] =
    b.foldLeft(a) { case (acc, (q, cut)) =>
      acc.updated(q, acc.get(q).fold(cut)(mine => approxCut(mine ++ cut, n)))
    }

  /** S7 for ONE surviving doc: decode once, exact-score against every
    * query that kept it: the f32 serving kernel, or the fixed-order f64
    * one the oracles pin for bit-parity. A doc without a tokens row is
    * dropped, as the sparse funnel's inner join drops it. */
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
    * (row-major centroid matrix), the one S1 of every dense-funnel
    * placement, so all produce identical float accumulation order.
    * `parallel` spreads the
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
