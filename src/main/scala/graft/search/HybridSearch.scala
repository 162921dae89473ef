package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fts.{FtsIndex, Hybrid}
import graft.index.MultiVectorIndex
import graft.meta.{MetadataOps, Where}
import graft.util.{Plan, ResidentSet}

/** F9: the full hybrid-search driver API — the reference's
  * `POST /indices/{name}/search` orchestration
  * (next-plaid-api/src/handlers/search.rs:124-413): mode ∈
  * {semantic, keyword, hybrid}, α ∈ [0,1] (default 0.75), fusion ∈
  * {rrf, relative_score} (default relative_score), optional
  * filter_condition resolved to a doc-id subset FIRST (so both retrieval
  * legs prune), hybrid over-fetch fetch_k = 3·top_k.
  *
  * Keyword and hybrid requests of at most [[Searcher.LocalMaxBatch]]
  * queries whose FTS artifact's resident image is admitted
  * ([[graft.util.ResidentSet]], against
  * `searchParams.localIndexBudgetBytes`) are answered on the driver, as
  * the reference fuses in memory, with driver rows between the legs: the
  * queries are read once ([[Searcher.readQueries]]; a keyword request
  * reads only their ids, [[Searcher.readQueryIds]]), the keyword leg's
  * rows come from the BM25 image and the semantic leg's from the
  * Searcher's resident funnel ([[Searcher.residentRows]]; each leg at
  * most queries × fetch_k rows), [[Hybrid.rrfLocal]] /
  * [[Hybrid.relativeScoreLocal]] fuse and cut them per query, and one
  * frame is built from the fused rows at the end — with a resident
  * semantic image too, no Spark job and no SQL execution runs before the
  * caller collects. Larger batches, a refused
  * image, and filters ([[graft.fts.FtsIndex.boundedIds]]) or tombstone
  * sets whose ids do not fit the budget keep the distributed plan.
  */
final case class HybridParams(
    mode: String = "hybrid",
    alpha: Double = Hybrid.DefaultAlpha,
    fusion: String = "relative_score",
    topK: Int = 10,
    searchParams: SearchParams = SearchParams()
)

object HybridSearch {

  /** Batched hybrid search. `queries(query_id, embeddings)` (ignored in
    * keyword mode), one `textQuery` fused against every vector query
    * (the request shape of the reference API), optional metadata filter
    * `(metaTable, cond, params)` with `_subset_` ≡ doc_id. Returns
    * `(query_id, doc_id, score, rank)`. */
  def search(
      spark: SparkSession,
      index: MultiVectorIndex,
      fts: FtsIndex,
      queries: DataFrame,
      textQuery: String,
      params: HybridParams = HybridParams(),
      filter: Option[(DataFrame, String, Seq[Where.Param])] = None,
      /** Caller-cached Searcher (GraftIndex reuses one across calls so
        * the serving fast path's image stays warm); a fresh one is
        * built when absent. */
      searcherOpt: Option[Searcher] = None,
      /** The request's admission pass over `fts`'s resident set
        * (GraftIndex hands the one its request made); a fresh pass when
        * absent. */
      pass: Option[ResidentSet.Pass] = None
  ): DataFrame = {
    require(params.alpha >= 0.0 && params.alpha <= 1.0, s"alpha out of range: ${params.alpha}")
    require(Set("semantic", "keyword", "hybrid")(params.mode), s"bad mode: ${params.mode}")
    require(Set("rrf", "relative_score")(params.fusion), s"bad fusion: ${params.fusion}")

    // filter_condition first (handlers/search.rs:181-189)
    val subset: Option[DataFrame] = filter.map { case (meta, cond, ps) =>
      MetadataOps.whereCondition(meta, "doc_id", cond, ps).select("doc_id")
    }
    val fetchK = if (params.mode == "hybrid") Hybrid.fetchK(params.topK) else params.topK
    val budget = params.searchParams.localIndexBudgetBytes

    lazy val searcher = searcherOpt.getOrElse(new Searcher(index))
    val semParams = params.searchParams.copy(topK = fetchK)
    // the request's queries, read once, on first use, by every leg
    // that needs their embeddings
    lazy val queryMap = Searcher.readQueries(queries)
    def semList(sub: Option[DataFrame]): DataFrame = searcher.searchMap(queryMap, semParams, sub)

    // serving-shaped keyword/hybrid batch over a resident FTS image: the
    // queries are read only once the image serves, and a filter
    // collected only when its count fits the budget; the tombstone ids
    // the Searcher holds serve when their count fits it too
    val local: Option[Local] =
      for {
        img <- if (params.mode == "semantic") None
          else pass.fold(fts.residentImage(budget))(fts.residentImage)
        qids <-
          if (params.mode == "keyword") Searcher.readQueryIds(queries, Searcher.LocalMaxBatch)
          else Some(queryMap).filter(_.size <= Searcher.LocalMaxBatch).map(_.keys.toArray.sorted)
        subsetIds <- subset.fold(Option(Option.empty[Array[Long]]))(
          FtsIndex.boundedIds(_, budget).map(Some(_)))
        tombIds <- Some(searcher.tombstoneIds)
          .filter(_.length * Plan.SubsetBytesPerId <= budget)
      } yield Local(img, qids, subsetIds, tombIds)

    local match {
      case Some(l) =>
        searchLocal(spark, searcher, l, queryMap, textQuery, params, semParams, subset, semList)
      case None if params.mode == "semantic" => semList(subset)
      case None =>
        // the FTS leg must not resurface tombstoned docs (the vector leg
        // excludes them inside Searcher); fold the tombstones into the
        // FTS subset as an anti-join
        val ftsSubset: Option[DataFrame] = (subset, index.tombstonesOpt) match {
          case (s, None) => s
          case (Some(s), Some(tomb)) => Some(s.join(tomb, Seq("doc_id"), "left_anti"))
          case (None, Some(tomb)) =>
            Some(fts.doclens.select("doc_id").join(tomb, Seq("doc_id"), "left_anti"))
        }
        // the single keyword list pairs with every vector query; fetchK
        // == params.topK outside hybrid mode, so in keyword mode this IS
        // the result. Budget 0: the distributed BM25 plan, as before the
        // driver path existed
        val kwList = queries.select("query_id").distinct().crossJoin(broadcast(
          fts.search(textQuery, fetchK, ftsSubset, localBudgetBytes = 0L)
            .select("doc_id", "score", "rank")))
        val out =
          if (params.mode == "keyword") kwList
          else if (params.fusion == "rrf")
            Hybrid.rrfGrouped(
              semList(subset).select("query_id", "doc_id", "rank"),
              kwList.select("query_id", "doc_id", "rank"),
              params.alpha, params.topK)
          else
            Hybrid.relativeScoreGrouped(
              semList(subset).select("query_id", "doc_id", "score"),
              kwList.select("query_id", "doc_id", "score"),
              params.alpha, params.topK)
        out.select("query_id", "doc_id", "score", "rank")
    }
  }

  /** A keyword/hybrid request the driver answers: the resident image,
    * the batch's sorted query ids, and the collected filter and
    * tombstone ids. */
  private final case class Local(img: FtsIndex.Bm25Image, qids: Array[Long],
      subsetIds: Option[Array[Long]], tombIds: Array[Long])

  /** The driver-side keyword/hybrid request: the keyword leg from the
    * resident BM25 image (subset and tombstones applied as driver
    * sets), the semantic leg's rows (at most queries × fetch_k) straight
    * from the Searcher's resident funnel, fusion and per-query top-k on
    * the driver, and one result frame built from the fused rows. */
  private def searchLocal(
      spark: SparkSession, searcher: Searcher, l: Local,
      queryMap: => Map[Long, Array[Array[Float]]], textQuery: String,
      params: HybridParams, semParams: SearchParams, subset: Option[DataFrame],
      semList: Option[DataFrame] => DataFrame): DataFrame = {
    val hits = l.img.topK(textQuery, semParams.topK, l.subsetIds, l.tombIds)
    val kw: Seq[Hybrid.Hit] =
      for (q <- l.qids.toSeq; (d, sc, r) <- hits.toSeq) yield (q, d, sc, r)
    val rows =
      if (params.mode == "keyword") kw
      else {
        // a Searcher answering from its resident image takes the filter
        // ids already collected (the filter is evaluated once, not once
        // per leg) and hands back rows; any other plan gets the filter
        // itself, whose subset joins are size-planned
        val sem =
          if (searcher.servesLocally(semParams, l.qids.length))
            searcher.residentRows(queryMap, semParams, l.subsetIds)
          else Searcher.rowsOf(semList(subset))
        if (params.fusion == "rrf") Hybrid.rrfLocal(sem, kw, params.alpha, params.topK)
        else Hybrid.relativeScoreLocal(sem, kw, params.alpha, params.topK)
      }
    Searcher.resultFrame(spark, rows)
  }
}
