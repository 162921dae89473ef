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
  * the reference fuses in memory: both legs are collected (each at most
  * queries × fetch_k rows), fused by [[Hybrid.rrfLocal]] /
  * [[Hybrid.relativeScoreLocal]] and cut per query — with a resident
  * semantic image too, no Spark job runs. Larger batches, a refused
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
    def semList(sub: Option[DataFrame]): DataFrame = searcher
      .search(queries, params.searchParams.copy(topK = fetchK), sub)
      .select("query_id", "doc_id", "score", "rank")

    // serving-shaped keyword/hybrid batch over a resident FTS image: the
    // query ids are collected only once the image serves, and a filter
    // only when its count fits the budget; the tombstone ids the
    // Searcher holds serve when their count fits it too
    val local: Option[Local] =
      for {
        img <- if (params.mode == "semantic") None
          else pass.fold(fts.residentImage(budget))(fts.residentImage)
        qids <- {
          import spark.implicits._
          val ids = queries.select(col("query_id").cast("long"))
            .limit(Searcher.LocalMaxBatch + 1).as[Long].collect()
          if (ids.length > Searcher.LocalMaxBatch) None else Some(ids.distinct.sorted)
        }
        subsetIds <- subset.fold(Option(Option.empty[Array[Long]]))(
          FtsIndex.boundedIds(_, budget).map(Some(_)))
        tombIds <- Some(searcher.tombstoneIds)
          .filter(_.length * Plan.SubsetBytesPerId <= budget)
      } yield Local(img, qids, subsetIds, tombIds)

    local match {
      case Some(l) =>
        searchLocal(spark, searcher, l, textQuery, params, fetchK, subset, semList)
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
    * the batch's query ids, and the collected filter and tombstone ids. */
  private final case class Local(img: FtsIndex.Bm25Image, qids: Array[Long],
      subsetIds: Option[Array[Long]], tombIds: Array[Long])

  /** The driver-side keyword/hybrid request: the keyword leg from the
    * resident BM25 image (subset and tombstones applied as driver
    * sets), the semantic leg collected from the Searcher (at most
    * queries × fetch_k rows), fusion and per-query top-k on the driver.
    * The result is a local relation. */
  private def searchLocal(
      spark: SparkSession, searcher: Searcher, l: Local, textQuery: String,
      params: HybridParams, fetchK: Int, subset: Option[DataFrame],
      semList: Option[DataFrame] => DataFrame): DataFrame = {
    import spark.implicits._
    val hits = l.img.topK(textQuery, fetchK, l.subsetIds, l.tombIds)
    val kw: Seq[Hybrid.Hit] =
      for (q <- l.qids.toSeq; (d, sc, r) <- hits.toSeq) yield (q, d, sc, r)
    val rows =
      if (params.mode == "keyword") kw
      else {
        // a Searcher answering from its resident image collects the
        // filter anyway, so it gets the ids already collected (the
        // filter is evaluated once, not once per leg); any other plan
        // gets the filter itself, whose subset joins are size-planned
        val semSubset =
          if (searcher.servesLocally(params.searchParams, l.qids.length))
            l.subsetIds.map(_.toSeq.toDF("doc_id"))
          else subset
        val sem = semList(semSubset)
          .select(col("query_id"), col("doc_id"), col("score"), col("rank").cast("int"))
          .as[(Long, Long, Double, Int)].collect().toSeq
        if (params.fusion == "rrf") Hybrid.rrfLocal(sem, kw, params.alpha, params.topK)
        else Hybrid.relativeScoreLocal(sem, kw, params.alpha, params.topK)
      }
    rows.toDF("query_id", "doc_id", "score", "rank")
  }
}
