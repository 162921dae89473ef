package graft.fts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid (semantic + keyword) fusion as DataFrame column math —
  * distributed twins of the reference's list-fusion kernels
  * (next-plaid/src/text_search.rs:1000-1075) and the API orchestration
  * rules (handlers/search.rs: alpha default 0.75, fetch_k = top_k*3,
  * default fusion = relative_score) — plus driver-side twins of the
  * per-query variants for serving-shaped batches, whose lists are at
  * most queries × fetch_k rows.
  */
object Hybrid {

  val RrfK = 60.0
  val DefaultAlpha = 0.75

  /** F7 RRF: inputs are ranked lists `(doc_id, rank)` (1-based).
    * score = alpha/(60+rank_sem) + (1-alpha)/(60+rank_kw); docs missing
    * from one list contribute 0 from that side. */
  def rrf(sem: DataFrame, kw: DataFrame, alpha: Double, topK: Int): DataFrame = {
    val s = sem.select(col("doc_id"), (lit(alpha) / (lit(RrfK) + col("rank"))).as("s_sem"))
    val k = kw.select(col("doc_id"), (lit(1.0 - alpha) / (lit(RrfK) + col("rank"))).as("s_kw"))
    val fused = s.join(k, Seq("doc_id"), "full_outer")
      .withColumn("score", coalesce(col("s_sem"), lit(0.0)) + coalesce(col("s_kw"), lit(0.0)))
      .select("doc_id", "score")
    topByScore(fused, topK)
  }

  /** F8 relative-score fusion: min-max normalize each list to [0,1]
    * (constant list -> all 1.0), weighted sum. Inputs `(doc_id, score)`. */
  def relativeScore(sem: DataFrame, kw: DataFrame, alpha: Double, topK: Int): DataFrame = {
    val fused = normalize(sem, "s_sem").join(normalize(kw, "s_kw"), Seq("doc_id"), "full_outer")
      .withColumn("score",
        lit(alpha) * coalesce(col("s_sem"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("s_kw"), lit(0.0)))
      .select("doc_id", "score")
    topByScore(fused, topK)
  }

  private def normalize(list: DataFrame, outCol: String): DataFrame = {
    val stats = list.agg(min("score").as("_min"), max("score").as("_max"))
    list.crossJoin(broadcast(stats))
      .withColumn(outCol,
        when(col("_max") === col("_min"), lit(1.0))
          .otherwise((col("score") - col("_min")) / (col("_max") - col("_min"))))
      .select(col("doc_id"), col(outCol))
  }

  private def topByScore(fused: DataFrame, topK: Int): DataFrame =
    graft.operators.Rankers.topKGlobal(
      fused, Seq(col("score").desc, col("doc_id").asc), topK)

  /** F9 over-fetch rule for hybrid mode (handlers/search.rs:289-293). */
  def fetchK(topK: Int): Int = topK * 3

  /** C5 over-fetch rule for code search (colgrep/src/index/mod.rs:
    * 4111-4114): fetch_k = min(max(20·top_k, 200), N). */
  def fetchKCode(topK: Int, numDocs: Long): Int =
    math.min(math.max(20L * topK, 200L), numDocs).toInt

  // ---- grouped (per-query) variants for batched hybrid search ----

  /** F7 RRF per query: inputs `(query_id, doc_id, rank)`. */
  def rrfGrouped(sem: DataFrame, kw: DataFrame, alpha: Double, topK: Int): DataFrame = {
    val s = sem.select(col("query_id"), col("doc_id"),
      (lit(alpha) / (lit(RrfK) + col("rank"))).as("s_sem"))
    val k = kw.select(col("query_id"), col("doc_id"),
      (lit(1.0 - alpha) / (lit(RrfK) + col("rank"))).as("s_kw"))
    val fused = s.join(k, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("score", coalesce(col("s_sem"), lit(0.0)) + coalesce(col("s_kw"), lit(0.0)))
      .select("query_id", "doc_id", "score")
    graft.operators.Rankers.topKPerGroup(fused, Seq(col("query_id")),
      Seq(col("score").desc, col("doc_id").asc), topK)
  }

  /** F8 relative-score fusion per query: inputs `(query_id, doc_id,
    * score)`, min-max normalized within each query's list. */
  def relativeScoreGrouped(sem: DataFrame, kw: DataFrame, alpha: Double, topK: Int): DataFrame = {
    def norm(list: DataFrame, out: String): DataFrame = {
      val stats = list.groupBy("query_id")
        .agg(min("score").as("_min"), max("score").as("_max"))
      list.join(stats, "query_id")
        .withColumn(out,
          when(col("_max") === col("_min"), lit(1.0))
            .otherwise((col("score") - col("_min")) / (col("_max") - col("_min"))))
        .select(col("query_id"), col("doc_id"), col(out))
    }
    val fused = norm(sem, "s_sem").join(norm(kw, "s_kw"), Seq("query_id", "doc_id"), "full_outer")
      .withColumn("score",
        lit(alpha) * coalesce(col("s_sem"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("s_kw"), lit(0.0)))
      .select("query_id", "doc_id", "score")
    graft.operators.Rankers.topKPerGroup(fused, Seq(col("query_id")),
      Seq(col("score").desc, col("doc_id").asc), topK)
  }

  // ---- driver-side per-query fusion (the reference's in-memory list
  // fusion): same arithmetic in the same operation order and the same
  // (score desc, doc_id asc) per-query cut as the grouped variants, so
  // results are identical ----

  /** A per-query ranked-list row `(query_id, doc_id, score, rank)`. */
  type Hit = (Long, Long, Double, Int)

  /** [[rrfGrouped]] on driver-held lists. */
  def rrfLocal(sem: Seq[Hit], kw: Seq[Hit], alpha: Double, topK: Int): Seq[Hit] =
    fuseLocal(
      sem.map(h => (h._1, h._2, alpha / (RrfK + h._4))),
      kw.map(h => (h._1, h._2, (1.0 - alpha) / (RrfK + h._4))),
      topK)(_ + _)

  /** [[relativeScoreGrouped]] on driver-held lists. */
  def relativeScoreLocal(sem: Seq[Hit], kw: Seq[Hit], alpha: Double, topK: Int): Seq[Hit] =
    fuseLocal(normalizeLocal(sem), normalizeLocal(kw), topK)(
      (s, k) => alpha * s + (1.0 - alpha) * k)

  /** Per-query min-max normalization (constant list -> all 1.0). */
  private def normalizeLocal(list: Seq[Hit]): Seq[(Long, Long, Double)] = {
    val range = list.groupBy(_._1).view
      .mapValues(hs => (hs.map(_._3).min, hs.map(_._3).max)).toMap
    list.map { case (q, d, sc, _) =>
      val (lo, hi) = range(q)
      (q, d, if (hi == lo) 1.0 else (sc - lo) / (hi - lo))
    }
  }

  /** Full outer join on (query_id, doc_id) — a side a doc is missing
    * from contributes 0.0, like the grouped variants' coalesce — then
    * each query's top `topK`. */
  private def fuseLocal(sem: Seq[(Long, Long, Double)], kw: Seq[(Long, Long, Double)],
      topK: Int)(combine: (Double, Double) => Double): Seq[Hit] = {
    val parts = scala.collection.mutable.HashMap.empty[(Long, Long), Array[Double]]
    sem.foreach { case (q, d, v) => parts.getOrElseUpdate((q, d), new Array[Double](2))(0) = v }
    kw.foreach { case (q, d, v) => parts.getOrElseUpdate((q, d), new Array[Double](2))(1) = v }
    parts.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (q, rows) =>
      rows.map { case ((_, d), v) => (d, combine(v(0), v(1))) }
        .sortWith { (a, b) =>
          val c = java.lang.Double.compare(b._2, a._2)
          c < 0 || (c == 0 && a._1 < b._1)
        }
        .take(topK).zipWithIndex.map { case ((d, sc), i) => (q, d, sc, i + 1) }
    }
  }
}
