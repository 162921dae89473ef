package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.MultiVectorIndex
import graft.search.{SearchParams, Searcher}

/** Sparse/batched centroid scoring (search.rs:140-302, 518-600): the
  * large-K funnel must be result-identical to the dense path — same
  * probe-selection semantics, same approximate scores, same exact
  * rerank — with the work distributed instead of driver-resident. */
class SparseSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val docs: DataFrame = {
    import spark.implicits._
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select((col("vec_id") / 5).cast("long").as("doc_id"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .map { case (d, v, e) => (d, v, graft.core.MaxSim.l2Normalize(e)) }
      .toDF("doc_id", "vec_id", "embedding")
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("embeddings"))
      .cache()
  }

  lazy val indexPath: String = {
    val p = "/tmp/graft_sparse_idx"
    graft.util.Fs.deleteRecursively(p)
    MultiVectorIndex.build(spark, docs, p)
    p
  }

  private def results(df: DataFrame): Set[(Long, Long, Int, Double)] = {
    import spark.implicits._
    df.select("query_id", "doc_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().toSet
  }

  test("sparse funnel ≡ dense funnel (exhaustive, pruned, and filtered)") {
    import spark.implicits._
    val searcher = new Searcher(new MultiVectorIndex(spark, indexPath))
    val queries = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("embeddings"))

    val cases = Seq(
      ("exhaustive", SearchParams(topK = 5, nIvfProbe = Int.MaxValue,
        nFullScores = 1 << 22, centroidScoreThreshold = None), None),
      ("pruned defaults", SearchParams(topK = 5), None),
      ("filtered", SearchParams(topK = 5, centroidScoreThreshold = None),
        Some(spark.range(30, 90).select(col("id").as("doc_id"))))
    )
    for ((label, params, subset) <- cases) {
      val dense = results(searcher.search(queries, params, subset))
      val sparse = results(searcher.search(
        queries, params.copy(sparseCentroidThreshold = 0), subset))
      assert(sparse === dense, s"sparse != dense for case: $label")
    }
  }

  test("chunked dense funnel (tiny score-matrix budget) ≡ unchunked") {
    val searcher = new Searcher(new MultiVectorIndex(spark, indexPath))
    val queries = docs.filter(col("doc_id") < 12)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val base = SearchParams(topK = 5)
    // budget of 1 byte → every query of an executor placement becomes
    // its own chunk (12 chunks), exercising per-chunk execution,
    // broadcast teardown, and the reassembly; the driver image runs the
    // batch whole
    val unchunked = results(searcher.search(queries, base))
    val chunked = results(searcher.search(
      queries, base.copy(denseScoreBudgetBytes = 1L)))
    assert(chunked === unchunked)
    // and with a subset filter (probe scaling + eligible mask computed
    // once, shared across chunks)
    val subset = Some(spark.range(10, 80).select(col("id").as("doc_id")))
    val u2 = results(searcher.search(
      queries, base.copy(centroidScoreThreshold = None), subset))
    val c2 = results(searcher.search(
      queries, base.copy(centroidScoreThreshold = None, denseScoreBudgetBytes = 1L),
      subset))
    assert(c2 === u2)
    // the executor placements chunk: the cached slices (a budget the
    // packed image exceeds but every corpus id fits, so the subset
    // stays on them) and the parquet slices (budget 0)
    val idx = new MultiVectorIndex(spark, indexPath)
    val cachedBudget = graft.util.Plan.SubsetBytesPerId * idx.numDocuments
    assert(Searcher.residentBytes(idx, cachedBudget) === 0L)
    for ((placement, budget) <- Seq("sharded" -> cachedBudget, "parquet" -> 0L)) {
      val p = base.copy(denseScoreBudgetBytes = 1L, localIndexBudgetBytes = budget)
      assert(results(searcher.search(queries, p)) === unchunked, placement)
      assert(results(searcher.search(queries, p.copy(centroidScoreThreshold = None), subset)) === u2,
        s"$placement with subset")
    }
  }

  test("sparse S5 partial-aggregates map-side before the exchange") {
    val searcher = new Searcher(new MultiVectorIndex(spark, indexPath))
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val df = searcher.search(
      queries, SearchParams(topK = 5, sparseCentroidThreshold = 0))
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("objecthashaggregate"),
      s"sparse S5 not planned as ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_elementwisemaxsum"),
      s"no partial (map-side) ElementwiseMaxSum stage before the shuffle:\n$plan")
  }

  test("distributed probe selection ≡ dense probeCentroids at K = 2^17") {
    import spark.implicits._
    val k = 1 << 17
    val dim = 8
    val nProbe = 6
    // deterministic synthetic centroids (hash-based, no RNG)
    def vecFor(c: Int): Array[Float] = Array.tabulate(dim) { d =>
      val h = scala.util.hashing.MurmurHash3.productHash((c, d))
      (h % 1000) / 1000.0f
    }
    val centDf = spark.range(0, k).select(col("id").cast("int").as("code"))
      .as[Int].map(c => (c, vecFor(c))).toDF("code", "vec")
      .repartition(8).cache()
    val queryMap: Map[Long, Array[Array[Float]]] = Map(
      0L -> Array.tabulate(4)(t => vecFor(-t - 1)),
      1L -> Array.tabulate(3)(t => vecFor(-t - 100))
    )

    // dense reference: full [tokens x K] matrices on the driver
    def denseSelect(threshold: Option[Float], eligible: Option[Array[Boolean]]) =
      queryMap.map { case (qid, emb) =>
        val m = emb.map { q =>
          val row = new Array[Float](k)
          var c = 0
          while (c < k) {
            val v = vecFor(c)
            var s = 0.0f
            var i = 0
            while (i < dim) { s += v(i) * q(i); i += 1 }
            row(c) = s
            c += 1
          }
          row
        }
        qid -> Searcher.probeCentroids(m, nProbe, threshold, eligible).toSet
      }

    def sparseSelect(threshold: Option[Float], eligible: Option[Array[Boolean]]) =
      Searcher.sparseProbe(spark, centDf, queryMap, dim, nProbe, threshold, eligible)
        .as[(Long, Int)].collect().groupBy(_._1)
        .map { case (qid, rows) => qid -> rows.map(_._2).toSet }

    // unthresholded
    assert(sparseSelect(None, None) === denseSelect(None, None))
    // thresholded (max over ALL tokens semantics)
    val t = Some(1.2f)
    assert(sparseSelect(t, None) === denseSelect(t, None))
    // eligible-centroid restriction (only codes 0 mod 3)
    val elig = Some(Array.tabulate(k)(_ % 3 == 0))
    assert(sparseSelect(None, elig) === denseSelect(None, elig))
    centDf.unpersist()
  }
}
