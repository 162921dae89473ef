package graft

import org.apache.spark.sql.SparkSession

import graft.index.MultiVectorIndex
import graft.search.{RecallHarness, SearchParams, Searcher}

/** Distributed-funnel throughput at the reference's LARGEST published
  * corpus scale: quora, 522,931 docs (BASELINE.md — 17.7 CPU QPS,
  * NDCG@10 0.8519, P95 235 ms, reference numbers include query
  * encoding). This probe builds a 522,931-doc clustered corpus (16
  * tokens/doc — quora questions are short), indexes it once into /tmp,
  * and times 64-query batches with the serving fast path DISABLED
  * (`localIndexBudgetBytes = 0`), so the number measured is the
  * DISTRIBUTED dense funnel — its two phases over slices read from
  * parquet, the plan that runs when the index no longer fits one node,
  * i.e. the 100 TB-regime code path.
  *
  * Per-stage attribution: the two phases' jobs carry the descriptions
  * "search phase A" and "search phase B"; within them, stages are split
  * by differencing parameter variations —
  * `nFullScores = topK` skips nearly all of S7 (exact rerank), so
  * (default − rerankLight) ≈ rerank cost and rerankLight ≈ S1–S6
  * (GEMM + probe + approx scoring + cut) + fixed per-batch cost.
  *
  * Usage: `SPARK_DRIVER_MEM=24g sbt "runMain graft.QuoraProbe"`.
  */
object QuoraProbe {
  val NumDocs = 522931L
  val TokensPerDoc = 16
  val QueryTokens = 48 // the reference's expanded query length
  val Dim = 128
  val Batch = 64

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val calibPre = Bench.calibrate(spark)
    println(f"QUORA_PROBE calib_pre 1t=${calibPre.t1}%.3f 32t=${calibPre.tN}%.3f" +
      f" iow=${calibPre.ioW}%.3f ior=${calibPre.ioR}%.3f")

    val workDir = "/tmp/graft_quora_522k"
    val t0 = System.nanoTime()
    val idx =
      if (graft.util.Fs.exists(s"$workDir/manifest.json"))
        new MultiVectorIndex(spark, workDir)
      else MultiVectorIndex.build(spark,
        RecallHarness.clusteredCorpus(spark, NumDocs,
          tokensPerDoc = TokensPerDoc, dim = Dim, numClusters = 5000), workDir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    println(f"QUORA_PROBE K=${idx.codec.numCentroids} docs=${idx.numDocuments} " +
      f"dim=${idx.dim} tokens=${idx.manifest("num_embeddings")} build/open=$buildSec%.1f s")

    val queries = RecallHarness.queriesFrom(spark, Batch,
      tokensPerDoc = QueryTokens, dim = Dim, numClusters = 5000).cache()
    queries.count()
    val searcher = new Searcher(idx)

    // fast path OFF: this measures the distributed plan
    val variants = Seq(
      "dense distributed (default params)" ->
        SearchParams(localIndexBudgetBytes = 0),
      "rerank-light (nFull=topK: S1-S6 + fixed cost)" ->
        SearchParams(localIndexBudgetBytes = 0, nFullScores = 10),
      "top_k=100 (the BEIR table's setting)" ->
        SearchParams(localIndexBudgetBytes = 0, topK = 100),
      "sparse funnel (forced, same params)" ->
        SearchParams(localIndexBudgetBytes = 0, sparseCentroidThreshold = 0))
    variants.foreach { case (name, p) =>
      searcher.search(queries, p).count() // warm
      val times = (1 to 3).map { _ =>
        val s = System.nanoTime()
        searcher.search(queries, p).count()
        (System.nanoTime() - s) / 1e9
      }
      println(f"QUORA_PROBE $name%-46s best=${times.min}%.2f s  " +
        f"qps=${Batch / times.min}%.1f  (${times.map(t => f"$t%.2f").mkString(", ")})")
    }

    // single-query latency: distributed and sharded INTERLEAVED (r16
    // verdict item 6 — the r16 sharded p90 read 285 ms vs r15's 152 at
    // similar CPU calib; sequential blocks confound the plan with
    // whatever the machine was doing during that block, so each round
    // now times one distributed call then one sharded call and ambient
    // drift hits both series equally)
    locally {
      val q1 = RecallHarness.queriesFrom(spark, 1,
        tokensPerDoc = QueryTokens, dim = Dim, numClusters = 5000).cache()
      q1.count()
      val p = SearchParams(localIndexBudgetBytes = 0)
      searcher.search(q1, p).count() // warm distributed

      // SHARDED serving fast path at the same corpus: the ~1 GB packed
      // image exceeds the local collect budget, so serving dispatches to
      // resident doc-slices — the design answer to the reference's
      // single-process 235 ms P95 (BASELINE.md:18) at >256 MB images.
      // First call pays the one-time slice build; steady-state latency
      // is the serving number.
      val sp = SearchParams() // defaults: image > budget -> sharded
      val tSlice0 = System.nanoTime()
      searcher.search(q1, sp).count() // builds + caches resident slices
      println(f"QUORA_PROBE sharded slice build+first call " +
        f"${(System.nanoTime() - tSlice0) / 1e9}%.1f s")

      val n = 20
      val dist = new Array[Double](n)
      val shard = new Array[Double](n)
      (0 until n).foreach { i =>
        val s0 = System.nanoTime()
        searcher.search(q1, p).count()
        dist(i) = (System.nanoTime() - s0) / 1e9
        val s1 = System.nanoTime()
        searcher.search(q1, sp).count()
        shard(i) = (System.nanoTime() - s1) / 1e9
      }
      def stats(raw: Array[Double]): (Double, Double, Double) = {
        val t = raw.sorted
        (t.head, (t(n / 2 - 1) + t(n / 2)) / 2, t(n * 9 / 10 - 1))
      }
      val (db, dm, dp) = stats(dist)
      val (sb, sm, sp90) = stats(shard)
      println(f"QUORA_PROBE batch=1 best=${db * 1000}%.0f ms  " +
        f"median=${dm * 1000}%.0f ms  p90=${dp * 1000}%.0f ms  (interleaved n=$n)")
      println(f"QUORA_PROBE sharded batch=1 best=${sb * 1000}%.0f ms  " +
        f"median=${sm * 1000}%.0f ms  p90=${sp90 * 1000}%.0f ms  (interleaved n=$n)")
      println("QUORA_PROBE interleaved runs d/s ms: " +
        dist.zip(shard).map { case (d, s) =>
          f"${d * 1000}%.0f/${s * 1000}%.0f" }.mkString(" "))
      val qb = RecallHarness.queriesFrom(spark, Batch,
        tokensPerDoc = QueryTokens, dim = Dim, numClusters = 5000).cache()
      qb.count()
      // batch-64 S1 matrices are 402 MB at K=32768, within the default
      // denseScoreBudgetBytes: the batch runs as one chunk
      searcher.search(qb, sp).count() // warm
      val tb = (1 to 3).map { _ =>
        val s = System.nanoTime()
        searcher.search(qb, sp).count()
        (System.nanoTime() - s) / 1e9
      }
      println(f"QUORA_PROBE sharded batch=$Batch best=${tb.min}%.2f s  " +
        f"qps=${Batch / tb.min}%.1f")
      // result identity vs the distributed funnel at this corpus scale
      val a = searcher.search(q1, sp).select("query_id", "doc_id", "rank")
        .collect().map(_.toString).toSet
      val b = searcher.search(q1, SearchParams(localIndexBudgetBytes = 0))
        .select("query_id", "doc_id", "rank").collect().map(_.toString).toSet
      println(s"QUORA_PROBE sharded == distributed: ${a == b} (${a.size} rows)")
    }
    val calibPost = Bench.calibrate(spark)
    println(f"QUORA_PROBE calib_post 1t=${calibPost.t1}%.3f 32t=${calibPost.tN}%.3f" +
      f" iow=${calibPost.ioW}%.3f ior=${calibPost.ioR}%.3f")
    spark.stop()
  }
}
