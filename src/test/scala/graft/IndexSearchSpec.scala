package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexConfig, MultiVectorIndex}
import graft.search.{Searcher, SearchParams}

/** End-to-end index build + search funnel, verified against brute-force
  * exact MaxSim (the reference's own oracle design, SURVEY §5) plus
  * seeded-determinism and artifact-shape checks. */
class IndexSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Multi-vector docs from the embeddings fixture: 5 consecutive vectors
    * per doc (dense doc_ids 0..N/5-1), L2-normalized tokens. */
  lazy val docs: DataFrame = {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb
      .select((col("vec_id") / 5).cast("long").as("doc_id"),
        col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .map { case (docId, vecId, v) => (docId, vecId, graft.core.MaxSim.l2Normalize(v)) }
      .toDF("doc_id", "vec_id", "embedding")
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("embeddings"))
  }

  lazy val indexPath: String = {
    val p = "/tmp/graft_test_index"
    MultiVectorIndex.build(spark, docs, p, IndexConfig(numPartitionsOverride = Some(32)))
    p
  }

  test("index build: artifact shapes + manifest") {
    val idx = new MultiVectorIndex(spark, indexPath)
    assert(idx.numDocuments == 100)
    assert(idx.dim == 64)
    assert(idx.manifest("num_embeddings").toLong == 500)
    val codec = idx.codec
    assert(codec.numCentroids == 32)
    assert(codec.quantizer.bucketCutoffs.length == 15)
    assert(codec.quantizer.bucketWeights.length == 16)
    // every token encoded, residual width = dim*nbits/8 = 32 bytes
    val tok = idx.tokens
    assert(tok.count() == 500)
    import spark.implicits._
    val width = tok.select(length(col("residual"))).distinct().as[Int].collect()
    assert(width.toSeq == Seq(64 * 4 / 8))
    // IVF covers all codes present in tokens; posting lists sorted+distinct
    val badIvf = idx.ivf
      .select(col("doc_ids"), array_sort(array_distinct(col("doc_ids"))).as("s"))
      .filter(col("doc_ids") =!= col("s"))
    assert(badIvf.count() == 0)
    // doclens
    assert(idx.doclens.agg(sum("len")).collect()(0).getLong(0) == 500)
  }

  test("index build is deterministic: same seed => identical tokens table") {
    val p2 = "/tmp/graft_test_index_rerun"
    MultiVectorIndex.build(spark, docs, p2, IndexConfig(numPartitionsOverride = Some(32)))
    val a = spark.read.parquet(s"$indexPath/tokens").orderBy("doc_id", "tok")
    val b = spark.read.parquet(s"$p2/tokens").orderBy("doc_id", "tok")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val ca = MultiVectorIndex.loadCodec(spark, indexPath)
    val cb = MultiVectorIndex.loadCodec(spark, p2)
    assert(ca.centroids.sameElements(cb.centroids))
    assert(ca.quantizer.bucketCutoffs.sameElements(cb.quantizer.bucketCutoffs))
  }

  test("build is independent of the shuffle partition count (cluster-layout determinism)") {
    import spark.implicits._
    def tokensWith(parts: String, path: String): Set[(Long, Int, Int, Seq[Byte])] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        graft.util.Fs.deleteRecursively(path)
        val idx = MultiVectorIndex.build(spark, docs.filter(col("doc_id") < 40), path)
        idx.tokens.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getAs[Array[Byte]](3).toSeq))
          .toSet
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = tokensWith("3", "/tmp/graft_det_a")
    val b = tokensWith("16", "/tmp/graft_det_b")
    assert(a === b)
  }

  test("search funnel matches brute-force top-k on quantized index") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val queries = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    // generous funnel (small corpus): probe wide so approx stage can't
    // drop the true top docs
    val got = searcher
      .search(queries, SearchParams(topK = 5, nIvfProbe = 8, nFullScores = 400,
        centroidScoreThreshold = None))
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val want = searcher.bruteForce(queries, topK = 5)
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want)
    // self-retrieval sanity: each query's own doc ranks first
    val top1 = want.filter(_._3 == 1).map(t => (t._1, t._2))
    assert(top1 == Set((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("trainOracleF64 twin == production train: assignments and centroids on the gate corpus") {
    import spark.implicits._
    import graft.index.GraftKMeans
    val seed = 42L
    val dim = 64
    val toks = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
      .select(col("vec_id").as("doc_id"), lit(0).as("tok"),
        col("embedding").as("vec"))
    val prod = GraftKMeans.train(spark, toks, dim, 8, iters = 3, seed,
      maxPointsPerCentroid = 1 << 20)
    val rows = toks
      .withColumn("h", xxhash64(col("doc_id"), col("tok"), lit(seed + 1)))
      .select("h", "doc_id", "tok", "vec")
      .as[(Long, Long, Int, Array[Float])].collect()
    val twin = GraftKMeans.trainOracleF64(rows.toSeq, dim, 8, iters = 3)
    // the twin differs from production only in the f32-SIMD assignment
    // kernel and the f32 normalize division — on this corpus the
    // centroids must agree to f32 precision and induce IDENTICAL
    // nearest-centroid assignments (if an f32-vs-f64 boundary flip ever
    // lands here, the b1_kmeans_train gate needs a re-look)
    assert(prod.length === twin.length)
    val maxDiff = prod.indices.map(i => math.abs(prod(i) - twin(i))).max
    assert(maxDiff < 1e-5f, s"twin centroids drifted: max |diff| = $maxDiff")
    rows.foreach { case (_, _, _, vec) =>
      assert(GraftKMeans.nearestCosine(prod, 8, dim, vec) ===
        GraftKMeans.nearestCosine(twin, 8, dim, vec))
    }
  }

  test("approxFunnelF64 oracle twin == production f32 kernels: probe sets and candidate order") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val queries = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val qmap = queries.as[(Long, Array[Array[Float]])].collect().toMap
    val codec = idx.codec
    val k = codec.numCentroids
    // production S1+S2 (f32 kernels, the ones the serving funnel runs)
    val prodProbe: Map[Long, Seq[Int]] = qmap.map { case (qid, emb) =>
      val m = Searcher.centroidScores(emb, codec.centroids, k, codec.dim)
      qid -> Searcher.probeCentroids(m, 8, Some(0.4f))
    }
    // f64 twin: per-token best rows -> micro sums (the gate's shape)
    val twin = searcher.approxFunnelF64(queries, nProbe = 8, threshold = Some(0.4))
    val twinAgg = twin.groupBy("query_id", "doc_id")
      .agg(sum(expr("CAST(round(best * 1000000) AS BIGINT)")).as("am"))
      .as[(Long, Long, Long)].collect()
    // twin probe sets: reconstruct from its own f64 matrices via the
    // candidates it produced — compare against the f32 production sets
    // indirectly through the candidate UNION per query (identical probe
    // sets over the same ivf lists yield identical candidate sets)...
    // and directly: recompute f64 probe here with the same rule
    val f64Probe: Map[Long, Seq[Int]] = qmap.map { case (qid, emb) =>
      val cents = codec.centroids
      val m: Array[Array[Double]] = emb.map { q =>
        val r = new Array[Double](k)
        var c = 0
        while (c < k) {
          var s = 0.0; val off = c * codec.dim; var i = 0
          while (i < codec.dim) { s += cents(off + i).toDouble * q(i).toDouble; i += 1 }
          r(c) = s; c += 1
        }
        r
      }
      val sel = scala.collection.mutable.SortedSet.empty[Int]
      m.foreach(row => (0 until k).sortBy(c => (-row(c), c)).take(8).foreach(sel += _))
      qid -> sel.iterator.filter { c =>
        m.iterator.map(_(c)).max >= 0.4
      }.toSeq
    }
    assert(f64Probe === prodProbe,
      "f32 production probe sets diverge from the f64 oracle twin's")
    // candidate sets: identical probe sets over the same ivf lists must
    // gather the same candidates — assert directly against the
    // production gather (same join the serving funnel runs)
    val twinCands = twinAgg.map(t => (t._1, t._2)).toSet
    val prodCands = idx.ivf
      .join(broadcast(prodProbe.toSeq.flatMap { case (q, cs) =>
        cs.map(c => (q, c))
      }.toDF("query_id", "code")), "code")
      .select(col("query_id"), explode(col("doc_ids")).as("doc_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(twinCands === prodCands,
      "f64 twin candidate set diverges from the production gather")
    // S5 values: f32 production approx vs f64 twin agree to f32
    // precision (a few micro at unit-normalized scores). Exact-micro
    // identity is the f64-twin <-> DuckDB contract (the gate hash), not
    // the f32 <-> f64 one — f32 keeps ~7 significant digits.
    val codesMap = idx.docCodes.select("doc_id", "codes")
      .as[(Long, Array[Int])].collect().toMap
    twinAgg.foreach { case (qid, doc, am) =>
      val m = Searcher.centroidScores(qmap(qid), codec.centroids, k, codec.dim)
      val f32 = m.map { row =>
        var best = Float.NegativeInfinity
        codesMap(doc).foreach { c => if (row(c) > best) best = row(c) }
        best.toDouble
      }.sum
      assert(math.abs(f32 * 1e6 - am) <= 5.0,
        s"approx f32 vs f64 drift above f32 precision for ($qid, $doc): " +
          s"${f32 * 1e6} vs $am")
    }
  }

  test("serving fast path is bit-identical to the distributed funnel (with and without subset)") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val queries = docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val subset = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    // reference serving defaults (threshold on), which is exactly the
    // parameterization the oracles and the QPS twin run
    val base = SearchParams()
    assert(idx.packedBytesEstimate <= base.localIndexBudgetBytes,
      "fixture index must dispatch to the fast path")
    def run(p: SearchParams, sub: Option[DataFrame]) = searcher
      .search(queries, p, subset = sub)
      .select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val distributed = base.copy(localIndexBudgetBytes = 0L)
    // the 8-query batch runs on the driver, phase A parallel over queries
    assert(run(base, None) === run(distributed, None))
    assert(run(base, Some(subset)) === run(distributed, Some(subset)))
    // so do smaller batches (a single query's S1 runs parallel over its
    // tokens instead) — equally bit-identical
    val tiny = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    def runTiny(p: SearchParams) = searcher.search(tiny, p)
      .select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(runTiny(base) === runTiny(distributed))
  }

  test("sharded fast path is bit-identical to local fast path and distributed funnel") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val queries = docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val subset = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    val base = SearchParams()
    // a budget the packed image exceeds but every id of the corpus
    // fits: the batch dispatches to the SHARDED resident slices, subset
    // included (a 1-byte budget would send the subset leg to parquet)
    val cachedBudget = graft.util.Plan.SubsetBytesPerId * 100
    assert(Searcher.residentBytes(idx, cachedBudget) === 0L)
    val sharded = base.copy(localIndexBudgetBytes = cachedBudget, shardedSlices = 3)
    val distributed = base.copy(localIndexBudgetBytes = 0L)
    def run(p: SearchParams, sub: Option[DataFrame]) = searcher
      .search(queries, p, subset = sub)
      .select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(sharded, None) === run(distributed, None))
    assert(run(sharded, None) === run(base, None))
    assert(run(sharded, Some(subset)) === run(distributed, Some(subset)))
    // a second call reuses the cached resident slices (no rebuild) and
    // stays identical — the serving-loop shape
    assert(run(sharded, None) === run(distributed, None))
  }

  test("driver, sharded and distributed funnels agree under deferred-delete tombstones") {
    import spark.implicits._
    val p = "/tmp/graft_test_index_tombstoned"
    graft.util.Fs.deleteRecursively(p)
    // 4 uncoalesced shuffle partitions: doc_codes is written as 4 files
    val conf = Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4")
    val saved = conf.keys.map(key => key -> spark.conf.getOption(key)).toMap
    try {
      conf.foreach { case (key, v) => spark.conf.set(key, v) }
      MultiVectorIndex.build(spark, docs, p, IndexConfig(numPartitionsOverride = Some(32)))
      // below 500k rows the build writes one tokens file; lay the tokens
      // out as it does at scale, range-partitioned by doc and sorted
      graft.util.Fs.rewrite(new MultiVectorIndex(spark, p).tokens
        .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id", "tok"),
        s"$p/tokens")
    } finally saved.foreach { case (key, v) => v.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
    val subset = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    // tombstone query docs (each its own query's likely top hit) and
    // docs inside and outside the subset
    val deleted = Set(0L, 3L, 5L, 9L, 12L, 30L, 51L)
    val base = SearchParams()
    // a budget the packed image exceeds but every id of the corpus fits:
    // the cached slices take the batch, subset included
    val cachedBudget = graft.util.Plan.SubsetBytesPerId * 100
    val sharded = base.copy(localIndexBudgetBytes = cachedBudget, shardedSlices = 3)
    val parquet = base.copy(localIndexBudgetBytes = 0L)
    for (tombstoned <- Seq(false, true)) {
      if (tombstoned)
        graft.index.Updater.deleteDeferred(spark, new MultiVectorIndex(spark, p),
          deleted.toSeq.toDF("doc_id"))
      val idx = new MultiVectorIndex(spark, p)
      assert(idx.tombstonesOpt.isDefined === tombstoned)
      assert(idx.docCodes.rdd.getNumPartitions >= 3, "doc_codes must span several slices")
      assert(idx.tokens.rdd.getNumPartitions >= 3, "tokens must span several slices")
      assert(Searcher.residentBytes(idx, cachedBudget) === 0L)
      val searcher = new Searcher(idx)
      def run(nq: Int, p: SearchParams, sub: Option[DataFrame]) = searcher
        .search(docs.filter(col("doc_id") < nq)
          .select(col("doc_id").as("query_id"), col("embeddings")), p, subset = sub)
        .select("query_id", "doc_id", "score", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      for (sub <- Seq(None, Some(subset)); nq <- Seq(1, 8)) {
        val want = run(nq, parquet, sub)
        val clue = s"$nq queries, subset ${sub.isDefined}, tombstones $tombstoned"
        assert(want.map(_._1).size === nq, clue)
        if (tombstoned)
          assert(want.forall(r => !deleted.contains(r._2)), s"tombstoned doc returned: $clue")
        assert(run(nq, base, sub) === want, s"driver: $clue")
        assert(run(nq, sharded, sub) === want, s"sharded: $clue")
      }
    }
    graft.util.Fs.deleteRecursively(p)
  }

  test("fast path fails loudly when the index is rewritten under a held Searcher") {
    val p = "/tmp/graft_stale_guard_idx"
    graft.util.Fs.deleteRecursively(p)
    MultiVectorIndex.build(spark, docs.filter(col("doc_id") < 30), p)
    val searcher = new Searcher(new MultiVectorIndex(spark, p))
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    assert(searcher.search(queries).count() > 0) // collects the image
    // rebuild at the same path with a different doc count (the
    // compact()/rebuild shape): manifest stamp changes
    MultiVectorIndex.build(spark, docs.filter(col("doc_id") < 20), p)
    val e = intercept[IllegalStateException] { searcher.search(queries).count() }
    assert(e.getMessage.contains("changed on disk"))
    // a fresh handle serves the rewritten index
    assert(new Searcher(new MultiVectorIndex(spark, p)).search(queries).count() > 0)

    // the guard keys on build_id, not (mtime,length): a manifest rewrite
    // with IDENTICAL content (same length, possibly same mtime on coarse
    // filesystems) still trips it
    val s2 = new Searcher(new MultiVectorIndex(spark, p))
    assert(s2.search(queries).count() > 0) // collects the image
    val m = new MultiVectorIndex(spark, p).manifest - "build_id"
    MultiVectorIndex.writeManifest(p, m)
    val e2 = intercept[IllegalStateException] { s2.search(queries).count() }
    assert(e2.getMessage.contains("changed on disk"))
    graft.util.Fs.deleteRecursively(p)
  }

  test("centroid threshold keeps a centroid when ANY query token clears it (search.rs:417-425)") {
    // token 0 selects c0 with 0.3 (below 0.4); token 1 selects c1 but
    // scores 0.45 on c0 — the reference keeps c0 via token 1's score
    val m = Array(Array(0.3f, 0.1f), Array(0.45f, 0.6f))
    assert(Searcher.probeCentroids(m, nProbe = 1, Some(0.4f)) === Seq(0, 1))
    // with no token reaching 0.4 on c0, it is dropped
    val m2 = Array(Array(0.3f, 0.1f), Array(0.35f, 0.6f))
    assert(Searcher.probeCentroids(m2, nProbe = 1, Some(0.4f)) === Seq(1))
    // threshold off keeps everything selected
    assert(Searcher.probeCentroids(m2, nProbe = 1, None) === Seq(0, 1))
    // NaN scores never satisfy the threshold
    val m3 = Array(Array(Float.NaN, 0.5f))
    assert(Searcher.probeCentroids(m3, nProbe = 2, Some(0.4f)) === Seq(1))
    // eligible-centroid restriction (search.rs:350-364): the probe
    // budget goes to eligible centroids only, and ineligible ones never
    // leak through even with high scores
    val m4 = Array(Array(0.9f, 0.5f, 0.45f))
    assert(Searcher.probeCentroids(m4, nProbe = 1, None,
      Some(Array(false, true, true))) === Seq(1))
    assert(Searcher.probeCentroids(m4, nProbe = 3, Some(0.4f),
      Some(Array(false, true, true))) === Seq(1, 2))
  }

  test("default-parameter search (threshold 0.4 enabled) prunes soundly") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val queries = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    // with topK >= corpus the output IS the scored candidate set, so
    // thresholding must yield a subset (it only removes candidates)
    val allWithT = searcher
      .search(queries, SearchParams(topK = 200))
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    val allNoT = searcher
      .search(queries, SearchParams(topK = 200, centroidScoreThreshold = None))
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    assert(allWithT.subsetOf(allNoT))
    val withT = searcher
      .search(queries, SearchParams(topK = 5)) // reference defaults incl. threshold Some(0.4)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    // recall floor: synthetic random embeddings have low query-centroid
    // cosines (unlike real ColBERT vectors), so 0.4 prunes aggressively
    // here; 0.62 measured with the any-token semantics — the
    // selecting-token-only bug scored strictly lower
    val want = searcher.bruteForce(queries, topK = 5)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    val recall = (withT & want).size.toDouble / want.size
    assert(recall >= 0.5, s"default-path recall too low: $recall")
  }

  test("subset pre-filter (S4) restricts results") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val queries = docs.filter(col("doc_id") === 0)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val subset = spark.range(50, 100).select(col("id").as("doc_id"))
    val got = searcher
      .search(queries, SearchParams(topK = 5, centroidScoreThreshold = None),
        subset = Some(subset))
      .select("doc_id").as[Long].collect()
    assert(got.nonEmpty && got.forall(id => id >= 50 && id < 100))
  }

  test("subset joins are planned by size: no broadcast above threshold, results unchanged") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val queries = docs.filter(col("doc_id") === 0)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val subset = spark.range(50, 100).select(col("id").as("doc_id"))
    val params = SearchParams(topK = 5, centroidScoreThreshold = None)

    def run() = searcher.search(queries, params, subset = Some(subset))
      .select("query_id", "doc_id", "rank").as[(Long, Long, Int)].collect().toSet

    // helper semantics: hint only when the row bound fits the threshold
    val dfBig = spark.range(0, 1000).select(col("id").as("doc_id"))
    val orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val baseline = run()
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val hinted = graft.util.Plan.broadcastIfBounded(dfBig, 10L)
      val unhinted = graft.util.Plan.broadcastIfBounded(dfBig, 1000L) // 1000*16 > 1024
      val probe = spark.range(0, 10).select(col("id").as("doc_id"))
      assert(probe.join(hinted, Seq("doc_id"), "left_semi")
        .queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
      assert(!probe.join(unhinted, Seq("doc_id"), "left_semi")
        .queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))

      // full funnel under a threshold that forbids every subset/survivor
      // broadcast: same results as the broadcast-planned run
      assert(run() === baseline)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
  }

  test("reconstruction round-trips quantization (cosine > 0.9 to original)") {
    import spark.implicits._
    val idx = new MultiVectorIndex(spark, indexPath)
    val searcher = new Searcher(idx)
    val ids = spark.range(0, 3).select(col("id").as("doc_id"))
    val recon = searcher.reconstruct(ids)
      .as[(Long, Int, Array[Float])].collect()
      .map { case (d, t, v) => ((d, t), v) }.toMap
    val orig = docs.filter(col("doc_id") < 3)
      .select("doc_id", "embeddings")
      .as[(Long, Array[Array[Float]])].collect()
    for ((docId, emb) <- orig; (vec, tok) <- emb.zipWithIndex) {
      val cos = graft.core.MaxSim.cosine(vec, recon((docId, tok)))
      assert(cos > 0.9, s"doc $docId tok $tok cosine $cos")
    }
  }

  test("rerank standalone scores and orders supplied docs") {
    import spark.implicits._
    val q = docs.filter(col("doc_id") === 7)
      .select(col("doc_id"), col("embeddings"))
      .as[(Long, Array[Array[Float]])].collect()(0)._2
    val searcher = new Searcher(new MultiVectorIndex(spark, indexPath))
    val out = searcher.rerank(q, docs, topK = 3)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    assert(out(7L) == 1) // self-match wins
  }
}
