package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.fts.{Fts, FtsIndex, Hybrid}
import graft.search.{HybridParams, SearchParams, Searcher}

/** The driver-resident serving paths of the keyword and hybrid layers
  * against their distributed twins: the resident BM25 image vs
  * [[Fts.search]] over the same persisted postings and doclens, driver
  * fusion vs [[Hybrid.rrfGrouped]] / [[Hybrid.relativeScoreGrouped]],
  * and the image's staleness guard across every FTS write. */
class ResidentFtsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "parseJson", "parse_json_value", "HttpClient", "http_client")

  /** 80 docs over a 10-word vocabulary, so multi-term AND/OR matches are
    * common; docs 70-79 repeat docs 60-69 word for word, so their scores
    * tie exactly and only doc_id breaks the tie. */
  private def corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(5)
    val base = (0 until 70).map { i =>
      i.toLong -> Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    base ++ (70 until 80).map(i => i.toLong -> base(i - 10)._2)
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[(Long, Int, Double)] =
    df.select(col("doc_id").cast("long"), col("rank").cast("int"), col("score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sortBy(_._2)

  private def assertSameHits(resident: Seq[(Long, Int, Double)],
      distributed: Seq[(Long, Int, Double)], clue: String): Unit = {
    assert(resident.map(r => (r._1, r._2)) === distributed.map(r => (r._1, r._2)), clue)
    resident.zip(distributed).foreach { case (a, b) =>
      assert(math.abs(a._3 - b._3) <= 1e-9, s"$clue: doc ${a._1} ${a._3} vs ${b._3}")
    }
  }

  test("resident BM25 equals Fts.search: tokenizers, AND/OR, subset, tombstones, empty, ties") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    for (tok <- Seq("unicode61", "trigram", "identifier_aware")) {
      val path = s"/tmp/graft_resident_bm25_$tok"
      graft.util.Fs.deleteRecursively(path)
      // built in two writes so a term's postings span two files; one
      // shuffle partition per write keeps each doc's postings in one
      // term-sorted file, so the distributed plan's per-doc summation
      // order is deterministic and exactly tied docs stay tied
      val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val idx =
        try FtsIndex.appendRows(
          FtsIndex.build(spark, docs.filter(col("doc_id") < 50), "doc_id", "text", path, tok),
          docs.filter(col("doc_id") >= 50), "doc_id", "text")
        finally spark.conf.set("spark.sql.shuffle.partitions", shuffle)
      val img = idx.residentImage(SearchParams().localIndexBudgetBytes)
        .getOrElse(fail(s"$tok: no resident image under the default budget"))
      val subset = (0L until 80L).filter(_ % 3 != 0)
      val tomb = Array(61L, 65L, 71L, 2L)
      val queries = Seq("alpha", "alpha beta", "beta gamma delta", "parseJson",
        "HttpClient zeta", "alp", "", "nomatchword", "alpha alpha")
      // each distributed run is several Spark jobs, so it runs once per
      // case at k = 100; the k = 5 answer is its prefix (the order is total)
      def same(resident: Int => DataFrame, distributed: DataFrame, clue: String): Unit = {
        val dist = rows(distributed)
        assertSameHits(rows(resident(100)), dist, clue)
        assertSameHits(rows(resident(5)), dist.take(5), s"$clue k=5")
      }
      val sub = subset.toDF("doc_id")
      // tombstones: the distributed twin is the doclens anti-join
      val liveSub = idx.doclens.select("doc_id")
        .join(tomb.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
        .join(sub, Seq("doc_id"), "left_semi")
      for (q <- queries) {
        val clue = s"$tok '$q'"
        assert(isLocal(idx.search(q, 5)), s"$clue: resident path not taken")
        same(idx.search(q, _),
          Fts.search(spark, idx.postings, q, 100, tok, None, Some(idx.doclens)), clue)
      }
      // filtered cases on the queries that match something; a subset
      // restricts candidates, not statistics
      for (q <- Seq("alpha", "alpha beta", "beta gamma delta", "HttpClient zeta", "alp")) {
        val clue = s"$tok '$q'"
        if (q.contains(' '))
          same(idx.search(q, _, Some(sub)),
            Fts.search(spark, idx.postings, q, 100, tok, Some(sub), Some(idx.doclens)),
            s"$clue subset")
        same(k => img.frame(spark, img.topK(q, k, Some(subset.toArray), tomb)),
          Fts.search(spark, idx.postings, q, 100, tok, Some(liveSub), Some(idx.doclens)),
          s"$clue subset+tombstones")
      }
      // the tie: docs 60-69 and 70-79 hold the same text
      val tied = rows(idx.search("alpha", 100)).filter(h => h._1 >= 60)
      val byScore = tied.groupBy(_._3).values.filter(_.size > 1)
      assert(byScore.nonEmpty, s"$tok: fixture has no tied scores")
      byScore.foreach(g => assert(g.map(_._1) === g.map(_._1).sorted, s"$tok tie order"))
      assert(idx.search("", 10).count() === 0L)
      assert(idx.search("nomatchword", 10).count() === 0L)
      // budget 0 keeps the distributed plan
      assert(!isLocal(idx.search("alpha", 5, localBudgetBytes = 0L)))
      graft.util.Fs.deleteRecursively(path)
    }
  }

  test("driver fusion equals rrfGrouped / relativeScoreGrouped exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    // three queries; query 2's semantic list is constant-score (min-max
    // maps it to all 1.0), docs 0-19 overlap, 20-39 are keyword-only
    val sem: Seq[Hybrid.Hit] = (0L until 3L).flatMap { q =>
      val ds = rnd.shuffle((0L until 20L).toList).take(12)
      val scores = ds.map(_ => if (q == 2L) 0.5 else rnd.nextDouble())
      ds.zip(scores).sortBy(x => (-x._2, x._1)).zipWithIndex
        .map { case ((d, s), i) => (q, d, s, i + 1) }
    }
    val kwList = rnd.shuffle((5L until 40L).toList).take(15)
      .map(d => d -> rnd.nextInt(4).toDouble).sortBy(x => (-x._2, x._1))
      .zipWithIndex.map { case ((d, s), i) => (d, s, i + 1) }
    val kw: Seq[Hybrid.Hit] =
      for (q <- 0L until 3L; (d, s, r) <- kwList) yield (q, d, s, r)
    def df(hs: Seq[Hybrid.Hit]) = hs.toDF("query_id", "doc_id", "score", "rank")
    def collected(out: DataFrame) =
      out.select(col("query_id"), col("doc_id"), col("score"), col("rank").cast("int"))
        .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(h => (h._1, h._4))
    for (alpha <- Seq(0.0, 0.5, 0.75, 1.0); topK <- Seq(3, 10, 50)) {
      val clue = s"alpha=$alpha topK=$topK"
      assert(Hybrid.rrfLocal(sem, kw, alpha, topK).sortBy(h => (h._1, h._4)) ===
        collected(Hybrid.rrfGrouped(df(sem).drop("score"), df(kw).drop("score"), alpha, topK)),
        s"rrf $clue")
      assert(Hybrid.relativeScoreLocal(sem, kw, alpha, topK).sortBy(h => (h._1, h._4)) ===
        collected(Hybrid.relativeScoreGrouped(df(sem).drop("rank"), df(kw).drop("rank"),
          alpha, topK)), s"relative $clue")
    }
  }

  private def metaJson(ids: Seq[Long], word: Long => String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"""{"title": "doc ${word(i)}", "lang": "en"}""")).toDF("order", "json")
  }

  test("a held GraftIndex and FtsIndex never serve a pre-write result") {
    IndexFixtures.requireTestdata()
    val docs = IndexFixtures.docs(spark)
    val path = "/tmp/graft_resident_stale"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, docs.filter(col("doc_id") < 20),
      Some(metaJson(0L until 20L, i => s"w$i")))
    val held = gi.ftsIndex
    val qs = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val keyword = HybridParams(mode = "keyword", topK = 50)
    def heldIds(q: String) = held.search(q, 50).collect().map(_.getLong(0)).toSet
    def giIds(q: String) = gi.ftsIndex.search(q, 50).collect().map(_.getLong(0)).toSet
    def hybridIds(q: String) =
      gi.hybrid(qs, q, keyword).filter(col("query_id") === 0L)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    def check(q: String, expect: Set[Long], clue: String): Unit = {
      assert(heldIds(q) === expect, s"$clue: held FtsIndex")
      assert(giIds(q) === expect, s"$clue: GraftIndex.ftsIndex")
      assert(hybridIds(q) === expect, s"$clue: GraftIndex.hybrid keyword")
    }
    // warm every image first, so each check below follows a write
    check("doc", (0L until 20L).toSet, "create")
    check("w7", Set(7L), "create")

    gi.addDocuments(docs.filter(col("doc_id") >= 20 && col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") - 20), Some(metaJson(0L until 5L, i => s"n$i")))
    check("doc", (0L until 25L).toSet, "add")
    check("n2", Set(22L), "add")

    // eager delete renumbers: old 3 and 7 go, 8.. shift down by two
    gi.deleteDocuments(ids = Some(Seq(3L, 7L)))
    check("doc", (0L until 23L).toSet, "eager delete")
    check("w7", Set.empty, "eager delete")
    check("w8", Set(6L), "eager delete")

    // deferred delete: tombstones, no FTS write — the FTS handles keep
    // the doc, the facade's keyword leg excludes it at once
    gi.deleteDocuments(ids = Some(Seq(0L)), deferred = true, autoCompactRatio = 2.0)
    assert(hybridIds("w0") === Set.empty, "deferred delete: hybrid keyword")
    assert(hybridIds("doc") === (1L until 23L).toSet, "deferred delete: hybrid keyword")
    assert(heldIds("w0") === Set(0L) && giIds("w0") === Set(0L))

    import spark.implicits._
    FtsIndex.updateRows(gi.ftsIndex, Seq((5L, "doc rewritten")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(heldIds("rewritten") === Set(5L) && giIds("rewritten") === Set(5L), "updateRows")
    assert(heldIds("w6") === Set.empty && giIds("w6") === Set.empty,
      "updateRows: old text of doc 5 still served")

    FtsIndex.rebuild(gi.ftsIndex, Seq((0L, "rebuilt doc"), (1L, "rebuilt twice")).toDF(
      "doc_id", "text"), "doc_id", "text")
    assert(heldIds("rebuilt") === Set(0L, 1L) && giIds("rebuilt") === Set(0L, 1L), "rebuild")
    assert(heldIds("doc") === Set(0L) && giIds("doc") === Set(0L), "rebuild")
    gi.drop()
  }

  test("one budget: the FTS image is charged the semantic image; broad filters are not collected") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    val docs = IndexFixtures.docs(spark)
    val path = "/tmp/graft_resident_budget"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, docs.filter(col("doc_id") < 30),
      Some((0L until 30L).map(i => (i, s"""{"title": "doc w$i", "grp": ${i % 3}}"""))
        .toDF("order", "json")))
    val ftsPath = s"$path/fts"
    val ftsBytes = FtsIndex.residentBytesEstimate(ftsPath)
    val semBytes = Searcher.residentBytes(gi.index, Long.MaxValue)
    assert(ftsBytes > 0L && semBytes > ftsBytes, s"fixture: fts $ftsBytes, semantic $semBytes")

    // combined: with the semantic image resident the FTS image needs
    // the sum; a standalone handle (no sibling image) only its own
    val both = semBytes + ftsBytes
    assert(gi.ftsIndex.residentImage(both).isDefined)
    assert(gi.ftsIndex.residentImage(both - 1).isEmpty, "sum over budget: FTS image admitted")
    assert(new FtsIndex(spark, ftsPath).residentImage(both - 1).isDefined)
    // a budget below the semantic image charges nothing for it
    assert(gi.ftsIndex.residentImage(ftsBytes).isDefined)

    // FtsIndex.search: a subset whose ids do not fit the budget takes
    // the distributed plan instead of being collected
    val standalone = new FtsIndex(spark, ftsPath)
    val wide = spark.range(0L, ftsBytes / 64 + 1).toDF("doc_id")
    val viaPlan = standalone.search("doc", 5, Some(wide), ftsBytes)
    assert(!isLocal(viaPlan), "a subset over the budget was collected")
    assertSameHits(rows(viaPlan), rows(standalone.search("doc", 5, Some(wide), 0L)), "wide subset")
    assert(isLocal(standalone.search("doc", 5, Some(Seq(1L, 2L).toDF("doc_id")), ftsBytes)))

    // hybrid with a broad filter, FTS image resident, semantic image
    // over the budget: the driver fuses, and the semantic leg's plan
    // gets the metadata filter itself, never a driver-collected id list
    val qs = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("embeddings"))
      .as[(Long, Array[Array[Float]])].collect().toSeq.toDF("query_id", "embeddings")
    val broad = Some(("grp >= ?", Seq[graft.meta.Where.Param](graft.meta.Where.SLong(0L))))
    val counted = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") counted.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val resident =
      try {
        val out = gi.hybrid(qs, "doc w1", HybridParams(topK = 5,
          searchParams = SearchParams(localIndexBudgetBytes = ftsBytes)), broad)
        // listener events arrive in order: once the fence count is
        // seen, every count of the call has been recorded
        spark.range(1).toDF("graft_fence").count()
        val deadline = System.nanoTime() + 30L * 1000000000L
        def fenced = counted.toArray(Array.empty[LogicalPlan])
          .exists(_.find(_.output.exists(_.name == "graft_fence")).isDefined)
        while (!fenced) {
          assert(System.nanoTime() < deadline, "query listener fence never arrived")
          Thread.sleep(5)
        }
        out
      } finally spark.listenerManager.unregister(listener)
    assert(isLocal(resident), "FTS image resident: the driver path was not taken")
    val plans = counted.toArray(Array.empty[LogicalPlan]).toSeq
    assert(plans.exists(_.collectLeaves().exists(_.isInstanceOf[LogicalRelation])),
      "the filter was never counted")
    assert(!plans.exists(_.collectLeaves().forall(_.isInstanceOf[LocalRelation])),
      "a driver-collected id list reached the semantic leg")
    val distributed = gi.hybrid(qs, "doc w1", HybridParams(topK = 5,
      searchParams = SearchParams(localIndexBudgetBytes = 0L)), broad)
    def hits(df: DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).sorted.toSeq
    assert(hits(resident) === hits(distributed))
    gi.drop()
  }
}

/** The small embedding corpus the facade specs index: the sf0.001
  * embeddings table of the shared test data (TESTDATA.md). */
object IndexFixtures {
  private val Embeddings = "/root/testdata/sf0.001/embeddings.parquet"

  /** Cancels, not fails, a test on a machine without the test data. */
  def requireTestdata(): Unit =
    org.scalatest.Assertions.assume(graft.util.Fs.exists(Embeddings), s"$Embeddings not present")

  def docs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.read.parquet(Embeddings)
      .select((col("vec_id") / 5).cast("long").as("doc_id"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .map { case (d, v, e) => (d, v, graft.core.MaxSim.l2Normalize(e)) }
      .toDF("doc_id", "vec_id", "embedding")
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("embeddings"))
  }
}
