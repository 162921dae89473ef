package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.search.{HybridParams, SearchParams, Searcher}

/** Job-count guard for the serving paths: a warm semantic, keyword,
  * hybrid or filtered search on a small index runs NO Spark job
  * (resident BM25, semantic and metadata images, driver-side fusion),
  * for a single query and for a batch, also after a deferred delete, and
  * a zero resident budget keeps the distributed plan reachable — for
  * semantic search, one job per funnel phase. */
class ServingJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Counts job starts and records their job descriptions; a job run
    * under the `graft.fence` local property is a fence: listener events
    * arrive in order, so once the fence's start is seen every earlier
    * job start has been counted. */
  private object Jobs extends SparkListener {
    val started = new AtomicInteger(0)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var fence = ""
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("graft.fence"))) match {
        case Some(f) => fence = f
        case None =>
          started.incrementAndGet()
          descriptions.add(String.valueOf(e.properties.getProperty("spark.job.description")))
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
  }

  private def drain(): Unit = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    sc.setLocalProperty("graft.fence", id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("graft.fence", null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (Jobs.fence != id) {
      assert(System.nanoTime() < deadline, "listener fence never arrived")
      Thread.sleep(5)
    }
  }

  private def jobsOf(f: => Unit): Int = {
    drain()
    Jobs.started.set(0)
    Jobs.descriptions.clear()
    Jobs.groups.clear()
    f
    drain()
    Jobs.started.get()
  }

  test("warm keyword and hybrid requests run 0 Spark jobs; budget 0 runs the distributed plan") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    val path = "/tmp/graft_serving_jobs"
    graft.util.Fs.deleteRecursively(path)
    val docs = IndexFixtures.docs(spark).filter(col("doc_id") < 30)
    val meta = (0L until 30L).map(i =>
      (i, s"""{"title": "doc $i", "group": ${i % 3}}""")).toDF("order", "json")
    val gi = GraftIndex.create(spark, path, docs, Some(meta))
    // one serving request: a local query frame, as a request handler builds
    val q = docs.filter(col("doc_id") === 4L)
      .select(col("doc_id").as("query_id"), col("embeddings"))
      .as[(Long, Array[Array[Float]])].collect().toSeq.toDF("query_id", "embeddings")
    spark.sparkContext.addSparkListener(Jobs)
    try {
      // warm: the first calls collect the resident images
      gi.ftsIndex.search("doc", 10).collect()
      gi.hybrid(q, "doc").collect()
      assert(jobsOf(assert(gi.ftsIndex.search("doc", 10).collect().length === 10)) === 0,
        "warm keyword search launched Spark jobs")
      for (fusion <- Seq("relative_score", "rrf"); mode <- Seq("hybrid", "keyword"))
        assert(jobsOf(assert(gi.hybrid(q, "doc",
            HybridParams(mode = mode, fusion = fusion)).collect().length === 10)) === 0,
          s"warm $mode/$fusion search launched Spark jobs")
      val distributed = HybridParams(searchParams = SearchParams(localIndexBudgetBytes = 0L))
      var viaPlan: Array[org.apache.spark.sql.Row] = null
      assert(jobsOf { viaPlan = gi.hybrid(q, "doc", distributed).collect() } > 0,
        "a zero budget must keep the distributed hybrid plan")
      // and both plans answer alike (same docs, same ranks)
      val resident = gi.hybrid(q, "doc").collect()
      def key(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"))).sortBy(_._2).toSeq
      assert(key(viaPlan) === key(resident))
    } finally spark.sparkContext.removeSparkListener(Jobs)
    gi.drop()
  }

  test("warm filtered requests run 0 Spark jobs; budget 0 and over-budget metadata read parquet") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    import graft.meta.Where.{SLong, SStr}
    val path = "/tmp/graft_serving_jobs_filtered"
    graft.util.Fs.deleteRecursively(path)
    val docs = IndexFixtures.docs(spark).filter(col("doc_id") < 30)
    val meta = (0L until 30L).map(i =>
      (i, s"""{"title": "doc $i", "group": ${i % 3}}""")).toDF("order", "json")
    val gi = GraftIndex.create(spark, path, docs, Some(meta))
    val q = docs.filter(col("doc_id") === 4L)
      .select(col("doc_id").as("query_id"), col("embeddings"))
      .as[(Long, Array[Array[Float]])].collect().toSeq.toDF("query_id", "embeddings")
    // both conditions select the query's own doc 4, so neither result is empty
    val conds = Seq("group = ?" -> Seq(SLong(1L)), "title REGEXP ?" -> Seq(SStr("^doc [1-4]$")))
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"))).sortBy(_._2).toSeq
    def filtered(c: String, ps: Seq[graft.meta.Where.Param], p: SearchParams) =
      gi.searchFiltered(q, c, ps, p).collect()
    spark.sparkContext.addSparkListener(Jobs)
    try {
      // warm: the first call collects the metadata image
      filtered("group = ?", Seq(SLong(1L)), SearchParams())
      gi.hybrid(q, "doc", cond = Some(conds.head)).collect()
      for ((c, ps) <- conds) {
        var resident: Array[org.apache.spark.sql.Row] = null
        assert(jobsOf { resident = filtered(c, ps, SearchParams()) } === 0,
          s"warm filtered search ($c) launched Spark jobs")
        assert(resident.nonEmpty)
        assert(jobsOf(assert(gi.hybrid(q, "doc", cond = Some((c, ps))).collect().nonEmpty)) === 0,
          s"warm filtered hybrid search ($c) launched Spark jobs")
        var viaPlan: Array[org.apache.spark.sql.Row] = null
        assert(jobsOf { viaPlan = filtered(c, ps, SearchParams(localIndexBudgetBytes = 0L)) } > 0,
          "a zero budget must keep the parquet plan")
        assert(key(viaPlan) === key(resident), c)
      }
      // a metadata image one byte over what the semantic and FTS images
      // leave: the semantic image stays resident, the filter reads parquet
      val over = Searcher.residentBytes(gi.index, Long.MaxValue) +
        graft.fts.FtsIndex.residentBytesEstimate(s"$path/fts") +
        GraftIndex.metadataBytesEstimate(s"$path/meta") - 1
      assert(gi.residentMetadata(over).isEmpty)
      var overBudget: Array[org.apache.spark.sql.Row] = null
      assert(jobsOf { overBudget = filtered("group = ?", Seq(SLong(1L)),
        SearchParams(localIndexBudgetBytes = over)) } > 0,
        "over-budget metadata must take the parquet plan")
      assert(key(overBudget) === key(filtered("group = ?", Seq(SLong(1L)), SearchParams())))
    } finally spark.sparkContext.removeSparkListener(Jobs)
    gi.drop()
  }

  test("warm semantic search runs 0 Spark jobs for 1 and 8 queries; budget 0 runs the distributed funnel") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    val path = "/tmp/graft_serving_jobs_semantic"
    graft.util.Fs.deleteRecursively(path)
    val docs = IndexFixtures.docs(spark).filter(col("doc_id") < 30)
    val idx = graft.index.MultiVectorIndex.build(spark, docs, path)
    val searcher = new Searcher(idx)
    // local query frames, as a request handler builds them
    val embs = docs.select("doc_id", "embeddings")
      .as[(Long, Array[Array[Float]])].collect().sortBy(_._1)
    def queries(n: Int): DataFrame = embs.take(n).toSeq.toDF("query_id", "embeddings")
    assert(Searcher.residentBytes(idx, SearchParams().localIndexBudgetBytes) > 0,
      "fixture index must be served by the driver-held image")
    def ranks(n: Int, p: SearchParams) = searcher.search(queries(n), p)
      .select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    spark.sparkContext.addSparkListener(Jobs)
    try {
      searcher.search(queries(1)).collect() // warm: collects the image
      for (n <- Seq(1, 8)) {
        var resident: Set[(Long, Long, Double, Int)] = null
        assert(jobsOf { resident = ranks(n, SearchParams()) } === 0,
          s"warm $n-query semantic search launched Spark jobs")
        var viaPlan: Set[(Long, Long, Double, Int)] = null
        val sc = spark.sparkContext
        sc.setJobDescription("caller")
        val jobs =
          try jobsOf { viaPlan = ranks(n, SearchParams(localIndexBudgetBytes = 0L)) }
          finally {
            assert(sc.getLocalProperty("spark.job.description") === "caller",
              "the search did not restore the caller's job description")
            sc.setJobDescription(null)
          }
        assert(jobs > 0, "a zero budget must keep the distributed funnel")
        // one job per funnel phase over the parquet slices (an index
        // with tombstones would add their read; this one has none), each
        // named by its phase
        assert(idx.tombstonesOpt.isEmpty)
        assert(jobs <= 2, s"$n-query parquet-placement search ran $jobs jobs, not one per phase")
        import scala.jdk.CollectionConverters._
        assert(Jobs.descriptions.asScala.toSet === Set("search phase A", "search phase B"))
        assert(resident.map(_._1).size === n)
        assert(resident === viaPlan)
      }
    } finally spark.sparkContext.removeSparkListener(Jobs)
    graft.util.Fs.deleteRecursively(path)
  }

  test("Plan.countIds counts a local-relation subset with 0 jobs and a parquet subset exactly") {
    import spark.implicits._
    val path = "/tmp/graft_serving_jobs_ids"
    graft.util.Fs.deleteRecursively(path)
    (0L until 100L).toDF("doc_id").write.parquet(path)
    // a filter over a local relation: what a filter over the resident
    // metadata image, or an already collected id list, optimizes to
    val local = (0L until 100L).toDF("doc_id").filter(col("doc_id") % 3 === 0)
    val parquet = spark.read.parquet(path).filter(col("doc_id") % 3 === 0)
    spark.sparkContext.addSparkListener(Jobs)
    try {
      var n = -1L
      assert(jobsOf { n = graft.util.Plan.countIds(local) } === 0)
      assert(n === 34L)
      assert(graft.util.Plan.countIds(parquet) === 34L)
      assert(graft.util.Plan.countIds(parquet.filter(col("doc_id") < 0)) === 0L)
    } finally spark.sparkContext.removeSparkListener(Jobs)
    graft.util.Fs.deleteRecursively(path)
  }

  test("after a deferred delete, warm semantic, keyword and hybrid requests run 0 Spark jobs and hide the tombstoned docs") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    val path = "/tmp/graft_serving_jobs_tombstones"
    graft.util.Fs.deleteRecursively(path)
    val docs = IndexFixtures.docs(spark).filter(col("doc_id") < 30)
    val meta = (0L until 30L).map(i =>
      (i, s"""{"title": "doc $i", "group": ${i % 3}}""")).toDF("order", "json")
    val gi = GraftIndex.create(spark, path, docs, Some(meta))
    // query i is doc i's own embeddings, so doc i ranks first for it
    // until it is deleted
    val embs = docs.select("doc_id", "embeddings")
      .as[(Long, Array[Array[Float]])].collect().sortBy(_._1)
    def queries(n: Int): DataFrame = embs.take(n).toSeq.toDF("query_id", "embeddings")
    // no centroid is pruned, so a query keeps candidates besides its own doc
    val sp = SearchParams(centroidScoreThreshold = None)
    val requests: Seq[(String, () => DataFrame)] = Seq(
      "1-query semantic" -> (() => gi.search(queries(1), sp)),
      "8-query semantic" -> (() => gi.search(queries(8), sp)),
      "keyword" -> (() => gi.hybrid(queries(1), "doc",
        HybridParams(mode = "keyword", topK = 30, searchParams = sp))),
      "hybrid" -> (() => gi.hybrid(queries(1), "doc", HybridParams(topK = 30, searchParams = sp))))
    def hits(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
    // doc 0 is the first query's top hit and doc 5 the sixth's
    for ((name, request) <- requests)
      assert(Set(0L, 5L).intersect(hits(request())).contains(0L), s"$name before the deletes")
    spark.sparkContext.addSparkListener(Jobs)
    try {
      for (deleted <- Seq(Set(0L), Set(0L, 5L))) {
        gi.deleteDocuments(ids = Some(Seq(deleted.max)), deferred = true)
        assert(gi.index.tombstonesOpt.isDefined && gi.count === 30L - deleted.size)
        for ((name, request) <- requests) {
          val first = hits(request())
          assert(first.nonEmpty && (first & deleted).isEmpty,
            s"$name: the request right after the delete of ${deleted.max} returned $first")
          var warm = Set.empty[Long]
          assert(jobsOf { warm = hits(request()) } === 0,
            s"warm $name search with tombstones ${deleted.mkString(",")} launched Spark jobs")
          assert(warm === first, name)
        }
      }
    } finally spark.sparkContext.removeSparkListener(Jobs)
    gi.drop()
  }

  test("an eager delete by ids runs at most 12 jobs; the first search on a freshly opened handle at most 4") {
    IndexFixtures.requireTestdata()
    // Spark's default broadcast threshold, session-local: the shared
    // session's is whatever an earlier spec of the run left there
    val spark = this.spark.newSession()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    import spark.implicits._
    val path = "/tmp/graft_serving_jobs_writes"
    graft.util.Fs.deleteRecursively(path)
    val docs = IndexFixtures.docs(spark).filter(col("doc_id") < 30)
    val meta = (0L until 30L).map(i =>
      (i, s"""{"title": "doc $i", "group": ${i % 3}}""")).toDF("order", "json")
    val gi = GraftIndex.create(spark, path, docs, Some(meta))
    val q = docs.filter(col("doc_id") === 4L)
      .select(col("doc_id").as("query_id"), col("embeddings"))
      .as[(Long, Array[Array[Float]])].collect().toSeq.toDF("query_id", "embeddings")
    spark.sparkContext.addSparkListener(Jobs)
    try {
      // one narrow pass per remapped table (tokens, doclens, doc_codes,
      // IVF, raw docs, metadata, FTS postings and doclens), no open or
      // count job
      val deleteJobs = jobsOf(gi.deleteDocuments(ids = Some(Seq(1L, 8L, 20L))): Unit)
      assert(deleteJobs <= 12, s"the eager delete ran $deleteJobs jobs")
      // the semantic image: IVF, doc codes, tokens and codebook, one
      // collect each
      var hits: Array[org.apache.spark.sql.Row] = null
      val searchJobs = jobsOf { hits = GraftIndex.open(spark, path).search(q).collect() }
      assert(searchJobs <= 4, s"the first search on a fresh handle ran $searchJobs jobs")
      // old doc 4 is doc 3 now (one deleted id below it)
      assert(hits.minBy(_.getAs[Int]("rank")).getAs[Long]("doc_id") === 3L)
    } finally spark.sparkContext.removeSparkListener(Jobs)
    gi.drop()
  }

  test("a cold create with metadata runs at most 26 jobs, each under the caller's job group; so does a queued add") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    val sc = spark.sparkContext
    val path = "/tmp/graft_serving_jobs_create"
    graft.util.Fs.deleteRecursively(path)
    UpdateJobs.reset()
    val all = IndexFixtures.docs(spark).filter(col("doc_id") < 40).cache()
    def meta(ids: Range) = ids.map(i =>
      (i.toLong, s"""{"title": "doc $i", "group": ${i % 3}}""")).toDF("order", "json")
    val docs = all.filter(col("doc_id") < 30)
    def batch(from: Int, to: Int) = all.filter(col("doc_id") >= from && col("doc_id") < to)
      .select((col("doc_id") - from).as("doc_id"), col("embeddings"))
    all.count()
    spark.sparkContext.addSparkListener(Jobs)
    try {
      sc.setJobGroup("create-group", "cold create")
      var gi: GraftIndex = null
      val createJobs = jobsOf { gi = GraftIndex.create(spark, path, docs, Some(meta(0 until 30))) }
      // the input is read once into a cache (its stats pass and the cache
      // stage over this fixture's cached frame are 2 jobs), then raw
      // docs, k-means, heldout, the writer and the codebook; the JSON
      // inference, re-sequencer and FTS run on the side. Each extra scan
      // of the input would add a job here.
      assert(createJobs <= 26, s"the cold create ran $createJobs jobs")
      assert(Jobs.groups.toArray.toSet === Set("create-group"))

      // the update lane's thread exists from the first add on and keeps
      // its own properties: the second add must still carry its caller's
      sc.setJobGroup("first-add-group", "first add")
      gi.addDocumentsAsync(batch(30, 35), Some(meta(0 until 5))).get()
      sc.setJobGroup("add-group", "queued add")
      val addJobs = jobsOf(gi.addDocumentsAsync(batch(35, 40), Some(meta(0 until 5))).get(): Unit)
      assert(addJobs > 0)
      assert(Jobs.groups.toArray.toSet === Set("add-group"))
      assert(gi.count === 40L)
    } finally {
      sc.clearJobGroup()
      spark.sparkContext.removeSparkListener(Jobs)
      all.unpersist()
      UpdateJobs.reset()
    }
    GraftIndex.open(spark, path).drop()
  }
}
