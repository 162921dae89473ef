package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.fts.{FtsIndex, Hybrid}
import graft.meta.Where.SLong
import graft.search.{HybridParams, SearchParams, Searcher}

/** The two ends of a resident request: the one query reader
  * ([[Searcher.readQueries]]: a local query frame read from its rows,
  * any other frame collected) and the one result builder
  * ([[Searcher.localFrame]]: result frames built from driver rows under
  * a fixed schema). The reader reads the same map as a typed collect and
  * refuses duplicated query ids; every resident result frame has the
  * schema, and the rows, that a `Seq.toDF` of the same driver rows gave. */
class ResidentFramesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def emb(seed: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(2 + seed % 3)(Array.fill(8)(rnd.nextFloat()))
  }

  /** The map a typed collect reads: the reader's reference. */
  private def collected(f: DataFrame): Map[Long, Seq[Seq[Float]]] = {
    import spark.implicits._
    f.select("query_id", "embeddings").as[(Long, Array[Array[Float]])].collect()
      .map { case (q, e) => q -> e.toSeq.map(_.toSeq) }.toMap
  }

  private def read(f: DataFrame): Map[Long, Seq[Seq[Float]]] =
    Searcher.readQueries(f).map { case (q, e) => q -> e.toSeq.map(_.toSeq) }

  test("the query reader reads local frames from their rows and collects any other frame, to the same map") {
    import spark.implicits._
    val qs = (0 until 4).map(i => (i.toLong, emb(i)))
    val path = "/tmp/graft_resident_frames_queries"
    graft.util.Fs.deleteRecursively(path)
    qs.toDF("query_id", "embeddings").write.parquet(path)
    val rowsSchema = StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("embeddings", ArrayType(ArrayType(FloatType, containsNull = false)))))
    val frames: Seq[(String, DataFrame, Boolean)] = Seq(
      ("Seq.toDF", qs.toDF("query_id", "embeddings"), true),
      ("int query_id", qs.map { case (q, e) => (q.toInt, e) }.toDF("query_id", "embeddings"), true),
      ("swapped columns", qs.map(_.swap).toDF("embeddings", "query_id"), true),
      ("renamed and reordered",
        qs.toDF("id", "e").select(col("e").as("embeddings"), col("id").as("query_id")), true),
      ("extra column",
        qs.map { case (q, e) => (q, s"note $q", e) }.toDF("query_id", "note", "embeddings"), true),
      ("createDataFrame", spark.createDataFrame(
        java.util.Arrays.asList(qs.map { case (q, e) => Row(q, e.toSeq.map(_.toSeq)) }: _*),
        rowsSchema), true),
      ("filtered local", qs.toDF("query_id", "embeddings").filter(col("query_id") > 0L), false),
      ("computed column",
        qs.toDF("query_id", "embeddings").select((col("query_id") + 1L).as("query_id"),
          col("embeddings")), false),
      ("parquet", spark.read.parquet(path), false))
    for ((name, f, local) <- frames) {
      assert(Searcher.localQueries(f).isDefined === local, s"$name: local read taken")
      val expect = collected(f)
      assert(expect.nonEmpty, name)
      assert(read(f) === expect, name)
      // the ids-only read of a keyword request, and its cap
      assert(Searcher.readQueryIds(f, 4).map(_.toSeq) === Some(expect.keys.toSeq.sorted), name)
      assert(Searcher.readQueryIds(f, expect.size - 1).isEmpty, name)
    }
    graft.util.Fs.deleteRecursively(path)
  }

  test("a duplicated query_id fails the request on the local read and on the collect fallback") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    val path = "/tmp/graft_resident_frames_dup"
    graft.util.Fs.deleteRecursively(path)
    val docs = IndexFixtures.docs(spark).filter(col("doc_id") < 10)
    val idx = graft.index.MultiVectorIndex.build(spark, docs, path)
    val searcher = new Searcher(idx)
    val e = docs.filter(col("doc_id") < 2L).select("doc_id", "embeddings")
      .as[(Long, Array[Array[Float]])].collect().sortBy(_._1).map(_._2)
    val dup = Seq((7L, e(0)), (3L, e(0)), (7L, e(1))).toDF("query_id", "embeddings")
    val viaCollect = dup.filter(col("query_id") >= 0L)
    assert(Searcher.localQueries(dup).isDefined && Searcher.localQueries(viaCollect).isEmpty)
    for ((name, f) <- Seq("local read" -> dup, "collect fallback" -> viaCollect)) {
      for (read <- Seq[() => Any](() => searcher.search(f), () => Searcher.readQueryIds(f, 10))) {
        val err = intercept[IllegalArgumentException](read())
        assert(err.getMessage.contains("query_id 7 appears more than once"), s"$name: ${err.getMessage}")
      }
    }
    graft.util.Fs.deleteRecursively(path)
  }

  /** The schema every `(query_id, doc_id, score, rank)` frame had as a
    * `Seq.toDF` of driver tuples. */
  private val resultSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  /** (query_id, doc_id, rank, score bits), in frame order. */
  private def bits(df: DataFrame): Seq[(Long, Long, Int, Long)] =
    df.select("query_id", "doc_id", "rank", "score").collect().toSeq.map { r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    }

  /** The frame a `Seq.toDF` of the same driver rows gives. */
  private def toDF(hits: Seq[(Long, Long, Double, Int)]): DataFrame = {
    import spark.implicits._
    hits.toDF("query_id", "doc_id", "score", "rank")
  }

  test("resident semantic, filtered, keyword and hybrid frames keep the toDF schema and rows") {
    IndexFixtures.requireTestdata()
    import spark.implicits._
    val path = "/tmp/graft_resident_frames"
    graft.util.Fs.deleteRecursively(path)
    val docs = IndexFixtures.docs(spark).filter(col("doc_id") < 30)
    val meta = (0L until 30L).map(i =>
      (i, s"""{"title": "doc $i", "group": ${i % 3}}""")).toDF("order", "json")
    val gi = GraftIndex.create(spark, path, docs, Some(meta))
    val embs = docs.select("doc_id", "embeddings")
      .as[(Long, Array[Array[Float]])].collect().sortBy(_._1)
    val q = embs.slice(4, 5).toSeq.toDF("query_id", "embeddings")
    val q8 = embs.take(8).toSeq.toDF("query_id", "embeddings")
    val queryMap = Searcher.readQueries(q)
    val budget = SearchParams().localIndexBudgetBytes
    val searcher = new Searcher(gi.index)
    val distributed = SearchParams(localIndexBudgetBytes = 0L)

    def same(got: DataFrame, expect: DataFrame, clue: String): Unit = {
      assert(got.schema === resultSchema, clue)
      assert(bits(got) === bits(expect), clue)
    }
    // semantic, 1 and 8 queries: the funnel's rows as toDF framed them,
    // and the distributed funnel's rows
    for (qs <- Seq(q, q8)) {
      val n = Searcher.readQueries(qs).size
      val got = gi.search(qs)
      same(got, toDF(searcher.residentRows(Searcher.readQueries(qs), SearchParams(), None)),
        s"$n-query semantic")
      assert(bits(got).sorted === bits(gi.search(qs, distributed)).sorted, s"$n-query semantic")
    }
    // filtered: the subset's ids as the request collects them
    val ids = (0L until 30L).filter(_ % 3 == 1).toArray
    val filtered = gi.searchFiltered(q, "group = ?", Seq(SLong(1L)))
    same(filtered, toDF(searcher.residentRows(queryMap, SearchParams(), Some(ids))), "filtered")
    assert(bits(filtered).sorted ===
      bits(gi.searchFiltered(q, "group = ?", Seq(SLong(1L)), distributed)).sorted, "filtered")

    // keyword with Long ids: the image's hits as toDF + cast framed them
    def kwFrame(img: FtsIndex.Bm25Image, docIdType: DataType, query: String, k: Int) =
      img.topK(query, k, None, Array.emptyLongArray).toSeq.toDF("doc_id", "score", "rank")
        .select(col("doc_id").cast(docIdType).as("doc_id"), col("score"), col("rank"))
    def kwRows(df: DataFrame) = df.collect().toSeq.map(r =>
      (r.getAs[Number](0).longValue, r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    val img = gi.ftsIndex.residentImage(budget).getOrElse(fail("no resident BM25 image"))
    val kw = gi.ftsIndex.search("doc", 10)
    val kwExpect = kwFrame(img, LongType, "doc", 10)
    assert(kw.schema === kwExpect.schema && kw.schema("doc_id").dataType === LongType)
    assert(kwRows(kw) === kwRows(kwExpect))
    // the distributed plan's arithmetic may differ in the last bits
    def ranked(df: DataFrame) = kwRows(df).map(h => (h._1, h._2))
    assert(ranked(kw) === ranked(gi.ftsIndex.search("doc", 10, localBudgetBytes = 0L)))

    // keyword with Int ids
    val intPath = s"$path-int-fts"
    graft.util.Fs.deleteRecursively(intPath)
    val intFts = FtsIndex.build(spark,
      (0 until 30).map(i => (i, s"doc $i word${i % 4}")).toDF("doc_id", "text"),
      "doc_id", "text", intPath)
    val intImg = intFts.residentImage(budget).getOrElse(fail("no resident Int-id image"))
    for (query <- Seq("doc", "word2")) {
      val got = intFts.search(query, 10)
      val expect = kwFrame(intImg, IntegerType, query, 10)
      assert(got.schema === expect.schema && got.schema("doc_id").dataType === IntegerType, query)
      assert(kwRows(got) === kwRows(expect), query)
      assert(ranked(got) === ranked(intFts.search(query, 10, localBudgetBytes = 0L)), query)
    }
    graft.util.Fs.deleteRecursively(intPath)

    // hybrid, every mode and fusion: the driver fusion of the two legs'
    // rows as toDF framed it
    val kwHits = (k: Int) => img.topK("doc", k, None, Array.emptyLongArray).toSeq
      .map { case (d, sc, r) => (4L, d, sc, r) }
    for (mode <- Seq("semantic", "keyword", "hybrid"); fusion <- Seq("relative_score", "rrf")) {
      val p = HybridParams(mode = mode, fusion = fusion)
      val fetchK = if (mode == "hybrid") Hybrid.fetchK(p.topK) else p.topK
      val sem = searcher.residentRows(queryMap, SearchParams(topK = fetchK), None)
      val expect = mode match {
        case "semantic" => sem
        case "keyword" => kwHits(fetchK)
        case _ if fusion == "rrf" => Hybrid.rrfLocal(sem, kwHits(fetchK), p.alpha, p.topK)
        case _ => Hybrid.relativeScoreLocal(sem, kwHits(fetchK), p.alpha, p.topK)
      }
      same(gi.hybrid(q, "doc", p), toDF(expect), s"hybrid $mode/$fusion")
    }
    gi.drop()
  }
}
