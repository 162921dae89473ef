package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexConfig, MultiVectorIndex}
import graft.util.Fs

/** `GraftIndex.create` builds the vector index on the calling thread and
  * the metadata table and its FTS on a second one. Pins that two creates
  * of one input write the same tables, that a failure on the side thread
  * reaches the caller as itself with the thread joined, and the build's
  * input contract: every doc has at least one token, all of one dim. */
class CreateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Seeded Gaussian docs of 4–9 tokens × 16 dims, L2-normalized, in
    * `parts` partitions; `tokens(i)` overrides the token count of doc i. */
  private def mkDocs(n: Int, parts: Int, dim: Int = 16,
      tokens: Int => Int = i => 4 + i % 6): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val rows = (0 until n).map { i =>
      (i.toLong, Array.fill(tokens(i)) {
        graft.core.MaxSim.l2Normalize(Array.fill(dim)(rnd.nextGaussian().toFloat))
      })
    }
    spark.sparkContext.parallelize(rows, parts).toDF("doc_id", "embeddings")
  }

  private def mkMeta(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong,
      s"""{"title": "doc $i word${i % 7}", "group": ${i % 3}, "score": ${i * 0.5}}"""))
      .toDF("order", "json")
  }

  /** Rows and content hash, the columns in name order. */
  private def hash(df: DataFrame): (Long, Long) =
    Bench.forcedCountHash(df.select(df.columns.sorted.map(col).toIndexedSeq: _*))

  private val Tables = Seq("tokens", "ivf", "doclens", "doc_codes", "codec", "meta",
    "fts/postings", "fts/doclens")

  private def sideThreadsAlive: Boolean =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .exists(t => t.getName == "graft-create-meta" && t.isAlive)

  test("two creates of one input write equal tables and equal manifests apart from build_id") {
    val docs = mkDocs(60, 3)
    val meta = mkMeta(60)
    val paths = Seq("/tmp/graft_create_same_a", "/tmp/graft_create_same_b")
    paths.foreach(Fs.deleteRecursively)
    val cfg = IndexConfig(numPartitionsOverride = Some(16))
    paths.foreach(p => GraftIndex.create(spark, p, docs, Some(meta), cfg))
    Tables.foreach { t =>
      val Seq(a, b) = paths.map(p => hash(Fs.readParquet(spark, s"$p/$t")))
      assert(a._1 > 0, s"$t is empty")
      assert(a === b, s"$t differs between two creates of one input")
    }
    val Seq(ma, mb) = paths.map(p => new MultiVectorIndex(spark, p).manifest)
    assert(ma("build_id") !== mb("build_id"))
    assert(ma - "build_id" === mb - "build_id")
    assert(ma("num_documents") === "60")
    assert(GraftIndex.open(spark, paths.head).fsck().filter(!col("ok")).count() === 0)
    paths.foreach(Fs.deleteRecursively)
  }

  test("a metaJson without the order column throws its own exception from create, side thread joined") {
    import spark.implicits._
    val path = "/tmp/graft_create_bad_meta"
    Fs.deleteRecursively(path)
    val noOrder = Seq("""{"title": "a"}""", """{"title": "b"}""").toDF("json")
    val e = intercept[AnalysisException] {
      GraftIndex.create(spark, path, mkDocs(2, 1), Some(noOrder))
    }
    assert(e.getMessage.contains("order"), e.getMessage)
    assert(!sideThreadsAlive, "create returned with its side thread still running")
    Fs.deleteRecursively(path)
  }

  test("a failing vector build is rethrown after the metadata side is joined") {
    val path = "/tmp/graft_create_bad_docs"
    Fs.deleteRecursively(path)
    val e = intercept[IllegalArgumentException] {
      GraftIndex.create(spark, path, mkDocs(0, 1), Some(mkMeta(3)))
    }
    assert(e.getMessage.contains("empty document set"), e.getMessage)
    assert(!sideThreadsAlive, "create returned with its side thread still running")
    Fs.deleteRecursively(path)
  }

  test("a doc with no tokens fails the build, wherever it sits in its partition") {
    val path = "/tmp/graft_create_empty_doc"
    // 8 docs in 2 partitions: docs 0–3 and 4–7
    for (empty <- Seq(4, 7, 0, 3)) {
      Fs.deleteRecursively(path)
      val e = intercept[IllegalArgumentException] {
        MultiVectorIndex.build(spark, mkDocs(8, 2, tokens = i => if (i == empty) 0 else 3), path)
      }
      assert(e.getMessage.contains(
        s"every document needs at least one token embedding; doc_id $empty has none"),
        s"doc $empty: ${e.getMessage}")
    }
    Fs.deleteRecursively(path)
  }

  test("token embeddings of two dims fail the build") {
    import spark.implicits._
    val path = "/tmp/graft_create_mixed_dims"
    Fs.deleteRecursively(path)
    val docs = mkDocs(6, 2).union(
      Seq((6L, Array(Array(1f, 0f, 0f)))).toDF("doc_id", "embeddings"))
    val e = intercept[IllegalArgumentException](MultiVectorIndex.build(spark, docs, path))
    assert(e.getMessage.contains("token embeddings must share one dimension; found dims 3 to 16"),
      e.getMessage)
    Fs.deleteRecursively(path)
  }
}
