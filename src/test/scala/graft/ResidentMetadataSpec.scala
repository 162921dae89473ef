package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fts.FtsIndex
import graft.meta.Where
import graft.meta.Where.{SLong, SStr}
import graft.search.{HybridParams, SearchParams, Searcher}

/** The driver-resident metadata image behind filtered searches: its
  * staleness guard across every metadata write, its admission against
  * the budget the semantic and FTS images share, and the once-per-session
  * registration of the REGEXP kernel its conditions call. */
class ResidentMetadataSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def metaJson(ids: Seq[Long], key: Long => String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"""{"title": "doc", "key": "${key(i)}", "grp": ${i % 2}}"""))
      .toDF("order", "json")
  }

  test("a held GraftIndex never serves a pre-write filter result") {
    IndexFixtures.requireTestdata()
    val docs = IndexFixtures.docs(spark)
    val path = "/tmp/graft_resident_meta_stale"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, docs.filter(col("doc_id") < 20),
      Some(metaJson(0L until 20L, i => s"k$i")))
    val q = docs.filter(col("doc_id") === 0L)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    // every centroid of a small subset is probed and no centroid is
    // pruned, so a filtered search returns its whole subset
    val all = SearchParams(topK = 50, centroidScoreThreshold = None)
    def check(keys: Seq[String], expect: Set[Long], clue: String): Unit = {
      val cond = ("key IN (" + keys.map(_ => "?").mkString(", ") + ")", keys.map(SStr))
      val semantic = gi.searchFiltered(q, cond._1, cond._2, all)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(semantic === expect, s"$clue: searchFiltered")
      val keyword = gi.hybrid(q, "doc", HybridParams(mode = "keyword", topK = 50), Some(cond))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(keyword === expect, s"$clue: hybrid keyword with a condition")
    }
    // warm the image first, so each check below follows a write
    check(Seq("k7", "k9"), Set(7L, 9L), "create")
    assert(gi.residentMetadata(SearchParams().localIndexBudgetBytes).isDefined)

    // same-shape metadata: a parquet append
    gi.addDocuments(docs.filter(col("doc_id") >= 20 && col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") - 20), Some(metaJson(0L until 5L, i => s"n$i")))
    check(Seq("n2", "k7"), Set(22L, 7L), "add")

    // eager delete rewrites and renumbers: 3 and 7 go, 8.. shift by two
    gi.deleteDocuments(ids = Some(Seq(3L, 7L)))
    check(Seq("k7"), Set.empty, "delete")
    check(Seq("k8", "n2"), Set(6L, 20L), "delete")

    gi.metadataUpdateWhere("key = ?", Seq(SStr("k9")), Map("key" -> lit("moved")))
    check(Seq("moved"), Set(7L), "update")
    check(Seq("k9"), Set.empty, "update")
    gi.drop()
  }

  test("the metadata image is admitted after the semantic and FTS charges, and over-budget reads parquet") {
    IndexFixtures.requireTestdata()
    val docs = IndexFixtures.docs(spark)
    val path = "/tmp/graft_resident_meta_budget"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, docs.filter(col("doc_id") < 20),
      Some(metaJson(0L until 20L, i => s"k$i")))
    val meta = GraftIndex.metadataBytesEstimate(s"$path/meta")
    val fts = FtsIndex.residentBytesEstimate(s"$path/fts")
    val sem = Searcher.residentBytes(gi.index, Long.MaxValue)
    assert(meta > 0L && fts > 0L && sem > meta + fts,
      s"fixture: metadata $meta, fts $fts, semantic $sem")

    // all three images resident: the metadata image needs the sum
    assert(gi.residentMetadata(sem + fts + meta).isDefined)
    assert(gi.residentMetadata(sem + fts + meta - 1).isEmpty, "sum over budget: image admitted")
    // below the semantic image, that image charges nothing; the FTS
    // image is still charged
    assert(gi.residentMetadata(fts + meta).isDefined)
    assert(gi.residentMetadata(fts + meta - 1).isEmpty,
      "the FTS image's charge was not counted")
    assert(gi.residentMetadata(0L).isEmpty)

    // refused: the filter reads the stored table, same answer
    val q = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    def hits(budget: Long) = gi.searchFiltered(q, "grp = ?", Seq(SLong(1L)),
        SearchParams(localIndexBudgetBytes = budget))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).sorted.toSeq
    assert(hits(sem + fts + meta - 1) === hits(sem + fts + meta))
    gi.drop()
  }

  test("the REGEXP kernel is registered once per session") {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(Where.UdfName)
    Where.ensureUdfs(spark)
    val first = registry.lookupFunctionBuilder(id)
    Where.ensureUdfs(spark)
    assert(first.isDefined && registry.lookupFunctionBuilder(id).exists(_ eq first.get),
      "a second call re-registered the function")

    val other = spark.newSession()
    assert(!other.sessionState.functionRegistry.functionExists(id))
    import other.implicits._
    val table = Seq((0L, "alpha"), (1L, "beta")).toDF("_subset_", "name")
    val ids = graft.meta.MetadataOps.whereCondition(table, "_subset_", "name REGEXP ?",
      Seq(SStr("^b"))).collect().map(_.getLong(0))
    assert(ids.toSeq === Seq(1L))
    assert(other.sessionState.functionRegistry.functionExists(id))
  }
}
