package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The profiling runner: its record is the forced (rows, hash) of the
  * gate, its job and stage counts repeat exactly, and the ×factor
  * replication recipes every scale point reads keep their invariants. */
class BenchOneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val Sf = "/root/testdata/sf0.001"

  private def requireTestdata(): Unit =
    assume(graft.util.Fs.exists(s"$Sf/documents.parquet"), s"$Sf not present")

  test("names expand by prefix, and v_index_search brings its two search legs") {
    val p = BenchOne.expand(Seq("p_dup*"))
    assert(p.nonEmpty && p.contains("p_dup_ngram") && p.forall(_.startsWith("p_dup")))
    assert(p === p.sorted)
    assert(BenchOne.expand(Seq("q1_pricing_agg", "v_index_search")) ===
      Seq("q1_pricing_agg", "v_index_search", "dense_search_64q", "sparse_search_64q"))
    assert(BenchOne.expand(Seq("v_index_search", "dense_search_64q")) ===
      Seq("v_index_search", "dense_search_64q"))
  }

  test("a run's (rows, hash) is Bench.forcedCountHash of the gate; jobs and stages repeat") {
    requireTestdata()
    // projection-shaped: a bare count() lets Catalyst prune its gram pipeline
    val Seq(("p_dup_ngram", r)) = BenchOne.run(spark, Seq("p_dup_ngram"), 2, Sf)
    assert(r.error.isEmpty, r.error)
    assert((r.rows, r.hash) ===
      Bench.forcedCountHash(SparkEntry.queries("p_dup_ngram")(spark, Sf)))
    assert(r.sec.size === 2 && r.jobs.size === 2 && r.stages.size === 2)
    assert(r.jobs.head > 0 && r.stages.head > 0)
    assert(r.jobs(1) === r.jobs.head && r.stages(1) === r.stages.head)
    val Seq((_, again)) = BenchOne.run(spark, Seq("p_dup_ngram"), 1, Sf)
    assert(again.jobs === r.jobs.take(1) && again.stages === r.stages.take(1))
    assert(BenchOne.queriesJson(Seq("p_dup_ngram" -> r)).startsWith(
      """{"p_dup_ngram":{"sec":["""))
  }

  test("an unknown name is recorded as that query's error") {
    val Seq((_, r)) = BenchOne.run(spark, Seq("no_such_query"), 2, Sf)
    assert(r.error.exists(_.contains("unknown query")))
    assert(r.sec.isEmpty && r.jobs === Seq(0))
  }

  test("replication at factor 2 doubles rows, keeps keys unique and replica 0's text") {
    requireTestdata()
    val base = java.nio.file.Files.createTempDirectory("graft_scale_x2").toString
    try {
      BenchOne.generateTables(spark, Sf, 2, base,
        Set("documents", "embeddings", "lineitem", "events"))
      def read(dir: String, t: String) =
        if (t == "events") Tables(spark, dir, t) else spark.read.parquet(s"$dir/$t.parquet")
      // keys stay unique: no replica's key collides with another's, so
      // the distinct keys double too (the sf lineitem itself repeats
      // some (l_orderkey, l_linenumber); doc_id and vec_id are unique)
      for ((t, key) <- Seq("documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
          "lineitem" -> Seq("l_orderkey", "l_linenumber"))) {
        def keys(df: org.apache.spark.sql.DataFrame) = df.select(key.map(col): _*).distinct().count()
        val src = read(Sf, t)
        val out = read(base, t)
        assert(out.count() === 2 * src.count(), t)
        assert(keys(out) === 2 * keys(src), s"$t $key")
        if (t != "lineitem") assert(keys(out) === out.count(), s"$t $key")
      }
      val srcDocs = read(Sf, "documents")
      val kept = read(base, "documents").filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") / 2).cast("long").as("doc_id"), col("text").as("t2"))
      assert(srcDocs.join(kept, "doc_id").filter(col("text") =!= col("t2")).count() === 0L)
      assert(srcDocs.join(kept, "doc_id").count() === srcDocs.count())
      val users = read(base, "events")
        .groupBy((col("event_id") % 2).as("r"))
        .agg(min("user_id").as("lo"), max("user_id").as("hi"))
        .orderBy("r").collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(users.length === 2)
      assert(users(0)._2 < users(1)._1, users.toSeq)
    } finally graft.util.Fs.deleteRecursively(base)
  }
}
