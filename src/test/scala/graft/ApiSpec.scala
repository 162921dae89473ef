package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.Where
import graft.search.SearchParams

/** End-to-end API facade workflow, mirroring the reference's REST test
  * suites (next-plaid-api/tests/integration_tests.rs, test_api.py):
  * create with metadata → search → filtered search → hybrid → metadata
  * ops → delete by condition → dense-id alignment → eviction. */
class ApiSpec extends AnyFunSuite {

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

  private def metaJsonFor(ids: Seq[Long], offsetLabel: Int = 0): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"""{"title": "doc $i", "group": ${i % 3 + offsetLabel}, "lang": "en"}"""))
      .toDF("order", "json")
  }

  private def exhaustive = SearchParams(
    topK = 3, nIvfProbe = Int.MaxValue, nFullScores = 1 << 22,
    centroidScoreThreshold = None)

  test("full workflow: create → search → filter → hybrid → metadata → delete → evict") {
    val path = "/tmp/graft_api_idx"
    graft.util.Fs.deleteRecursively(path)
    val d30 = docs.filter(col("doc_id") < 30)
    val gi = GraftIndex.create(spark, path, d30, Some(metaJsonFor(0L until 30L)))

    assert(gi.count === 30L)
    assert(gi.info("embedding_dim") === "64")
    assert(gi.metadata.count() === 30L)

    // plain search: each doc retrieves itself first
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val top = gi.search(qs, exhaustive).filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))

    // filtered search via the WHERE surface on metadata
    val filtered = gi.searchFiltered(qs, "group = ?", Seq(Where.SLong(1)), exhaustive)
    assert(filtered.select("doc_id").collect().map(_.getLong(0)).forall(_ % 3 === 1))

    // hybrid mode over the metadata-backed FTS (titles are "doc N")
    val hy = gi.hybrid(qs, "doc 7", graft.search.HybridParams(topK = 3,
      searchParams = exhaustive))
    assert(hy.groupBy("query_id").count().collect().forall(_.getLong(1) === 3L))

    // metadata query / get / update_where
    assert(gi.metadataQuery("group = ?", Seq(Where.SLong(0))).count() === 10L)
    val got = gi.metadataGet(Some(("title = ?", Seq(Where.SStr("doc 7")))), None, None).collect()
    assert(got.length === 1 && got(0).getString(1).contains(""""group":1"""))
    gi.metadataUpdateWhere("group = ?", Seq(Where.SLong(2)),
      Map("lang" -> lit("fr")))
    assert(gi.metadata.filter(col("lang") === "fr").count() === 10L)

    // delete by condition: group = 0 (ids 0,3,6,...,27)
    gi.deleteDocuments(cond = Some(("group = ?", Seq(Where.SLong(0)))))
    assert(gi.count === 20L)
    assert(gi.metadata.count() === 20L)
    // dense alignment: metadata ids = 0..19, and vector/doclens agree
    val metaIds = gi.metadata.select("_subset_").collect().map(_.getLong(0)).sorted
    assert(metaIds.toSeq === (0L until 20L))
    val docIds = gi.index.doclens.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(docIds.toSeq === (0L until 20L))
    // old doc 1 (group 1) is now id 0; its metadata moved with it
    val title0 = gi.metadata.filter(col("_subset_") === 0).collect()(0).getAs[String]("title")
    assert(title0 === "doc 1")
    // FTS followed the same renumbering
    val ftsIds = gi.ftsIndex.doclens.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ftsIds.toSeq === (0L until 20L))

    // eviction (PUT config max_documents)
    gi.enforceMaxDocuments(15L)
    assert(gi.count === 15L)
    assert(gi.metadata.count() === 15L)

    // addDocuments (POST /documents): 5 more docs + metadata, appended
    // after the current 15; index/metadata/FTS stay aligned
    val extra = docs.filter(col("doc_id") >= 40 && col("doc_id") < 45)
      .withColumn("doc_id", col("doc_id") - 40)
    gi.addDocuments(extra, Some(metaJsonFor(0L until 5L, offsetLabel = 10)))
    assert(gi.count === 20L)
    assert(gi.metadata.count() === 20L)
    val addedQ = docs.filter(col("doc_id") === 42)
      .select(lit(0L).as("query_id"), col("embeddings"))
    val addedHit = gi.search(addedQ, exhaustive.copy(topK = 1)).collect()
    assert(addedHit.head.getAs[Long]("doc_id") === 17L) // 15 + local id 2
    assert(gi.ftsIndex.doclens.count() === 20L)

    // rerank endpoint
    val q = docs.filter(col("doc_id") === 5).select("embeddings")
      .collect()(0)
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]](0)
      .map(_.toArray).toArray
    val rr = gi.rerank(q, d30.limit(10), topK = 3)
    assert(rr.count() === 3L)

    gi.drop()
    assert(!graft.util.Fs.exists(path))
  }

  test("stored max_documents config evicts on the NEXT add, not at set time") {
    // documents.rs:1618-1660: PUT /config persists the limit; the response
    // says "Eviction will occur on next document addition if over limit"
    val path = "/tmp/graft_api_cfg"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path,
      docs.filter(col("doc_id") < 10), Some(metaJsonFor(0L until 10L)))
    gi.setMaxDocuments(Some(8L))
    assert(gi.maxDocumentsConfig === Some(8L))
    assert(gi.count === 10L)                 // set does NOT evict
    val burst = docs.filter(col("doc_id") >= 10 && col("doc_id") < 14)
      .withColumn("doc_id", col("doc_id") - 10)
    gi.addDocuments(burst, Some(metaJsonFor(0L until 4L, offsetLabel = 10)))
    assert(gi.count === 8L)                  // 10 + 4 -> FIFO-evicted to 8
    assert(gi.metadata.count() === 8L)
    assert(gi.ftsIndex.doclens.count() === 8L)
    // survivors are the newest 8 in arrival order: old ids 6..9 then the burst
    val titles = gi.metadata.orderBy(col("_subset_"))
      .collect().map(_.getAs[String]("title"))
    assert(titles.take(4).toSeq === Seq("doc 6", "doc 7", "doc 8", "doc 9"))
    gi.setMaxDocuments(None)                 // remove limit -> adds stop evicting
    assert(gi.maxDocumentsConfig === None)
    val more = docs.filter(col("doc_id") >= 14 && col("doc_id") < 16)
      .withColumn("doc_id", col("doc_id") - 14)
    gi.addDocuments(more, Some(metaJsonFor(0L until 2L, offsetLabel = 14)))
    assert(gi.count === 10L)
  }

  test("metadata/check partitions ids by presence; GET /indices lists index dirs") {
    val root = "/tmp/graft_api_list"
    graft.util.Fs.deleteRecursively(root)
    val gi = GraftIndex.create(spark, s"$root/alpha",
      docs.filter(col("doc_id") < 4), metaJson = Some(metaJsonFor(0L until 4L)))
    // a directory without a manifest is not an index
    graft.util.Fs.writeBytes(s"$root/not_an_index/placeholder", Array[Byte](1))
    assert(GraftIndex.list(root) === Seq("alpha"))

    val (existing, missing) = gi.metadataCheck(Seq(0L, 2L, 99L))
    assert(existing === Seq(0L, 2L) && missing === Seq(99L))
    assert(gi.metadataCheck(Seq.empty) === ((Seq.empty, Seq.empty)))
    gi.drop()
    assert(GraftIndex.list(root) === Seq.empty)
  }

  test("addDocuments ingest is O(batch): untouched FTS postings files byte-identical") {
    import scala.jdk.CollectionConverters._
    def files(dir: String): Map[String, Long] = {
      val p = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .toMap
      finally s.close()
    }
    val path = "/tmp/graft_api_incr"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path,
      docs.filter(col("doc_id") < 10), Some(metaJsonFor(0L until 10L)))
    val postings0 = files(s"$path/fts/postings")
    val meta0 = files(s"$path/meta")
    val oldPostRows = gi.ftsIndex.postings.filter(col("doc_id") < 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // three successive batches: every prior postings/metadata file must
    // survive untouched (pure appends — the O(batch) ingest contract)
    for (b <- 0 until 3) {
      val batch = docs.filter(col("doc_id") >= 10 + b * 5 && col("doc_id") < 15 + b * 5)
        .withColumn("doc_id", col("doc_id") - (10 + b * 5))
      gi.addDocuments(batch,
        Some(metaJsonFor((10L + b * 5) until (15L + b * 5))),
        graft.index.UpdateConfig(startFromScratch = 0, bufferSize = 1000))
    }
    val postings1 = files(s"$path/fts/postings")
    val meta1 = files(s"$path/meta")
    assert(postings0.toSet.subsetOf(postings1.toSet),
      "existing postings files were rewritten by an append batch")
    assert(meta0.toSet.subsetOf(meta1.toSet),
      "existing metadata files were rewritten by an append batch")
    // postings of untouched docs identical, new docs searchable
    val oldPostRows1 = gi.ftsIndex.postings.filter(col("doc_id") < 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(oldPostRows1 === oldPostRows)
    assert(gi.count === 25L)
    assert(gi.metadata.count() === 25L)
    assert(gi.ftsIndex.doclens.count() === 25L)
    val hits = gi.ftsIndex.search("doc 12", topK = 5)
    assert(hits.count() > 0)
    gi.drop()
  }

  test("addDocuments widens a metadata column long <-> string: every row kept, filter works") {
    import spark.implicits._
    def meta(years: String*) =
      years.zipWithIndex.map { case (y, i) => (i.toLong, s"""{"year": $y}""") }.toDF("order", "json")
    val cfg = graft.index.UpdateConfig(startFromScratch = 0, bufferSize = 1000)
    val root = "/tmp/graft_api_widen"
    graft.util.Fs.deleteRecursively(root)
    // string values onto a long column, and long values onto a string one
    val cases = Seq(
      "onto_long" -> (Seq("2000", "2001", "2002", "2003"), Seq("\"unknown\"", "\"2001\"")),
      "onto_string" -> (Seq("\"unknown\"", "\"2001\"", "\"n/a\"", "\"2003\""), Seq("2001", "2005")))
    cases.foreach { case (name, (first, second)) =>
      val gi = GraftIndex.create(spark, s"$root/$name", docs.filter(col("doc_id") < 4),
        Some(meta(first: _*)))
      gi.addDocuments(docs.filter(col("doc_id") >= 4 && col("doc_id") < 6)
        .withColumn("doc_id", col("doc_id") - 4), Some(meta(second: _*)), cfg)
      assert(gi.metadata.schema("year").dataType === org.apache.spark.sql.types.StringType, name)
      assert(gi.metadata.select("_subset_").as[Long].collect().sorted.toSeq === (0L until 6L), name)
      val hits = gi.metadataQuery("year = ?", Seq(Where.SStr("2001")))
        .select("_subset_").as[Long].collect().sorted.toSeq
      assert(hits === (if (name == "onto_long") Seq(1L, 5L) else Seq(1L, 4L)), name)
    }
    graft.util.Fs.deleteRecursively(root)
  }

  test("deferred delete hides docs from vector, hybrid, and keyword search until compact") {
    val path = "/tmp/graft_api_tomb"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path,
      docs.filter(col("doc_id") < 10), Some(metaJsonFor(0L until 10L)))
    assert(gi.count === 10L)

    // tombstone doc 7 (title "doc 7")
    gi.deleteDocuments(ids = Some(Seq(7L)), deferred = true)
    assert(gi.count === 9L) // live count
    assert(gi.index.numDocuments === 10L) // physical id space unchanged

    // vector search: doc 7's own embedding must not retrieve doc 7
    val q7 = docs.filter(col("doc_id") === 7)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val vecHits = gi.search(q7, exhaustive).collect().map(_.getLong(1)).toSet
    assert(!vecHits.contains(7L), s"tombstoned doc reachable via vector search: $vecHits")

    // keyword + hybrid legs exclude it too
    val kw = gi.hybrid(q7, "doc 7",
      graft.search.HybridParams(mode = "keyword", topK = 5))
    assert(!kw.collect().map(_.getLong(1)).contains(7L))
    val hy = gi.hybrid(q7, "doc 7",
      graft.search.HybridParams(topK = 5, searchParams = exhaustive))
    assert(!hy.collect().map(_.getLong(1)).contains(7L))

    // compact: physical remove + renumber, metadata/FTS follow
    gi.compact()
    assert(gi.count === 9L)
    assert(gi.index.numDocuments === 9L)
    assert(gi.metadata.select("_subset_").collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 9L))
    assert(gi.ftsIndex.doclens.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 9L))
    // old doc 8 is now id 7; its metadata moved with it
    assert(gi.metadata.filter(col("_subset_") === 7).collect()(0)
      .getAs[String]("title") === "doc 8")
    gi.drop()
  }

  test("deferred deletes auto-compact once tombstones reach the ratio; equals eager twin") {
    val path = "/tmp/graft_api_autocompact"
    val twinPath = "/tmp/graft_api_autocompact_twin"
    Seq(path, twinPath).foreach(graft.util.Fs.deleteRecursively)
    val d10 = docs.filter(col("doc_id") < 10)
    val gi = GraftIndex.create(spark, path, d10, Some(metaJsonFor(0L until 10L)))

    // ratio 0.3 over 10 physical docs -> compaction fires at the 3rd
    // tombstone, not before
    gi.deleteDocuments(ids = Some(Seq(1L)), deferred = true, autoCompactRatio = 0.3)
    assert(graft.util.Fs.exists(s"$path/tombstones"), "compacted too early")
    assert(gi.index.numDocuments === 10L)
    gi.deleteDocuments(ids = Some(Seq(3L, 5L)), deferred = true, autoCompactRatio = 0.3)
    assert(!graft.util.Fs.exists(s"$path/tombstones"),
      "threshold crossing must trigger exactly one compaction")
    assert(gi.index.numDocuments === 7L)
    assert(gi.count === 7L)
    // metadata and FTS followed the renumbering
    assert(gi.metadata.select("_subset_").collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 7L))
    assert(gi.ftsIndex.doclens.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 7L))

    // results equal the eager-delete twin
    val twin = GraftIndex.create(spark, twinPath, d10, Some(metaJsonFor(0L until 10L)))
    twin.deleteDocuments(ids = Some(Seq(1L, 3L, 5L)))
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val a = gi.search(qs, exhaustive)
      .select("query_id", "doc_id", "rank").collect().toSet
    val b = twin.search(qs, exhaustive)
      .select("query_id", "doc_id", "rank").collect().toSet
    assert(a === b, "auto-compacted index diverges from eager-delete twin")
    gi.drop(); twin.drop()
  }

  test("delete keeps FTS aligned with index ids when some docs lack metadata") {
    val path = "/tmp/graft_api_gap"
    graft.util.Fs.deleteRecursively(path)
    // batch 1 (ids 0,1): NO metadata -> FTS ids are NOT a dense prefix
    val gi = GraftIndex.create(spark, path, docs.filter(col("doc_id") < 2))
    // batch 2 (ids 2,3): with metadata -> FTS covers only {2,3}
    gi.addDocuments(
      docs.filter(col("doc_id") >= 2 && col("doc_id") < 4)
        .withColumn("doc_id", col("doc_id") - 2),
      Some(metaJsonFor(2L until 4L)),
      graft.index.UpdateConfig(startFromScratch = 0, bufferSize = 1000))
    assert(gi.ftsIndex.doclens.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(2L, 3L))

    // delete doc 0: index mapping is 1->0, 2->1, 3->2. An independent
    // densification of the FTS's own id set would map 2->0, 3->1 (wrong).
    gi.deleteDocuments(ids = Some(Seq(0L)))
    assert(gi.count === 3L)
    val ftsIds = gi.ftsIndex.doclens.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ftsIds === Seq(1L, 2L), s"FTS ids diverged from index mapping: $ftsIds")
    // metadata moved with the same mapping
    val metaIds = gi.metadata.select("_subset_").collect().map(_.getLong(0)).sorted.toSeq
    assert(metaIds === Seq(1L, 2L))
    // FTS hit for "doc 2"'s title resolves to its new index id 1
    val hit = gi.ftsIndex.search("2", topK = 1).collect()
    assert(hit.nonEmpty && hit.head.getLong(0) === 1L)

    // whole-directory fsck: vector + fts + meta sections all green on
    // this partial-metadata, post-delete state (completeness is NOT
    // required of metadata — only uniqueness and id range)
    val report = gi.fsck().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(report.keys.map(_._1).toSet === Set("index", "fts", "meta"))
    assert(report.values.forall(identity), s"fsck must be green: $report")
    // an out-of-range metadata id is caught by the meta section
    import org.apache.spark.sql.functions.lit
    gi.metadata.limit(1).withColumn("_subset_", lit(99L))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/meta")
    val bad = gi.fsck().collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toMap
    assert(!bad("meta_ids_in_range"), s"planted bad id must trip: $bad")
    // a _subset_ that fails the long cast is its OWN violation
    // (meta_ids_castable, actual = the null count) — pre-r16 it slipped
    // the range check (null predicate) and surfaced only as a
    // misleading uniqueness mismatch (advisor finding)
    locally {
      import org.apache.spark.sql.functions.{when, col}
      graft.util.Fs.rewrite(
        gi.metadata.withColumn("_subset_",
          when(col("_subset_") === 1L, lit("oops"))
            .otherwise(col("_subset_").cast("string"))),
        s"$path/meta")
      val rows = gi.fsck().filter(col("check") === "meta_ids_castable")
        .collect()
      assert(rows.length === 1 && !rows.head.getBoolean(2) &&
        rows.head.getLong(4) === 1L,
        s"non-castable id must trip meta_ids_castable with actual=1: " +
          rows.mkString(","))
    }
    gi.drop()
  }

  test("async update: serialized per index, progress observable, search concurrent") {
    val path = "/tmp/graft_api_async"
    graft.util.Fs.deleteRecursively(path)
    UpdateJobs.reset()
    val gi = GraftIndex.create(spark, path, docs.filter(col("doc_id") < 20))
    val qs = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("embeddings"))

    // two queued updates for the SAME index serialize in order (the
    // per-index lane); their progress is observable while they run.
    // A latch-blocked job holds the lane first so the queued/running
    // observation below cannot race a fast box draining both adds
    // before updateHealth is polled.
    val gate = new java.util.concurrent.CountDownLatch(1)
    val blocker = UpdateJobs.submit(path, 0L, "test gate")(() => gate.await())
    val upCfg = graft.index.UpdateConfig(startFromScratch = 0, bufferSize = 1000)
    val f1 = gi.addDocumentsAsync(
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") - 20), cfg = upCfg)
    val f2 = gi.addDocumentsAsync(
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") - 25), cfg = upCfg)
    // progress exists immediately after submit (queued or already live).
    // countDown in finally: a failed assert must still release the lane,
    // or the suite hangs on the blocked thread instead of reporting.
    try {
      val p0 = gi.updateHealth
      assert(p0.isDefined, "no progress entry after async submit")
      assert(Set("queued", "running").contains(p0.get.status))
      assert(gi.updateInProgress)
    } finally gate.countDown()
    blocker.get()

    // searches proceed while the updates run — a racing build flip is
    // absorbed by the facade's stale-handle retry
    var sawResults = 0
    while (!f2.isDone) {
      assert(gi.search(qs, exhaustive).count() > 0)
      sawResults += 1
    }
    f1.get(); f2.get()
    assert(sawResults >= 0) // loop may complete zero times on a fast box
    assert(gi.search(qs, exhaustive).count() > 0) // post-update search
    assert(gi.count === 30L, "both queued updates must have applied in order")

    // terminal status: complete, with processed counts and frozen elapsed
    val done = gi.updateHealth
    assert(done.exists(_.status === "complete"), s"status after drain: $done")
    assert(done.flatMap(_.processedDocuments).exists(_ > 0))
    assert(!gi.updateInProgress)
    val h = UpdateJobs.healthStatuses()
    assert(h.exists(s => s.indexPath == path && s.status == "complete"))

    // failure capture: a throwing update records `failed` + the error,
    // and the future rethrows on get()
    val bad = UpdateJobs.submit(path, 1L, "doomed update")(() =>
      throw new RuntimeException("boom-async"))
    intercept[java.util.concurrent.ExecutionException] { bad.get() }
    val failed = gi.updateHealth
    assert(failed.exists(_.status === "failed"))
    assert(failed.flatMap(_.error).exists(_.contains("boom-async")))

    // a new queue onto the failed entry resets it to queued/running and
    // ends complete (the saturating re-queue path)
    val f3 = gi.addDocumentsAsync(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 32)
        .withColumn("doc_id", col("doc_id") - 30), cfg = upCfg)
    f3.get()
    assert(gi.updateHealth.exists(_.status === "complete"))
    assert(gi.count === 32L)
    gi.drop()
    UpdateJobs.reset()
  }
}
