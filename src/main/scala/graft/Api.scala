package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fts.FtsIndex
import graft.index.{IndexConfig, MultiVectorIndex, Renumbering, UpdateConfig, Updater}
import graft.meta.{JsonMeta, MetadataOps, Where}
import graft.search.{HybridParams, HybridSearch, SearchParams, Searcher}
import graft.util.ResidentSet

/** The driver-API facade — batch equivalents of every
  * next-plaid-api route (SURVEY §2.8, next-plaid-api/src/main.rs:322-505),
  * so a reference user maps each REST call onto one method. An "index"
  * is a directory holding the vector tables, the FTS artifact, and the
  * metadata table, kept aligned on the dense doc-id space:
  *
  * {{{
  * POST   /indices                    -> GraftIndex.create
  * POST   /indices/{n}/documents      -> addDocuments (U1 dispatcher)
  * POST   /indices/{n}/search         -> search / searchFiltered / hybrid
  * GET    /indices/{n}                -> info
  * PUT    /indices/{n}/config         -> setMaxDocuments (U6 eviction)
  * DELETE /indices/{n}/documents      -> deleteDocuments (ids or condition)
  * DELETE /indices/{n}                -> drop
  *  .../metadata{,/count,/query,/get,/update}  -> metadata* methods
  * POST   /rerank                     -> rerank
  * }}}
  *
  * A handle keeps three driver-resident images across requests, each
  * keyed on a stamp of the files it was collected from, so a write
  * through any handle is seen by the next request: the semantic image
  * (held by the cached [[Searcher]], manifest build id), the BM25 image
  * ([[ftsIndex]], the FTS artifact's files) and the metadata image that
  * filtered searches evaluate their condition on (the metadata table's
  * files). One [[graft.util.ResidentSet]] admits them in that order
  * against `SearchParams.localIndexBudgetBytes`, one pass per request;
  * writes and the metadata routes read the stored tables.
  */
final class GraftIndex private (val spark: SparkSession, val path: String) {

  def index: MultiVectorIndex = new MultiVectorIndex(spark, path)
  private def metaPath = s"$path/meta"

  /** The semantic image's charge: [[Searcher.residentBytes]] of the
    * manifest build the stamp names. The image itself stays in the
    * cached [[Searcher]], behind its build-id guard. */
  private val semanticImage = ResidentSet.Entry[AnyRef]("semantic", path,
    () => MultiVectorIndex.readBuildId(path),
    () => Searcher.residentBytes(index, Long.MaxValue), () => null)

  /** Keyed on the FTS files, not the manifest build id: inside an update
    * the FTS append or delete mapping lands AFTER the manifest bump, so a
    * manifest-keyed image could be built between the two writes and
    * then serve stale postings. */
  private val ftsImage = FtsIndex.imageEntry(spark, s"$path/fts")

  /** The metadata table as a local relation with the parquet schema. Any
    * append, rewrite or update moves the stamp, so a held handle never
    * filters against pre-write rows. */
  private val metaImage = ResidentSet.Entry[DataFrame]("metadata", metaPath,
    () => graft.util.Fs.settledFingerprint(metaPath),
    () => GraftIndex.metadataBytesEstimate(metaPath),
    () => {
      val stored = graft.util.Fs.readParquet(spark, metaPath)
      spark.createDataFrame(java.util.Arrays.asList(stored.collect(): _*), stored.schema)
    })

  private val images = new ResidentSet(semanticImage, ftsImage, metaImage)

  /** The FTS handle: one per GraftIndex, following the artifact's own
    * files ([[graft.util.Fs.settledFingerprint]]), so a serving loop
    * keeps its resident BM25 image until a write touches the artifact. */
  lazy val ftsIndex: FtsIndex = new FtsIndex(spark, s"$path/fts", ftsImage, images)

  /** The stored metadata table. Every write path and the metadata routes
    * read it; filtered searches read [[filterSource]]. */
  def metadata: DataFrame = graft.util.Fs.readParquet(spark, metaPath)

  /** The frame a filtered search evaluates its condition on: the
    * resident metadata image when the request's pass admits it, else the
    * stored table. Over the image the unchanged
    * [[MetadataOps.whereCondition]] predicate is folded by Catalyst's
    * `ConvertToLocalRelation` into a local relation, so the subset runs
    * no Spark job. */
  private def filterSource(pass: ResidentSet.Pass): DataFrame =
    pass.image(metaImage).getOrElse(metadata)

  /** The resident metadata image of the table's current files: a local
    * relation with the parquet schema, collected once per stamp. None
    * when the table is absent or `budgetBytes` does not admit it. */
  private[graft] def residentMetadata(budgetBytes: Long): Option[DataFrame] =
    images.pass(budgetBytes).image(metaImage)

  // ---- info (GET /indices/{name}) ----
  def info: Map[String, String] = index.manifest

  /** Live document count (physical minus pending tombstones). */
  def count: Long =
    index.numDocuments - index.tombstonesOpt.map(_.count()).getOrElse(0L)

  // ---- documents (POST /indices/{name}/documents, /update) ----

  /** Add docs (local ids 0..n-1) with optional JSON metadata rows (same
    * order); updates vector index, metadata table, and FTS in lock-step
    * (index.rs:1719-1761 semantics).
    *
    * Ingest is O(batch), not O(corpus): the metadata batch is a parquet
    * APPEND when it introduces no new columns (the common case), and the
    * FTS is patched with the new rows' postings only
    * ([[FtsIndex.appendRows]]; text_search.rs:579-686 update_rows is the
    * reference's incremental contract). Full rewrites happen only on
    * schema evolution (metadata) and delete-renumber (FTS). */
  def addDocuments(
      docs: DataFrame,
      metaJson: Option[DataFrame] = None,
      cfg: UpdateConfig = UpdateConfig()): GraftIndex = graft.util.Journal.bracket(path) {
    // append offset is the PHYSICAL id space (tombstones still occupy ids
    // until compact)
    val before = if (graft.util.Fs.exists(s"$path/manifest.json")) index.numDocuments else 0L
    Updater.update(spark, path, docs, cfg)
    metaJson.foreach { rows =>
      // materialized once: its plan (JSON parse, dense-id window) would
      // otherwise re-run for the metadata write and both FTS appends
      val created = JsonMeta.create(spark, rows)
        .withColumn("_subset_", col("_subset_") + lit(before))
        .localCheckpoint()
      if (graft.util.Fs.exists(metaPath)) {
        val existing = metadata
        val schema = JsonMeta.unionSchema(existing, created)
        if (schema == existing.schema.fields.map(f => f.name -> f.dataType).toSeq) {
          // O(batch) fast path: the batch conformed to the stored schema
          // is a parquet append — existing files untouched
          graft.util.Fs.appendTable(JsonMeta.conform(created, schema), metaPath)
        } else {
          // schema evolution (new column or widened type): full rewrite
          graft.util.Fs.rewrite(JsonMeta.conform(existing, schema)
            .unionByName(JsonMeta.conform(created, schema)), metaPath)
        }
      } else graft.util.Fs.rewrite(created, metaPath)

      // FTS patch: tokenize ONLY the new rows (ids are fresh, so this is
      // a pure append); the one-time full build happens when metadata
      // first appears on an index without an FTS artifact
      if (graft.util.Fs.exists(s"$path/fts/fts.json")) {
        FtsIndex.appendRows(ftsIndex, textsOf(created), "doc_id", "text")
      } else {
        FtsIndex.build(spark, textsOf(metadata), "doc_id", "text", s"$path/fts")
      }
    }
    // stored-config eviction check: the reference applies the persisted
    // max_documents limit on the add that crosses it (documents.rs:1647-1653
    // "Eviction will occur on next document addition if over limit")
    maxDocumentsConfig.foreach { max => if (count > max) enforceMaxDocuments(max) }
    this
  }

  /** metadata_to_text rows `(doc_id, text)` for FTS sync. */
  private def textsOf(m: DataFrame): DataFrame =
    m.select(col("_subset_").as("doc_id"),
      FtsIndex.metadataToTextUdf(to_json(struct(
        m.columns.filterNot(_ == "_subset_").toIndexedSeq.map(col): _*))).as("text"))

  // ---- async updates (the API's queued-update shape + /health) ----

  /** [[addDocuments]] queued on this index's serial update lane
    * (documents.rs:1199-1210: record queued → spawn → per-index lock →
    * stage/complete/failed records). Searches proceed concurrently —
    * they serve from the current on-disk build until the update's
    * atomic swap lands, exactly the reference's serving behavior.
    * Progress is observable via [[updateHealth]]/[[updateInProgress]]
    * while the future runs. */
  def addDocumentsAsync(
      docs: DataFrame,
      metaJson: Option[DataFrame] = None,
      cfg: UpdateConfig = UpdateConfig()): java.util.concurrent.Future[GraftIndex] = {
    val n = docs.count()
    UpdateJobs.submit(path, n, "document update queued")(() =>
      addDocuments(docs, metaJson, cfg))
  }

  /** [[deleteDocuments]] on the same serial lane — updates and deletes
    * for one index never interleave (the reference holds one per-index
    * lock across both worker queues). */
  def deleteDocumentsAsync(
      ids: Option[Seq[Long]] = None,
      cond: Option[(String, Seq[Where.Param])] = None,
      deferred: Boolean = false): java.util.concurrent.Future[GraftIndex] =
    UpdateJobs.submit(path, ids.map(_.size.toLong).getOrElse(0L),
      "document delete queued")(() => deleteDocuments(ids, cond, deferred))

  /** GET /health for this index: current update progress (None when
    * nothing is queued/running and any terminal status has aged out). */
  def updateHealth: Option[UpdateJobs.Progress] = UpdateJobs.progressOf(path)

  /** Update-in-progress flag (queued or running). */
  def updateInProgress: Boolean = UpdateJobs.updateInProgress(path)

  // ---- search (POST /indices/{name}/search, /search/filtered) ----

  /** Searcher reused across calls while the on-disk index is unchanged
    * (manifest build id), so a serving loop keeps the fast path's
    * collected image and broadcasts warm instead of re-collecting the
    * index every call. Any update — through this facade or outside
    * it — rewrites the manifest and gets a fresh handle; deferred
    * deletes don't touch the manifest, and the Searcher re-stamps their
    * tombstones per call. */
  @volatile private var cachedSearcher: (Searcher, String) = _
  private def searcher(buildId: String): Searcher = {
    val cur = cachedSearcher
    if (cur != null && cur._2 == buildId) cur._1
    else {
      val s = new Searcher(new MultiVectorIndex(spark, path))
      cachedSearcher = (s, buildId)
      s
    }
  }

  /** One serving request: one admission pass over the images against
    * `budgetBytes`, whose semantic stamp also keys the Searcher. A
    * search that races a concurrent update can observe the index flip
    * between handle construction and the fast path's stale-image guard;
    * the facade does what a serving loop would — drop the cached handle
    * and retry the request on a fresh one and a fresh pass (bounded:
    * another racing update just retries again, and a search between
    * updates always wins). */
  private def serving[A](budgetBytes: Long, attempts: Int = 3)(
      f: (Searcher, ResidentSet.Pass) => A): A = {
    val pass = images.pass(budgetBytes)
    try {
      val s = searcher(pass.version(semanticImage).stamp)
      pass.admits(semanticImage) // the semantic decision, recorded
      f(s, pass)
    } catch {
      case e: Exception if attempts > 1 && GraftIndex.racedUpdate(e) =>
        cachedSearcher = null
        serving(budgetBytes, attempts - 1)(f)
    }
  }

  def search(queries: DataFrame, params: SearchParams = SearchParams()): DataFrame =
    serving(params.localIndexBudgetBytes)((s, _) => s.search(queries, params))

  def searchFiltered(
      queries: DataFrame,
      cond: String, condParams: Seq[Where.Param],
      params: SearchParams = SearchParams()): DataFrame =
    serving(params.localIndexBudgetBytes) { (s, pass) =>
      val subset = MetadataOps.whereCondition(filterSource(pass), "_subset_", cond, condParams)
        .withColumnRenamed("_subset_", "doc_id")
      s.search(queries, params, Some(subset))
    }

  def hybrid(
      queries: DataFrame, textQuery: String,
      params: HybridParams = HybridParams(),
      cond: Option[(String, Seq[Where.Param])] = None): DataFrame =
    serving(params.searchParams.localIndexBudgetBytes) { (s, pass) =>
      val filter = cond.map { case (c, ps) =>
        (filterSource(pass).withColumnRenamed("_subset_", "doc_id"), c, ps)
      }
      HybridSearch.search(spark, index, ftsIndex, queries, textQuery, params, filter,
        searcherOpt = Some(s), pass = Some(pass))
    }

  // ---- *_with_encoding routes (text in, results out — E4 wired into
  // the facade; main.rs /search_with_encoding, /update_with_encoding,
  // /rerank_with_encoding). The encoder factory defaults to the
  // deterministic stand-in; a real ONNX-backed TokenEncoder plugs in
  // through the same parameter unchanged. ----

  private def encoderKey = s"$path#encoder"

  /** POST /indices/{name}/search_with_encoding: `queries` is
    * (query_id, text); E1 prep + session-pool encode, then the normal
    * vector search. */
  def searchWithEncoding(
      queries: DataFrame,
      params: SearchParams = SearchParams(),
      mkEncoder: () => graft.operators.TokenEncoder = defaultEncoder,
      queryLength: Int = graft.operators.Encoding.DefaultQueryLength): DataFrame =
    search(graft.operators.Encode.queries(
      queries, "query_id", "text", mkEncoder, encoderKey, queryLength), params)

  /** POST /indices/{name}/search/filtered_with_encoding. */
  def searchFilteredWithEncoding(
      queries: DataFrame,
      cond: String, condParams: Seq[Where.Param],
      params: SearchParams = SearchParams(),
      mkEncoder: () => graft.operators.TokenEncoder = defaultEncoder): DataFrame =
    searchFiltered(graft.operators.Encode.queries(
      queries, "query_id", "text", mkEncoder, encoderKey), cond, condParams, params)

  /** POST /indices/{name}/update_with_encoding: `docsText` is
    * (doc_id, text) with local ids 0..n-1; E2 prep + session-pool encode
    * (+ manifest poolFactor Ward pooling), then the normal add path —
    * including the stored-config eviction check. */
  def addDocumentsWithEncoding(
      docsText: DataFrame,
      metaJson: Option[DataFrame] = None,
      cfg: UpdateConfig = UpdateConfig(),
      mkEncoder: () => graft.operators.TokenEncoder = defaultEncoder,
      documentLength: Int = graft.operators.Encoding.DefaultDocumentLength): GraftIndex = {
    val poolFactor = index.manifest.get("pool_factor").map(_.toInt).getOrElse(1)
    addDocuments(graft.operators.Encode.documents(
      docsText, "doc_id", "text", mkEncoder, encoderKey, documentLength,
      poolFactor = poolFactor), metaJson, cfg)
  }

  /** POST /rerank_with_encoding: encode the query text (driver-side —
    * one query, bounded) AND the candidate document texts (the
    * session-pool stage), then exact-MaxSim rerank. `docsText` is
    * (doc_id, text). */
  def rerankWithEncoding(
      queryText: String, docsText: DataFrame, topK: Int,
      mkEncoder: () => graft.operators.TokenEncoder = defaultEncoder,
      queryLength: Int = graft.operators.Encoding.DefaultQueryLength,
      documentLength: Int = graft.operators.Encoding.DefaultDocumentLength): DataFrame = {
    val emb = mkEncoder().encode(
      graft.operators.Encoding.prepareQuery(queryText, queryLength))
    rerank(emb, graft.operators.Encode.documents(
      docsText, "doc_id", "text", mkEncoder, encoderKey, documentLength), topK)
  }

  private def defaultEncoder: () => graft.operators.TokenEncoder = {
    val d = index.dim
    () => graft.operators.HashTokenEncoder(d)
  }

  // ---- metadata routes ----

  def metadataQuery(cond: String, params: Seq[Where.Param]): DataFrame =
    MetadataOps.whereCondition(metadata, "_subset_", cond, params)

  def metadataGet(cond: Option[(String, Seq[Where.Param])],
      ids: Option[Seq[Long]], limit: Option[Int]): DataFrame =
    MetadataOps.getJson(metadata, "_subset_", cond, ids, limit)

  def metadataUpdateWhere(cond: String, params: Seq[Where.Param],
      assignments: Map[String, org.apache.spark.sql.Column]): GraftIndex = {
    graft.util.Fs.rewrite(
      MetadataOps.updateWhere(metadata, cond, params, assignments), metaPath)
    this
  }

  // ---- delete (DELETE /indices/{name}/documents) ----

  /** Delete by ids or by condition; vector tables, metadata, and FTS all
    * renumber through the same [[Renumbering]] (U5 + U7): the deleted
    * ids are collected to the driver and each table is renumbered by a
    * binary search over them.
    *
    * `deferred = true` tombstones the docs instead: search (vector,
    * hybrid, and the FTS leg) excludes them immediately, but no table is
    * rewritten and ids do not renumber until [[compact]] — the
    * amortization mode for frequent small deletes at scale. Until
    * compaction, metadata-level reads (metadataQuery/Get) still include
    * tombstoned rows.
    *
    * A deferred delete auto-fires [[compact]] once tombstones reach
    * `autoCompactRatio` of the physical corpus (mirroring the eviction
    * check's compact-first pattern): without it a long-lived index
    * degrades silently as the search-side anti-join grows. Set the ratio
    * above 1.0 to disable. */
  def deleteDocuments(
      ids: Option[Seq[Long]] = None,
      cond: Option[(String, Seq[Where.Param])] = None,
      deferred: Boolean = false,
      autoCompactRatio: Double = GraftIndex.AutoCompactRatio): GraftIndex = graft.util.Journal.bracket(path) {
    import spark.implicits._
    val delDf: Option[DataFrame] = (ids, cond) match {
      case (Some(list), _) =>
        if (list.isEmpty) None else Some(list.toDF("doc_id"))
      case (None, Some((c, ps))) =>
        Some(MetadataOps.whereCondition(metadata, "_subset_", c, ps)
          .withColumnRenamed("_subset_", "doc_id"))
      case _ => None
    }
    if (deferred) {
      delDf.filterNot(_.isEmpty).foreach { del =>
        Updater.deleteDeferred(spark, index, del.select("doc_id"))
        val tombstones = index.tombstonesOpt.map(_.count()).getOrElse(0L)
        if (tombstones > 0 &&
            tombstones.toDouble >= autoCompactRatio * index.numDocuments)
          compact()
      }
    } else delDf.foreach(deletePhysically)
    this
  }

  /** Physical delete of `del(doc_id)` with dense renumbering; a set that
    * deletes nothing changes nothing. [[Updater.deleteFrom]] collects
    * the ids before any rewrite, so `del` may derive from the metadata
    * table [[followDelete]] rewrites. */
  private def deletePhysically(del: DataFrame): Unit = {
    val idx = index
    val n0 = idx.numDocuments
    if (Updater.deleteFrom(spark, idx, del).numDocuments != n0) followDelete()
  }

  /** Metadata and FTS follow the INDEX's last renumbering — renumbering
    * the FTS id set independently diverges when some docs lack
    * metadata. */
  private def followDelete(): Unit = {
    val renum = Renumbering.last(spark, path)
    if (graft.util.Fs.exists(metaPath))
      graft.util.Fs.rewrite(renum(metadata, "_subset_"), metaPath)
    if (graft.util.Fs.exists(s"$path/fts/fts.json"))
      FtsIndex.applyDeleteMapping(ftsIndex, renum)
  }

  /** Apply pending deferred deletes as one physical renumbering delete;
    * metadata and FTS follow the same mapping. No-op without
    * tombstones. */
  def compact(): GraftIndex = graft.util.Journal.bracket(path) {
    val idx = index
    val n0 = idx.numDocuments
    if (idx.tombstonesOpt.isDefined && Updater.compact(spark, idx).numDocuments != n0)
      followDelete()
    this
  }

  // ---- config (PUT /indices/{name}/config: max_documents → U6) ----

  private def configPath = s"$path/config.json"

  /** PUT /indices/{name}/config (documents.rs:1618-1660): persist the
    * max_documents limit (None removes it). Matching the reference's
    * response message, the limit does NOT evict immediately — "eviction
    * will occur on next document addition if over limit"
    * ([[addDocuments]] checks it after each batch). Stored in its own
    * config.json (the reference's stored-config pattern, state.rs):
    * index rebuilds rewrite manifest.json from scratch and must not be
    * able to drop the limit. */
  def setMaxDocuments(maxDocuments: Option[Long]): GraftIndex = {
    val node = MultiVectorIndex.jsonMapper.createObjectNode()
    maxDocuments.foreach(v => node.put("max_documents", v))
    graft.util.Fs.writeBytes(configPath,
      MultiVectorIndex.jsonMapper.writeValueAsBytes(node))
    this
  }

  /** The persisted max_documents limit, if any. */
  def maxDocumentsConfig: Option[Long] =
    if (!graft.util.Fs.exists(configPath)) None
    else {
      val n = MultiVectorIndex.jsonMapper
        .readTree(graft.util.Fs.readBytes(configPath)).path("max_documents")
      if (n.isMissingNode || n.isNull) None else Some(n.asLong())
    }

  def enforceMaxDocuments(maxDocuments: Long): GraftIndex = {
    // pending tombstones first: FIFO eviction reasons over the dense
    // prefix, which is only meaningful on a compacted id space
    compact()
    val n = count
    // U6 FIFO eviction: the oldest ids are the dense prefix — the evict
    // set is a range expression, never a driver-side list
    if (n > maxDocuments)
      deletePhysically(spark.range(n - maxDocuments).select(col("id").as("doc_id")))
    this
  }

  // ---- rerank (POST /rerank) ----

  def rerank(query: Array[Array[Float]], docs: DataFrame, topK: Int): DataFrame =
    Searcher.rerank(spark, query, docs, topK)

  /** POST /indices/{name}/metadata/check (handlers/metadata.rs:38-110):
    * partition the given doc ids into (existing, missing) by metadata
    * presence. Bounded by the request size, so the collect is safe. */
  def metadataCheck(ids: Seq[Long]): (Seq[Long], Seq[Long]) = {
    if (ids.isEmpty) return (Seq.empty, Seq.empty)
    if (!graft.util.Fs.exists(metaPath)) return (Seq.empty, ids)
    val present = metadata.select("_subset_")
      .filter(col("_subset_").isin(ids: _*))
      .collect().map(_.getLong(0)).toSet
    (ids.filter(present), ids.filterNot(present))
  }

  /** Whole-directory consistency report (no reference-route analogue —
    * the operational fsck a 100 TB deployment runs after a crashed
    * update before deciding whether to restore a snapshot): the vector
    * tables ([[graft.index.IndexCheck.validate]]), the FTS pair when
    * present ([[graft.index.IndexCheck.validateFts]] pinned to this
    * index's doc count), and metadata alignment when present —
    * `_subset_` ids must be UNIQUE and inside [0, numDocuments)
    * (metadata may legitimately cover only some docs, so completeness
    * is NOT required). One row per check, `(section, check, ok,
    * expected, actual)`; aggregate-only, corpus-scale safe. */
  /** Whole-directory integrity sweep. The result is TINY (a dozen check
    * rows), so it is materialized HERE inside a stale-read retry: an
    * admin fsck racing an update's dir swap (Fs.rewrite) previously
    * died with a wrapped FAILED_READ_FILE on whichever table flipped
    * mid-scan (seen live in ConcurrencyStressSpec's interleave) — now
    * it re-reads from fresh listings like the search facade does. */
  def fsck(): DataFrame = {
    var attempts = 3
    while (true) {
      try {
        val plan = fsckPlan()
        return spark.createDataFrame(
          java.util.Arrays.asList(plan.collect(): _*), plan.schema)
      } catch {
        case e: Throwable if attempts > 1 && GraftIndex.isStaleRead(e) =>
          attempts -= 1
          // pace the retry past the update's swap window: an immediate
          // re-attempt under a sustained update storm can land all
          // three tries inside the same Fs.rewrite swap (r18 advice) —
          // tens of ms is longer than a rewrite's delete+rename gap
          // but invisible to an interactive admin call
          Thread.sleep(40L * (3 - attempts))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def fsckPlan(): DataFrame = {
    import spark.implicits._
    val idx = index
    val n = idx.numDocuments
    val vec = graft.index.IndexCheck.validate(spark, idx)
      .withColumn("section", lit("index"))
    val fts =
      if (graft.util.Fs.exists(s"$path/fts/postings"))
        Seq(graft.index.IndexCheck.validateFts(spark, ftsIndex, Some(n))
          .withColumn("section", lit("fts")))
      else Seq.empty
    val meta =
      if (graft.util.Fs.exists(metaPath)) {
        def cnt(c: org.apache.spark.sql.Column) =
          org.apache.spark.sql.functions.count(c)
        // try_cast, NOT cast: under ANSI mode (Spark 4 default) a plain
        // cast THROWS on the first malformed id — an fsck that crashes
        // on the corruption it exists to diagnose is useless. try_cast
        // yields null, and nulls are counted as their OWN violation
        // (meta_ids_castable) rather than slipping the range check
        // (null predicate never counts) and surfacing only as a
        // misleading uniqueness mismatch (caught by ApiSpec's planted
        // 'oops' id — the ADVICE fix with a bare cast died here)
        val m = metadata.select(
          expr("try_cast(_subset_ AS BIGINT)").as("id"))
        val a = m.agg(cnt(lit(1)).as("c"), countDistinct("id").as("d"),
          cnt(when(col("id") < 0 || col("id") >= n, lit(1))).as("bad"),
          cnt(when(col("id").isNull, lit(1))).as("nulls")).head()
        Seq(Seq(
          ("meta_ids_castable", a.getLong(3) == 0L, 0L, a.getLong(3)),
          ("meta_ids_unique", a.getLong(1) == a.getLong(0), a.getLong(0), a.getLong(1)),
          ("meta_ids_in_range", a.getLong(2) == 0L, 0L, a.getLong(2)))
          .toDF("check", "ok", "expected", "actual")
          .withColumn("section", lit("meta")))
      } else Seq.empty
    // crashed-update residue (update_inflight marker, _tmp/_prev
    // strays): rows appear ONLY when residue exists, so a healthy
    // index's fsck output is unchanged. Detection only — repair is
    // [[recover]] / the next update's bracket preamble.
    val rec = graft.util.Journal.residue(path)
    val recRows =
      if (rec.isEmpty) Seq.empty
      else Seq(Seq(("crashed_update_residue", false, 0L, rec.size.toLong))
        .toDF("check", "ok", "expected", "actual")
        .withColumn("section", lit("recovery")))
    (Seq(vec) ++ fts ++ meta ++ recRows).reduce(_ union _)
      .select("section", "check", "ok", "expected", "actual")
  }

  /** Repair a crashed update: marker-driven rollback to the last
    * committed state + stray sweep ([[graft.util.Journal.recover]]).
    * No-op on a healthy index. Every update entry point runs this
    * automatically before starting — this method exists for an admin
    * who wants the repair WITHOUT queueing new work (the
    * fsck-detects → recover → re-submit drill in CrashRecoverySpec). */
  def recover(): GraftIndex = {
    graft.util.Journal.recover(path)
    this
  }

  // ---- npy interchange (B11, both directions) ----

  /** Export the vector index in the reference's npy/json directory
    * layout (readable by [[GraftIndex.importNpy]] and by the reference's
    * own loaders). */
  def exportNpy(outDir: String, chunkDocs: Int = 50000): Unit =
    graft.sources.NpyImport.exportIndex(index, outDir, chunkDocs)

  // ---- drop (DELETE /indices/{name}) ----

  def drop(): Unit = graft.util.Fs.deleteRecursively(path)
}

object GraftIndex {

  /** Estimated peak driver bytes of the resident metadata image, per row
    * and per uncompressed stored byte. Measured with Spark's
    * `SizeEstimator` on the images of two 6-column tables: 470 rows
    * shaped like the `serve` benchmark's metadata (an id, a number and
    * four strings), 138 uncompressed B per row, held 513 B per
    * row and peaked at 1,074 B per row while collected (held rows plus
    * the collect's external rows and encoded rows); the sf0.01
    * documents table, 500 rows of 326 uncompressed B, held 652 B and
    * peaked at 1,649 B per row. A fixed width would follow the row count
    * and under-count text-heavy tables, so the width is 768 B plus 4×
    * the table's mean uncompressed row bytes (1,320 B and 2,072 B for
    * the two tables). */
  val MetaBytesPerRow = 768L
  val MetaBytesPerStoredByte = 4L

  /** Estimated driver footprint of the resident image of the metadata
    * table at `metaPath`: row count × (the per-row width above), read
    * from the parquet footers (no Spark job). */
  def metadataBytesEstimate(metaPath: String): Long = {
    val (rows, bytes) = graft.util.Fs.parquetTotals(metaPath)
    rows * MetaBytesPerRow + bytes * MetaBytesPerStoredByte
  }

  /** Tombstone fraction of the physical corpus at which a deferred
    * delete triggers automatic compaction. */
  val AutoCompactRatio: Double = 0.25

  /** True when a serving request failed by racing an update: the
    * stale-image guard or an image build tripped ("changed on disk"); a
    * manifest replaced between handle construction and first use (a
    * non-local rename's absent-file instant, FileNotFound; a map parsed
    * before keys were added; a torn body, Jackson); or an `Fs.rewrite`
    * dir swap under an in-flight scan, which arrives WRAPPED
    * (SparkException FAILED_READ_FILE, caught live by
    * ConcurrencyStressSpec's interleave, r18). */
  private def racedUpdate(e: Exception): Boolean = e match {
    case e: IllegalStateException =>
      e.getMessage != null && e.getMessage.contains("changed on disk")
    case _: java.util.NoSuchElementException | _: java.io.FileNotFoundException |
        _: com.fasterxml.jackson.core.JacksonException => true
    case e: org.apache.spark.SparkException => isStaleRead(e)
    case _ => false
  }

  /** True when `t`'s message/cause chain carries the stale-file-listing
    * shape (an update's `Fs.rewrite` dir swap racing an in-flight scan:
    * Spark wraps the task failure as FAILED_READ_FILE / FILE_NOT_EXIST,
    * or a bare FileNotFoundException sits in the chain). Shared by the
    * search facade's retry and fsck. */
  @annotation.tailrec
  private[graft] def isStaleRead(t: Throwable): Boolean =
    if (t == null) false
    else if ((t.getMessage != null &&
        (t.getMessage.contains("FAILED_READ_FILE") ||
          t.getMessage.contains("FILE_NOT_EXIST"))) ||
      t.isInstanceOf[java.io.FileNotFoundException]) true
    else isStaleRead(t.getCause)

  /** POST /indices — create from an initial doc batch. The metadata
    * table and its FTS read nothing the vector build writes, so they are
    * built on a second thread while the vector index builds on this one;
    * `create` returns or throws only once both are done. */
  def create(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      metaJson: Option[DataFrame] = None,
      cfg: IndexConfig = IndexConfig()): GraftIndex = {
    val gi = new GraftIndex(spark, path)
    metaJson match {
      case None => MultiVectorIndex.build(spark, docs, path, cfg)
      case Some(rows) =>
        graft.util.JobScope.alongside("graft-create-meta") {
          graft.util.Fs.rewrite(JsonMeta.create(spark, rows), s"$path/meta")
          FtsIndex.build(spark, gi.textsOf(gi.metadata), "doc_id", "text", s"$path/fts")
        }(MultiVectorIndex.build(spark, docs, path, cfg))
    }
    gi
  }

  /** GET /indices/{name} — open an existing index directory. */
  def open(spark: SparkSession, path: String): GraftIndex =
    new GraftIndex(spark, path)

  /** POST /indices with raw-text documents (the reference's model-loaded
    * upload path — README "documents uploaded as raw text"): E2 prep +
    * session-pool encode, then the normal build. Build applies the
    * config's Ward poolFactor itself, so the encode stage never
    * pre-pools. `docsText` is (doc_id, text), local ids 0..n-1. */
  def createWithEncoding(
      spark: SparkSession,
      path: String,
      docsText: DataFrame,
      metaJson: Option[DataFrame] = None,
      cfg: IndexConfig = IndexConfig(),
      mkEncoder: Option[() => graft.operators.TokenEncoder] = None,
      encoderDim: Int = 128,
      documentLength: Int = graft.operators.Encoding.DefaultDocumentLength): GraftIndex = {
    val mk = mkEncoder
      .getOrElse(() => graft.operators.HashTokenEncoder(encoderDim))
    create(spark, path, graft.operators.Encode.documents(
      docsText, "doc_id", "text", mk, s"$path#encoder", documentLength),
      metaJson, cfg)
  }

  /** GET /indices (handlers/documents.rs:1093-1099) — names of index
    * directories under `rootDir` (those carrying a manifest). */
  def list(rootDir: String): Seq[String] =
    graft.util.Fs.listDirs(rootDir)
      .filter(n => graft.util.Fs.exists(s"$rootDir/$n/manifest.json"))
      .sorted

  /** Import a reference-format npy index directory (B11). */
  def importNpy(spark: SparkSession, refDir: String, path: String): GraftIndex = {
    graft.sources.NpyImport.importIndex(spark, refDir, path)
    new GraftIndex(spark, path)
  }
}
