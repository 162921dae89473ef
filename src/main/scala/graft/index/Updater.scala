package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.MetadataOps

/** Incremental index lifecycle — the reference's main write path
  * (`MmapIndex::update` dispatcher index.rs:1431-1591, append
  * update.rs:771-1244, outliers update.rs:490-608, centroid expansion
  * update.rs:621-751, delete delete.rs:66-273, metadata/FTS sync
  * index.rs:1805-1848), re-expressed over the parquet index tables.
  *
  * Table rewrites follow the reference's temp-file + atomic-rename
  * discipline (utils.rs:16-60): the new version is fully materialized to
  * `<table>_tmp` (which forces the read of the old version) and then
  * swapped in. Appends are pure parquet-file additions — no rewrite of
  * existing data. The IVF "patch" is a merge of the old posting lists
  * with the new docs' postings (full-outer join on code) — only affected
  * codes change, exactly like the reference's in-place patch. A delete
  * renumbers every table by the reference's binary search over the
  * deleted ids ([[Renumbering]]): one narrow pass per table, the IVF
  * lists mapped element-wise, no join or shuffle.
  */
object UpdateConfigDefaults {
  /** Reference thresholds (update.rs:75-108). */
  val StartFromScratch = 999
  val BufferSize = 100
}

final case class UpdateConfig(
    startFromScratch: Int = UpdateConfigDefaults.StartFromScratch,
    bufferSize: Int = UpdateConfigDefaults.BufferSize,
    maxPointsPerCentroid: Int = 256,
    seed: Long = 42L,
    kmeansIters: Int = 4,
    /** Used only when `update` creates the index (no manifest yet); an
      * existing index's geometry always comes from its manifest. */
    nbits: Int = 4,
    poolFactor: Int = 1
)

object Updater {

  import graft.util.Fs.{deleteRecursively, exists, rewrite}

  // ---------- U2: outlier detection ----------

  /** Tokens whose squared distance to the nearest centroid exceeds
    * `cluster_threshold²` (update.rs:490-608). `tokens(doc_id, tok,
    * vec)`. */
  def findOutliers(spark: SparkSession, tokens: DataFrame, codec: Codec): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codec)
    val t2 = codec.clusterThreshold * codec.clusterThreshold
    tokens.select("doc_id", "tok", "vec")
      .as[(Long, Int, Array[Float])]
      .mapPartitions { rows =>
        val c = bc.value
        rows.filter { case (_, _, vec) => c.minDistanceSq(vec) > t2 }
      }
      .toDF("doc_id", "tok", "vec")
  }

  // ---------- U3: centroid expansion ----------

  /** Cluster the outliers with `k = max(1, ceil(n / maxPoints)) * 4`
    * (update.rs:621-751) and append the new centroids to the codebook.
    * Existing codes stay valid — the codebook only grows at the end. */
  def expandCentroids(
      spark: SparkSession,
      outliers: DataFrame,
      codec: Codec,
      cfg: UpdateConfig): Codec = {
    val n = outliers.count()
    if (n == 0) return codec
    val k = (math.max(1L, (n + cfg.maxPointsPerCentroid - 1) / cfg.maxPointsPerCentroid) * 4)
      .min(n).toInt
    val newCents = GraftKMeans.train(
      spark, outliers, codec.dim, k, cfg.kmeansIters, cfg.seed, cfg.maxPointsPerCentroid)
    codec.copy(centroids = codec.centroids ++ newCents)
  }

  // ---------- U4: append ----------

  /** Append `newDocs(doc_id: 0..n-1 local, embeddings)` to the index:
    * encode with the current codec, add token/doclen/doc_codes rows
    * (pure file appends), and patch the IVF by merging the new postings
    * into the affected codes only. */
  def append(
      spark: SparkSession,
      idx: MultiVectorIndex,
      newDocs: DataFrame,
      codecOverride: Option[Codec] = None,
      refreshThreshold: Boolean = false): MultiVectorIndex =
    graft.util.Journal.bracket(idx.path) {
      appendImpl(spark, idx, newDocs, newDocs.count(), codecOverride, refreshThreshold)
    }

  /** [[append]] of a batch of `nNew` docs, inside the caller's bracket
    * (the update dispatcher counts its batch once). */
  private def appendImpl(
      spark: SparkSession,
      idx: MultiVectorIndex,
      newDocs: DataFrame,
      nNew: Long,
      codecOverride: Option[Codec],
      refreshThreshold: Boolean): MultiVectorIndex = {
    val path = idx.path
    val codec = codecOverride.getOrElse(idx.codec)
    val offset = idx.numDocuments
    if (nNew == 0) return idx

    // one encode pass, cached: the writer and the threshold refresh
    // below both read it
    val encoded = IndexWriter.encode(spark, codec, IndexWriter.tokensOf(newDocs, offset)).cache()
    val nNewTokens = IndexWriter.write(spark, path, encoded, IndexWriter.Onto(idx.ivf))

    // U-threshold refresh (update.rs:385-427): new 0.75-quantile of the
    // appended residual norms, blended with the old threshold weighted by
    // embedding counts. The quantile is Spark's exact `percentile`
    // (same (n-1)·q interpolation as the reference's utils.rs quantile) —
    // distributed, never a driver-side norm collect.
    val refreshedCodec: Option[Codec] =
      if (!refreshThreshold || nNewTokens == 0) None
      else {
        val newQ = encoded.agg(expr("percentile(rnorm, 0.75d)"))
          .collect()(0).getDouble(0)
        val oldTotal = idx.manifest("num_embeddings").toLong
        val blended =
          ((codec.clusterThreshold.toDouble * oldTotal + newQ * nNewTokens)
            / (oldTotal + nNewTokens)).toFloat
        Some(codec.copy(clusterThreshold = blended))
      }
    encoded.unpersist()
    val finalCodec = refreshedCodec.getOrElse(codec)

    if (codecOverride.isDefined || refreshedCodec.isDefined)
      MultiVectorIndex.saveCodec(spark, path, finalCodec)

    // Keep raw_docs in sync with the reference's embeddings.npy contract
    // (update.rs:265-360): appended while the corpus stays under the
    // rebuild threshold, dropped once it grows past it — a stale raw
    // table would make a later mode-1 rebuild silently lose these docs.
    if (exists(s"$path/raw_docs")) {
      if (offset + nNew <= UpdateConfigDefaults.StartFromScratch)
        graft.util.Fs.appendTable(
          newDocs.select((col("doc_id") + lit(offset)).as("doc_id"), col("embeddings")),
          s"$path/raw_docs")
      else deleteRecursively(s"$path/raw_docs")
    }

    val m = idx.manifest
    MultiVectorIndex.writeManifest(path, m ++
      IndexWriter.counts(offset + nNew, m("num_embeddings").toLong + nNewTokens) +
      ("num_partitions" -> codec.numCentroids.toString))
    new MultiVectorIndex(spark, path)
  }

  // ---------- U5: delete + dense re-sequencing ----------

  /** Remove docs and renumber the survivors densely 0..N-1 in old-id
    * order — the `_subset_`/FTS alignment invariant (index.rs:1826-1843).
    * Out-of-range and repeated ids are ignored. Returns the new index;
    * the renumbering is recorded for metadata/FTS sync (U7,
    * [[Renumbering.last]]). */
  def delete(spark: SparkSession, idx: MultiVectorIndex, deleteIds: Seq[Long]): MultiVectorIndex = {
    import spark.implicits._
    deleteFrom(spark, idx, deleteIds.toDF("doc_id"))
  }

  /** [[delete]] of `del(doc_id)`, the reference's binary-search
    * renumber (delete.rs:66-273): the ids are collected to the driver
    * (ids already there cost no job) and a survivor `old` becomes
    * `old − #(deleted ids < old)`, one narrow filter-and-map pass per
    * table, each IVF list mapped element-wise ([[Renumbering]]). The
    * ids are collected before any table is rewritten, so `del` may
    * derive from a table the delete rewrites (the tombstones, the
    * metadata). A set that deletes nothing rewrites nothing. */
  def deleteFrom(spark: SparkSession, idx: MultiVectorIndex, del: DataFrame): MultiVectorIndex =
    graft.util.Journal.bracket(idx.path) {
      val (renum, n) = Renumbering.record(spark, idx.path, Renumbering.collectIds(del), idx.numDocuments)
      if (n == 0) idx else renumberImpl(spark, idx, renum, idx.numDocuments - n)
    }

  /** Rewrite every remapped table of `idx` through `renum`, leaving
    * `nDocs` docs; the embedding count is observed in the tokens
    * rewrite's own pass. */
  private def renumberImpl(
      spark: SparkSession, idx: MultiVectorIndex, renum: Renumbering, nDocs: Long): MultiVectorIndex = {
    val path = idx.path
    val tokenCount = org.apache.spark.sql.Observation("delete tokens")
    rewrite(renum(idx.tokens, "doc_id").select("doc_id", "tok", "code", "residual")
      .observe(tokenCount, count(lit(1)).as("n")), s"$path/tokens")
    val nEmb = tokenCount.get("n").asInstanceOf[Long]
    rewrite(renum(idx.doclens, "doc_id").select("doc_id", "len"), s"$path/doclens")
    rewrite(renum(idx.docCodes, "doc_id").select("doc_id", "codes"), s"$path/doc_codes")
    rewrite(renum.ivf(idx.ivf), s"$path/ivf")

    // buffer + raw docs cleanup (delete.rs:286-430)
    Seq("buffer", "raw_docs").foreach { t =>
      if (exists(s"$path/$t"))
        rewrite(renum(graft.util.Fs.readParquet(spark, s"$path/$t"), "doc_id")
          .select("doc_id", "embeddings"), s"$path/$t")
    }
    // pending tombstones follow the same renumbering (tombstoned ids that
    // were just deleted drop out)
    idx.tombstoneTable.foreach(t => rewrite(renum(t, "doc_id").select("doc_id"), s"$path/tombstones"))

    MultiVectorIndex.writeManifest(path, idx.manifest ++ IndexWriter.counts(nDocs, nEmb))
    new MultiVectorIndex(spark, path)
  }

  /** Fold a leftover mode-3 staging artifact into the tombstone table.
    * `<path>/pending_tomb` exists only transiently inside [[update]]'s
    * mode 3; finding it at an entry point means a prior mode-3 run
    * crashed after staging. In the worst such window — after the
    * buffered docs were re-appended but before the staged tombstones
    * were restored — the staged copy is the ONLY copy, and without this
    * hook those docs silently resurface as searchable. Re-appending is
    * idempotent-safe: every tombstone consumer reads the set distinct,
    * so a crash BEFORE the delete (where the live table still has the
    * rows) just produces harmless duplicates. Mode 3 is still not
    * crash-atomic across its other windows (pending batch staged but not
    * appended, etc.) — callers needing full atomicity snapshot the index
    * directory around update(), as documented there; this hook closes
    * the one window that loses data silently rather than failing loudly. */
  private def recoverStagedTombstones(spark: SparkSession, path: String): Unit = {
    val staged = s"$path/pending_tomb"
    if (exists(staged)) {
      val df = graft.util.Fs.readParquet(spark, staged).select("doc_id")
      if (!df.isEmpty)
        graft.util.Fs.appendTable(df, s"$path/tombstones")
      deleteRecursively(staged)
    }
  }

  /** Deferred (tombstone) delete: record the ids in `<path>/tombstones`
    * and leave every table untouched. Search consults the tombstone set
    * (candidates anti-join — O(tombstones), not O(corpus)); the
    * physical remove + dense renumber happens at [[compact]]. This is
    * the scale escape hatch for the reference's delete semantics: the
    * dense-id invariant (delete.rs re-sequencing) forces a full table
    * rewrite per delete, which at 100 TB turns every small delete into a
    * corpus-sized write — tombstones amortize N deletes into one
    * compaction rewrite while keeping the invariant at commit points. */
  def deleteDeferred(spark: SparkSession, idx: MultiVectorIndex, del: DataFrame): MultiVectorIndex =
    graft.util.Journal.bracket(idx.path) {
    recoverStagedTombstones(spark, idx.path)
    graft.util.Fs.appendTable(del.select("doc_id"), s"${idx.path}/tombstones")
    idx
  }

  /** Apply all pending tombstones as one physical delete (dense
    * renumber included); no-op without tombstones. The renumbering is
    * recorded exactly like an eager delete's, so metadata/FTS sync works
    * the same way. */
  def compact(spark: SparkSession, idx: MultiVectorIndex): MultiVectorIndex =
    graft.util.Journal.bracket(idx.path) { compactImpl(spark, idx) }

  private def compactImpl(spark: SparkSession, idx: MultiVectorIndex): MultiVectorIndex = {
    val path = idx.path
    recoverStagedTombstones(spark, path)
    idx.tombstonesOpt match {
      case None => idx
      case Some(tomb) =>
        // the ids are collected before the delete rewrites the tombstones
        val out = deleteFrom(spark, idx, tomb)
        deleteRecursively(s"$path/tombstones")
        out
    }
  }

  /** U7: apply the last index delete's renumbering ([[Renumbering.last]])
    * to a metadata table keyed by `idCol`, so `_subset_` ≡ doc_id stays
    * aligned with the index after [[delete]]. */
  def syncMetadataDelete(
      spark: SparkSession, idx: MultiVectorIndex,
      meta: DataFrame, idCol: String): DataFrame =
    Renumbering.last(spark, idx.path)(meta, idCol)

  // ---------- U1: 3-mode dispatcher ----------

  /** The reference's update dispatcher (index.rs:1431-1591):
    *  - current index ≤ `startFromScratch` docs → full rebuild from the
    *    kept raw embeddings plus the new docs (same seed ⇒ identical to
    *    having built the union directly);
    *  - buffer not yet full → cheap append (U4) + buffer the new docs;
    *  - buffer full → drop the buffered docs from the index, expand the
    *    codebook on the outlier tokens of buffer ∪ new (U2+U3), and
    *    re-append buffer ∪ new under the expanded codec.
    *
    * Crash story: each table rewrite is temp+atomic-rename, but an
    * update spans several tables, so update() as a whole is NOT
    * crash-atomic — callers needing all-or-nothing semantics snapshot
    * the index directory around it (the streaming path additionally
    * brackets it with the stream_inflight marker). The one window that
    * would lose data SILENTLY — mode 3 crashing between its delete and
    * the staged-tombstone restore — is self-healed at every entry point
    * by [[recoverStagedTombstones]].
    */
  def update(
      spark: SparkSession,
      path: String,
      newDocs0: DataFrame,
      cfg: UpdateConfig = UpdateConfig()): MultiVectorIndex =
    graft.util.Journal.bracket(path) { updateImpl(spark, path, newDocs0, cfg) }

  private def updateImpl(
      spark: SparkSession,
      path: String,
      newDocs0: DataFrame,
      cfg: UpdateConfig): MultiVectorIndex = {
    if (!exists(s"$path/manifest.json")) {
      return MultiVectorIndex.build(spark, newDocs0, path,
        IndexConfig(nbits = cfg.nbits, seed = cfg.seed,
          kmeansIters = cfg.kmeansIters,
          maxPointsPerCentroid = cfg.maxPointsPerCentroid,
          poolFactor = cfg.poolFactor))
    }
    recoverStagedTombstones(spark, path)
    val idx = new MultiVectorIndex(spark, path)
    val n0 = idx.numDocuments

    // An existing index's geometry comes from its manifest (the
    // reference preserves plan.json config across updates) — an index
    // built with nbits=2 or Ward pooling must not silently revert to
    // defaults on the next update.
    val m0 = idx.manifest
    val baseCfg = IndexConfig(
      nbits = m0.get("nbits").map(_.toInt).getOrElse(cfg.nbits),
      kmeansIters = m0.get("kmeans_iters").map(_.toInt).getOrElse(cfg.kmeansIters),
      maxPointsPerCentroid =
        m0.get("max_points_per_centroid").map(_.toInt).getOrElse(cfg.maxPointsPerCentroid),
      seed = m0.get("seed").map(_.toLong).getOrElse(cfg.seed),
      poolFactor = m0.get("pool_factor").map(_.toInt).getOrElse(1))
    // incoming docs are pooled like the original build batch; raw_docs
    // and the buffer then always hold POOLED embeddings
    val newDocs = MultiVectorIndex.poolDocs(spark, newDocs0, baseCfg.poolFactor)
    val effCfg = cfg.copy(seed = baseCfg.seed, kmeansIters = baseCfg.kmeansIters,
      maxPointsPerCentroid = baseCfg.maxPointsPerCentroid)

    if (n0 <= cfg.startFromScratch && exists(s"$path/raw_docs")) {
      // mode 1: full rebuild from raw embeddings (index.rs:964-969).
      // raw_docs are already pooled — rebuild with poolFactor=1 (pooling
      // is not idempotent), then re-record the original factor.
      val raw = graft.util.Fs.readParquet(spark, s"$path/raw_docs")
      val all = raw.select("doc_id", "embeddings")
        .unionByName(newDocs.select((col("doc_id") + lit(n0)).as("doc_id"), col("embeddings")))
      rewrite(all, s"$path/raw_docs_in")
      val allIn = graft.util.Fs.readParquet(spark, s"$path/raw_docs_in")
      val out = MultiVectorIndex.build(spark, allIn, path, baseCfg.copy(poolFactor = 1))
      if (baseCfg.poolFactor > 1) {
        MultiVectorIndex.writeManifest(path,
          out.manifest + ("pool_factor" -> baseCfg.poolFactor.toString))
      }
      deleteRecursively(s"$path/raw_docs_in")
      new MultiVectorIndex(spark, path)
    } else {
      val bufPath = s"$path/buffer"
      val buffered: Option[DataFrame] =
        if (exists(bufPath)) Some(graft.util.Fs.readParquet(spark, bufPath)) else None
      val bufLen = buffered.map(_.count()).getOrElse(0L)
      val nNew = newDocs.count()

      if (bufLen + nNew < cfg.bufferSize) {
        // mode 2: cheap append + grow the buffer (update.rs:132-263)
        val idx2 = appendImpl(spark, idx, newDocs, nNew, None, refreshThreshold = false)
        val newGlobal = newDocs.select((col("doc_id") + lit(idx.numDocuments)).as("doc_id"),
          col("embeddings"))
        graft.util.Fs.appendTable(newGlobal, bufPath)
        idx2
      } else {
        // mode 3: buffer full — delete buffered docs, expand centroids on
        // outliers of buffer ∪ new, re-append everything. The combined
        // batch is staged to disk FIRST: delete() rewrites the buffer
        // table, so nothing may lazily read it afterwards.
        val bufferIds = buffered.map(_.select("doc_id").collect().map(_.getLong(0)).toSeq)
          .getOrElse(Seq.empty)
        // Tombstones on buffered docs must survive the flush: the
        // delete(bufferIds) below drops them from the tombstone table
        // (inner-join renumber treats a deleted doc's tombstone as
        // settled), but the re-append brings those docs back — without
        // this they'd resurface as searchable. The flush preserves the
        // id layout exactly (suffix delete + same-order re-append puts
        // every buffered doc back at its old id), so the staged
        // tombstone ids stay valid and are simply restored after the
        // append. Staged to disk first: deleteFrom rewrites tombstones.
        val bufTombStaged: Boolean = idx.tombstonesOpt.exists { tomb =>
          val bt = buffered match {
            case Some(b) => tomb.join(b.select("doc_id"), Seq("doc_id"))
            case None => tomb.limit(0)
          }
          rewrite(bt, s"$path/pending_tomb")
          graft.util.Fs.parquetRows(s"$path/pending_tomb") > 0
        }
        val bufLocal = buffered.map { b =>
          // buffered ids were the index suffix: delete keeps earlier ids
          // stable, so relabel buffer locally 0..bufLen-1 in old order
          MetadataOps.denseResequenceScalable(
            b, "doc_id", spark.sessionState.conf.numShufflePartitions)
            .select(col("new_id").as("doc_id"), col("embeddings"))
        }
        val combined = bufLocal match {
          case Some(b) => b.unionByName(
            newDocs.select((col("doc_id") + lit(bufLen)).as("doc_id"), col("embeddings")))
          case None => newDocs.select("doc_id", "embeddings")
        }
        rewrite(combined, s"$path/pending")
        val idxDel = if (bufferIds.nonEmpty) delete(spark, idx, bufferIds) else idx
        val pending = graft.util.Fs.readParquet(spark, s"$path/pending")
        val outliers = findOutliers(spark, IndexWriter.tokensOf(pending), idxDel.codec)
        val codec2 = expandCentroids(spark, outliers, idxDel.codec, effCfg)
        // the expansion path refreshes cluster_threshold from the
        // re-appended batch's residual norms (index.rs:1555-1562 passes
        // update_threshold=true only here, not on cheap appends)
        val idx3 = appendImpl(spark, idxDel, pending, bufLen + nNew,
          codecOverride = if (codec2.numCentroids != idxDel.codec.numCentroids) Some(codec2) else None,
          refreshThreshold = true)
        if (bufTombStaged)
          graft.util.Fs.appendTable(
            graft.util.Fs.readParquet(spark, s"$path/pending_tomb"), s"$path/tombstones")
        if (exists(s"$path/pending_tomb")) deleteRecursively(s"$path/pending_tomb")
        deleteRecursively(bufPath)
        deleteRecursively(s"$path/pending")
        idx3
      }
    }
  }
}
