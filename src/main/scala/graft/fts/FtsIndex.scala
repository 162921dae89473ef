package graft.fts

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.index.Renumbering
import graft.util.{Fs, Plan, ResidentSet}

/** Persisted full-text index — the F3 lifecycle the round-1 engine
  * lacked (reference text_search.rs: index :463-502, delete :503-578,
  * update_rows :579-686, rebuild :839-948; FTS5 content-sync replaced by
  * parquet posting/doclen tables):
  *
  * {{{
  * <path>/postings/   (term, doc_id, tf)    partitioned by term hash
  * <path>/doclens/    (doc_id, dl)
  * <path>/fts.json    {tokenizer}
  * }}}
  *
  * Searches read the persisted postings (no per-query re-tokenization of
  * the corpus); maintenance ops are bounded by the touched docs — delete
  * is an anti-join, update_rows re-tokenizes only the changed rows.
  *
  * A handle follows the artifact: every access takes a stamp of the
  * artifact's OWN files ([[Fs.settledFingerprint]]: every file under
  * `<path>`, one directory listing) and re-derives the postings and doclens
  * frames, the tokenizer and the resident image whenever the stamp
  * moved. Any append, delete mapping, update or rebuild — through this
  * handle or another — moves it, so a held handle never serves
  * pre-write postings.
  *
  * Serving: the first search of a version collects a driver-resident
  * BM25 image ([[FtsIndex.Bm25Image]]: per-term primitive postings, the
  * doclens, `n_docs`, `avgdl`) when the handle's
  * [[graft.util.ResidentSet]] admits it against the search's
  * `localIndexBudgetBytes` (768 MB by default): a standalone handle's set
  * holds this image alone, a [[graft.GraftIndex]]'s holds it in the
  * index's admission order. Every later search of that version is
  * answered from the image with no Spark job — the reference answers
  * from in-process SQLite FTS5 the same way. The image applies a subset
  * and excluded ids as driver bit sets and keeps [[Fts.bm25]]'s
  * arithmetic, AND/OR semantics, tokenizer dispatch and (score desc,
  * doc_id asc) ties. It sums a doc's per-term scores in term order —
  * the distributed plan's order when the doc's postings sit in one
  * term-sorted file; across files Spark sums in partition order, so a
  * multi-term score can differ in its last bits. The distributed plan
  * ([[Fts.search]]) runs when the set refuses the image or a subset has
  * more ids than [[FtsIndex.boundedIds]] admits — the 100 TB path,
  * unchanged.
  */
final class FtsIndex private[graft] (
    val spark: SparkSession, val path: String,
    image: ResidentSet.Entry[FtsIndex.Bm25Image, FtsIndex.Version], images: ResidentSet) {

  private def this(spark: SparkSession, path: String,
      image: ResidentSet.Entry[FtsIndex.Bm25Image, FtsIndex.Version]) =
    this(spark, path, image, new ResidentSet(image))

  /** A standalone handle: its image is the only entry of its set. */
  def this(spark: SparkSession, path: String) = this(spark, path, FtsIndex.imageEntry(spark, path))

  def postings: DataFrame = image.current().postings
  def doclens: DataFrame = image.current().doclens
  def tokenizerName: String = image.current().tokenizer

  /** F4/F5 search over the persisted postings + doclens: from the
    * resident image when the set admits it against `localBudgetBytes`
    * (0 = never), else the distributed plan. Returns
    * `(doc_id, score, rank)`. */
  def search(
      query: String, topK: Int, subset: Option[DataFrame] = None,
      localBudgetBytes: Long = graft.search.SearchParams().localIndexBudgetBytes): DataFrame = {
    val pass = images.pass(localBudgetBytes)
    val local = for {
      img <- residentImage(pass)
      ids <- subset.fold(Option(Option.empty[Array[Long]]))(
        FtsIndex.boundedIds(_, localBudgetBytes).map(Some(_)))
    } yield img.frame(spark, img.topK(query, topK, ids, Array.emptyLongArray))
    local.getOrElse {
      val v = pass.version(image)
      Fts.search(spark, v.postings, query, topK, v.tokenizer, subset, doclensOpt = Some(v.doclens))
    }
  }

  /** The resident image of the artifact's current files, or None when
    * the set refuses it against `budgetBytes`. */
  private[graft] def residentImage(budgetBytes: Long): Option[FtsIndex.Bm25Image] =
    residentImage(images.pass(budgetBytes))

  /** The resident image under a request's pass over this handle's set. */
  private[graft] def residentImage(pass: ResidentSet.Pass): Option[FtsIndex.Bm25Image] =
    pass.image(image)
}

object FtsIndex {

  /** The BM25 image entry of the artifact at `path`, stamped by
    * [[Fs.settledFingerprint]] of its own files. */
  private[graft] def imageEntry(spark: SparkSession, path: String): ResidentSet.Entry[Bm25Image, Version] =
    new ResidentSet.Entry("fts", path, () => Fs.settledFingerprint(path), new Version(spark, path, _))

  /** One version of the artifact at `path`: its frames and tokenizer
    * besides the ledger's estimate and image, all of one stamp. */
  private[graft] final class Version(spark: SparkSession, path: String, stamp: String)
      extends ResidentSet.Version[Bm25Image](stamp, residentBytesEstimate(path),
        () => Bm25Image.collect(spark, path)) {
    lazy val postings: DataFrame = Fs.readParquet(spark, s"$path/postings")
    lazy val doclens: DataFrame = Fs.readParquet(spark, s"$path/doclens")
    lazy val tokenizer: String = readTokenizer(path)
  }

  /** The ids of `subset(doc_id)`, collected to the driver only when its
    * count (taken once, before the collect, by [[Plan.countIds]]) ×
    * [[Plan.SubsetBytesPerId]] fits `budgetBytes`; None sends the caller
    * to its distributed plan, whose subset joins are size-planned — a
    * broad filter must never be driver-collected. */
  private[graft] def boundedIds(subset: DataFrame, budgetBytes: Long): Option[Array[Long]] = {
    val spark = subset.sparkSession
    import spark.implicits._
    val ids = subset.select(col("doc_id").cast("long"))
    if (Plan.countIds(ids) * Plan.SubsetBytesPerId > budgetBytes) None
    else Some(ids.as[Long].collect())
  }

  /** Estimated peak driver bytes per postings row and per doclens row
    * while the resident image is collected and held. The held image
    * measured 6.6–9.1 B per posting, doclens included (Spark's
    * `SizeEstimator` on the images of the sf0.01 and sf0.1 documents
    * tables under all three tokenizers: 11.7k–713k postings, 31–377
    * terms): 8 B of (doc index, tf) per posting, 16 B per doc and
    * ~150 B per term. The collect holds two more copies while it runs —
    * the decoded result rows and the per-partition blocks, ~12 B per
    * posting and 16 B per doc each — so the peak is ~32 B per posting;
    * 48 B leaves room for a vocabulary of up to one term per ten
    * postings. */
  val ResidentBytesPerPosting = 48L
  val ResidentBytesPerDoc = 48L

  /** Estimated driver footprint of the resident image of the artifact at
    * `path`: row counts from the parquet footers (driver-side metadata
    * reads, no Spark job) × the per-row factors above. */
  def residentBytesEstimate(path: String): Long =
    Fs.parquetRows(s"$path/postings") * ResidentBytesPerPosting +
      Fs.parquetRows(s"$path/doclens") * ResidentBytesPerDoc

  private[fts] def readTokenizer(path: String): String =
    graft.index.MultiVectorIndex.jsonMapper.readTree(
      Fs.readBytes(s"$path/fts.json")).get("tokenizer").asText()

  /** Driver-resident BM25 image of one artifact version: per-term
    * postings as primitive arrays of (doc index, tf) — doc index into
    * the doc_id-sorted `docIds`/`dls` arrays —, each term's corpus df,
    * and the corpus statistics. Postings of docs without a doclen are
    * dropped (the distributed plan's doclens join drops them) but still
    * count in df (it counts postings rows before that join). */
  final class Bm25Image private (
      val tokenizer: String,
      docIdType: DataType,
      terms: java.util.HashMap[String, Bm25Image.Postings],
      docIds: Array[Long],
      dls: Array[Long]) {

    val nDocs: Double = docIds.length.toDouble
    /** avg(dl): the sum of integral doubles is exact below 2^53, so
      * this equals Spark's `avg` whatever the summation order. */
    val avgdl: Double = dls.iterator.map(_.toDouble).sum / nDocs

    private def indexOf(id: Long): Int = java.util.Arrays.binarySearch(docIds, id)

    private def bits(ids: Iterable[Long]): java.util.BitSet = {
      val b = new java.util.BitSet(docIds.length)
      ids.foreach { id => val i = indexOf(id); if (i >= 0) b.set(i) }
      b
    }

    /** [[Fts.search]] over this image: `(doc_id, score, rank)` of the
      * top `k` by (score desc, doc_id asc). `subset` restricts and
      * `exclude` removes candidate docs; neither changes the corpus
      * statistics (FTS5 computes idf on the whole table). */
    def topK(query: String, k: Int, subset: Option[Array[Long]],
        exclude: Array[Long]): Array[(Long, Double, Int)] = {
      // a doc's per-term scores are summed in term order: the order of
      // one term-sorted postings file, which is the order the
      // distributed plan sums in when a doc's postings sit in one file
      val qTerms = Fts.queryTerms(tokenizer, query).distinct.sorted
      val allowed = subset.map(bits(_))
      val excluded = bits(exclude)
      // per candidate doc index: (summed score, matched postings)
      val acc = scala.collection.mutable.LongMap.empty[Array[Double]]
      qTerms.foreach { t =>
        val p = terms.get(t)
        if (p != null) {
          val idf = Fts.idf(nDocs, p.df.toDouble)
          var j = 0
          while (j < p.docs.length) {
            val d = p.docs(j)
            if (allowed.forall(_.get(d)) && !excluded.get(d)) {
              val a = acc.getOrElseUpdate(d.toLong, new Array[Double](2))
              a(0) += Fts.termScore(idf, p.tfs(j), dls(d), avgdl)
              a(1) += 1
            }
            j += 1
          }
        }
      }
      val need = if (Fts.andSemantics(tokenizer)) qTerms.length.toDouble else 0.0
      val hits = acc.iterator
        .filter { case (_, a) => need == 0.0 || a(1) == need }
        .map { case (d, a) => (d.toInt, a(0)) }
        .toArray
      // doc index order is doc_id order: docIds is sorted
      java.util.Arrays.sort(hits, Bm25Image.ScoreDescDocAsc)
      hits.iterator.take(math.max(k, 0)).zipWithIndex
        .map { case ((d, sc), r) => (docIds(d), sc, r + 1) }.toArray
    }

    /** `doc_id` back in the postings' own type, as the distributed plan
      * returns it: a Long or an Int as they are, any other type through
      * the cast that plan applies. */
    private val docIdCast = Cast(BoundReference(0, LongType, nullable = false), docIdType,
      Some(SQLConf.get.sessionLocalTimeZone))
    private val docIdValue: Long => Any = docIdType match {
      case LongType => d => d
      case IntegerType => d => d.toInt
      case t =>
        val toScala = CatalystTypeConverters.createToScalaConverter(t)
        d => toScala(docIdCast.eval(InternalRow(d)))
    }

    /** Schema of [[frame]]: the distributed plan's columns and types, and
      * the nullability its cast of non-null ids gives. */
    val frameSchema: StructType = StructType(Seq(
      StructField("doc_id", docIdType, docIdCast.nullable),
      StructField("score", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))

    /** Hits as the distributed plan's `(doc_id, score, rank)` frame,
      * built from rows by [[graft.search.Searcher.localFrame]]: a local
      * relation, so collecting it runs no Spark job. */
    def frame(spark: SparkSession, hits: Array[(Long, Double, Int)]): DataFrame =
      graft.search.Searcher.localFrame(spark, frameSchema,
        hits.iterator.map { case (d, sc, r) => Row(docIdValue(d), sc, r) })
  }

  object Bm25Image {

    final class Postings(val df: Long, val docs: Array[Int], val tfs: Array[Int])

    private val ScoreDescDocAsc: java.util.Comparator[(Int, Double)] =
      (a: (Int, Double), b: (Int, Double)) => {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else Integer.compare(a._1, b._1)
      }

    /** Collect the artifact at `path` (fresh reads, not a handle's cached
      * frames). Each partition is compacted executor-side into primitive
      * per-term blocks before it reaches the driver, so the collect never
      * holds a boxed row per posting. */
    def collect(spark: SparkSession, path: String): Bm25Image = {
      import spark.implicits._
      val tokenizer = readTokenizer(path)
      val post = Fs.readParquet(spark, s"$path/postings")
      val docBlocks = Fs.readParquet(spark, s"$path/doclens")
        .select(col("doc_id").cast("long"), col("dl").cast("long")).as[(Long, Long)]
        .mapPartitions { it =>
          val ids = Array.newBuilder[Long]
          val dls = Array.newBuilder[Long]
          it.foreach { case (d, l) => ids += d; dls += l }
          Iterator.single((ids.result(), dls.result()))
        }.collect()
      val termBlocks = post
        .select(col("term"), col("doc_id").cast("long"), col("tf").cast("int"))
        .as[(String, Long, Int)]
        .mapPartitions { it =>
          val m = new java.util.HashMap[String,
            (scala.collection.mutable.ArrayBuilder.ofLong,
              scala.collection.mutable.ArrayBuilder.ofInt)]()
          it.foreach { case (t, d, tf) =>
            val b = m.computeIfAbsent(t, _ => (new scala.collection.mutable.ArrayBuilder.ofLong,
              new scala.collection.mutable.ArrayBuilder.ofInt))
            b._1 += d
            b._2 += tf
          }
          val out = new scala.collection.mutable.ArrayBuffer[(String, Array[Long], Array[Int])](m.size)
          m.forEach((t, b) => out += ((t, b._1.result(), b._2.result())))
          out.iterator
        }.collect()

      val ids0 = docBlocks.flatMap(_._1)
      val dls0 = docBlocks.flatMap(_._2)
      val order = ids0.indices.sortBy(ids0(_)).toArray
      val docIds = order.map(ids0)
      val dls = order.map(dls0)

      val byTerm = termBlocks.groupBy(_._1)
      val terms = new java.util.HashMap[String, Postings](byTerm.size * 2)
      byTerm.foreach { case (t, blocks) =>
        val docs = Array.newBuilder[Int]
        val tfs = Array.newBuilder[Int]
        var df = 0L
        blocks.foreach { case (_, ds, fs) =>
          df += ds.length
          var j = 0
          while (j < ds.length) {
            val i = java.util.Arrays.binarySearch(docIds, ds(j))
            if (i >= 0) { docs += i; tfs += fs(j) }
            j += 1
          }
        }
        terms.put(t, new Postings(df, docs.result(), tfs.result()))
      }
      new Bm25Image(tokenizer, post.schema("doc_id").dataType, terms, docIds, dls)
    }
  }

  /** Postings files are sorted by term (partition-local — no extra
    * shuffle beyond the build aggregation), so a term-filtered scan
    * (every BM25 query) prunes parquet row groups via min/max term
    * stats instead of reading the whole table. */
  private def writePostings(postings: DataFrame, path: String): Unit =
    Fs.rewrite(postings.sortWithinPartitions("term", "doc_id"), s"$path/postings")

  def build(
      spark: SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      path: String,
      tokenizerName: String = "unicode61"): FtsIndex = {
    writePostings(Fts.buildPostings(docs, idCol, textCol, tokenizerName), path)
    // doclens from the source text (one narrow scan), not a second
    // aggregation over the exploded postings
    Fs.rewrite(Fts.docLengthsOf(docs, idCol, textCol, tokenizerName), s"$path/doclens")
    val node = graft.index.MultiVectorIndex.jsonMapper.createObjectNode()
    node.put("tokenizer", tokenizerName)
    Fs.writeBytes(s"$path/fts.json",
      graft.index.MultiVectorIndex.jsonMapper.writeValueAsBytes(node))
    new FtsIndex(spark, path)
  }

  /** Reuse an existing artifact if present (declared queries share one
    * build per scale factor within a run). `sourceFp` — when non-empty —
    * keys the reuse on the SOURCE DATA's content fingerprint
    * (`Fs.fingerprint` of the parquet the docs came from), not just the
    * cache path: regenerated testdata under the same path forces a
    * rebuild instead of silently serving a stale index. */
  def buildIfMissing(
      spark: SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      path: String,
      tokenizerName: String = "unicode61",
      sourceFp: String = ""): FtsIndex =
    if (Fs.exists(s"$path/fts.json") &&
        (sourceFp.isEmpty || Fs.cacheFresh(path, sourceFp)))
      new FtsIndex(spark, path)
    else {
      Fs.deleteRecursively(path)
      val idx = build(spark, docs, idCol, textCol, path, tokenizerName)
      if (sourceFp.nonEmpty) Fs.stampCache(path, sourceFp)
      idx
    }

  /** F3 delete with optional dense re-sequencing of surviving doc ids
    * (the index.rs:1826-1843 alignment invariant — pass the same ids the
    * vector index deleted). */
  def delete(idx: FtsIndex, deleteIds: Seq[Long], renumber: Boolean = true): FtsIndex = {
    import idx.spark.implicits._
    deleteFrom(idx, deleteIds.toDF("doc_id"), renumber)
  }

  /** [[delete]] of `del(doc_id)`: the deleted ids are collected to the
    * driver; with `renumber` each survivor becomes its rank among the
    * FTS's surviving ids (the ids need not be dense), else it keeps its
    * id. One binary-search pass per table ([[Renumbering]]). */
  def deleteFrom(idx: FtsIndex, del: DataFrame, renumber: Boolean = true): FtsIndex = {
    val spark = idx.spark
    import spark.implicits._
    val deleted = Renumbering.collectIds(del)
    val renum =
      if (renumber) {
        val gone = deleted.toSet
        Renumbering.ranks(spark, idx.doclens.select(col("doc_id").cast("long")).as[Long]
          .collect().filterNot(gone))
      } else Renumbering.without(spark, deleted)
    applyDeleteMapping(idx, renum)
  }

  /** Append postings for NEW doc ids (no collision with existing ids —
    * the caller guarantees freshness, e.g. an `addDocuments` batch).
    * Pure parquet file additions: postings and doclens of untouched docs
    * are byte-identical afterwards, so ingest cost is O(batch), not
    * O(corpus) (the reference's incremental FTS5 update_rows contract,
    * text_search.rs:579-686). */
  def appendRows(idx: FtsIndex, docs: DataFrame, idCol: String, textCol: String): FtsIndex = {
    val fresh = Fts.buildPostings(docs, idCol, textCol, idx.tokenizerName)
    Fs.appendTable(fresh.sortWithinPartitions("term", "doc_id"),
      s"${idx.path}/postings")
    Fs.appendTable(Fts.docLengthsOf(docs, idCol, textCol, idx.tokenizerName),
      s"${idx.path}/doclens")
    new FtsIndex(idx.spark, idx.path)
  }

  /** Apply an externally-computed renumbering (deleted docs are
    * dropped). This is how the FTS follows the vector index's delete
    * re-sequencing EXACTLY — renumbering the FTS's own id set
    * independently diverges as soon as some docs have no metadata (the
    * FTS id set is then a strict subset of the index ids). */
  def applyDeleteMapping(idx: FtsIndex, renum: Renumbering): FtsIndex = {
    writePostings(renum(idx.postings, "doc_id").select("term", "doc_id", "tf"), idx.path)
    Fs.rewrite(renum(idx.doclens, "doc_id").select("doc_id", "dl"), s"${idx.path}/doclens")
    new FtsIndex(idx.spark, idx.path)
  }

  /** F3 update_rows: replace the postings of the given docs with their
    * new text — cost bounded by the changed rows only. `docs(doc_id,
    * text)`. */
  def updateRows(idx: FtsIndex, docs: DataFrame, idCol: String, textCol: String): FtsIndex = {
    val spark = idx.spark
    val changed = docs.select(col(idCol).as("doc_id")).distinct()
    val fresh = Fts.buildPostings(docs, idCol, textCol, idx.tokenizerName)
    val kept = idx.postings.join(broadcast(changed), Seq("doc_id"), "left_anti")
    writePostings(kept.unionByName(fresh), idx.path)
    // doclens patched the same way: untouched rows kept, changed docs
    // recomputed from their text — O(changed), not a full postings re-agg
    Fs.rewrite(idx.doclens.join(broadcast(changed), Seq("doc_id"), "left_anti")
      .unionByName(Fts.docLengthsOf(docs, idCol, textCol, idx.tokenizerName)),
      s"${idx.path}/doclens")
    new FtsIndex(spark, idx.path)
  }

  /** F3 rebuild: full re-tokenization from the source table. */
  def rebuild(idx: FtsIndex, docs: DataFrame, idCol: String, textCol: String): FtsIndex =
    build(idx.spark, docs, idCol, textCol, idx.path, idx.tokenizerName)

  /** F1 metadata_to_text (text_search.rs:269-305): concatenate every
    * string and number leaf of a JSON document, recursively, in field
    * order. */
  def metadataToText(json: String): String = {
    if (json == null) return null
    val node =
      try graft.index.MultiVectorIndex.jsonMapper.readTree(json)
      catch { case _: Exception => return "" }
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
      if (n.isTextual) parts += n.asText()
      else if (n.isNumber) parts += n.numberValue().toString
      else if (n.isArray) { val it = n.elements(); while (it.hasNext) walk(it.next()) }
      else if (n.isObject) { val it = n.properties().iterator(); while (it.hasNext) walk(it.next().getValue) }
    }
    walk(node)
    parts.mkString(" ")
  }

  val metadataToTextUdf = udf((json: String) => metadataToText(json))
}
