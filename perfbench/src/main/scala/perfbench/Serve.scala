package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.GraftIndex
import graft.index.{IndexConfig, UpdateConfig}
import graft.meta.Where
import graft.search.{SearchParams, Searcher}

/** `serve`: the life of one serving index in one process.
  *
  *  1. Set-up: a cold `GraftIndex.create`, then open and warm the index.
  *  2. Reads: one client in a closed loop sends single-query requests —
  *     semantic, metadata-filtered, keyword-only and hybrid — for
  *     `--seconds`.
  *  3. An offline query batch through the distributed dense funnel.
  *  4. A write cycle in the shape of the reference's stress test (add
  *     70, delete 30); after each write the first search runs on a
  *     freshly opened handle. `fsck` must be clean at the end. */
object Serve {

  val NDocs = 400
  val Tokens = 32
  val Dim = 128
  val NClusters = 40
  val Prototypes = 96
  val Noise = 0.5
  val Centroids = 128
  val TopK = 10
  /** Whole cycles of the mix the read loop sends at least: 40 semantic
    * requests, the fewest whose tail the percentile rule reports as p75. */
  val ReadCycles = 2
  val NRequests = Gen.RequestMix.size * 8
  val NNdcg = 8
  /** The reference's SciFact serving benchmark searches 300 queries. */
  val NBatch = 300
  val SampleQueries = 8
  val Cycles = 1
  val AddPerCycle = 70
  val DeletePerCycle = 30
  val WarmRepeats = 3
  /** Requests of a traced run: one cycle of the mix. */
  val TracedRequests: Seq[Int] = Gen.RequestMix.indices

  /** Updates take the incremental path (buffer, outlier centroids,
    * journal) rather than the rebuild-from-raw path the engine uses for
    * indexes under 1000 docs, as on a production-sized index. */
  val Update = UpdateConfig(startFromScratch = 0)
  /** The distributed funnel: 0 turns off both resident-image paths. */
  val Batch = SearchParams(topK = TopK, localIndexBudgetBytes = 0)
  val Resident = SearchParams(topK = TopK)

  def docsFrame(ctx: Ctx, docs: IndexedSeq[Gen.Doc]): (DataFrame, DataFrame) = {
    import ctx.spark.implicits._
    val sc = ctx.spark.sparkContext
    val emb = sc.parallelize(docs.indices.map(i => (i.toLong, docs(i).emb)), ctx.cores)
      .toDF("doc_id", "embeddings")
    val meta = sc.parallelize(docs.indices.map(i => (i.toLong, docs(i).json)), ctx.cores)
      .toDF("order", "json")
    (emb, meta)
  }

  def queryFrame(ctx: Ctx, qs: Seq[Array[Array[Float]]]): DataFrame = {
    import ctx.spark.implicits._
    qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("query_id", "embeddings")
  }

  /** Mean NDCG@k of `got` against the exact ranking: the doc at exact
    * rank r (1-based) has relevance k + 1 - r, others 0. */
  def ndcg(exact: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]], k: Int): Double = {
    def dcg(rels: Seq[Double]) = rels.zipWithIndex.map { case (r, i) => r / math.log(i + 2) }.sum
    val per = exact.toSeq.map { case (q, ex) =>
      val rel = ex.take(k).zipWithIndex.map { case (d, i) => d -> (k - i).toDouble }.toMap
      dcg(got.getOrElse(q, Nil).take(k).map(rel.getOrElse(_, 0.0))) / dcg(ex.take(k).map(rel))
    }
    per.sum / per.size
  }

  /** Hits per query id, each list sorted by rank. */
  def byQuery(df: DataFrame): Map[Long, Seq[Hit]] =
    df.select("query_id", "doc_id", "score", "rank").collect().toSeq
      .groupBy(_.getAs[Number](0).longValue)
      .map { case (q, rows) => q -> rows.map(r => Hit(r.getAs[Number](1).longValue,
        r.getAs[Number](2).doubleValue, r.getAs[Number](3).intValue)).sortBy(_.rank) }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val rep = new Report
    val in = Gen.serve(ctx.seed, NDocs, Tokens, Dim, NClusters, Prototypes, Noise, NRequests,
      NNdcg, NBatch, Cycles, AddPerCycle, DeletePerCycle)
    rep.note(s"inputs_sha256 serve ${in.sha256}")
    val (docs, meta) = docsFrame(ctx, in.docs)

    // 1. set-up: cold build; open the index and load its resident image
    // with a first semantic search, as a serving process does on start
    // (three times, median); then the first filtered, keyword and hybrid
    // request, so no request of the timed loop is the first of its kind.
    val path = s"${ctx.work}/serve"
    val created = rep.op("create")(ctx.tracer.timed("index.create", 0) {
      GraftIndex.create(spark, path, docs, Some(meta), IndexConfig(numPartitionsOverride = Some(Centroids)))
    })(r => Checks.count(r._1.count, NDocs, "live docs after create"))
    val buildS = created.map(_._2 / 1e3).getOrElse(throw new IllegalStateException("create failed"))
    rep.note(f"build_docs_per_s ${NDocs / buildS}%.2f: $NDocs docs in a cold create of $buildS%.2f s")
    var gi: GraftIndex = null
    val q = queryFrame(ctx, in.ndcgQueries.take(1))
    val warmS = (0 until WarmRepeats).map { _ =>
      val t0 = System.nanoTime()
      gi = GraftIndex.open(spark, path)
      gi.search(q, Resident).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    gi.searchFiltered(q, "category = ?", Seq(Where.SStr(Gen.Categories(0))), Resident).collect()
    gi.ftsIndex.search(Gen.word(0), TopK).collect()
    gi.hybrid(q, Gen.word(0)).collect()
    val firstS = (System.nanoTime() - t0) / 1e9
    rep.put("setup_s", buildS + Stats.median(warmS) + firstS, "s")
    rep.note(f"setup_s: build $buildS%.2f s + median of ${warmS.size} open+load " +
      f"(${warmS.map(s => f"$s%.2f").mkString(", ")} s) + first other requests $firstS%.2f s")

    // quality against the exact oracle (untimed)
    val qdf = queryFrame(ctx, in.ndcgQueries)
    def ids(m: Map[Long, Seq[Hit]]) = m.map { case (q, hs) => q -> hs.map(_.docId) }
    rep.put("quality", ndcg(ids(byQuery(new Searcher(gi.index).bruteForce(qdf, TopK))),
      ids(byQuery(gi.search(qdf, Resident))), TopK), "ratio")
    rep.note(s"quality: NDCG@$TopK of ${in.ndcgQueries.size} queries vs Searcher.bruteForce")

    // a full collection before each phase, outside every timed op, so no
    // phase pays for the garbage of the one before and the process
    // high-water mark does not depend on when collections happened to fall
    System.gc()
    reads(ctx, rep, in, gi)
    System.gc()
    batch(ctx, rep, in, gi)
    System.gc()
    writes(ctx, rep, in, gi, path)
    rep.op("fsck")(GraftIndex.open(spark, path).fsck().collect()) { rows =>
      rows.find(r => !r.getAs[Boolean]("ok")).map(r => s"fsck: ${r.mkString(" ")}")
    }
    rep
  }

  /** 2. The closed read loop: whole cycles of the mix, at least
    * [[ReadCycles]], until `--seconds` have passed. The semantic tail
    * percentile is taken over the first [[ReadCycles]] cycles only (a
    * sample count that grew with speed would let the percentile rule
    * pick a higher percentile for a faster commit), and only those
    * cycles count in the `error_rate` denominator and in `work_s`.
    * Traced runs send one cycle, each request twice — traced and
    * untraced, the order alternating — so the pairs give the tracing
    * overhead. */
  def reads(ctx: Ctx, rep: Report, in: Gen.ServeInputs, gi: GraftIndex): Unit = {
    val fts = gi.ftsIndex
    def hasFilter(f: Gen.Filtered): Long => Boolean = id => f.value match {
      case Left(c) => in.docs(id.toInt).category == c
      case Right(y) => in.docs(id.toInt).year == y
    }
    val docFreq = mutable.Map.empty[String, Int]
    def freq(t: String) = docFreq.getOrElseUpdate(t, in.docs.count(_.terms(t)))

    /** Issue request `i`; returns (kind, latency ms) when it succeeded. */
    def request(i: Int): Option[(String, Double)] = {
      val op = i.toLong
      in.requests(i % in.requests.size) match {
        case Gen.Semantic(e) =>
          rep.op(s"semantic #$i")(ctx.tracer.timed("search.semantic", op) {
            Main.hits(gi.search(queryFrame(ctx, Seq(e)), Resident))
          })(r => Checks.topK(r._1, TopK)).map(r => "semantic" -> r._2)
        case f @ Gen.Filtered(e, column, v) =>
          val param = v.fold(Where.SStr(_), y => Where.SLong(y.toLong))
          val subsetSize = in.docs.indices.count(j => hasFilter(f)(j.toLong))
          rep.op(s"filtered #$i")(ctx.tracer.timed("search.filtered", op) {
            Main.hits(gi.searchFiltered(queryFrame(ctx, Seq(e)), s"$column = ?", Seq(param), Resident))
          })(r => Checks.topK(r._1, math.min(TopK, subsetSize))
            .orElse(Checks.allMatch(r._1, hasFilter(f), s"$column = $v")))
            .map(r => "filtered" -> r._2)
        case Gen.Keyword(t) =>
          rep.op(s"keyword #$i")(ctx.tracer.timed("fts.search", op) {
            Main.hits(fts.search(t, TopK))
          })(r => Checks.topK(r._1, math.min(TopK, freq(t)))
            .orElse(Checks.keywordHits(r._1, id => in.docs(id.toInt).terms, Seq(t))))
            .map(r => "keyword" -> r._2)
        case Gen.HybridReq(e, t) =>
          rep.op(s"hybrid #$i")(ctx.tracer.timed("search.hybrid", op) {
            Main.hits(gi.hybrid(queryFrame(ctx, Seq(e)), t))
          })(r => Checks.topK(r._1, TopK)).map(r => "hybrid" -> r._2)
      }
    }

    if (ctx.trace) {
      TracedRequests.zipWithIndex.foreach { case (i, n) =>
        (if (n % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { on =>
          ctx.tracing(on)
          request(i).foreach { case (_, ms) => rep.paired(on, ms) }
        }
      }
      ctx.tracing(true)
    } else {
      val samples = ArrayBuffer.empty[(Int, String, Double)]
      val fixed = ReadCycles * Gen.RequestMix.size
      val t0 = System.nanoTime()
      val end = ctx.deadline(t0)
      var i = 0
      while (i < fixed || System.nanoTime() < end) {
        Gen.RequestMix.indices.foreach { _ =>
          if (i >= fixed) rep.extra += 1
          request(i).foreach { case (k, ms) => samples += ((i, k, ms)) }
          i += 1
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      rep.put("throughput_per_s", i / wall, "1/s")
      rep.note(f"throughput_per_s: $i requests in $wall%.2f s, one client")
      rep.workMs += samples.collect { case (j, _, ms) if j < fixed => ms }.sum
      def of(k: String) = samples.collect { case (_, `k`, ms) => ms }.toSeq
      Seq("semantic", "filtered", "hybrid").foreach(k => rep.median(s"${k}_p50_ms", of(k)))
      val bySelectivity = samples.collect { case (j, "filtered", ms) =>
        Gen.RequestMix(j % Gen.RequestMix.size) -> ms
      }.groupBy(_._1).map { case (k, v) => f"$k ${Stats.median(v.map(_._2).toSeq)}%.0f ms" }
      rep.note(s"filtered_p50_ms by filter: ${bySelectivity.toSeq.sorted.mkString(", ")}")
      val p = Stats.tail(samples.collect { case (j, "semantic", ms) if j < fixed => ms }.toSeq, 90)
      rep.note(f"semantic tail ${p.value}%.2f ms: ${p.note}, the semantic requests of the first $ReadCycles cycles")
    }
  }

  /** 3. The offline batch through the distributed funnel; a sample of
    * its queries must match the resident path (doc_id, rank) for
    * (doc_id, rank). */
  def batch(ctx: Ctx, rep: Report, in: Gen.ServeInputs, gi: GraftIndex): Unit =
    rep.op("batch")(ctx.tracer.timed("search.batch", 0) {
      byQuery(gi.search(queryFrame(ctx, in.batch), Batch))
    }) { case (got, _, _) =>
      val sample = (0 until SampleQueries).map(i => i * NBatch / SampleQueries)
      val resident = byQuery(gi.search(queryFrame(ctx, sample.map(in.batch)), Resident))
      Checks.count(got.size, NBatch, "queries answered").orElse(sample.zipWithIndex.flatMap {
        case (q, i) => Checks.topK(got(q.toLong), TopK)
          .orElse(Checks.sameRanking(got(q.toLong), resident(i.toLong)))
      }.headOption)
    }.foreach { case (_, ms, _) =>
      rep.workMs += ms
      rep.note(f"batch_qps ${NBatch / (ms / 1e3)}%.2f: $NBatch queries in $ms%.0f ms")
    }

  /** 4. Add/delete cycles, each write followed by the first search on a
    * fresh handle. Traced runs repeat each such search untraced on a
    * second fresh handle, the order alternating, for the overhead. */
  def writes(ctx: Ctx, rep: Report, in: Gen.ServeInputs, gi: GraftIndex, path: String): Unit = {
    val spark = ctx.spark
    val keys = ArrayBuffer(in.docs.map(_.key): _*)
    val embOf = (in.docs ++ in.cycles.flatMap(_.adds)).map(d => d.key -> d.emb).toMap
    val deleted = mutable.Set.empty[String]
    val appendMs, deleteMs, afterMs = ArrayBuffer.empty[Double]

    def afterWrite(c: Int, query: Array[Array[Float]], cause: Int): Unit = {
      val order =
        if (!ctx.trace) Seq(false) else if (afterMs.size % 2 == 0) Seq(true, false) else Seq(false, true)
      order.foreach { on =>
        ctx.tracing(on)
        rep.op(s"search after write, cycle $c") {
          val fresh = GraftIndex.open(spark, path)
          val (hits, ms, _) = ctx.tracer.timed("search.after_write", c, cause) {
            Main.hits(fresh.search(queryFrame(ctx, Seq(query)), Resident))
          }
          if (ctx.trace) rep.paired(on, ms)
          if (!ctx.trace || on) afterMs += ms
          val keys =
            if (deleted.isEmpty) Seq.empty[String]
            else fresh.metadata.filter(col("_subset_").isin(hits.map(_.docId): _*))
              .select("key").collect().map(_.getString(0)).toSeq
          (hits, keys)
        } { case (hits, ks) => Checks.topK(hits, TopK).orElse(Checks.noneDeleted(ks, deleted.toSet)) }
      }
      ctx.tracing(true)
    }

    in.cycles.zipWithIndex.foreach { case (cy, c) =>
      val (adds, addMeta) = docsFrame(ctx, cy.adds) // local ids 0..n-1, as addDocuments expects
      rep.op(s"add, cycle $c")(ctx.tracer.timed("index.add", c) {
        gi.addDocuments(adds, Some(addMeta), Update)
      }) { case (g, ms, _) =>
        appendMs += ms
        keys ++= cy.adds.map(_.key)
        Checks.count(g.count, keys.size, "live docs after add")
      }.foreach { case (_, _, span) => afterWrite(c, cy.adds.head.emb, span) }

      val gone = cy.deletePositions.map(keys)
      rep.op(s"delete, cycle $c")(ctx.tracer.timed("index.delete", c) {
        gi.deleteDocuments(ids = Some(cy.deletePositions.map(_.toLong)))
      }) { case (g, ms, _) =>
        deleteMs += ms
        cy.deletePositions.reverse.foreach(keys.remove)
        deleted ++= gone
        Checks.count(g.count, keys.size, "live docs after delete")
      }.foreach { case (_, _, span) =>
        // query with a deleted doc's own vectors: it must not come back
        afterWrite(c, embOf(gone.head), span)
      }
    }

    if (!ctx.trace) {
      rep.median("append_p50_ms", appendMs.toSeq)
      rep.median("delete_p50_ms", deleteMs.toSeq)
      rep.median("after_write_p50_ms", afterMs.toSeq)
      rep.workMs += (appendMs ++ deleteMs ++ afterMs).sum
    }
  }
}
