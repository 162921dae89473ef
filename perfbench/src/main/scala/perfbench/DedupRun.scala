package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

import graft.pipeline.{Dedup, Similarity}

/** `dedup`: exact dedup -> MinHash-LSH near-duplicate pairs ->
  * connected-component clusters over the text corpus, plus IVF cosine
  * near-duplicate pairs over the embedding table, checked against the
  * planted duplicates. */
object DedupRun {

  val NTexts = 1200
  val Words = 40
  val NExact = 60
  val NNear = 60
  val NearSize = 3
  val NVectors = 1200
  val Dim = 64
  val NVecFamilies = 60
  val VecFamilySize = 2
  val NumPerm = 16
  val RowsPerBand = 2
  val Cells = 16
  val MinCosine = 0.95
  val SetupRepeats = 3
  /** Exact-dedup calls a traced run makes in traced/untraced pairs. */
  val OverheadPairs = 16

  final case class Outcome(textPairs: Set[(Long, Long)], vecPairs: Set[(Long, Long)])

  def pairsOf(fams: Seq[Seq[Long]]): Set[(Long, Long)] =
    fams.flatMap(f => f.combinations(2).map { case Seq(a, b) => (math.min(a, b), math.max(a, b)) }).toSet

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    import spark.implicits._
    val rep = new Report
    var in: Gen.DedupInputs = null
    var texts: DataFrame = null
    var vecs: DataFrame = null
    val genS = (0 until SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      in = Gen.dedup(ctx.seed, NTexts, Words, NExact, NNear, NearSize, NVectors, Dim,
        NVecFamilies, VecFamilySize)
      if (texts != null) { texts.unpersist(); vecs.unpersist() }
      texts = spark.sparkContext.parallelize(in.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, ctx.cores)
        .toDF("doc_id", "text").cache()
      vecs = spark.sparkContext.parallelize(in.vectors.zipWithIndex.map { case (v, i) => (i.toLong, v) }, ctx.cores)
        .toDF("vec_id", "embedding").cache()
      texts.count(); vecs.count()
      (System.nanoTime() - t0) / 1e9
    }
    rep.note(s"inputs_sha256 dedup ${in.sha256}")

    val plantedText = pairsOf(in.nearFamilies)
    val plantedVec = pairsOf(in.vecFamilies)
    val allIds = (0L until NTexts).toSet

    /** One pass of the chain; returns the pairs found and its wall ms. */
    def chain(run: Int): Option[(Outcome, Double)] = {
      val t0 = System.nanoTime()
      val exact = rep.op(s"exact dedup, run $run")(ctx.tracer.timed("pipeline.exact_dedup", run) {
        Dedup.exactDedup(texts, "doc_id", "text").select("keep_id").collect().map(_.getLong(0)).toSet
      }._1)(keep => Checks.removedExactly(allIds -- keep, in.exactCopies))
      exact.flatMap { keep =>
        val kept = keep.toSeq.toDF("doc_id")
        val survivors = texts.join(broadcast(kept), "doc_id")
        rep.op(s"minhash pairs + clusters, run $run") {
          val pairs = ctx.tracer.timed("pipeline.minhash_pairs", run) {
            Dedup.minhashDedupPairs(survivors, "doc_id", "text", numPerm = NumPerm,
              rowsPerBand = RowsPerBand).select("a", "b").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSeq
          }._1
          val pairsDf = pairs.toDF("a", "b")
          val clusters = ctx.tracer.timed("pipeline.clusters", run) {
            Dedup.duplicateClusters(survivors, "doc_id", pairsDf)
              .select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          }._1
          (pairs, clusters)
        } { case (_, clusters) => Checks.oneClusterEach(clusters, in.nearFamilies) }
          .flatMap { case (pairs, _) =>
            rep.op(s"cosine pairs, run $run")(ctx.tracer.timed("pipeline.cosine_pairs", run) {
              Similarity.cosineDedupPairs(spark, vecs, Dim, Cells, MinCosine, probes = 2)
                .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
            }._1)(_ => None).map { vp =>
              val norm = (p: (Long, Long)) => (math.min(p._1, p._2), math.max(p._1, p._2))
              (Outcome(pairs.map(norm).toSet, vp.map(norm).toSet), (System.nanoTime() - t0) / 1e6)
            }
          }
      }
    }

    def quality(o: Outcome): Unit = {
      val found = (o.textPairs intersect plantedText).size + (o.vecPairs intersect plantedVec).size
      val planted = plantedText.size + plantedVec.size
      val emitted = o.textPairs.size + o.vecPairs.size
      rep.put("quality", found.toDouble / planted, "ratio")
      rep.put("pipeline.minhash_pairs.rows", o.textPairs.size, "count")
      rep.put("pipeline.cosine_pairs.rows", o.vecPairs.size, "count")
      rep.put("pipeline.pair_precision", found.toDouble / math.max(emitted, 1), "ratio")
      rep.note(s"quality: recall of planted pairs, $found of $planted found, $emitted pairs emitted")
    }

    if (ctx.trace) {
      // like the untraced run: an untraced warm-up pass, then the pass
      // that is measured
      ctx.tracing(false)
      chain(0)
      ctx.tracing(true)
      chain(1).foreach(o => quality(o._1))
      // overhead: after one untimed call, exact-dedup calls in pairs,
      // traced and untraced, the order alternating
      ctx.tracing(false)
      Dedup.exactDedup(texts, "doc_id", "text").select("keep_id").collect()
      (0 until OverheadPairs).foreach { i =>
        (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { on =>
          ctx.tracing(on)
          rep.paired(on, ctx.tracer.timed("overhead.exact_dedup", 1 + i) {
            Dedup.exactDedup(texts, "doc_id", "text").select("keep_id").collect()
          }._2)
        }
      }
      ctx.tracing(true)
    } else {
      // set-up ends with one untimed pass of the chain, which takes the
      // JIT and codegen warm-up, and a full collection (as in Serve.run);
      // the measured pass is the second. Repeating passes until --seconds
      // would add samples only once the chain gets faster than --seconds,
      // and medians of more passes per run did not narrow the run-to-run
      // spread (NOTES.md).
      val warmMs = chain(0).map(_._2).getOrElse(0.0)
      rep.put("setup_s", Stats.median(genS) + warmMs / 1e3, "s")
      rep.note(f"setup_s: median of ${genS.size} input generations and loads " +
        f"(${genS.map(s => f"$s%.2f").mkString(", ")} s) + warm-up chain pass ${warmMs / 1e3}%.2f s")
      System.gc()
      chain(1).foreach { case (o, ms) =>
        quality(o)
        rep.workMs += ms
        rep.put("throughput_per_s", (NTexts + NVectors) / (ms / 1e3), "1/s")
        rep.note(f"throughput_per_s: ${NTexts + NVectors} input docs in one warm chain pass ($ms%.0f ms)")
      }
    }
    rep
  }
}
