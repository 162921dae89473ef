package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed end-to-end pipeline rehearsal (r15 verdict item 2): the
  * 100 TB deployment shape is ONE job chain — ingest → exact dedup →
  * C4 clean → Gopher quality → MinHash dedup → decontaminate →
  * index + FTS build → hybrid search — sharing DataFrames across
  * stages, not the per-operator probes (which each re-read parquet and
  * so can never catch cross-operator issues: lineage growth across
  * stages, persist/unpersist leaks, cumulative shuffle-partition
  * misconfiguration, a stage silently recomputing its upstream).
  * Dedup precedes the clean: see the stage-1 comment — the reversed
  * order lets C4's line-df rule delete mirror families before dedup
  * counts them, at any fixed threshold (caught by this probe).
  *
  * Stage discipline (the deployment pattern under test):
  *   - each stage's output is persisted and forced ONCE; the next
  *     stage must read the in-memory relation — asserted per stage on
  *     the executed plan (`InMemoryTableScan` present, no parquet
  *     FileScan of the raw documents path after stage 1). A failed
  *     assertion means Spark silently recomputed upstream work — the
  *     exact leak this rehearsal exists to catch;
  *   - the previous stage is unpersisted as soon as its consumer is
  *     forced, so peak footprint is two stage outputs, not the chain.
  *
  * Corpus notes (honest deviations, both forced by the synthetic data):
  *   - documents are single-line and punctuation-free, so the C4 line
  *     rules get the same deterministic 8-word/terminal-'.' line
  *     synthesis as the `p_c4_clean` gate (tripled first — base docs
  *     are ~50 words and C4 keeps ~60%, which would leave every doc
  *     under Gopher's 50-word floor);
  *   - the synthetic vocabulary contains none of the 8 Gopher stop
  *     words, so the quality stage filters on the six structural rules
  *     and reports (not gates on) `r_stop`;
  *   - the vector index builds over the embeddings table restricted to
  *     doc ids that survived the text pipeline (the two tables' id
  *     spaces overlap in [0, nEmbDocs)) — the filtered-build shape of
  *     a real deployment, at the corpus intersection this data allows.
  *
  * Prints one JSON line:
  * `{"metric":"pipeline_probe","factor":N,"stages":{name:sec,...},
  *  "rows":{name:n,...},"total_sec":...,"reused_stages":k,"calib":{...}}`
  *
  * Usage: `SPARK_DRIVER_MEM=24g sbt "runMain graft.PipelineScaleProbe 100"`
  */
object PipelineScaleProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus(32)
    val spark = Bench.session(cpus, math.max(cpus, 64))
    val calibPre = Bench.calibrate(spark)

    // BenchOne is the single-sourced corpus recipe; generate-if-absent
    val base = s"/tmp/graft_scale_x$factor"
    BenchOne.generateTables(spark, sfDir, factor, base, Set("documents", "embeddings"))

    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var reused = 0
    val docsPath = s"$base/documents.parquet"

    /** Force a stage: persist, count, time; assert the plan reuses the
      * upstream in-memory relation instead of recomputing it. */
    def stage(name: String, df: DataFrame, expectCached: Boolean,
        prev: Option[DataFrame], allowRawScan: Boolean = false,
        acceptBarrier: Boolean = false): DataFrame = {
      // walk the LIVE plan tree, not its string: InMemoryRelation
      // PRINTS its cached child plan (including the original FileScan
      // text) — a substring check false-positives — and the physical
      // tree hides under AdaptiveSparkPlanExec (no children), so the
      // walk runs on the optimized LOGICAL plan, where cache use is an
      // InMemoryRelation node and a real corpus re-read is a
      // LogicalRelation over the raw parquet (a cached plan is not a
      // child node, so collect() only reaches scans that would execute)
      val lp = df.queryExecution.optimizedPlan
      if (expectCached) {
        val hasCache = lp.collectWithSubqueries {
          case c: org.apache.spark.sql.execution.columnar.InMemoryRelation => c
        }.nonEmpty
        // acceptBarrier: an operator that internally localCheckpoints
        // (c4Clean's line table, r20) truncates its lineage to a
        // LogicalRDD — the checkpoint materialized FROM the cached
        // upstream at construction (a checkpoint by definition never
        // recomputes), it is just invisible in the final plan. The
        // raw-corpus re-read assertion below still applies unchanged.
        val hasBarrier = acceptBarrier && lp.collectWithSubqueries {
          case r: org.apache.spark.sql.execution.LogicalRDD => r
        }.nonEmpty
        require(hasCache || hasBarrier,
          s"stage $name recomputes its upstream (no InMemoryRelation):\n" +
            lp.toString.take(4000))
        // allowRawScan: the decontaminate stage legitimately scans the
        // raw corpus ONCE MORE for its held-out eval sample — that scan
        // is the eval ingest, not a recompute of the train chain
        val raw = lp.collectWithSubqueries {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
              l.relation.asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.rootPaths.exists(_.toString.contains(docsPath)) => l
        }
        require(allowRawScan || raw.isEmpty,
          s"stage $name re-reads the raw corpus parquet:\n" +
            lp.toString.take(4000))
        reused += 1
      }
      val p = df.persist()
      val t0 = System.nanoTime()
      rows(name) = p.count()
      stages(name) = (System.nanoTime() - t0) / 1e9
      prev.foreach(_.unpersist())
      p
    }

    val tAll = System.nanoTime()

    // ---- stage 1: ingest + EXACT dedup on the raw text ----
    // Dedup runs BEFORE the boilerplate clean — the standard
    // production order, and this probe demonstrated why it is not a
    // style choice: with clean-first, C4's line-df rule sees every
    // line of a whole-document mirror family as "recurring across
    // docs" and silently deletes the duplicates before dedup runs
    // (exact_dedup removed 0 rows at ×100 with the default
    // maxLineDf = 2; raising it to 25 fixed ×100's 10-copy families
    // and then broke IDENTICALLY at ×1000's 100-copy families — no
    // fixed threshold coexists with corpus-scaled mirror counts).
    // Dedup-first removes the mirrors, which also makes the df
    // statistic honest: what recurs afterwards is genuine boilerplate.
    val raw = spark.read.parquet(docsPath).select("doc_id", "text")
    val ex = graft.pipeline.Dedup.exactDedup(raw, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val exact = stage("exact_dedup",
      raw.join(ex, Seq("doc_id"), "left_semi"),
      expectCached = false, prev = None)

    // ---- stage 2: C4 line rules + boilerplate df ----
    // line synthesis as in the p_c4_clean gate (the corpus is
    // single-line); ×3 so the cleaned docs clear Gopher's 50-word
    // floor. Shared lambda-free implementation (r18 — the inline
    // transform(sequence(...)) copy ran its body interpreted).
    val lined = graft.pipeline.CurationPipeline.synthLines(exact, "doc_id", "text")
    val c4 = stage("c4_clean",
      graft.pipeline.Boilerplate.c4Clean(lined, "doc_id", "text2")
        .filter(col("page_pass"))
        .select(col("doc_id"), col("clean_text").as("text")),
      expectCached = true, prev = None, acceptBarrier = true)

    // ---- stage 3: Gopher quality (6 structural rules; see header) ----
    val gq = graft.pipeline.TextStats.gopherRules(c4, "doc_id", "text")
      .filter(col("r_word_count") && col("r_mean_word_len") && col("r_alpha") &&
        col("r_symbol") && col("r_bullet") && col("r_ellipsis"))
      .select("doc_id")
    val quality = stage("gopher",
      c4.join(gq, Seq("doc_id"), "left_semi"),
      expectCached = true, prev = Some(exact))
    c4.unpersist()

    // ---- stage 4: MinHash/LSH near-dedup + connected components ----
    val pairs = graft.pipeline.Dedup.minhashDedupPairs(
      quality, "doc_id", "text",
      shingleSize = 3, numPerm = 16, rowsPerBand = 4, minJaccard = 0.5)
    // pairs count rides the record: the ScaleProbe mutation breaks all
    // 3-shingles vs the base (Jaccard ≈ 0 by design), so after exact
    // dedup the NEAR-dup count is expected ~0 — this stage's honest
    // role in the rehearsal is the signature/LSH scan cost over the
    // surviving corpus, not removal (removal is proven by the
    // per-operator ×1000 LSH points with planted families)
    rows("lsh_pairs") = pairs.count()
    val clusters = graft.pipeline.Dedup.duplicateClusters(quality, "doc_id", pairs)
    val surv = graft.pipeline.Dedup.clusterSurvivors(
      clusters, quality.select(col("doc_id"), length(col("text")).as("score")))
      .filter(col("keep")).select("doc_id")
    val deduped = stage("minhash_dedup",
      quality.join(surv, Seq("doc_id"), "left_semi"),
      expectCached = true, prev = Some(quality))

    // ---- stage 5: decontaminate vs a held-out eval sample ----
    val eval_ = spark.read.parquet(docsPath)
      .filter(col("doc_id") % 1009 === 0)
      .select("doc_id", "text")
    val decon = graft.pipeline.Mixing.decontaminate(
      deduped, eval_, "doc_id", "text", shingleSize = 5, minShared = 2)
      .filter(!col("contaminated")).select("doc_id")
    val clean = stage("decontaminate",
      deduped.join(decon, Seq("doc_id"), "left_semi"),
      expectCached = true, prev = Some(deduped), allowRawScan = true)

    // ---- stage 6: FTS + vector index build over the survivors ----
    val outDir = s"/tmp/graft_pipe_x$factor"
    graft.util.Fs.deleteRecursively(outDir)
    val t6 = System.nanoTime()
    val fts = graft.fts.FtsIndex.build(
      spark, clean, "doc_id", "text", s"$outDir/fts")
    rows("fts_terms") = fts.postings.count()
    val embDocs = spark.read.parquet(s"$base/embeddings.parquet")
      .select((col("vec_id") / 5).cast("long").as("doc_id"),
        col("vec_id"), col("embedding"))
      .join(clean.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("embeddings"))
    val idx = graft.index.MultiVectorIndex.build(
      spark, embDocs, s"$outDir/index")
    rows("index_docs") = idx.numDocuments
    stages("build_indexes") = (System.nanoTime() - t6) / 1e9

    // ---- stage 7: hybrid search over what the chain built ----
    val t7 = System.nanoTime()
    val queries = spark.read.parquet(s"$base/embeddings.parquet")
      .filter(col("vec_id") < 40)
      .select((col("vec_id") / 5).cast("long").as("query_id"),
        col("vec_id"), col("embedding"))
      .groupBy("query_id")
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("embeddings"))
    val hits = graft.search.HybridSearch.search(
      spark, idx, fts, queries, textQuery = "spark join",
      params = graft.search.HybridParams(mode = "hybrid", topK = 10))
    rows("hybrid_hits") = Bench.forcedCount(hits)
    stages("hybrid_search") = (System.nanoTime() - t7) / 1e9
    val totalSec = (System.nanoTime() - tAll) / 1e9
    clean.unpersist()

    val calibPost = Bench.calibrate(spark)
    def jmap(m: scala.collection.Map[String, Any]): String =
      m.map { kv =>
        kv._2 match {
          case d: Double => f""""${kv._1}":$d%.1f"""
          case x => s""""${kv._1}":$x"""
        }
      }.mkString("{", ",", "}")
    println(
      s"""{"metric":"pipeline_probe","factor":$factor,""" +
        s""""stages":${jmap(stages)},"rows":${jmap(rows)},""" +
        f""""total_sec":$totalSec%.1f,"reused_stages":$reused,""" +
        Bench.calibJson(calibPre, calibPost) + s""","sf_base":"$sfDir"}""")
    spark.stop()
  }
}
