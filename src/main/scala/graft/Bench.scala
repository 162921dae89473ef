package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR, prints ONE machine-readable JSON line and also
  * writes it to bench.json (sbt's [info] stdout prefix made round 1's
  * output unparseable). Failures are recorded per query in an `errors`
  * map — never silently folded into the total as a fast time. */
object Bench {

  /** Force FULL evaluation of every output column before counting. A
    * bare `count()` lets Catalyst prune the projections and drop
    * provably-unique left joins (correct optimizer behavior — a count
    * doesn't need them), which under-times projection-shaped operators:
    * measured round 11, `p_dup_ngram` at ×1000 "ran" in 0.34 s because
    * the whole gram pipeline was optimized away. Hashing every column
    * into an aggregate defeats the pruning at ~ns/row cost. */
  def forcedCount(df: org.apache.spark.sql.DataFrame): Long =
    forcedCountHash(df)._1

  /** (row count, order-insensitive content hash). The hash leg is
    * bit_xor over xxhash64(every column) — equal hashes mean equal
    * multisets-up-to-xor of full rows, which is what equivalence gates
    * (npy roundtrip, salt-guard A/B) actually need; `forcedCount`
    * alone only proves equal CARDINALITY (r16 advice: two judged
    * "hash identical" claims were silently count-only). Empty input
    * hashes to 0 via coalesce (bit_xor of zero rows is NULL). */
  def forcedCountHash(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = df
      .select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("_h"))
      .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(_h)"), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def forcedHash(df: org.apache.spark.sql.DataFrame): Long =
    forcedCountHash(df)._2

  /** Ambient-speed calibration: a FIXED synthetic workload (one
    * single-threaded hash-mix loop + one 32-partition Spark hash-sum
    * job). Identical committed code has read 103-436 s for the same
    * scale probe across sessions — every judged record (bench AND the
    * scale-probe mains) carries the machine's speed that day riding
    * along so cross-round numbers can be normalized instead of argued
    * about. Quiet-machine reference is ~0.085 (1t) / ~0.42 (32t).
    *
    * r16 lesson: the CPU-only calib was BLIND to whatever inflated the
    * driver's suite 211.7 s vs the builder's 165.4 s at near-identical
    * 1t/32t readings — the contention was IO/page-cache shaped. So the
    * calib now carries an IO leg too: a fixed 8M-row parquet write to a
    * fresh temp dir (committer + disk write under whatever contention
    * exists right now) and a cold-path read→shuffle→agg over it. */
  final case class Calib(t1: Double, tN: Double, ioW: Double, ioR: Double)

  def calibrate(spark: org.apache.spark.sql.SparkSession): Calib = {
    var acc = 0L
    def mix(n: Long): Unit = {
      var i = 0L
      while (i < n) {
        acc ^= java.lang.Long.rotateLeft(i * 0x9E3779B97F4A7C15L, 31); i += 1L
      }
    }
    // untimed full-length warmup: C2 compiles on a BACKGROUND thread,
    // so a short warmup lets the timed run race the compiler (pre_1t
    // read 0.54-0.56 vs post_1t 0.09 with a 50M warmup)
    mix(200000000L)
    mix(200000000L)
    val t0 = System.nanoTime()
    mix(200000000L)
    val st = (System.nanoTime() - t0) / 1e9
    def job(n: Long): Long = spark.range(0L, n, 1L, 32)
      .selectExpr("bit_xor(xxhash64(id))").collect()(0).getLong(0)
    var r = job(2000000000L) // untimed: codegen + executor-thread warm
    val t1 = System.nanoTime()
    r ^= job(2000000000L)
    val mt = (System.nanoTime() - t1) / 1e9
    if (acc == 42L && r == 42L) println("calibration sink") // defeat DCE
    // IO leg: 8M rows × 3 cols ≈ 65 MB parquet. Fresh dir per call so
    // the write cost is real every time; the read half still mostly
    // hits page cache on a quiet box (reference ~0.6 w / ~0.3 r) — an
    // elevated ioR therefore specifically flags cache/IO pressure.
    val ioDir = java.nio.file.Files
      .createTempDirectory("graft_calib_io").toString
    import org.apache.spark.sql.functions._
    try {
      def ioFrame(n: Long) = spark.range(0L, n, 1L, 32)
        .select(col("id"), xxhash64(col("id")).as("h"),
          sha1(col("id").cast("string")).as("s"))
      // untimed writer warmup (1/8 volume, all 32 tasks): the FIRST
      // parquet write of a session pays writer/committer JIT, which made
      // pre_iow read 2-3× post_iow within one record (r17 verdict item
      // 4) — warming here restores pre-vs-post comparability ("did the
      // box change mid-run")
      ioFrame(1000000L).write.mode("overwrite").parquet(ioDir)
      // untimed READER warmup over the warmup files (1/8 volume): the
      // first parquet read of a session pays footer/vectorized-reader
      // JIT just like the writer side pays committer JIT — BENCH_r18
      // still read pre_ior 2.4× post_ior after the writer warmup fixed
      // iow. Warming both legs makes pre-vs-post self-comparable
      // ("did the box change mid-run") on reads too.
      require(spark.read.parquet(ioDir)
        .groupBy(pmod(col("h"), lit(1024)).as("b"))
        .agg(count(lit(1)), sum(length(col("s"))))
        .agg(count(lit(1))).collect()(0).getLong(0) > 0L)
      val tw = System.nanoTime()
      ioFrame(8000000L).write.mode("overwrite").parquet(ioDir)
      val ioW = (System.nanoTime() - tw) / 1e9
      val tr = System.nanoTime()
      val got = spark.read.parquet(ioDir)
        .groupBy(pmod(col("h"), lit(1024)).as("b"))
        .agg(count(lit(1)), sum(length(col("s"))))
        .agg(count(lit(1))).collect()(0).getLong(0)
      val ioR = (System.nanoTime() - tr) / 1e9
      require(got > 0L)
      Calib(st, mt, ioW, ioR)
    } finally graft.util.Fs.deleteRecursively(ioDir)
  }

  /** The calib JSON fragment probes append to their records:
    * `"calib":{"pre_1t":...,"pre_32t":...,"pre_iow":...,"pre_ior":...,
    *  "post_1t":...,...}`. */
  def calibJson(pre: Calib, post: Calib): String = {
    def d3(v: Double) = f"$v%.3f"
    s""""calib":{"pre_1t":${d3(pre.t1)},"pre_32t":${d3(pre.tN)},""" +
      s""""pre_iow":${d3(pre.ioW)},"pre_ior":${d3(pre.ioR)},""" +
      s""""post_1t":${d3(post.t1)},"post_32t":${d3(post.tN)},""" +
      s""""post_iow":${d3(post.ioW)},"post_ior":${d3(post.ioR)}}"""
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The session the runner mains (Bench, Verify, PlanDump, BenchOne,
    * PipelineScaleProbe) build: `local[cpus]`, UTC, no UI, WARN logs. */
  def session(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // 10 MB default is sized for small executors; at local[32]/128 GiB a
      // 64 MB broadcast beats shuffling a 10^8-row probe side (and AQE
      // still falls back from stats at runtime)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM/session warm-up so the first measured query doesn't absorb
    * executor/codegen startup (q1 carried ~5s of it in round 1), and a
    * throwaway parquet write so committer/output-format init isn't
    * attributed to whichever artifact-building query runs first. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(100L).write.mode("overwrite").parquet("/tmp/graft_bench_warmup")
  }

  /** A failure's message made safe to embed in a JSON string. */
  def errorText(e: Throwable, max: Int = 200): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(max)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus(32)
    val spark = session(cpus, cpus)
    warmUp(spark)

    // NOTE (r16, closing the r15 "codegen tax" item with a negative
    // result): a graph-family JIT/codegen warm (clusteringCoeff +
    // kCore + pageRank on a 40-node synthetic, excluded and recorded
    // as graph_warm_sec=5.15) was added and A/B'd here — in-suite
    // g_triangles did NOT move (9.52 vs 9.28 r15 at equal calib), so
    // the warm was removed again. Isolated same-session measurements:
    // the operator is 2.2 s warm / 6.5 s first-execution; the ~3 s
    // in-suite premium survives operator warm-up and is suite-heap/GC
    // environment (r15 already A/B-rejected periodic-GC, heap size,
    // and zombie-unpersist fixes). The inherent cost is the 2.2 s
    // wedge join; the in-suite number is an honest suite artifact.

    val calibPre = calibrate(spark)

    // GC accounting for the whole run: suite slowdowns that the CPU/IO
    // calib can't see (r15-r18 "in-suite premium" on the graph family)
    // show up here if they are collector pressure — making the heap
    // question (SPARK_DRIVER_MEM) measurable instead of argued.
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val gcStart = gcMillis

    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // warm search-QPS twin (separate field, NOT part of the query
    // total): SciFact-sized corpus (5,200 docs, dim 128), warm pass then
    // best of N timed batch searches — comparable to the reference's
    // 55.3 QPS CPU docker number modulo tokens/doc (see QpsHarness).
    // Measured BEFORE the query suite: a latency metric taken at the
    // tail of 50+ queries reads the suite's GC/broadcast backlog, not
    // search throughput (measured round 9: 1.35 s/batch after the suite
    // vs 0.96 s in a fresh JVM). SPARK_GRAFT_QPS=0 skips it.
    val qpsField =
      if (sys.env.get("SPARK_GRAFT_QPS").exists(v =>
        v.toDoubleOption.forall(_ <= 0))) ""
      else try {
        import graft.search.QpsHarness
        // best-of-3 FULL measure() calls in this one JVM (the index is
        // built once and cache-hits afterwards): qps_warm historically
        // swung 123-159 across bench invocations on identical code —
        // ambient, not code — so the record keeps every run for
        // provenance and reports the best (r14 verdict item 7)
        // one EXCLUDED warmup pass first: it absorbs the index
        // build/cache-load and the search path's first-call JIT, so the
        // three recorded runs measure steady-state serving (with the
        // warmup inside run 1 the recorded spread was ~17%; the warmup
        // run itself still rides the JSON as qps_warmup_run)
        val warmup = QpsHarness.measure(spark, "/tmp/graft_bench_qps")
        val runs = (1 to 3).map { _ =>
          QpsHarness.measure(spark, "/tmp/graft_bench_qps")
        }
        val (sec, qps) = (runs.map(_._1).min, runs.map(_._2).max)
        val buildSec = warmup._3
        // ROOT locale like the truncation path below: Scala's f"" delegates
        // to the default-locale String.format, so a comma-decimal locale
        // would emit invalid JSON here too
        def d(v: Double, places: Int) =
          String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v))
        val runsJson = runs.map(r => d(r._2, 1)).mkString("[", ",", "]")
        s""","qps_warm":${d(qps, 1)},"qps_sec":${d(sec, 3)},"qps_build_sec":${d(buildSec, 1)}""" +
          s""","qps_runs":$runsJson,"qps_warmup_run":${d(warmup._2, 1)}""" +
          s""","qps_docs":${QpsHarness.NumDocs},"qps_queries":${QpsHarness.NumQueries}""" +
          s""","qps_dim":${QpsHarness.Dim},"qps_tokens_per_doc":${QpsHarness.TokensPerDoc}"""
      } catch {
        case e: Throwable =>
          errors("qps_warm") = errorText(e)
          ""
      }

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => SparkEntry.verifyOnly(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        forcedCount(fn(spark, sfDir))
        times(name) = (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors(name) = errorText(e)
      }
    }
    // Contended-pass guard (round-13 lesson: the driver's record ran
    // 233 s where an identical-HEAD clean run measured 173 s, with
    // pure-SQL unchanged-plan queries inflated 4-5×): re-run the 5
    // slowest queries once, and replace a timing ONLY when the first
    // run is a clear contention outlier (> 1.5× the rerun) — an
    // unconditional min would systematically read the warm second
    // pass (r14 advice). BOTH timings and any rerun failure ride the
    // JSON line for provenance.
    val rerunSlowest = times.toSeq.sortBy(-_._2).take(5).map(_._1)
    val rerunDetail =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    rerunSlowest.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val first = times(name)
        val t0 = System.nanoTime()
        try {
          forcedCount(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          // ROOT locale — f"" would emit comma decimals in some locales
          rerunDetail(name) = String.format(
            java.util.Locale.ROOT, "[%.3f,%.3f]",
            Double.box(first), Double.box(sec))
          if (first > 1.5 * sec) times(name) = sec
        } catch { case e: Throwable =>
          // keep the first (successful) timing; record the flake
          rerunDetail(name) = s"""["${errorText(e, 80)}"]"""
        }
      }
    }
    val rerunJson = rerunDetail
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    // retrieval-quality gate (separate fields, NOT part of the query
    // total): recall@10 AND ndcg@10 of the default pruned funnel vs
    // brute force on the HARD clustered corpus (overlapping clusters +
    // near-dup families — RecallHarness hard mode), gated on drift from
    // the stored calibration baseline in EITHER direction, the twin of
    // the reference's stored-SciFact-NDCG discipline. The old separable
    // corpus saturated at 1.0 and could never fail.
    // SPARK_GRAFT_RECALL_DOCS=0 skips it.
    val recallDocs = sys.env.getOrElse("SPARK_GRAFT_RECALL_DOCS", "50000").toLong
    val recallField =
      if (recallDocs <= 0) ""
      else try {
        import graft.search.RecallHarness._
        val Seq((r, ndcg)) = hardQuality(spark, "/tmp/graft_bench_recall", recallDocs)
        // the stored baseline is calibrated at exactly HardBaselineDocs;
        // a different corpus size reports metrics without gating (its
        // default-funnel NDCG is a different number, not a regression)
        if (recallDocs == HardBaselineDocs &&
            math.abs(ndcg - HardNdcgBaseline) > HardGateDrift)
          errors("ndcg_at_10") =
            s"hard ndcg@10 $ndcg drifted >±$HardGateDrift from baseline $HardNdcgBaseline"
        s""","recall_at_10":$r,"ndcg_at_10":$ndcg,"recall_docs":$recallDocs""" +
          s""","quality_gate":"hard","ndcg_baseline":$HardNdcgBaseline"""
      } catch {
        case e: Throwable =>
          errors("recall_at_10") = errorText(e)
          ""
      }

    val qs = times.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val total = times.values.sum
    // post-suite calibration: ambient drift DURING the run rides along
    val calibPost = calibrate(spark)
    val calibField = {
      def d3(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      s""","calib":{"pre_1t":${d3(calibPre.t1)},"pre_32t":${d3(calibPre.tN)},""" +
        s""""pre_iow":${d3(calibPre.ioW)},"pre_ior":${d3(calibPre.ioR)},""" +
        s""""post_1t":${d3(calibPost.t1)},"post_32t":${d3(calibPost.tN)},""" +
        s""""post_iow":${d3(calibPost.ioW)},"post_ior":${d3(calibPost.ioR)}}""" +
        s""","gc_sec":${d3((gcMillis - gcStart) / 1000.0)}""" +
        s""","heap_gb":${d3(Runtime.getRuntime.maxMemory / 1e9)}"""
    }
    def lineWith(queriesJson: String, extra: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$queriesJson$extra,"errors":$es,"n_errors":${errors.size},"rerun_slowest":${rerunSlowest.size},"rerun":$rerunJson$recallField$qpsField$calibField,"sf":"$sfDir"}"""
    // full-precision, all-queries record → bench.json (for the judge)
    Files.writeString(Paths.get("bench.json"), lineWith(qs, "") + "\n")
    // stdout: the driver parses the JSON line out of a FIXED 2000-char
    // tail of this process's output — rounds 10 and 11 recorded
    // "parsed": null because the all-queries line outgrew that window.
    // Print the slowest queries at 3-decimal precision until a ~1700
    // char budget is reached (sbt's trailing "[success]" line and the
    // final newline share the window), and say how many were elided.
    val budget = 1700
    val byTime = times.toSeq.sortBy(-_._2)
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    var omitted = 0
    val overhead = lineWith("{}", s""","queries_omitted":${times.size}""").length
    byTime.foreach { case (k, v) =>
      // explicit ROOT locale: f"%.3f" uses the JVM default locale, and a
      // comma-decimal locale would emit 0,123 — invalid JSON for the
      // driver's tail parser
      val ent = "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      if (overhead + used + ent.length + 1 <= budget) { kept += ent; used += ent.length + 1 }
      else omitted += 1
    }
    val qsShort = kept.mkString("{", ",", "}")
    println(lineWith(qsShort, s""","queries_omitted":$omitted"""))
    spark.stop()
    if (errors.nonEmpty) System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
