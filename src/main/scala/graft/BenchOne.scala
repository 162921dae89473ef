package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The profiling runner: runs named [[SparkEntry.queries]] `reps` times
  * each in one JVM, at sf scale or on the sf tables replicated
  * `factor`×, and prints ONE JSON line.
  *
  * Usage: `sbt "runMain graft.BenchOne <names> [reps] [factor] [tables]"`
  *   - `names`: comma list; an entry ending in `*` expands to every
  *     query with that prefix (`p_*,st_*` is the pipeline sweep).
  *     `v_index_search` is followed by the two 64-query search legs
  *     that read its index ([[Legs]]) unless a leg is named itself.
  *   - `reps` (default 3): timed runs per query.
  *   - `factor` (default 1): 1 reads `SPARK_GRAFT_SF_DIR` (default
  *     sf0.1); N > 1 replicates its tables N× into
  *     `/tmp/graft_scale_x<N>` ([[generateTables]], cached) and runs the
  *     UNCHANGED query code there.
  *   - `tables`: comma list of tables to replicate (default all ten).
  *
  * Every run is forced through [[Bench.forcedCountHash]] — a bare
  * `count()` lets Catalyst prune projections and under-times
  * projection-shaped queries — so times are comparable to a bench
  * line-item and the (rows, hash) pair is the run's identity. Jobs and
  * stages are the ones started while the query ran (this runner runs one
  * query at a time; the listener bus is drained before and after, so no
  * fence job is added). The record:
  * `{"metric":"bench_one","factor":N,"reps":R,"gen_sec":…,"queries":
  * {name:{"sec":[…],"rows":…,"hash":…,"jobs":[…],"stages":[…],
  * "error":…}},"n_errors":…,"calib":{…},"sf_base":…,"dir":…}`. */
object BenchOne {

  /** One query's runs: per-rep seconds, jobs and stages; the first
    * rep's (rows, hash); the first failure, if any (a later rep whose
    * (rows, hash) differs from the first is a failure too). */
  final case class Rec(sec: Seq[Double], rows: Long, hash: Long,
      jobs: Seq[Int], stages: Seq[Int], error: Option[String])

  /** THE ×factor embeddings replication recipe — deterministic per-dim
    * jitter (±0.01 from `hash(vec_id, r, dim)`) so replicas are near-
    * but not exact-duplicates and k-means/IVF geometry stays
    * non-degenerate. Every scale point reads it through the same /tmp
    * cache path, so the recipe must be single-sourced — two divergent
    * copies would silently measure different corpora. */
  def replicatedEmbeddings(
      spark: SparkSession, sfDir: String, factor: Int, nPart: Int): DataFrame = {
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = src.count()
    val reps = spark.range(factor).select(col("id").as("r"))
    src.repartition(nPart).crossJoin(broadcast(reps))
      .select(
        (col("r") * n + col("vec_id")).as("vec_id"),
        expr(
          """transform(embedding, (x, i) ->
            |  cast(x + (pmod(hash(vec_id, r, i), 1000) / 1000.0 - 0.5) * 0.02 as float))"""
            .stripMargin).as("embedding"),
        col("label"))
  }

  /** THE ×factor documents replication recipe — every 10th replica
    * keeps the base text (planted exact-dup families of factor/10, the
    * LSH worst case), the rest get every 3rd word replaced by a
    * hash-derived token (3-shingle Jaccard ≈ 0 vs the base).
    * Single-sourced like [[replicatedEmbeddings]]. */
  def replicatedDocuments(
      spark: SparkSession, sfDir: String, factor: Int, nPart: Int): DataFrame = {
    val reps = spark.range(factor).select(col("id").as("r"))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(nPart).crossJoin(broadcast(reps))
      .select(
        (col("doc_id") * factor + col("r")).as("doc_id"),
        when(col("r") % 10 === 0, col("text")).otherwise(expr(
          """array_join(zip_with(split(text, ' '), sequence(1, size(split(text, ' '))),
            |  (w, i) -> if(i % 3 = 0, conv(abs(hash(doc_id, r, i)), 10, 36), w)), ' ')"""
            .stripMargin)).as("text"),
        col("lang"), col("source"), col("n_chars"))
  }

  val AllTables: Set[String] = Set("documents", "embeddings", "events",
    "lineitem", "orders", "customer", "supplier", "nation", "region", "part")

  /** Generate the ×factor tables into `base` (cached — existing
    * parquet is reused), single-sourcing every replication recipe for
    * this runner and the pipeline/update rehearsals. Returns the
    * generation wall seconds (0 when fully cached). */
  def generateTables(
      spark: SparkSession, sfDir: String, factor: Int, base: String,
      tables: Set[String]): Double = {
    val cpus = spark.sparkContext.defaultParallelism
    val reps = spark.range(factor).select(col("id").as("r"))
    def gen(name: String)(df: => DataFrame): Unit =
      if (tables(name) && !graft.util.Fs.exists(s"$base/$name.parquet"))
        df.write.parquet(s"$base/$name.parquet")
    // repartition the SOURCE (KBs) before the multiplying crossJoin, not
    // the multiplied output (GBs): the single-file source otherwise
    // leaves the whole generation single-partition. 2 tasks per core:
    // the output files (~40 MB) sit under the parquet split size, so
    // file count IS the read parallelism, and CPU-heavy consumers
    // (shingling, encode) straggle at exactly 1 task per core.
    val nPart = cpus * 2
    val tGen0 = System.nanoTime()
    gen("documents") { replicatedDocuments(spark, sfDir, factor, nPart) }
    gen("embeddings") { replicatedEmbeddings(spark, sfDir, factor, nPart) }
    gen("events") {
      // replica r shifts the whole stream by r stream-lengths and uses a
      // fresh user population per replica: user cardinality AND the time
      // axis both scale with the data (per-user event density stays
      // constant — retention/session/funnel state per key doesn't blow
      // up, the count of keys does, as in a real growing product)
      val src = graft.Tables(spark, sfDir, "events")
        .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
      val span = src.agg(expr("max(ts_ns) - min(ts_ns) + 1000000000")).collect()(0).getLong(0)
      val nUsers = src.agg(expr("max(user_id) + 1")).collect()(0).getLong(0)
      src.repartition(nPart).crossJoin(broadcast(reps))
        .select(
          (col("event_id") * factor + col("r")).as("event_id"),
          (col("ts_ns") + col("r") * span).as("ts_ns"),
          (col("user_id") + col("r") * nUsers).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        .drop("ts_ns")
    }
    gen("customer") {
      // fresh customer population per replica, same scheme as events'
      // user axis: key cardinality scales with the data
      val src = spark.read.parquet(s"$sfDir/customer.parquet")
      val nCust = src.agg(expr("max(c_custkey) + 1")).collect()(0).getLong(0)
      src.repartition(nPart).crossJoin(broadcast(reps))
        .select((col("c_custkey") + col("r") * nCust).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
    }
    gen("orders") {
      // orderkeys renumbered like lineitem's (×factor + r) so the
      // o_orderkey = l_orderkey join stays consistent across replicas;
      // custkeys follow the customer replica scheme
      val src = spark.read.parquet(s"$sfDir/orders.parquet")
      val nCust = spark.read.parquet(s"$sfDir/customer.parquet")
        .agg(expr("max(c_custkey) + 1")).collect()(0).getLong(0)
      src.repartition(nPart).crossJoin(broadcast(reps))
        .select((col("o_orderkey") * factor + col("r")).as("o_orderkey"),
          (col("o_custkey") + col("r") * nCust).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
    }
    gen("supplier") {
      // l_suppkey is NOT renumbered by the lineitem replicas, so the
      // supplier dim passes through unchanged (same key universe)
      spark.read.parquet(s"$sfDir/supplier.parquet")
    }
    gen("nation") { spark.read.parquet(s"$sfDir/nation.parquet") }
    gen("region") { spark.read.parquet(s"$sfDir/region.parquet") }
    gen("part") { spark.read.parquet(s"$sfDir/part.parquet") }
    gen("lineitem") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .repartition(nPart).crossJoin(broadcast(reps))
        .select((col("l_orderkey") * factor + col("r")).as("l_orderkey"),
          col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }
    (System.nanoTime() - tGen0) / 1e9
  }

  /** 64-query searches over the index `v_index_search` built for the
    * same data dir, at serving params: the large-K sparse formulation
    * (`sparseCentroidThreshold = 0`) and the dense funnel — everywhere
    * else the sparse path only executes on toy oracle corpora. Neither
    * leg reaches a resident image (threshold 0 dispatches past them;
    * the dense leg's `localIndexBudgetBytes = 0` admits none, so its
    * two phases run over slices read from parquet, one job each): they
    * measure the DISTRIBUTED plans' scaling, and the serving fast path
    * would absorb a ×100 index (~21 MB packed). */
  val Legs: Map[String, (SparkSession, String) => DataFrame] = {
    def leg(p: graft.search.SearchParams)(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      val idxPath = "/tmp/graft_idx_" + dir.stripSuffix("/").replaceAll("[^a-zA-Z0-9]", "_")
      val idx = new graft.index.MultiVectorIndex(spark, idxPath)
      val queries = spark.read.parquet(s"$dir/embeddings.parquet")
        // filter BEFORE the typed map — a filter above .map cannot push
        // into the scan, and the scaled table is millions of rows
        .filter(col("vec_id") < 64 * 5)
        .select((col("vec_id") / 5).cast("long").as("doc_id"),
          col("vec_id"), col("embedding"))
        .as[(Long, Long, Array[Float])]
        .map { case (d, v, e) => (d, v, graft.core.MaxSim.l2Normalize(e)) }
        .toDF("doc_id", "vec_id", "embedding")
        .groupBy(col("doc_id").as("query_id")).agg(
          transform(array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
            x => x.getField("embedding")).as("embeddings"))
      new graft.search.Searcher(idx).search(queries, p)
    }
    Map(
      "sparse_search_64q" -> leg(graft.search.SearchParams(sparseCentroidThreshold = 0)),
      "dense_search_64q" -> leg(graft.search.SearchParams(localIndexBudgetBytes = 0)))
  }

  /** `names` with `prefix*` entries expanded over [[SparkEntry.queries]]
    * (sorted) and [[Legs]] placed after `v_index_search` unless named. */
  def expand(names: Seq[String]): Seq[String] = {
    val flat = names.flatMap { n =>
      if (n.endsWith("*"))
        SparkEntry.queries.keys.toSeq.filter(_.startsWith(n.dropRight(1))).sorted
      else Seq(n)
    }.distinct
    if (flat.exists(Legs.contains)) flat
    else flat.flatMap(n => if (n == "v_index_search") n +: Legs.keys.toSeq.sorted else Seq(n))
  }

  /** Job and stage starts seen since the last [[take]]. */
  private final class WorkCounter extends SparkListener {
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
    def take(): (Int, Int) = (jobs.getAndSet(0), stages.getAndSet(0))
  }

  /** Runs each name `reps` times against `dir`, in order. */
  def run(spark: SparkSession, names: Seq[String], reps: Int,
      dir: String): Seq[(String, Rec)] = {
    val sc = spark.sparkContext
    val counter = new WorkCounter
    sc.addSparkListener(counter)
    try names.map { name =>
      val sec = Seq.newBuilder[Double]
      val jobs, stages = Seq.newBuilder[Int]
      var first: Option[(Long, Long)] = None
      var error: Option[String] = None
      var rep = 1
      while (error.isEmpty && rep <= reps) {
        org.apache.spark.ListenerBusDrain(sc)
        counter.take()
        sc.setJobGroup(s"bench_one:$name:$rep", s"BenchOne $name rep $rep")
        val t0 = System.nanoTime()
        try {
          val fn = SparkEntry.queries.getOrElse(name,
            Legs.getOrElse(name, sys.error(s"unknown query: $name")))
          val got = Bench.forcedCountHash(fn(spark, dir))
          sec += (System.nanoTime() - t0) / 1e9
          if (first.isEmpty) first = Some(got)
          else if (first.get != got)
            error = Some(s"rep $rep (rows, hash) $got differs from rep 1 ${first.get}")
        } catch {
          case e: Throwable => error = Some(Bench.errorText(e))
        } finally sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        val (j, s) = counter.take()
        jobs += j
        stages += s
        rep += 1
      }
      val (rows, hash) = first.getOrElse((-1L, 0L))
      name -> Rec(sec.result(), rows, hash, jobs.result(), stages.result(), error)
    } finally sc.removeSparkListener(counter)
  }

  /** The record's `"queries"` object. */
  def queriesJson(recs: Seq[(String, Rec)]): String = recs.map { case (name, r) =>
    def list[A](xs: Seq[A])(f: A => String) = xs.map(f).mkString("[", ",", "]")
    val sec = list(r.sec)(s => String.format(Locale.ROOT, "%.3f", Double.box(s)))
    val err = r.error.fold("")(e => s""","error":"$e"""")
    s""""$name":{"sec":$sec,"rows":${r.rows},"hash":${r.hash},""" +
      s""""jobs":${list(r.jobs)(_.toString)},"stages":${list(r.stages)(_.toString)}$err}"""
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <names> [reps] [factor] [tables]")
    val names = expand(args(0).split(",").toSeq)
    val reps = if (args.length > 1) args(1).toInt else 3
    val factor = if (args.length > 2) args(2).toInt else 1
    val tables = if (args.length > 3) args(3).split(",").toSet else AllTables
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus(32)
    // scaled runs use at least 64 shuffle partitions, as every ×N
    // point in SCALE.md was measured
    val spark = Bench.session(cpus, if (factor > 1) math.max(cpus, 64) else cpus)
    val calibPre = Bench.calibrate(spark)
    val dir = if (factor > 1) s"/tmp/graft_scale_x$factor" else sfDir
    val genSec =
      if (factor > 1) generateTables(spark, sfDir, factor, dir, tables) else 0.0
    Bench.warmUp(spark)
    val recs = run(spark, names, reps, dir)
    val calibPost = Bench.calibrate(spark)
    println(s"""{"metric":"bench_one","factor":$factor,"reps":$reps,""" +
      String.format(Locale.ROOT, "\"gen_sec\":%.1f,", Double.box(genSec)) +
      s""""queries":${queriesJson(recs)},"n_errors":${recs.count(_._2.error.nonEmpty)},""" +
      Bench.calibJson(calibPre, calibPost) + s""","sf_base":"$sfDir","dir":"$dir"}""")
    spark.stop()
  }
}
