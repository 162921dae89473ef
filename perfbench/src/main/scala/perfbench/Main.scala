package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import com.fasterxml.jackson.databind.ObjectMapper

/** What a workload run needs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val cores: Int, val work: String) {
  val tracer = new Tracer(trace)
  /** Attached from the start of a traced run. */
  val listener = new WorkListener

  /** Turns tracing on or off between calls in a traced run. Off also
    * detaches the listener, so an untraced call pays no part of the
    * trace; the listener bus is drained first, so the events of the
    * calls before the switch are delivered to the right side of it. */
  def tracing(on: Boolean): Unit = if (trace && on != tracer.recording) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    if (on) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    tracer.recording = on
  }
  /** `--seconds` after `startNs`, on the `System.nanoTime` clock. */
  def deadline(startNs: Long): Long = startNs + (seconds * 1e9).toLong
}

/** Metrics, notes and op counts of one run. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Attempted ops beyond the fixed set every run makes: the read cycles
    * a run adds when the fixed ones end before `--seconds`. They are checked, and their
    * failures count, but they stay out of the `error_rate` denominator,
    * so speed alone cannot move it. */
  var extra = 0L

  /** Failures per op of the fixed set, add-one smoothed so it is never
    * 0; any failure at least doubles it. */
  def errorRate: Double = (failed + 1).toDouble / (attempted - extra + 1)

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(s: String): Unit = notes += s

  /** One op: runs `f`, then `check` on its result; an exception or a
    * failed check counts the op as failed. */
  def op[A](what: String)(f: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    try {
      val a = f
      check(a) match {
        case None => Some(a)
        case Some(err) => failed += 1; note(s"FAILED $what: $err"); None
      }
    } catch {
      case NonFatal(e) =>
        failed += 1; note(s"FAILED $what: $e"); None
    }
  }

  /** Summed latency of the run's fixed timed ops, in ms: `work_s`. */
  var workMs = 0.0

  /** Notes the median of a latency sample in ms, with its sample count. */
  def median(name: String, xs: Seq[Double]): Unit =
    note(f"$name ${Stats.median(xs)}%.2f ms: median of ${xs.size} samples")

  /** A traced run makes some calls twice in a row, traced and untraced
    * (listener detached, see [[Ctx.tracing]]); `paired` records each
    * half, and the overhead is the median of the pairs' traced/untraced
    * latency ratios, so neither one costly call nor one pair that caught
    * a warm-up dominates it. */
  private var pending: Option[(Boolean, Double)] = None
  private val pairs = ArrayBuffer.empty[(Double, Double)]
  def paired(traced: Boolean, ms: Double): Unit = pending match {
    case Some((t, m)) if t != traced =>
      pairs += (if (traced) (ms, m) else (m, ms))
      pending = None
    case _ => pending = Some((traced, ms))
  }
  def pairsNote: String = s"trace.overhead_pct: median of ${pairs.size} pairs, traced/untraced ms " +
    pairs.map { case (t, u) => f"$t%.0f/$u%.0f" }.mkString(", ")
  def overheadPct: Double =
    if (pairs.isEmpty) 0.0 else 100 * (Stats.median(pairs.map { case (t, p) => t / p }.toSeq) - 1)
}

object Main {

  /** End-to-end metrics every untraced run prints, whatever its workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "error_rate" -> "failed/attempted", "peak_rss_mb" -> "MB",
    "quality" -> "ratio", "throughput_per_s" -> "1/s", "work_s" -> "s")

  /** Spans every traced run reports (zero for spans its workload never opens). */
  val SpanNames: Seq[String] = Seq(
    "search.semantic", "search.filtered", "fts.search", "search.hybrid",
    "index.create", "search.batch", "index.add", "index.delete", "search.after_write",
    "pipeline.exact_dedup", "pipeline.minhash_pairs", "pipeline.clusters", "pipeline.cosine_pairs")

  def hits(df: DataFrame): Seq[Hit] =
    df.select("doc_id", "score", "rank").collect().toSeq.map { r: Row =>
      Hit(r.getAs[Number](0).longValue, r.getAs[Number](1).doubleValue, r.getAs[Number](2).intValue)
    }.sortBy(_.rank)

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    val cores = a("cores").toInt
    val work = a("work")
    val spark = session(cores, work)
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, a("trace") == "1", cores, work)
    if (ctx.trace) spark.sparkContext.addSparkListener(ctx.listener)
    val gc0 = gcSeconds
    val report =
      try workload match {
        case "serve" => Serve.run(ctx)
        case "dedup" => DedupRun.run(ctx)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          spark.stop()
          System.exit(1)
          throw e
      }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (ctx.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val (jobs, stages, tasks) = ctx.listener.snapshot
      val spans = ctx.tracer.spans
      Attribution.metrics(SpanNames, Attribution.perSpan(spans, jobs, stages, tasks))
        .foreach { case (n, v, u) => metrics(n) = (v, u) }
      Seq("pipeline.minhash_pairs.rows" -> "count", "pipeline.cosine_pairs.rows" -> "count",
        "pipeline.pair_precision" -> "ratio").foreach { case (n, u) =>
        metrics(n) = report.metrics.getOrElse(n, (0.0, u))
      }
      metrics("spark.spill_mb") = (tasks.map(_.spillBytes).sum / 1e6, "MB")
      metrics("jvm.gc_s") = (gcSeconds - gc0, "s")
      metrics("trace.overhead_pct") = (report.overheadPct, "%")
      report.note(report.pairsNote)
      writeSpans(a("out"), s"$workload-seed${ctx.seed}", spans)
    } else {
      report.put("error_rate", report.errorRate, "failed/attempted")
      report.put("peak_rss_mb", peakRssMb, "MB")
      report.put("work_s", report.workMs / 1e3, "s")
      EndToEnd.foreach { case (n, u) =>
        report.metrics.get(n) match {
          case Some(v @ (_, `u`)) => metrics(n) = v
          case other =>
            report.notes.foreach(n => System.err.println(s"# $n"))
            System.err.println(s"perfbench: $workload measured $n as $other, not in $u")
            spark.stop()
            System.exit(1)
        }
      }
    }
    spark.stop()
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    report.note(f"jvm uptime $uptime%.1f s")
    report.notes.foreach(n => println(s"# $n"))
    println(toJson(report, metrics))
    System.exit(0)
  }

  def toJson(report: Report, metrics: collection.Map[String, (Double, String)]): String = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("correct", report.failed == 0)
    root.put("attempted", report.attempted)
    root.put("failed", report.failed)
    val m = root.putObject("metrics")
    metrics.foreach { case (n, (v, u)) =>
      val o = m.putObject(n)
      o.put("value", v)
      o.put("unit", u)
    }
    om.writeValueAsString(root)
  }

  private def writeSpans(dir: String, name: String, spans: Seq[Span]): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(d, s"$name.spans.jsonl"), "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ns":${s.durNs}}""")
    } finally w.close()
  }
}
