package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One call into a layer, timed from the benchmark. `op` is the id of
  * the request that made the call; `parent` is the id of the span that
  * caused it, or -1. Times are wall-clock milliseconds (the clock Spark
  * stamps its events with) plus the exact nanosecond duration. */
final case class Span(id: Int, name: String, op: Long, parent: Int,
    startMs: Long, endMs: Long, durNs: Long)

/** Times layer calls and, while `recording`, keeps a [[Span]] for each
  * in memory. Calls never nest: with one client thread at most one span
  * is open at a time. */
final class Tracer(enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  var recording: Boolean = enabled

  def spans: Seq[Span] = buf.toSeq

  /** Run `f`, returning its result, its duration in ms, and the id of
    * the span recorded for it (-1 when not recording). */
  def timed[A](name: String, op: Long, parent: Int = -1)(f: => A): (A, Double, Int) = {
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = f
    val t1 = System.nanoTime()
    val s1 = System.currentTimeMillis()
    val id =
      if (!recording) -1
      else { buf += Span(buf.size, name, op, parent, s0, s1, t1 - t0); buf.size - 1 }
    (a, (t1 - t0) / 1e6, id)
  }
}

final case class JobEv(timeMs: Long)
final case class StageEv(submitMs: Long)
final case class TaskEv(launchMs: Long, finishMs: Long, cpuNs: Long, shuffleBytes: Long,
    spillBytes: Long)

/** Collects every job start, completed stage and finished task of the
  * session. Attribution to spans happens afterwards, by time window
  * ([[Attribution]]). */
final class WorkListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val stages = new ConcurrentLinkedQueue[StageEv]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(JobEv(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(StageEv(e.stageInfo.submissionTime.getOrElse(-1L)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskEv(ti.launchTime, ti.finishTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    else tasks.add(TaskEv(ti.launchTime, ti.finishTime, 0L, 0L, 0L))
  }

  def snapshot: (Seq[JobEv], Seq[StageEv], Seq[TaskEv]) =
    (jobs.asScala.toSeq, stages.asScala.toSeq, tasks.asScala.toSeq)
}

/** The eight counters reported per span name. */
final case class Counters(calls: Int, busyS: Double, driverS: Double, jobs: Int,
    stages: Int, tasks: Int, cpuS: Double, shuffleMb: Double)

object Attribution {

  val CounterNames: Seq[(String, String)] = Seq(
    "calls" -> "count", "busy_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "cpu_s" -> "s", "shuffle_mb" -> "MB")

  /** Index of the span open at `t` in `spans` (sorted by start): the
    * latest-starting span with start <= t <= end, else -1. When one span
    * ends in the same millisecond as the next starts, the later one wins:
    * the earlier call has returned, so new work belongs to the next. */
  def openAt(spans: IndexedSeq[Span], t: Long): Int = {
    var lo = 0
    var hi = spans.size - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (spans(mid).startMs <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best >= 0 && t <= spans(best).endMs) best else -1
  }

  /** Milliseconds of [start, end] covered by the union of `ivs`. */
  def covered(start: Long, end: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => a < b }.sorted.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Counters per span name. Each job is assigned by its start time,
    * each stage by its submission time and each task by its launch
    * time to the span open at that instant; work outside every span is
    * not counted. `driver_s` is a span's wall time during which none of
    * its tasks ran. */
  def perSpan(spans0: Seq[Span], jobs: Seq[JobEv], stages: Seq[StageEv],
      tasks: Seq[TaskEv]): Map[String, Counters] = {
    val spans = spans0.sortBy(s => (s.startMs, s.id)).toIndexedSeq
    val nJobs = new Array[Int](spans.size)
    val nStages = new Array[Int](spans.size)
    val taskIvs = Array.fill(spans.size)(ArrayBuffer.empty[(Long, Long)])
    val cpuNs = new Array[Long](spans.size)
    val shuffle = new Array[Long](spans.size)
    jobs.foreach { j => val i = openAt(spans, j.timeMs); if (i >= 0) nJobs(i) += 1 }
    stages.foreach { s => val i = openAt(spans, s.submitMs); if (i >= 0) nStages(i) += 1 }
    tasks.foreach { t =>
      val i = openAt(spans, t.launchMs)
      if (i >= 0) {
        taskIvs(i) += ((t.launchMs, t.finishMs))
        cpuNs(i) += t.cpuNs
        shuffle(i) += t.shuffleBytes
      }
    }
    spans.indices.groupBy(i => spans(i).name).map { case (name, ix) =>
      name -> Counters(
        calls = ix.size,
        busyS = ix.map(i => spans(i).durNs / 1e9).sum,
        driverS = ix.map { i =>
          val s = spans(i)
          math.max(0.0, s.durNs / 1e9 - covered(s.startMs, s.endMs, taskIvs(i).toSeq) / 1e3)
        }.sum,
        jobs = ix.map(nJobs).sum,
        stages = ix.map(nStages).sum,
        tasks = ix.map(taskIvs(_).size).sum,
        cpuS = ix.map(cpuNs).sum / 1e9,
        shuffleMb = ix.map(shuffle).sum / 1e6)
    }
  }

  /** Flatten counters to `<span>.<counter>` metrics; spans that never
    * ran report zero work. */
  def metrics(names: Seq[String], c: Map[String, Counters]): Seq[(String, Double, String)] =
    names.flatMap { n =>
      val k = c.getOrElse(n, Counters(0, 0, 0, 0, 0, 0, 0, 0))
      val vals = Seq(k.calls.toDouble, k.busyS, k.driverS, k.jobs.toDouble,
        k.stages.toDouble, k.tasks.toDouble, k.cpuS, k.shuffleMb)
      CounterNames.zip(vals).map { case ((cn, unit), v) => (s"$n.$cn", v, unit) }
    }
}
