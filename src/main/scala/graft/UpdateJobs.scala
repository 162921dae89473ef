package graft

import java.util.concurrent.{Callable, ExecutorService, Executors, Future => JFuture, ThreadFactory}

import scala.collection.mutable

/** Driver-side async-update surface: the Spark twin of the reference
  * API's update tracking and per-index serialization
  * (next-plaid-api/src/state.rs:533-683 record_update_* /
  * get_update_health_statuses, and handlers/documents.rs:280-330's
  * per-index-path worker queue).
  *
  * Semantics mirrored:
  *   - updates to the SAME index path run one at a time (a
  *     single-thread executor per path = the reference's per-index
  *     async lock); different indexes update concurrently
  *   - progress is observable while work runs: `queued` → `running`
  *     (with a stage) → `complete` | `failed`, with queued/processed
  *     document counts, timestamps, and failure capture
  *   - re-queueing onto a non-running entry resets it to `queued` and
  *     accumulates queued_documents (state.rs record_update_queued's
  *     saturating add); terminal entries stay visible for
  *     [[UpdateJobs.StatusRetentionMs]] then prune (state.rs:64,110-117)
  *   - elapsed time freezes at the last update for terminal states so a
  *     finished job doesn't run up the clock on every health poll
  *     (state.rs:660-668)
  *
  * Everything is driver-local bookkeeping — the heavy lifting stays in
  * the Spark jobs the submitted work runs; at 100 TB the tracker cost
  * is a map entry per index.
  */
object UpdateJobs {

  /** state.rs UpdateProgress. */
  final case class Progress(
      status: String,
      stage: String,
      queuedDocuments: Option[Long],
      processedDocuments: Option[Long],
      startedAtMs: Long,
      updatedAtMs: Long,
      message: Option[String],
      error: Option[String])

  /** state.rs UpdateHealthStatus (the /health view). */
  final case class HealthStatus(
      indexPath: String,
      status: String,
      stage: String,
      queuedDocuments: Option[Long],
      processedDocuments: Option[Long],
      startedAtMs: Long,
      updatedAtMs: Long,
      elapsedMs: Long,
      message: Option[String],
      error: Option[String])

  /** Terminal (complete/failed) statuses stay visible this long
    * (state.rs:64 UPDATE_STATUS_RETENTION = 10 min). */
  val StatusRetentionMs: Long = 10 * 60 * 1000L

  private val progress = mutable.HashMap.empty[String, Progress]
  private val executors = mutable.HashMap.empty[String, ExecutorService]

  private def now(): Long = System.currentTimeMillis()

  private def visible(p: Progress, nowMs: Long): Boolean =
    p.status == "queued" || p.status == "running" ||
      nowMs - p.updatedAtMs <= StatusRetentionMs

  private def prune(nowMs: Long): Unit =
    progress.filterInPlace((_, p) => visible(p, nowMs))

  /** The per-index-path executor: ONE thread, so submitted updates for a
    * path serialize in submission order (the reference's per-index
    * lock). Daemon threads — a tracker must never pin the JVM open. */
  private def executor(path: String): ExecutorService = synchronized {
    executors.getOrElseUpdate(path, Executors.newSingleThreadExecutor(
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-update-${path.hashCode.toHexString}")
          t.setDaemon(true)
          t
        }
      }))
  }

  /** record_update_queued (state.rs:533-570): accumulate queued docs;
    * only reset to `queued` when not currently running. */
  def recordQueued(path: String, queuedDocs: Long, message: String): Unit = synchronized {
    val t = now()
    prune(t)
    progress.get(path) match {
      case Some(p) =>
        val qd = Some(p.queuedDocuments.getOrElse(0L) + queuedDocs)
        val next =
          if (p.status != "running")
            p.copy(status = "queued", stage = "queued", queuedDocuments = qd,
              processedDocuments = None, startedAtMs = t, updatedAtMs = t,
              message = Some(message), error = None)
          else p.copy(queuedDocuments = qd, updatedAtMs = t,
            message = Some(message), error = None)
        progress.update(path, next)
      case None =>
        progress.update(path, Progress("queued", "queued", Some(queuedDocs),
          None, t, t, Some(message), None))
    }
  }

  /** record_update_stage (state.rs:572-595). */
  def recordStage(path: String, stage: String, message: String): Unit = synchronized {
    val t = now()
    prune(t)
    val base = progress.getOrElse(path,
      Progress("running", stage, None, None, t, t, None, None))
    progress.update(path, base.copy(status = "running", stage = stage,
      updatedAtMs = t, message = Some(message), error = None))
  }

  /** record_update_complete (state.rs:597-620). */
  def recordComplete(path: String, processedDocs: Long, message: String): Unit = synchronized {
    val t = now()
    prune(t)
    val base = progress.getOrElse(path,
      Progress("complete", "complete", Some(processedDocs), None, t, t, None, None))
    progress.update(path, base.copy(status = "complete", stage = "complete",
      processedDocuments = Some(processedDocs), updatedAtMs = t,
      message = Some(message), error = None))
  }

  /** record_update_failed (state.rs:622-645). */
  def recordFailed(path: String, error: String): Unit = synchronized {
    val t = now()
    prune(t)
    val base = progress.getOrElse(path,
      Progress("failed", "failed", None, None, t, t, None, None))
    progress.update(path, base.copy(status = "failed", stage = "failed",
      updatedAtMs = t, message = Some("update failed"), error = Some(error)))
  }

  /** Current progress for one index path (None once pruned). */
  def progressOf(path: String): Option[Progress] = synchronized {
    prune(now())
    progress.get(path)
  }

  /** get_update_health_statuses (state.rs:647-678): visible entries,
    * sorted by index, elapsed frozen at updatedAt for terminal states. */
  def healthStatuses(): Seq[HealthStatus] = synchronized {
    val t = now()
    progress.toSeq
      .filter { case (_, p) => visible(p, t) }
      .map { case (path, p) =>
        val end =
          if (p.status == "complete" || p.status == "failed") p.updatedAtMs else t
        HealthStatus(path, p.status, p.stage, p.queuedDocuments,
          p.processedDocuments, p.startedAtMs, p.updatedAtMs,
          math.max(0L, end - p.startedAtMs), p.message, p.error)
      }
      .sortBy(_.indexPath)
  }

  /** True while an update for the path is queued or running — the
    * update-in-progress flag the reference's health endpoint exposes. */
  def updateInProgress(path: String): Boolean =
    progressOf(path).exists(p => p.status == "queued" || p.status == "running")

  /** Enqueue `work` on the path's serial executor with full progress
    * tracking (documents.rs:1199-1210's queue-then-spawn shape). The
    * returned future completes with the work's result; a throwing work
    * records `failed` (error captured) and rethrows on `get()`. The work's
    * Spark jobs carry the submitter's job group, description and tags. */
  def submit[A](path: String, queuedDocs: Long, message: String)(work: () => A): JFuture[A] = {
    recordQueued(path, queuedDocs, message)
    // the lane's thread predates the caller's job group: carry it over
    val scoped = graft.util.JobScope.carry(work)
    executor(path).submit(new Callable[A] {
      def call(): A =
        try {
          recordStage(path, "batching", "processing queued update batch")
          val r = scoped()
          recordComplete(path, queuedDocs, "update complete")
          r
        } catch {
          case e: Throwable =>
            recordFailed(path, e.toString)
            throw e
        }
    })
  }

  /** Test/maintenance hook: drop all tracking state and shut down idle
    * executors. Not part of the API surface. */
  private[graft] def reset(): Unit = synchronized {
    progress.clear()
    executors.valuesIterator.foreach(_.shutdown())
    executors.clear()
  }
}
