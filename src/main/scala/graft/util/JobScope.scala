package graft.util

import org.apache.spark.sql.SparkSession

/** Spark attributes a job to the job group, description and tags held in
  * the submitting thread's local properties. A thread that already exists
  * when work is handed to it (a pooled worker) runs with its own, usually
  * empty, properties, so a listener or a `cancelJobGroup` keyed on the
  * caller's group would miss the jobs of that work. */
object JobScope {

  private val Keys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags")

  /** `work` wrapped to run under the job group, description and tags the
    * calling thread holds now; the running thread's own are restored
    * afterwards. Without an active Spark session, `work` itself. */
  def carry[A](work: () => A): () => A =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext) match {
      case None => work
      case Some(sc) =>
        val caller = Keys.map(k => k -> sc.getLocalProperty(k))
        () => {
          val own = Keys.map(k => k -> sc.getLocalProperty(k))
          caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          try work()
          finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        }
    }

  /** Runs `side` on a new thread named `name`, under the caller's job
    * group, while the calling thread runs `main`. The side thread is
    * always joined before this returns or throws; when either part fails,
    * the earlier failure is rethrown, with a later one attached as
    * suppressed. */
  def alongside[A](name: String)(side: => Unit)(main: => A): A = {
    @volatile var sideFailure: (Throwable, Long) = null
    val work = carry(() => side)
    val thread = new Thread(() =>
      try work() catch { case t: Throwable => sideFailure = (t, System.nanoTime()) }, name)
    thread.setDaemon(true)
    thread.start()
    val result = try Right(main) catch { case t: Throwable => Left((t, System.nanoTime())) }
    var interrupted = false
    while (thread.isAlive)
      try thread.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (result, Option(sideFailure)) match {
      case (Right(a), None) => a
      case (Left((t, _)), None) => throw t
      case (Right(_), Some((t, _))) => throw t
      case (Left((m, mAt)), Some((s, sAt))) =>
        val (first, later) = if (sAt < mAt) (s, m) else (m, s)
        if (first ne later) first.addSuppressed(later)
        throw first
    }
  }
}
