package graft.util

/** The ledger of the driver-resident images of one index: ordered
  * entries of (name, stamp, estimate, loader) that share one byte budget,
  * [[graft.search.SearchParams.localIndexBudgetBytes]] — a
  * [[graft.GraftIndex]]'s semantic, BM25 and metadata images in that
  * order, or a standalone [[graft.fts.FtsIndex]]'s BM25 image alone.
  *
  * Each request makes one [[ResidentSet.Pass]]: it reads each entry's
  * stamp once and admits an entry when its estimate plus the estimates
  * of the earlier admitted entries fits the budget, so the admitted
  * images never exceed it together. A budget of 0 decides nothing; an
  * absent artifact is refused and charges nothing. A decision is logged
  * at INFO unless it repeats the last one of its (entry, stamp), and a
  * refused image is released.
  */
final class ResidentSet(entries: ResidentSet.AnyEntry*) {

  def pass(budgetBytes: Long): ResidentSet.Pass =
    new ResidentSet.Pass(entries.toIndexedSeq, budgetBytes)
}

object ResidentSet {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[ResidentSet])

  type AnyEntry = Entry[_, _ <: Version[_]]

  /** Image builds tried before a build racing a write storm gives up;
    * attempt n + 1 starts 40 ms × n after attempt n. */
  val BuildAttempts = 5

  /** One version of an entry's artifact, keyed on its `stamp`: the
    * estimated driver bytes of its image and, once admitted, the image,
    * collected by `load` from fresh reads on first use. */
  class Version[A <: AnyRef](val stamp: String, estimateOf: => Long, load: () => A) {
    lazy val estimate: Long = estimateOf
    @volatile private var image: A = _
    private val logged = new java.util.concurrent.atomic.AtomicReference("")

    /** The image, or None when a write landed during the collect (the
      * stamp moved, or a file was swapped away under it): None keeps
      * nothing, so an image is exactly the content of its stamp. */
    private[ResidentSet] def collect(stampNow: () => String): Option[A] = synchronized {
      if (image == null)
        (try Some(load()) catch { case _: Exception if stampNow() != stamp => None })
          .filter(_ => stampNow() == stamp).foreach(image = _)
      Option(image)
    }

    private[ResidentSet] def record(admitted: Boolean, decision: String): Unit = {
      if (logged.getAndSet(decision) != decision) log.info(decision)
      if (!admitted) image = null.asInstanceOf[A]
    }
  }

  /** One image of an artifact at `path` that writers replace under
    * readers. `stamp` names the artifact's current version (a
    * [[Fs.settledFingerprint]], or a manifest build id); `versionAt`
    * makes the version of a stamp. */
  final class Entry[A <: AnyRef, V <: Version[A]](
      val name: String, val path: String, stamp: () => String, versionAt: String => V) {

    @volatile private var observed: V = _

    /** The version of the artifact's current files: one stamp read, the
      * held version reused while the stamp holds. */
    def current(): V = {
      val s = stamp()
      val v = observed
      if (v != null && v.stamp == s) v else { val fresh = versionAt(s); observed = fresh; fresh }
    }

    /** `f` of `first`, or of a newer version when a write raced it: f's
      * None (a build that raced a write), or an IOException while the
      * stamp moved (a file swapped away under an estimate or a collect),
      * retries f on the version of the moved stamp, [[BuildAttempts]]
      * times at most. Returns the version f settled on. */
    private def settle[R](first: V)(f: V => Option[R]): (V, R) = {
      @annotation.tailrec
      def go(v: V, attempt: Int): (V, R) =
        (try f(v) catch { case _: java.io.IOException if stamp() != v.stamp => None }) match {
          case Some(r) => (v, r)
          case None if attempt < BuildAttempts =>
            Thread.sleep(40L * attempt)
            go(current(), attempt + 1)
          case None => throw new IllegalStateException(
            s"$name artifact at $path changed on disk during each of $BuildAttempts image builds")
        }
      go(first, 1)
    }

    /** A pass's decision on `first`, or on the version a write moved it
      * to, with that version. */
    private[ResidentSet] def decision(first: Version[_], decide: Version[_] => Boolean) =
      settle[Boolean](first.asInstanceOf[V])(v => Some(decide(v)))

    /** The image of `first`, or of a newer version, whenever `admit`
      * admits that version. */
    def resolve(admit: V => Boolean, first: V): Option[A] =
      settle(first)(v => if (admit(v)) v.collect(stamp).map(Some(_)) else Some(None))._2
  }

  object Entry {
    /** An entry whose versions carry only an estimate and a loader. */
    def apply[A <: AnyRef](name: String, path: String, stamp: () => String,
        estimate: () => Long, load: () => A): Entry[A, Version[A]] =
      new Entry[A, Version[A]](name, path, stamp, new Version[A](_, estimate(), load))
  }

  /** One request's admission pass over a set's entries against
    * `budgetBytes`. Entries are decided lazily, in order, up to the last
    * one the request asks about; a pass belongs to one request thread. */
  final class Pass private[ResidentSet] (entries: IndexedSeq[AnyEntry], budgetBytes: Long) {
    private val seen = new Array[Version[_]](entries.length)
    private val admitted = new Array[Boolean](entries.length)
    private var decided = 0

    /** The version of `e` this pass observed: its stamp is read once. */
    def version[V <: Version[_]](e: Entry[_, V]): V = {
      val i = entries.indexWhere(_ eq e)
      require(i >= 0, s"${e.name} image at ${e.path} is not an entry of this set")
      if (seen(i) == null) seen(i) = e.current()
      seen(i).asInstanceOf[V]
    }

    /** Whether `e` is admitted; the entries before it are decided first. */
    def admits(e: AnyEntry): Boolean = {
      val i = entries.indexWhere(_ eq e)
      while (budgetBytes > 0 && decided <= i) {
        val j = decided
        val (v, ok) = entries(j).decision(version(entries(j)), decide(j, _))
        seen(j) = v
        admitted(j) = ok
        decided += 1
      }
      budgetBytes > 0 && admitted(i)
    }

    /** `e`'s image when the pass admits it, else None. */
    def image[A <: AnyRef, V <: Version[A]](e: Entry[A, V]): Option[A] =
      if (!admits(e)) None else e.resolve(decide(entries.indexWhere(_ eq e), _), version(e))

    private def decide(i: Int, v: Version[_]): Boolean = v.stamp != "absent" && {
      val charges = (0 until i).map(j =>
        entries(j).name -> (if (admitted(j)) seen(j).estimate else 0L))
      val ok = v.estimate + charges.map(_._2).sum <= budgetBytes
      v.record(ok, s"${entries(i).name} image ${if (ok) "admitted" else "refused"}: " +
        s"${entries(i).path} estimate=${v.estimate}" +
        charges.map { case (n, c) => s" $n=$c" }.mkString + s" budget=$budgetBytes")
      ok
    }
  }
}
