package graft.util

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** Write-ahead journal making a multi-table index update all-or-nothing
  * across process death — the engine-side answer to the reference's
  * "snapshot the directory around updates" advice (atomic temp+rename
  * discipline, next-plaid/src/utils.rs:16-92), done without copying
  * table data:
  *
  *  - [[bracket]] wraps an update entry point. At depth 0 it takes the
  *    per-index lock, recovers any crashed predecessor, and writes an
  *    intent marker `<root>/update_inflight.json`.
  *  - While a journal is active, the [[Fs]] primitives consult it:
  *      * `rewrite`/`deleteRecursively` RETAIN the old table as
  *        `<dir>_prev` (one rename) instead of deleting it;
  *      * `appendTable` records the dir's pre-append file listing
  *        (metadata only — nothing is copied);
  *      * side-file writes record the pre-image bytes (manifest.json,
  *        codec.json are tiny).
  *    Every record lands in the marker BEFORE the mutation it covers,
  *    so recovery needs only the disk — it works from a fresh process.
  *  - Commit deletes the marker (the atomic commit point), then sweeps
  *    the retained `_prev` dirs; a crash mid-sweep leaves strays the
  *    next entry's sweep removes.
  *  - [[recover]] rolls BACK: restore `_prev` dirs, prune appended
  *    files to the recorded listing, restore side-file pre-images,
  *    drop `_tmp` stagings, delete the marker. After ANY crash the
  *    index is either fully pre-update or fully post-update — the
  *    failed batch is reported to the caller (the update threw),
  *    never half-applied. CrashRecoverySpec drills this over every
  *    inter-operation kill point of append/delete/mode-3/compact.
  *
  * Disk cost at scale: a rewritten table transiently keeps old + new
  * until commit — the same peak `Fs.rewrite` already pays during its
  * swap, held to the end of the update instead of per-table. That is
  * the standard transactional overhead, not a data copy.
  *
  * Crash-injection checkpoints ([[checkpoint]]) sit at the head of
  * every Fs mutation primitive; disarmed they are one volatile read. */
object Journal {

  /** Simulated process death (crash drill). NEVER handled by the
    * bracket's rollback — disk is left exactly as the crash left it;
    * the NEXT bracket (or an explicit [[recover]]) repairs. */
  final class InjectedCrash(tag: String)
    extends RuntimeException(s"injected crash at $tag")

  val Marker = "update_inflight.json"

  // ---- crash injection --------------------------------------------------
  // countdown < 0: disabled. countdown = n > 0: the n-th checkpoint
  // from now throws. countMode: count checkpoints, never throw.
  private val countdown = new AtomicLong(-1L)
  private val counter = new AtomicLong(0L)
  @volatile private var countMode = false
  // recovery runs with checkpoints + journaling suspended ON THIS
  // THREAD (idempotent already; drilling recovery-of-recovery only
  // squares the state space) — thread-local so a concurrent update of
  // a DIFFERENT index keeps full journaling
  private val suspendedTl = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  private def suspended: Boolean = suspendedTl.get()
  private def whileSuspended[T](body: => T): T = {
    val prev = suspendedTl.get()
    suspendedTl.set(java.lang.Boolean.TRUE)
    try body finally suspendedTl.set(prev)
  }

  def armCount(): Unit = { counter.set(0L); countMode = true; countdown.set(-1L) }
  def armCrash(afterOps: Long): Unit = {
    countMode = false; counter.set(0L); countdown.set(afterOps)
  }
  /** Disarm; returns the number of checkpoints seen since arming. */
  def disarm(): Long = {
    countMode = false; countdown.set(-1L); counter.get()
  }

  private[util] def checkpoint(tag: String): Unit = {
    if (suspended) return
    if (countMode) { counter.incrementAndGet(); return }
    if (countdown.get() < 0) return
    counter.incrementAndGet()
    if (countdown.decrementAndGet() == 0) throw new InjectedCrash(tag)
  }

  // ---- journal state ----------------------------------------------------
  // One entry per index root. Maps key on the root-RELATIVE path.
  // appends value None = dir absent pre-update; rewrites value =
  // existed-before flag.
  private final class J(val root: String) {
    val lock = new java.util.concurrent.locks.ReentrantLock()
    var depth = 0
    val sides = mutable.LinkedHashMap.empty[String, Option[Array[Byte]]]
    val appends = mutable.LinkedHashMap.empty[String, Option[Set[String]]]
    val rewrites = mutable.LinkedHashMap.empty[String, Boolean]
    def reset(): Unit = { sides.clear(); appends.clear(); rewrites.clear() }
  }
  private val journals = mutable.HashMap.empty[String, J]

  private def norm(p: String): String = p.stripSuffix("/")

  private def jFor(root: String): J =
    synchronized(journals.getOrElseUpdate(norm(root), new J(norm(root))))

  /** The active journal whose root prefixes `path`, if any. The marker
    * itself is never journaled; a suspended thread journals nothing. */
  private def activeFor(path: String): Option[J] = {
    if (suspended || path.endsWith("/" + Marker)) return None
    val n = norm(path)
    synchronized {
      journals.values.find(j => j.depth > 0 &&
        (n == j.root || n.startsWith(j.root + "/")))
    }
  }

  private def rel(j: J, path: String): String =
    norm(path).stripPrefix(j.root).stripPrefix("/")

  private def markerPath(root: String) = s"${norm(root)}/$Marker"

  /** Persist the in-memory journal into the marker — ATOMIC
    * (replaceBytes) and always BEFORE the mutation the new record
    * covers, so the marker on disk never under-describes the damage. */
  private def persist(j: J): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    val s = node.putObject("sides")
    j.sides.foreach { case (k, v) =>
      v match {
        case Some(b) => s.put(k, java.util.Base64.getEncoder.encodeToString(b))
        case None => s.putNull(k)
      }
    }
    val a = node.putObject("appends")
    j.appends.foreach { case (k, v) =>
      v match {
        case Some(files) =>
          val arr = a.putArray(k); files.toSeq.sorted.foreach(arr.add)
        case None => a.putNull(k)
      }
    }
    val r = node.putObject("rewrites")
    j.rewrites.foreach { case (k, v) => r.put(k, v) }
    Fs.replaceBytes(markerPath(j.root), m.writeValueAsBytes(node))
  }

  // ---- Fs hooks (called with the mutation NOT yet performed) ------------

  private[util] def onSideWrite(path: String): Unit = activeFor(path).foreach { j =>
    val k = rel(j, path)
    if (!j.sides.contains(k)) {
      j.sides(k) = if (Fs.exists(path)) Some(Fs.readBytes(path)) else None
      persist(j)
    }
  }

  private[util] def onAppend(dir: String): Unit = activeFor(dir).foreach { j =>
    val k = rel(j, dir)
    // a dir already rewritten in this journal is covered wholesale by
    // its _prev restore; a second append record would prune against
    // the WRONG (post-rewrite) baseline
    if (!j.rewrites.contains(k) && !j.appends.contains(k)) {
      j.appends(k) = if (Fs.exists(dir)) Some(Fs.listEntryNames(dir).toSet) else None
      persist(j)
    }
  }

  /** Journaled clear-the-target step of `Fs.rewrite`'s swap: retain the
    * old dir as `_prev` (first touch) or drop the intermediate version
    * (later touches). Returns false when no journal is active — the
    * caller then uses the plain delete. */
  private[util] def onRewriteSwap(dir: String): Boolean = activeFor(dir) match {
    case None => false
    case Some(j) =>
      val k = rel(j, dir)
      if (!j.rewrites.contains(k)) {
        j.rewrites(k) = Fs.exists(dir)
        persist(j)
      }
      if (Fs.exists(dir)) {
        if (j.rewrites(k) && !Fs.exists(dir + "_prev"))
          Fs.renameOverwrite(dir, dir + "_prev")
        else Fs.deleteRecursivelyRaw(dir)
      }
      true
  }

  /** Journaled delete: retention instead of removal (same `_prev`
    * discipline — rollback restores, commit drops). Returns false when
    * no journal is active. */
  private[util] def onDelete(dir: String): Boolean = activeFor(dir) match {
    case None => false
    case Some(j) =>
      if (Fs.exists(dir)) {
        val k = rel(j, dir)
        if (!j.rewrites.contains(k)) {
          j.rewrites(k) = true
          persist(j)
        }
        // retention only preserves PRE-UPDATE state: a dir this journal
        // itself created (existed-before=false — e.g. the mode-3
        // scratch pending) has nothing to retain; renaming it
        // to _prev would make recovery resurrect an intra-update
        // artifact (the drill's compact k=38 caught exactly that)
        if (j.rewrites(k) && !Fs.exists(dir + "_prev"))
          Fs.renameOverwrite(dir, dir + "_prev")
        else Fs.deleteRecursivelyRaw(dir)
      }
      true
  }

  // ---- bracket ----------------------------------------------------------

  /** Wrap an update entry point. Reentrant per index root (the U1
    * dispatcher nests append/delete); concurrent updates to one index
    * serialize on the root's lock (the reference's per-index async
    * lock, next-plaid-api/src/state.rs:31-48). On success: commit
    * (checkpointed — the drill kills mid-commit too). On failure: roll
    * the index back to its pre-update state and rethrow. On
    * [[InjectedCrash]]: leave the disk AS THE CRASH LEFT IT (process-
    * death simulation) — the next bracket on this root recovers. */
  def bracket[T](root: String)(body: => T): T = {
    val j = jFor(root)
    j.lock.lock()
    try {
      if (j.depth == 0) {
        if (Fs.exists(markerPath(root)) || strayNames(norm(root)).nonEmpty)
          recover(root)
        j.reset()
        persist(j)
      }
      j.depth += 1
      val r =
        try body
        catch {
          case c: InjectedCrash =>
            if (j.depth == 1) j.reset() // disk stays crashed; memory clears
            throw c
          case e: Throwable =>
            if (j.depth == 1)
              try recover(root)
              catch { case _: Exception => () } // the original error wins
            throw e
        } finally j.depth -= 1
      if (j.depth == 0) commit(j)
      r
    } finally j.lock.unlock()
  }

  private def commit(j: J): Unit = {
    try {
      // marker deletion IS the commit point; everything after is
      // idempotent cleanup the next entry's sweep also performs.
      // Checkpoints stay LIVE (raw deletes carry none, so each step
      // gets one explicitly) — the drill covers mid-commit death.
      checkpoint(s"commit:marker:${j.root}")
      Fs.deleteRecursivelyRaw(markerPath(j.root))
      j.rewrites.keys.foreach { k =>
        checkpoint(s"commit:prev:$k")
        Fs.deleteRecursivelyRaw(s"${j.root}/${k}_prev")
        Fs.deleteRecursivelyRaw(s"${j.root}/${k}_tmp")
      }
      checkpoint(s"commit:done:${j.root}")
    } finally j.reset()
  }

  // ---- recovery ---------------------------------------------------------

  /** Roll an index back to its last committed state from disk alone
    * (marker-driven), then sweep strays. Idempotent; a healthy index
    * (no marker, no strays) is untouched. */
  def recover(root0: String): Unit = {
    val root = norm(root0)
    whileSuspended {
      val mp = markerPath(root)
      if (Fs.exists(mp)) {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Fs.readBytes(mp))
        // 1. drop stagings of recorded rewrites
        val rw = m.path("rewrites")
        rw.fieldNames().forEachRemaining { k =>
          Fs.deleteRecursivelyRaw(s"$root/${k}_tmp")
        }
        // 2. restore rewritten/deleted dirs from their retained _prev.
        //    existed-before with no _prev = crash hit before the swap;
        //    the live dir is still the pre-update version.
        rw.fieldNames().forEachRemaining { k =>
          val dir = s"$root/$k"
          if (!rw.get(k).asBoolean()) {
            // created by the crashed update: nothing pre-update to
            // restore — drop it (and any _prev, defensively)
            Fs.deleteRecursivelyRaw(dir)
            Fs.deleteRecursivelyRaw(dir + "_prev")
          } else if (Fs.exists(dir + "_prev")) {
            Fs.deleteRecursivelyRaw(dir)
            Fs.renameOverwrite(dir + "_prev", dir)
          }
        }
        // 3. prune appends back to the recorded listing (after step 2:
        //    an append-then-rewrite dir restores pre+appended from
        //    _prev, then prunes to the true pre-update file set)
        val ap = m.path("appends")
        ap.fieldNames().forEachRemaining { k =>
          val dir = s"$root/$k"
          if (ap.get(k).isNull) Fs.deleteRecursivelyRaw(dir)
          else if (Fs.exists(dir)) {
            val keep = mutable.HashSet.empty[String]
            ap.get(k).forEach(n => keep += n.asText(): Unit)
            Fs.listEntryNames(dir).foreach { f =>
              if (!keep.contains(f)) Fs.deleteRecursivelyRaw(s"$dir/$f")
            }
          }
        }
        // 4. restore side-file pre-images
        val sd = m.path("sides")
        sd.fieldNames().forEachRemaining { k =>
          val p = s"$root/$k"
          if (sd.get(k).isNull) Fs.deleteRecursivelyRaw(p)
          else Fs.replaceBytes(p,
            java.util.Base64.getDecoder.decode(sd.get(k).asText()))
        }
        Fs.deleteRecursivelyRaw(mp)
        // a marker means every stray belongs to the update just rolled
        // back — _tmp stagings are pre-swap garbage here, NEVER a
        // crashed non-journaled swap to roll forward (the drill's
        // delete k=7 caught exactly that misclassification: the sweep
        // promoted a staged delete-map table into a phantom table)
        sweepStrays(root, rollForwardTmp = false)
      } else sweepStrays(root, rollForwardTmp = true)
    }
  }

  /** Crashed-update residue visible WITHOUT reading the marker — the
    * fsck detection surface. Empty on a healthy quiesced index (a
    * LIVE update's transient `_tmp`/`_prev`/`.tmp` names show here,
    * which is correct mid-storm behavior: fsck-under-update is
    * best-effort; the quiesced sweep is the hard gate). */
  def residue(root0: String): Seq[String] = {
    val root = norm(root0)
    val out = mutable.ArrayBuffer.empty[String]
    if (Fs.exists(markerPath(root))) out += Marker
    out ++= strayNames(root)
    out.toSeq
  }

  private def strayNames(root: String): Seq[String] = {
    def in(dir: String): Seq[String] =
      Fs.listEntryNames(dir)
        .filter(n => n.endsWith("_tmp") || n.endsWith("_prev") || n.endsWith(".tmp"))
        .map(n => if (dir == root) n else s"${dir.stripPrefix(root + "/")}/$n")
    in(root) ++ (if (Fs.exists(s"$root/fts")) in(s"$root/fts") else Seq.empty)
  }

  /** Remove `_tmp`/`_prev`/`.tmp` strays with no journal to explain
    * them: `_prev` after the commit point → drop (or restore when the
    * target is somehow gone); `_tmp` from a crashed NON-journaled
    * rewrite → roll FORWARD when the swap died between delete and
    * rename (target gone, staging complete per `_SUCCESS`), else drop. */
  private def sweepStrays(root: String, rollForwardTmp: Boolean): Unit = {
    strayNames(root).foreach { n =>
      val p = s"$root/$n"
      if (n.endsWith("_prev")) {
        // _prev strays exist only POST-commit (mid-journal retention is
        // consumed by the marker-driven restore above): the committed
        // state is authoritative, so residue is ALWAYS dropped — a
        // missing target here means the update DELETED that table
        // (compact's tombstone cleanup), not that restore is needed
        // (the drill's compact k=53 caught the restore resurrecting a
        // committed-away tombstone table)
        Fs.deleteRecursivelyRaw(p)
      } else if (n.endsWith("_tmp")) {
        val target = p.stripSuffix("_tmp")
        if (rollForwardTmp && !Fs.exists(target) && Fs.exists(s"$p/_SUCCESS"))
          Fs.renameOverwrite(p, target)
        else Fs.deleteRecursivelyRaw(p)
      } else {
        Fs.deleteRecursivelyRaw(p) // replaceBytes staging file
      }
    }
  }
}
