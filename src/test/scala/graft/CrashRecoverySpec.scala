package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.UpdateConfig
import graft.util.{Fs, Journal}

/** Mid-update crash-recovery drill (r18 verdict item 6): kill an
  * update between two arbitrary filesystem operations, then prove the
  * contract —
  *
  *   1. DETECTION: after any mid-update death, either the disk is
  *      bit-identical to a consistent state (pre- or post-update), or
  *      `Journal.residue` is non-empty and `fsck` reports a
  *      `crashed_update_residue` failure row.
  *   2. REPAIR: `GraftIndex.recover()` rolls the index back to EXACTLY
  *      the pre-update state (or leaves the committed post-update
  *      state) — never anything in between — and re-submitting the
  *      same batch then lands EXACTLY the no-crash final state.
  *
  * Kill points come from `Journal.armCrash(k)`: the k-th Fs mutation
  * primitive (side-file write/replace, rewrite stage/swap, append,
  * delete — including the journal's own marker persists and the
  * commit-phase cleanup) throws [[Journal.InjectedCrash]], which the
  * bracket treats as process death: no in-process rollback, disk left
  * as the crash left it. Every inter-operation boundary of four update
  * shapes (plain append, eager delete with metadata+FTS sync, mode-3
  * buffer-overflow re-encode, tombstone compaction) is drilled — all
  * points when an op has ≤18, a seeded random sample otherwise, ≥50
  * points total.
  *
  * State equality is CONTENT equality: per-table (rows, xxhash64
  * bit_xor) over every index artifact plus the manifest's logical
  * fields (build_id excluded — any committed write refreshes it by
  * design). Reference analogue: the temp+rename atomic-write
  * discipline, next-plaid/src/utils.rs:16-92. */
class CrashRecoverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Deterministic multi-vector docs: 3 tokens × 8 dims from sin(gid). */
  private def mkDocs(globalIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    globalIds.zipWithIndex.map { case (gid, local) =>
      (local.toLong, Array.tabulate(3)(t =>
        Array.tabulate(8)(j =>
          (math.sin(gid * 17.0 + t * 5.0 + j) * 100).round / 100.0f)))
    }.toDF("doc_id", "embeddings")
  }

  private def mkMeta(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, s"""{"cat": "c${i % 3}", "score": ${i * 2 + 1}}"""))
      .toDF("order", "json")
  }

  private val Tables = Seq(
    "tokens", "doclens", "doc_codes", "ivf", "codec", "meta", "raw_docs",
    "buffer", "tombstones", "pending_tomb", "fts/postings", "fts/doclens")

  /** Content signature of the whole index dir: per-table (rows, hash),
    * manifest logical fields, side-file digests (codec.json, the last
    * delete's renumbering), journal marker absence. Insensitive to file
    * layout and build_id. */
  private def signature(path: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    Tables.foreach { t =>
      val dir = s"$path/$t"
      if (Fs.exists(dir)) {
        val (n, h) = Bench.forcedCountHash(spark.read.parquet(dir))
        parts += s"$t:$n:$h"
      }
    }
    if (Fs.exists(s"$path/manifest.json")) {
      val m = graft.GraftIndex.open(spark, path).info
      parts += (m - "build_id").toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("manifest{", ",", "}")
    }
    Seq("codec.json", "fts/fts.json", "config.json", "last_delete_ids").foreach { f =>
      if (Fs.exists(s"$path/$f"))
        parts += s"$f:" + java.security.MessageDigest.getInstance("MD5")
          .digest(Fs.readBytes(s"$path/$f")).map("%02x".format(_)).mkString
    }
    parts += s"marker:${Fs.exists(s"$path/${Journal.Marker}")}"
    parts.mkString("\n")
  }

  private def copyDir(src: String, dst: String): Unit = {
    Fs.deleteRecursively(dst)
    val s = java.nio.file.Paths.get(src)
    java.nio.file.Files.walk(s).forEach { p =>
      val d = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(p, d): Unit
    }
  }

  /** One drill op: how to prepare the pristine base (beyond the shared
    * 20-doc create) and the update to kill. */
  private case class Drill(
      name: String,
      prep: GraftIndex => Unit,
      op: GraftIndex => Unit,
      maxPoints: Int)

  private val drills = Seq(
    Drill("append",
      prep = _ => (),
      op = gi => gi.addDocuments(mkDocs(100L until 105L), Some(mkMeta(5)),
        cfg = UpdateConfig(startFromScratch = 0, bufferSize = 1000)): Unit,
      maxPoints = 16),
    Drill("delete",
      prep = _ => (),
      op = gi => gi.deleteDocuments(ids = Some(Seq(3L, 7L, 11L))): Unit,
      maxPoints = 16),
    Drill("mode3",
      prep = _ => (),
      // bufferSize=2 < batch: buffer-overflow path (delete buffered +
      // centroid expansion + re-append under the refreshed codec)
      op = gi => gi.addDocuments(mkDocs(200L until 205L), Some(mkMeta(5)),
        cfg = UpdateConfig(startFromScratch = 0, bufferSize = 2)): Unit,
      maxPoints = 16),
    Drill("compact",
      prep = gi => gi.deleteDocuments(
        ids = Some(Seq(2L, 5L)), deferred = true, autoCompactRatio = 2.0): Unit,
      op = gi => gi.compact(): Unit,
      maxPoints = 12))

  test("kill points across append/delete/mode3/compact: detect, repair, converge") {
    val base0 = "/tmp/graft_crash_base"
    var totalPoints = 0
    // dev subset knob (full sweep by default; the ≥50-point floor
    // below keeps CI honest if it is ever exported there)
    val only = sys.env.get("GRAFT_CRASH_ONLY").map(_.split(",").toSet)
    drills.filter(d => only.forall(_.contains(d.name))).foreach { d =>
      val base = s"${base0}_${d.name}"
      Fs.deleteRecursively(base)
      val gi0 = GraftIndex.create(spark, base, mkDocs(0L until 20L), Some(mkMeta(20)))
      d.prep(gi0)
      val pristineSig = signature(base)

      val work = s"${base0}_${d.name}_work"
      // reference run: the no-crash final state
      copyDir(base, work)
      d.op(GraftIndex.open(spark, work))
      val refSig = signature(work)
      assert(refSig !== pristineSig, s"${d.name}: op must change the index")

      // checkpoint census
      copyDir(base, work)
      Journal.armCount()
      d.op(GraftIndex.open(spark, work))
      val nOps = Journal.disarm()
      assert(nOps > 3, s"${d.name}: only $nOps checkpoints — drill has no surface")

      val rnd = new scala.util.Random(d.name.hashCode)
      val points: Seq[Long] =
        if (nOps <= d.maxPoints) 1L to nOps
        else rnd.shuffle((1L to nOps).toList).take(d.maxPoints).sorted
      totalPoints += points.size
      info(s"${d.name}: $nOps fs-op checkpoints, drilling ${points.size} kill points: ${points.mkString(",")}")

      points.foreach { k =>
        copyDir(base, work)
        Journal.armCrash(k)
        val crashed =
          try { d.op(GraftIndex.open(spark, work)); false }
          catch { case _: Journal.InjectedCrash => true }
          finally Journal.disarm()

        if (!crashed) {
          assert(signature(work) === refSig,
            s"${d.name} k=$k: completed run diverged from reference")
        } else {
          // DETECTION: residue flags the crash, or the disk is already
          // exactly a consistent state (death before the first write /
          // after the last cleanup)
          val res = Journal.residue(work)
          if (res.isEmpty) {
            val sig = signature(work)
            assert(sig === pristineSig || sig === refSig,
              s"${d.name} k=$k: inconsistent state with NO residue to detect it")
          }
          // REPAIR: recover, then the state must be exactly pre or post
          val gi = GraftIndex.open(spark, work).recover()
          assert(Journal.residue(work).isEmpty,
            s"${d.name} k=$k: residue survives recover()")
          val sig2 = signature(work)
          assert(sig2 === pristineSig || sig2 === refSig,
            s"${d.name} k=$k: recover() left an in-between state")
          // CONVERGENCE: a rolled-back batch re-submits to the exact
          // no-crash result
          if (sig2 == pristineSig) {
            d.op(gi)
            assert(signature(work) === refSig,
              s"${d.name} k=$k: re-submit after rollback diverged")
          }
        }
      }
      Fs.deleteRecursively(work)
      Fs.deleteRecursively(base)
    }
    if (only.isEmpty)
      assert(totalPoints >= 50, s"only $totalPoints kill points drilled")
  }

  test("fsck reports crashed_update_residue on a marker and is clean after recover") {
    val path = "/tmp/graft_crash_fsck"
    Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, mkDocs(0L until 10L), Some(mkMeta(10)))
    // plant a crash mid-append (first table mutation after the marker)
    Journal.armCrash(5)
    intercept[Journal.InjectedCrash] {
      gi.addDocuments(mkDocs(300L until 303L), Some(mkMeta(3)))
    }
    Journal.disarm()
    val flagged = gi.fsck().collect()
      .filter(r => r.getAs[String]("section") == "recovery")
    assert(flagged.nonEmpty && flagged.forall(!_.getAs[Boolean]("ok")),
      "fsck must flag crashed-update residue")
    gi.recover()
    val after = gi.fsck().collect()
    assert(!after.exists(_.getAs[String]("section") == "recovery"),
      "healthy fsck output must carry no recovery rows")
    assert(after.forall(_.getAs[Boolean]("ok")),
      s"post-recover fsck failures: ${after.filterNot(_.getAs[Boolean]("ok")).mkString(";")}")
    gi.drop()
  }
}
