package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fts.FtsIndex
import graft.search.Searcher

/** The resident-image ledger of a [[GraftIndex]]
  * ([[graft.util.ResidentSet]]): every admit/refuse
  * combination of its semantic, BM25 and metadata images that the
  * fixture's estimates can reach, each decision checked against the
  * fixed-order rule and against the INFO record the ledger logs for it. */
class ResidentSetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** The ledger's records, as logged. */
  private object Records extends AbstractAppender(
      "resident-set-records", null, null, true, Property.EMPTY_ARRAY) {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
  }

  private def recorded(prefix: String)(f: => Unit): Seq[String] = {
    Records.lines.clear()
    f
    import scala.jdk.CollectionConverters._
    Records.lines.asScala.toSeq.filter(_.contains(prefix))
  }

  private def metaJson(n: Long): DataFrame = {
    import spark.implicits._
    (0L until n).map(i => (i, s"""{"title": "doc $i", "grp": ${i % 2}}""")).toDF("order", "json")
  }

  test("every reachable admit/refuse combination: the decision follows the fixed order and is logged once") {
    IndexFixtures.requireTestdata()
    val path = "/tmp/graft_resident_set_sweep"
    graft.util.Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, IndexFixtures.docs(spark).filter(col("doc_id") < 20),
      Some(metaJson(20)))
    val sem = Searcher.residentBytes(gi.index, Long.MaxValue)
    val fts = FtsIndex.residentBytesEstimate(s"$path/fts")
    val meta = GraftIndex.metadataBytesEstimate(s"$path/meta")
    assert(meta > 0L && fts > 0L && sem > meta + fts,
      s"fixture: semantic $sem, fts $fts, metadata $meta")

    // semantic, then FTS charged the semantic image, then metadata
    // charged both: each image is charged its estimate when admitted
    def expected(b: Long): (Boolean, Boolean, Boolean) = {
      val s = sem <= b
      val semCharge = if (s) sem else 0L
      val f = fts + semCharge <= b
      val m = meta + semCharge + (if (f) fts else 0L) <= b
      (s, f, m)
    }
    def record(name: String, dir: String, est: Long, ok: Boolean, charges: String, b: Long) =
      s"$name image ${if (ok) "admitted" else "refused"}: $dir estimate=$est$charges budget=$b"

    // the engine's records, graft.* (the ledger logs under graft.util)
    val logger = LogManager.getLogger("graft").asInstanceOf[Logger]
    Configurator.setLevel(logger.getName, Level.INFO)
    Records.start()
    logger.addAppender(Records)
    try {
      // every boundary: each sum of the estimates, and one byte either side
      val sums = for (a <- Seq(0L, sem); c <- Seq(0L, fts); d <- Seq(0L, meta)) yield a + c + d
      val budgets = sums.flatMap(x => Seq(x - 1, x, x + 1)).filter(_ > 0).distinct.sorted
      val reached = budgets.map { b =>
        val want = expected(b)
        var got: (Boolean, Boolean, Boolean) = null
        val lines = recorded(path) {
          val m = gi.residentMetadata(b).isDefined
          got = (Searcher.residentBytes(gi.index, b) > 0, gi.ftsIndex.residentImage(b).isDefined, m)
        }
        assert(got === want, s"budget $b")
        val semCharge = if (want._1) sem else 0L
        val ftsCharge = if (want._2) fts else 0L
        // one pass decided all three; the second pass repeated two of
        // them with the same inputs and logged nothing
        assert(lines === Seq(
          record("semantic", path, sem, want._1, "", b),
          record("fts", s"$path/fts", fts, want._2, s" semantic=$semCharge", b),
          record("metadata", s"$path/meta", meta, want._3,
            s" semantic=$semCharge fts=$ftsCharge", b)), s"budget $b")
        want
      }.toSet
      val required = Set(
        (false, false, false), // none admitted
        (true, false, false), // semantic only
        (true, true, false), // semantic + FTS
        (true, true, true), // all three
        (false, true, true)) // FTS + metadata, semantic refused
      assert(required.subsetOf(reached), s"reached $reached")

      // the last inputs again log nothing; budget 0 decides nothing
      assert(recorded(path)(assert(gi.residentMetadata(budgets.last).isDefined)).isEmpty)
      assert(recorded(path)(assert(gi.residentMetadata(0L).isEmpty)).isEmpty)
      // a write moves the metadata stamp: a new version, a new record
      gi.addDocuments(IndexFixtures.docs(spark).filter(col("doc_id") === 20L)
        .withColumn("doc_id", lit(0L)), Some(metaJson(1)))
      val meta2 = GraftIndex.metadataBytesEstimate(s"$path/meta")
      val fts2 = FtsIndex.residentBytesEstimate(s"$path/fts")
      val sem2 = Searcher.residentBytes(gi.index, Long.MaxValue)
      val budget = sem2 + fts2 + meta2
      assert(recorded(s"$path/meta")(assert(gi.residentMetadata(budget).isDefined)) === Seq(
        record("metadata", s"$path/meta", meta2, ok = true, s" semantic=$sem2 fts=$fts2", budget)))
    } finally {
      logger.removeAppender(Records)
      Records.stop()
    }
    gi.drop()
  }
}
