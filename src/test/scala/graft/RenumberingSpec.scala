package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fts.FtsIndex
import graft.index.{UpdateConfig, Updater}
import graft.meta.Where.SStr
import graft.util.Fs

/** A delete's binary-search renumbering ([[graft.index.Renumbering]])
  * writes the tables the map-join renumbering writes: each survivor
  * mapped to its rank among the survivors by joining an old→new map,
  * the IVF regrouped from the renumbered tokens. The join is this
  * spec's oracle: each write shape runs on an index whose pre-op copy
  * the oracle renumbers, and every engine table (rows and content hash),
  * the manifest's counts and `fsck` must agree. Also pins that every
  * engine table opened by [[Fs.readParquet]] has the schema
  * `spark.read.parquet` infers. */
class RenumberingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
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

  private def mkMeta(globalIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    globalIds.zipWithIndex.map { case (gid, local) =>
      (local.toLong, s"""{"cat": "c${gid % 3}", "title": "doc $gid word${gid % 5}"}""")
    }.toDF("order", "json")
  }

  /** Engine tables and the id column each is keyed by. */
  private val Tables = Seq("tokens" -> "doc_id", "doclens" -> "doc_id", "doc_codes" -> "doc_id",
    "ivf" -> "", "codec" -> "", "meta" -> "_subset_", "raw_docs" -> "doc_id",
    "buffer" -> "doc_id", "tombstones" -> "doc_id", "fts/postings" -> "doc_id",
    "fts/doclens" -> "doc_id")

  /** Rows and content hash, the columns in name order. */
  private def hash(df: DataFrame): String = {
    val (n, h) = Bench.forcedCountHash(df.select(df.columns.sorted.map(col).toIndexedSeq: _*))
    s"$n:$h"
  }

  /** Per-table (rows, content hash) of the index at `path`. */
  private def signature(path: String): Map[String, String] =
    Tables.map { case (t, _) =>
      val dir = s"$path/$t"
      t -> (if (Fs.exists(dir)) hash(spark.read.parquet(dir)) else "absent")
    }.toMap

  /** The oracle: the tables of the index at `pre` after deleting the
    * in-range ids `deleted`, by joining the rank-among-survivors map and
    * regrouping the IVF from the renumbered tokens. `(signature,
    * num_documents, num_embeddings)`. */
  private def expected(pre: String, deleted: Set[Long]): (Map[String, String], Long, Long) = {
    import spark.implicits._
    val n = GraftIndex.open(spark, pre).index.numDocuments
    val map = (0L until n).filterNot(deleted).zipWithIndex
      .map { case (o, i) => (o, i.toLong) }.toDF("_old_id", "_new_id")
    def renumber(df: DataFrame, idCol: String): DataFrame =
      df.join(map, df(idCol) === map("_old_id"))
        .withColumn(idCol, col("_new_id"))
        .drop("_old_id", "_new_id")
    val tables = Tables.collect { case (t, id) if id.nonEmpty && Fs.exists(s"$pre/$t") =>
      t -> renumber(spark.read.parquet(s"$pre/$t"), id)
    }.toMap
    val ivf = tables("tokens").groupBy("code").agg(sort_array(collect_set("doc_id")).as("doc_ids"))
    val sig = Tables.map { case (t, _) =>
      t -> (if (t == "ivf") hash(ivf)
        else if (t == "codec") signature(pre)(t)
        else tables.get(t).map(hash).getOrElse("absent"))
    }.toMap
    (sig, tables("doclens").count(), tables("tokens").count())
  }

  private def assertSchemas(path: String, when: String): Unit =
    Tables.map(_._1).filter(t => Fs.exists(s"$path/$t")).foreach { t =>
      assert(Fs.readParquet(spark, s"$path/$t").schema === spark.read.parquet(s"$path/$t").schema,
        s"$t after $when")
    }

  /** `fsck` clean and the IVF exactly the regroup of the tokens. */
  private def assertConsistent(path: String, what: String): Unit = {
    val gi = GraftIndex.open(spark, path)
    val bad = gi.fsck().collect().filterNot(_.getAs[Boolean]("ok"))
    assert(bad.isEmpty, s"$what: fsck failures ${bad.mkString("; ")}")
    val regroup = gi.index.tokens.groupBy("code").agg(sort_array(collect_set("doc_id")).as("doc_ids"))
    assert(hash(gi.index.ivf.select("code", "doc_ids")) === hash(regroup), s"$what: IVF vs tokens")
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

  /** Create a 20-doc index with metadata and FTS and `prep` it; keep a
    * pre-op copy; run `op`, which returns the ids it deletes (read from
    * the pre-op copy), and compare with the oracle over that copy.
    * `compacts`: the op empties the tombstones. Returns the index path. */
  private def againstOracle(name: String, prep: GraftIndex => Unit = _ => (), compacts: Boolean = false)(
      op: (GraftIndex, String) => Set[Long]): String = {
    val (path, pre) = (s"/tmp/graft_renum_$name", s"/tmp/graft_renum_${name}_pre")
    Fs.deleteRecursively(path)
    prep(GraftIndex.create(spark, path, mkDocs(0L until 20L), Some(mkMeta(0L until 20L))))
    copyDir(path, pre)
    val deleted = op(GraftIndex.open(spark, path), pre)
    val (sig, nDocs, nEmb) = expected(pre, deleted)
    val want = if (compacts) sig + ("tombstones" -> "absent") else sig
    assert(Fs.exists(s"$path/last_delete_ids"), s"$name: no renumbering recorded")
    assert(signature(path) === want, name)
    val info = GraftIndex.open(spark, path).info
    assert(info("num_documents").toLong === nDocs, name)
    assert(info("num_embeddings").toLong === nEmb, name)
    assertConsistent(path, name)
    assertSchemas(path, name)
    Fs.deleteRecursively(pre)
    path
  }

  test("eager delete by ids, with repeated and out-of-range ids, matches the map join") {
    import spark.implicits._
    val path = againstOracle("ids") { (gi, _) =>
      gi.deleteDocuments(ids = Some(Seq(3L, 7L, 7L, 11L, -1L, 25L, 100L)))
      Set(3L, 7L, 11L)
    }
    assert(GraftIndex.open(spark, path).count === 17L)
    // a metadata table synced after the fact follows the recorded renumbering
    val probe = (0L until 20L).map(i => (i, s"t$i")).toDF("doc_id", "title")
    val synced = Updater.syncMetadataDelete(spark, GraftIndex.open(spark, path).index, probe, "doc_id")
    val want = (0L until 20L).filterNot(Set(3L, 7L, 11L)).zipWithIndex
      .map { case (o, i) => (i.toLong, s"t$o") }.toDF("doc_id", "title")
    assert(hash(synced) === hash(want))
    Fs.deleteRecursively(path)
  }

  test("eager delete by condition matches the map join") {
    Fs.deleteRecursively(againstOracle("cond") { (gi, pre) =>
      val ids = GraftIndex.open(spark, pre).metadata.where(col("cat") === "c1")
        .select(col("_subset_").cast("long")).collect().map(_.getLong(0)).toSet
      gi.deleteDocuments(cond = Some(("cat = ?", Seq(SStr("c1")))))
      ids
    })
  }

  test("compact of pending tombstones matches the map join") {
    Fs.deleteRecursively(againstOracle("compact", compacts = true, prep = _.deleteDocuments(
      ids = Some(Seq(2L, 5L, 5L)), deferred = true, autoCompactRatio = 2.0): Unit) { (gi, _) =>
      gi.compact()
      Set(2L, 5L)
    })
  }

  test("deleting every doc leaves empty tables") {
    val path = againstOracle("all") { (gi, _) =>
      gi.deleteDocuments(ids = Some(0L until 20L))
      (0L until 20L).toSet
    }
    assert(GraftIndex.open(spark, path).count === 0L)
    Fs.deleteRecursively(path)
  }

  test("deleting the last docs of a code drops the code's IVF row") {
    import spark.implicits._
    var code = -1
    val path = againstOracle("code") { (gi, _) =>
      val lists = gi.index.ivf.select("code", "doc_ids").as[(Int, Array[Long])].collect()
      val (c, ids) = lists.minBy { case (c, ids) => (ids.length, c) }
      code = c
      gi.deleteDocuments(ids = Some(ids.toSeq))
      ids.toSet
    }
    assert(GraftIndex.open(spark, path).index.ivf.filter(col("code") === code).count() === 0L)
    Fs.deleteRecursively(path)
  }

  test("eager delete with pending tombstones renumbers them like the map join") {
    Fs.deleteRecursively(againstOracle("tomb", prep = _.deleteDocuments(
      ids = Some(Seq(4L, 9L)), deferred = true, autoCompactRatio = 2.0): Unit) { (gi, _) =>
      gi.deleteDocuments(ids = Some(Seq(2L, 9L, 15L)))
      Set(2L, 9L, 15L)
    })
  }

  test("mode-3 buffer flush keeps a tombstoned buffered doc and a consistent IVF") {
    val cfg = UpdateConfig(startFromScratch = 0, bufferSize = 5)
    val path = "/tmp/graft_renum_mode3"
    Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, mkDocs(0L until 20L), Some(mkMeta(0L until 20L)))
    gi.addDocuments(mkDocs(100L until 103L), Some(mkMeta(100L until 103L)), cfg)
    gi.deleteDocuments(ids = Some(Seq(21L)), deferred = true, autoCompactRatio = 2.0)
    def raw(id: Long) = hash(spark.read.parquet(s"$path/raw_docs").where(col("doc_id") === id))
    val tombstoned = raw(21L)
    gi.addDocuments(mkDocs(200L until 204L), Some(mkMeta(200L until 204L)), cfg)
    assert(!Fs.exists(s"$path/buffer"), "the flush left a buffer")
    assert(GraftIndex.open(spark, path).info("num_documents") === "27")
    val tomb = spark.read.parquet(s"$path/tombstones").collect().map(_.getLong(0)).toSeq
    assert(tomb === Seq(21L))
    assert(raw(21L) === tombstoned)
    assertConsistent(path, "mode 3")
    assertSchemas(path, "mode 3")
    gi.drop()
  }

  test("a standalone FTS over non-dense ids renumbers by rank among its own survivors") {
    import spark.implicits._
    val path = "/tmp/graft_renum_fts_sparse"
    Fs.deleteRecursively(path)
    val docs = Seq(10L -> "spark rivers", 20L -> "duck ponds", 30L -> "spark streams")
      .toDF("doc_id", "text")
    def ids(idx: FtsIndex) = idx.doclens.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val idx = FtsIndex.build(spark, docs, "doc_id", "text", path)
    val kept = FtsIndex.delete(idx, Seq(10L), renumber = false)
    assert(ids(kept) === Seq(20L, 30L))
    val renumbered = FtsIndex.delete(kept, Seq(20L))
    assert(ids(renumbered) === Seq(0L))
    assert(renumbered.search("streams", topK = 10).select("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(0L))
    Fs.deleteRecursively(path)
  }

  test("readParquet opens every engine table with spark.read.parquet's schema after each write") {
    import spark.implicits._
    val path = "/tmp/graft_renum_schemas"
    Fs.deleteRecursively(path)
    val gi = GraftIndex.create(spark, path, mkDocs(0L until 20L), Some(mkMeta(0L until 20L)))
    assertSchemas(path, "create")
    gi.addDocuments(mkDocs(100L until 104L), Some(mkMeta(100L until 104L)),
      UpdateConfig(startFromScratch = 0))
    assertSchemas(path, "add")
    gi.deleteDocuments(ids = Some(Seq(1L, 6L)))
    assertSchemas(path, "delete")
    gi.deleteDocuments(ids = Some(Seq(0L)), deferred = true, autoCompactRatio = 2.0)
    assertSchemas(path, "deferred delete")
    gi.compact()
    assertSchemas(path, "compact")
    FtsIndex.updateRows(gi.ftsIndex, Seq((2L, "fresh text"), (5L, "more words")).toDF("doc_id", "text"),
      "doc_id", "text")
    assertSchemas(path, "FTS updateRows")
    gi.drop()
  }
}
