package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Fs

/** Content-fingerprinted cache reuse (round-10 verdict #3): a /tmp index
  * cache keyed only on the source PATH serves stale results when the
  * generator rewrites the data in place. `Fs.fingerprint` +
  * `cacheFresh`/`stampCache` must detect that rewrite. */
class FsCacheSpec extends AnyFunSuite {

  // Fs resolves the Hadoop FS from the active session when one exists;
  // a local session keeps this spec on the same code path production uses
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(prefix: String): Path =
    Files.createTempDirectory(prefix)

  test("fingerprint changes when a file's content length changes") {
    spark
    val src = tmpDir("graft_fp_src")
    Files.writeString(src.resolve("part-0.parquet"), "aaaa")
    val fp1 = Fs.fingerprint(src.toString)
    Files.writeString(src.resolve("part-0.parquet"), "aaaaaaaa")
    val fp2 = Fs.fingerprint(src.toString)
    assert(fp1 !== fp2)
  }

  test("fingerprint changes when a file is added or removed") {
    spark
    val src = tmpDir("graft_fp_add")
    Files.writeString(src.resolve("part-0.parquet"), "x")
    val fp1 = Fs.fingerprint(src.toString)
    Files.writeString(src.resolve("part-1.parquet"), "y")
    val fp2 = Fs.fingerprint(src.toString)
    Files.delete(src.resolve("part-1.parquet"))
    val fp3 = Fs.fingerprint(src.toString)
    assert(fp1 !== fp2)
    assert(fp1 === fp3) // same files, same sizes, same mtimes → same key
  }

  test("fingerprint keys on the relative path, not the basename") {
    spark
    // two layouts whose file sets are identical under (basename, length,
    // mtime) but differ in WHERE a file sits — a subdirectory swap that
    // a basename-keyed fingerprint reads as "unchanged" (r18 advice)
    val src = tmpDir("graft_fp_rel")
    Files.createDirectories(src.resolve("a"))
    Files.createDirectories(src.resolve("b"))
    Files.writeString(src.resolve("a/part-0"), "aaaa")
    val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    Files.setLastModifiedTime(src.resolve("a/part-0"), t)
    val fp1 = Fs.fingerprint(src.toString)
    // move the same file (same name, length, pinned mtime) to b/
    Files.move(src.resolve("a/part-0"), src.resolve("b/part-0"))
    Files.setLastModifiedTime(src.resolve("b/part-0"), t)
    assert(Fs.fingerprint(src.toString) !== fp1,
      "subdirectory move with identical (name, length, mtime) must change the fingerprint")
    // and same-named files in BOTH subdirs are two entries, not one
    Files.writeString(src.resolve("a/part-0"), "aaaa")
    Files.setLastModifiedTime(src.resolve("a/part-0"), t)
    val fpBoth = Fs.fingerprint(src.toString)
    assert(fpBoth !== fp1)
    assert(fpBoth !== Fs.fingerprint(src.resolve("b").toString))
  }

  test("fingerprint is 'absent' for a missing path") {
    spark
    assert(Fs.fingerprint("/tmp/graft_fp_does_not_exist_xyz") === "absent")
  }

  test("cacheFresh gates reuse on the stamped source fingerprint") {
    spark
    val src = tmpDir("graft_fp_src2")
    val cache = tmpDir("graft_fp_cache")
    Files.writeString(src.resolve("data.parquet"), "v1-content")
    val fp1 = Fs.fingerprint(src.toString)

    // unstamped cache is never fresh (legacy dirs from older rounds)
    assert(!Fs.cacheFresh(cache.toString, fp1))

    Fs.stampCache(cache.toString, fp1)
    assert(Fs.cacheFresh(cache.toString, fp1))

    // regenerate the source in place (different size → different key)
    Files.writeString(src.resolve("data.parquet"), "v2-content-longer")
    val fp2 = Fs.fingerprint(src.toString)
    assert(fp1 !== fp2)
    assert(!Fs.cacheFresh(cache.toString, fp2))

    // rebuild + restamp restores freshness
    Fs.stampCache(cache.toString, fp2)
    assert(Fs.cacheFresh(cache.toString, fp2))
  }

  test("parquetRows, fingerprint and readParquet ignore an in-flight write's _temporary files") {
    import spark.implicits._
    val dir = tmpDir("graft_inflight").resolve("t").toString
    (0L until 10L).toDF("doc_id").write.parquet(dir)
    val fp = Fs.fingerprint(dir)
    val schema = spark.read.parquet(dir).schema
    // an uncommitted part file of a concurrent write, of another schema,
    // where Spark's committer stages it
    val other = tmpDir("graft_inflight_other").resolve("o").toString
    (0 until 5).map(i => (i.toString, i)).toDF("x", "y").coalesce(1).write.parquet(other)
    val part = Files.list(Paths.get(other)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    val staging = Paths.get(dir, "_temporary", "0", "_temporary", "attempt_0")
    Files.createDirectories(staging)
    Files.copy(part, staging.resolve("part-00000-inflight.snappy.parquet"))
    Files.copy(part, Paths.get(dir, "_temporary", "0", "part-00001-inflight.snappy.parquet"))

    assert(Fs.parquetRows(dir) === 10L)
    assert(Fs.fingerprint(dir) === fp)
    val read = Fs.readParquet(spark, dir)
    assert(read.schema === schema)
    assert(read.count() === 10L)
  }
}
