package graft.util

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Temp-file + atomic-rename table rewrites (the reference's atomic
  * write discipline, utils.rs:16-60, applied to parquet dirs).
  *
  * All path operations go through the Hadoop FileSystem resolved from
  * the active Spark session's configuration, NOT java.nio — the index
  * tables are written through Spark's Hadoop FS layer, so side files
  * (manifest.json, codec.json, markers) and directory swaps must live
  * on the same filesystem for HDFS/S3/ABFS deployments to work. On
  * object stores without atomic rename the swap degrades to
  * copy-equivalent semantics (Hadoop's rename contract); the tmp+swap
  * ordering still guarantees readers see either the old or the new
  * complete table, never a partial one. */
object Fs {

  private def fs(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    // session config when one is up (HDFS/S3 credentials etc.); plain
    // Hadoop defaults otherwise — path utilities must not REQUIRE a
    // session (e.g. cleanup before the first session exists)
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (f, p) = fs(path)
    f.exists(p)
  }

  /** Names of the immediate subdirectories of `path` (empty if absent). */
  def listDirs(path: String): Seq[String] = {
    val (f, p) = fs(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toIndexedSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Delete, consulting the update journal: inside a [[Journal]]
    * bracket the old dir is RETAINED as `_prev` for crash rollback
    * (commit drops it); outside, a plain recursive delete. */
  def deleteRecursively(path: String): Unit = {
    Journal.checkpoint(s"delete:$path")
    if (!Journal.onDelete(path)) deleteRecursivelyRaw(path)
  }

  /** The journal-blind delete — journal internals and non-index
    * cleanup paths that must never self-journal. */
  private[util] def deleteRecursivelyRaw(path: String): Unit = {
    val (f, p) = fs(path)
    if (f.exists(p)) f.delete(p, true): Unit
  }

  /** Immediate child entry names of `path` (files AND dirs; empty if
    * absent) — the journal's append-listing / stray-sweep primitive. */
  private[graft] def listEntryNames(path: String): Seq[String] = {
    val (f, p) = fs(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toIndexedSeq.map(_.getPath.getName)
  }

  /** Rename `src` onto `dst`, clearing any existing `dst` first (a
    * Hadoop rename onto an existing dir would nest instead). Throws on
    * failure — an unchecked false here would silently lose the swap. */
  private[util] def renameOverwrite(src: String, dst: String): Unit = {
    val (f, s) = fs(src)
    val d = new HPath(dst)
    if (f.exists(d) && !f.delete(d, true))
      throw new java.io.IOException(s"renameOverwrite: failed to clear $dst")
    if (!f.rename(s, d))
      throw new java.io.IOException(s"renameOverwrite: rename $src -> $dst failed")
  }

  /** Parquet append, consulting the update journal: the dir's
    * pre-append file listing is recorded first so a crash rolls the
    * append back by pruning — nothing is copied. All index-table
    * appends go through here, never raw `df.write.mode(Append)`. */
  def appendTable(df: DataFrame, dir: String): Unit = {
    Journal.onAppend(dir)
    Journal.checkpoint(s"append:$dir")
    df.write.mode(SaveMode.Append).parquet(dir)
  }

  /** Total byte footprint of `path` (recursive; 0 if absent) — the
    * input to file-count planning in compaction. */
  def sizeBytes(path: String): Long = {
    val (f, p) = fs(path)
    if (!f.exists(p)) 0L
    else f.getContentSummary(p).getLength
  }

  /** Count of data files under `path` (recursive), skipping writer
    * side-markers (`_SUCCESS`, hidden `.`/`_` files) — the honest
    * "how many part files did that write actually emit". */
  def countDataFiles(path: String): Int = {
    val (f, p) = fs(path)
    if (!f.exists(p)) 0 else dataFiles(f, p).size
  }

  /** Row count of the parquet table at `path` from its file footers —
    * driver-side metadata reads, no Spark job, no data pages (0 if
    * absent). Skips writer side-markers like [[countDataFiles]]. */
  def parquetRows(path: String): Long = parquetTotals(path)._1

  /** (rows, uncompressed bytes) of the parquet table at `path`, summed
    * over its file footers (the row groups' total uncompressed column
    * sizes): driver-side metadata reads like [[parquetRows]], (0, 0) if
    * absent. */
  def parquetTotals(path: String): (Long, Long) = {
    val (f, p) = fs(path)
    if (!f.exists(p)) return (0L, 0L)
    dataFiles(f, p).map { st =>
      val footer = readFooter(f, st)
      var (rows, bytes) = (0L, 0L)
      footer.getBlocks.forEach { b => rows += b.getRowCount; bytes += b.getTotalByteSize }
      (rows, bytes)
    }.foldLeft((0L, 0L)) { case ((n, b), (n1, b1)) => (n + n1, b + b1) }
  }

  private def readFooter(
      f: FileSystem, st: org.apache.hadoop.fs.FileStatus): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, f.getConf))
    try r.getFooter
    finally r.close()
  }

  /** Every file under `p`, recursively, by `listStatus`: unlike
    * `listFiles`, whose located statuses load permissions (a forked
    * `ls` per file on the local filesystem), a bare status costs one
    * directory read per directory. Directories whose names start with
    * `_` or `.` are skipped — Spark's own hidden-path rule — so the
    * uncommitted part files of an in-flight write (`_temporary/`) are
    * never counted, stamped or opened. */
  private def filesUnder(f: FileSystem, p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
    f.listStatus(p).toSeq.flatMap(st =>
      if (!st.isDirectory) Seq(st)
      else if (hidden(st.getPath.getName)) Seq.empty
      else filesUnder(f, st.getPath))

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The committed data files of the parquet table at `p`: [[filesUnder]]
    * without writer side-markers (`_SUCCESS`, `.crc` sidecars). */
  private def dataFiles(f: FileSystem, p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
    filesUnder(f, p).filterNot(st => hidden(st.getPath.getName))

  /** The parquet table at `dir`, opened with the Spark row schema stored
    * in one committed data file's footer — a driver-side metadata read —
    * instead of the schema-inference Spark job a bare
    * `spark.read.parquet` runs on every open. Falls back to
    * `spark.read.parquet` when that schema is not there to read: no data
    * file, a partitioned (nested) layout, or a file written without
    * Spark's row metadata. A file that vanishes under a concurrent
    * rewrite swap surfaces as `FileNotFoundException`, the stale-read
    * shape callers already retry. */
  def readParquet(spark: SparkSession, dir: String): DataFrame = {
    val (f, p) = fs(dir)
    val entries =
      if (f.exists(p)) f.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName)) else Seq.empty
    val schema =
      if (entries.exists(_.isDirectory)) None
      else entries.headOption.flatMap(st => Option(readFooter(f, st).getFileMetaData
        .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")))
        .map(json => org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    schema.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }

  /** (modification time, length) stamp of a side file — cheap change
    * detection for cached readers (a rewritten manifest.json means the
    * index tables changed underneath an open handle). (0, 0) when
    * absent. */
  def stamp(path: String): (Long, Long) = {
    val (f, p) = fs(path)
    if (!f.exists(p)) (0L, 0L)
    else {
      val st = f.getFileStatus(p)
      (st.getModificationTime, st.getLen)
    }
  }

  /** Small side-file read (manifest.json, codec.json, fts.json). */
  def readBytes(path: String): Array[Byte] = {
    val (f, p) = fs(path)
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Small side-file write (overwrite). Parent dirs are created.
    * Journal-aware: inside an update bracket the pre-image is recorded
    * for crash rollback. */
  def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    Journal.onSideWrite(path)
    Journal.checkpoint(s"write:$path")
    val (f, p) = fs(path)
    val out = f.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  /** Replace a small side file so a CONCURRENT reader never observes a
    * truncated/partial body (`create(overwrite)` truncates first, so a
    * racing `readBytes` can see 0..n of the new bytes — caught live by
    * ApiSpec's async-update test as a `key not found: num_partitions`
    * from a torn manifest.json). Local filesystems get a true atomic
    * NIO move; other Hadoop filesystems get tmp + delete + rename,
    * whose only bad window is ABSENT-file (retried by readers as
    * stale), never partial content. */
  def replaceBytes(path: String, bytes: Array[Byte]): Unit = {
    Journal.onSideWrite(path)
    Journal.checkpoint(s"replace:$path")
    val (f, p) = fs(path)
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      if (target.getParent != null) java.nio.file.Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      // Hadoop's ChecksumFileSystem keeps a `.name.crc` sidecar that an
      // NIO move bypasses — a later Hadoop read of the moved file would
      // fail ChecksumException against the stale sidecar. Deleting the
      // sidecar FIRST leaves no bad window: old-data+no-crc and
      // new-data+no-crc both read fine (absent checksum = unverified).
      java.nio.file.Files.deleteIfExists(
        target.resolveSibling("." + target.getFileName.toString + ".crc"))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new HPath(path + ".tmp")
      val out = f.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      // Hadoop delete/rename signal failure by returning false, not by
      // throwing. An unchecked false here loses the target permanently
      // (readers' absent-file retries can never succeed) while the .tmp
      // lingers — so both are checked and escalated.
      if (f.exists(p) && !f.delete(p, false))
        throw new java.io.IOException(s"replaceBytes: delete failed for $p")
      if (!f.rename(tmp, p))
        throw new java.io.IOException(s"replaceBytes: rename $tmp -> $p failed")
    }
  }

  /** Content fingerprint of a file or directory tree: MD5 over the
    * sorted (name, length, mtime) triples of every file under `path`.
    * Status-only — no data is read — so it is cheap even for 100 TB
    * tables, and it changes whenever the generator rewrites the data in
    * place, which is exactly the staleness a cache keyed on the PATH
    * string cannot see. */
  def fingerprint(path: String): String = {
    val (f, p) = fs(path)
    if (!f.exists(p)) return "absent"
    // entries key on the path RELATIVE TO THE ROOT, not the basename:
    // nested files with equal (name, length, mtime) in different
    // subdirectories (two partition dirs holding identically-sized
    // part files written in the same millisecond — routine for a
    // parallel parquet write) must not collide into one entry, or a
    // subdirectory swap reads as "unchanged" and buildIfMissing serves
    // a stale index (r18 advice).
    val rootUri = f.makeQualified(p).toUri.getPath.stripSuffix("/")
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    filesUnder(f, p).foreach { st =>
      val full = st.getPath.toUri.getPath
      val rel =
        if (full.startsWith(rootUri)) full.substring(rootUri.length).stripPrefix("/")
        else st.getPath.getName
      entries += s"$rel|${st.getLen}|${st.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** [[fingerprint]] of `path` as a version stamp of an artifact that
    * writers replace under a reader: every write names new part files,
    * so any append, rewrite or delete mapping changes it, and a listing
    * that races a directory swap (a file vanishing mid-walk) is retried. */
  def settledFingerprint(path: String): String = {
    @annotation.tailrec
    def go(attempt: Int): String =
      (try Some(fingerprint(path))
       catch { case _: java.io.FileNotFoundException if attempt < 5 => None }) match {
        case Some(fp) => fp
        case None =>
          Thread.sleep(10L * attempt)
          go(attempt + 1)
      }
    go(1)
  }

  /** True when `cacheDir` was stamped (by `stampCache`) with exactly
    * this source fingerprint — reuse gate for derived artifacts cached
    * across runs. */
  def cacheFresh(cacheDir: String, sourceFp: String): Boolean = {
    val marker = s"$cacheDir/source.fp"
    exists(marker) && new String(readBytes(marker), "UTF-8").trim == sourceFp
  }

  def stampCache(cacheDir: String, sourceFp: String): Unit =
    writeBytes(s"$cacheDir/source.fp", (sourceFp + "\n").getBytes("UTF-8"))

  /** Materialize `df` to `<dir>_tmp` (forcing the read of the current
    * version first), then swap it in. Hadoop's rename/delete signal
    * failure by returning false, not by throwing — an unchecked false
    * here would silently drop the table after the old version was
    * already deleted, so both are checked and escalated. */
  def rewrite(df: DataFrame, dir: String): Unit = {
    Journal.checkpoint(s"rewrite:stage:$dir")
    val tmp = dir + "_tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    Journal.checkpoint(s"rewrite:staged:$dir")
    val (f, p) = fs(dir)
    // journaled swap retains the old version as `_prev` for rollback;
    // non-journaled keeps the original delete+rename (the delete→rename
    // window is rolled FORWARD by Journal.sweepStrays via `_SUCCESS`)
    if (!Journal.onRewriteSwap(dir)) {
      if (f.exists(p) && !f.delete(p, true))
        throw new java.io.IOException(s"rewrite: failed to delete old version at $dir")
    }
    Journal.checkpoint(s"rewrite:swap:$dir")
    if (!f.rename(new HPath(tmp), p))
      throw new java.io.IOException(s"rewrite: failed to rename $tmp to $dir")
  }
}
