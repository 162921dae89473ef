package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Fs

/** The renumbering of one delete — the reference's renumber
  * (delete.rs:66-273) applied to any table keyed by a doc id. Every
  * remapped table goes through one: the index tables
  * ([[Updater.deleteFrom]], [[Updater.compact]]), metadata
  * ([[Updater.syncMetadataDelete]]) and FTS
  * ([[graft.fts.FtsIndex.deleteFrom]] / `applyDeleteMapping`).
  *
  * It holds one sorted `Array[Long]` on the driver, broadcast, and maps
  * an id by one binary search in it (`newId`, -1 = dropped), in a narrow
  * filter-and-map pass — no join, no shuffle, no map table. Every map is
  * monotonic, so the IVF's `doc_ids` lists are mapped element-wise and
  * stay sorted and distinct.
  *
  * An index delete records its renumbering in the index directory
  * (`last_delete_ids`), so a caller syncs a metadata table after the
  * fact ([[Renumbering.last]]). */
final class Renumbering private (
    spark: SparkSession,
    sorted: Array[Long],
    newId: (Array[Long], Long) => Long,
    renames: Boolean) {

  private lazy val bc = spark.sparkContext.broadcast(sorted)

  /** `df` without the dropped rows, its `idCol` renumbered (a
    * non-renaming renumbering only filters, keeping the column's type).
    * Other columns keep their positions. */
  def apply(df: DataFrame, idCol: String): DataFrame = {
    val (b, f) = (bc, newId)
    val id = col(idCol).cast("long")
    if (renames) {
      val renumber = udf((id: Long) => f(b.value, id))
      df.withColumn(idCol, renumber(id)).filter(col(idCol) >= 0)
    } else {
      val keep = udf((id: Long) => f(b.value, id) >= 0)
      df.filter(keep(id))
    }
  }

  /** The renumbered IVF `(code, doc_ids)`: each list mapped element-wise;
    * a code whose list empties has no row. */
  def ivf(ivf: DataFrame): DataFrame = {
    val (b, f) = (bc, newId)
    val renumber = udf { (ids: Seq[Long]) =>
      val out = Array.newBuilder[Long]
      ids.foreach { id => val s = f(b.value, id); if (s >= 0) out += s }
      out.result()
    }
    ivf.select(col("code"), renumber(col("doc_ids")).as("doc_ids"))
      .filter(size(col("doc_ids")) > 0)
  }
}

object Renumbering {

  private val IdsFile = "last_delete_ids"

  /** Deleting the sorted `deleted` from [0, bound): a survivor `old`
    * becomes `old − #(deleted ids < old)`; deleted and out-of-range ids
    * map to -1. */
  private def shift(bound: Long)(deleted: Array[Long], id: Long): Long =
    if (id < 0 || id >= bound) -1L
    else {
      val i = java.util.Arrays.binarySearch(deleted, id)
      if (i >= 0) -1L else id + i + 1
    }

  /** Deleting `ids` from the dense id space [0, bound): out-of-range and
    * repeated ids are ignored. */
  def byIds(spark: SparkSession, ids: Array[Long], bound: Long): Renumbering =
    new Renumbering(spark, inRange(ids, bound), shift(bound), renames = true)

  /** Each of the ids `kept` to its rank among them; every other id is
    * dropped. Renumbers an id space that need not be dense. */
  def ranks(spark: SparkSession, kept: Array[Long]): Renumbering =
    new Renumbering(spark, kept.distinct.sorted, { (k, id) =>
      val i = java.util.Arrays.binarySearch(k, id)
      if (i >= 0) i.toLong else -1L
    }, renames = true)

  /** Drops the ids `deleted`; every other id keeps its value. */
  def without(spark: SparkSession, deleted: Array[Long]): Renumbering =
    new Renumbering(spark, deleted.distinct.sorted, { (d, id) =>
      if (java.util.Arrays.binarySearch(d, id) >= 0) -1L else id
    }, renames = false)

  private def inRange(ids: Array[Long], bound: Long): Array[Long] =
    ids.filter(id => id >= 0 && id < bound).distinct.sorted

  /** The non-null ids of `del(doc_id)` on the driver; ids already on the
    * driver (a local relation) cost no job. */
  def collectIds(del: DataFrame): Array[Long] = {
    val spark = del.sparkSession
    import spark.implicits._
    del.select(col("doc_id").cast("long")).where(col("doc_id").isNotNull).as[Long].collect()
  }

  /** Deleting `ids` from the index at `path` with `bound` docs, recorded
    * as its last delete (`last_delete_ids`: the bound, then the in-range
    * deleted ids, sorted, as longs). Returns the renumbering and the
    * number of docs it deletes. */
  private[index] def record(spark: SparkSession, path: String, ids: Array[Long], bound: Long): (Renumbering, Int) = {
    val deleted = inRange(ids, bound)
    val buf = java.nio.ByteBuffer.allocate(8 * (deleted.length + 1))
    buf.putLong(bound)
    deleted.foreach(buf.putLong)
    Fs.writeBytes(s"$path/$IdsFile", buf.array())
    (new Renumbering(spark, deleted, shift(bound), renames = true), deleted.length)
  }

  /** Drop any recorded delete (a fresh build starts without one). */
  private[index] def clear(path: String): Unit = Fs.deleteRecursively(s"$path/$IdsFile")

  /** The renumbering of the last delete of the index at `path`. */
  def last(spark: SparkSession, path: String): Renumbering = {
    if (!Fs.exists(s"$path/$IdsFile"))
      throw new IllegalStateException(s"no delete recorded at $path")
    val buf = java.nio.ByteBuffer.wrap(Fs.readBytes(s"$path/$IdsFile"))
    val bound = buf.getLong()
    new Renumbering(spark, Array.fill(buf.remaining() / 8)(buf.getLong()), shift(bound), renames = true)
  }
}
