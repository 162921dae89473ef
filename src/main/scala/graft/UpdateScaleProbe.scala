package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ×factor measurement of the UPDATE path (r16 verdict item 5): U3/U4
  * (buffer flush → outlier centroid expansion → IVF patch) and U5
  * (delete + dense renumber) have oracle gates and unit specs but no
  * at-scale point. This main:
  *
  *   1. builds (or reuses) a base index over 90% of the ×factor corpus;
  *   2. appends the remaining 10% in ONE update call — far above
  *      `bufferSize` (100), so the dispatcher is FORCED into mode 3
  *      (flush + expand + re-append), the expensive branch;
  *   3. deletes 5% of the resulting docs (hash-selected) through the
  *      tombstone + compact path → dense renumber;
  *   4. runs the whole-directory `GraftIndex.fsck()` (r16 verdict item
  *      7: the fsck is aggregate-only by design and must be PROVEN
  *      corpus-scale) and requires every check green;
  *   5. sanity-searches the final index (100 queries) so the record
  *      carries a behavioral signature, not just timings.
  *
  * Prints one JSON line with per-leg wall times, doc counts, centroid
  * growth, fsck check count, search rows/hash, and calib stamps.
  *
  * Usage: `SPARK_DRIVER_MEM=24g sbt "runMain graft.UpdateScaleProbe 100"`
  */
object UpdateScaleProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.max(cpus.toInt, 64))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val calibPre = Bench.calibrate(spark)

    val base = s"/tmp/graft_scale_x$factor"
    BenchOne.generateTables(spark, sfDir, factor, base, Set("embeddings"))
    import spark.implicits._
    // same doc recipe as v_index_search: 5 normalized token-vectors/doc
    val docsAll = spark.read.parquet(s"$base/embeddings.parquet")
      .select((col("vec_id") / 5).cast("long").as("doc_id"),
        col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .map { case (d, v, e) => (d, v, graft.core.MaxSim.l2Normalize(e)) }
      .toDF("doc_id", "vec_id", "embedding")
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        x => x.getField("embedding")).as("embeddings"))
      .persist()
    val nAll = docsAll.count()
    val nBase = nAll * 9 / 10

    val work = s"/tmp/graft_update_x$factor"
    graft.util.Fs.deleteRecursively(work)
    val t0 = System.nanoTime()
    val idx0 = graft.index.MultiVectorIndex.build(spark,
      docsAll.filter(col("doc_id") < nBase), work)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val k0 = idx0.codec.numCentroids

    // ---- leg 1: 10% append, local ids 0..n-1 (update offsets by n0) ----
    val newDocs = docsAll.filter(col("doc_id") >= nBase)
      .select((col("doc_id") - lit(nBase)).as("doc_id"), col("embeddings"))
    val t1 = System.nanoTime()
    val idx1 = graft.index.Updater.update(spark, work, newDocs)
    val appendSec = (System.nanoTime() - t1) / 1e9
    val k1 = idx1.codec.numCentroids
    require(idx1.numDocuments == nAll,
      s"append lost docs: ${idx1.numDocuments} != $nAll")

    // ---- leg 2: delete 5% (hash-selected) → dense renumber ----
    val del = spark.range(0L, nAll)
      .filter(pmod(hash(col("id")), lit(20)) === 0)
      .select(col("id").as("doc_id"))
    val nDel = del.count()
    val t2 = System.nanoTime()
    val idx2 = graft.index.Updater.deleteFrom(spark, idx1, del)
    val deleteSec = (System.nanoTime() - t2) / 1e9
    require(idx2.numDocuments == nAll - nDel,
      s"delete renumber lost docs: ${idx2.numDocuments} != ${nAll - nDel}")

    // ---- leg 3: whole-directory fsck at corpus scale ----
    val t3 = System.nanoTime()
    val fsck = GraftIndex.open(spark, work).fsck().collect()
    val fsckSec = (System.nanoTime() - t3) / 1e9
    val bad = fsck.filter(!_.getAs[Boolean]("ok"))
    require(bad.isEmpty, s"fsck failed:\n${bad.mkString("\n")}")

    // ---- leg 4: behavioral signature — 100-query funnel search ----
    val queries = docsAll.filter(col("doc_id") < 100)
      .select(col("doc_id").as("query_id"), col("embeddings"))
    val t4 = System.nanoTime()
    val (nHits, hHits) = Bench.forcedCountHash(
      new graft.search.Searcher(idx2)
        .search(queries, graft.search.SearchParams(topK = 10)))
    val searchSec = (System.nanoTime() - t4) / 1e9

    val calibPost = Bench.calibrate(spark)
    println(
      f"""{"metric":"update_probe","factor":$factor,"docs_base":$nBase,""" +
        f""""docs_appended":${nAll - nBase},"docs_deleted":$nDel,""" +
        f""""docs_final":${idx2.numDocuments},""" +
        f""""centroids_before":$k0,"centroids_after":$k1,""" +
        f""""build_sec":$buildSec%.1f,"append_mode3_sec":$appendSec%.1f,""" +
        f""""delete_sec":$deleteSec%.1f,"fsck_sec":$fsckSec%.1f,""" +
        f""""fsck_checks":${fsck.length},"fsck_ok":true,""" +
        f""""search_sec":$searchSec%.1f,"search_rows":$nHits,""" +
        f""""search_hash":$hHits,""" +
        Bench.calibJson(calibPre, calibPost) + s""","sf_base":"$sfDir"}""")
    spark.stop()
  }
}
