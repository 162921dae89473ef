package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic distributed Lloyd's k-means over a token DataFrame.
  *
  * Why not MLlib KMeans: its kmeans|| init and unordered float reduction
  * are not reproducible run-to-run; the reference demands seeded
  * determinism (seed 42 everywhere, kmeans.rs:278). Design:
  *
  *  - doc sampling and init-point selection use `xxhash64(id, seed)`
  *    ordering — a pure function of the data, independent of partition
  *    layout (unlike `rand(seed)`);
  *  - assignment runs in mapPartitions against broadcast centroids
  *    (the B4 GEMM, scalar-JIT form);
  *  - per-cluster means accumulate in Double after `repartition(code)` +
  *    `sortWithinPartitions(code, doc_id, tok)`, so every run folds the
  *    same values in the same order — bit-stable sums;
  *  - empty clusters keep their previous centroid; final centroids are
  *    L2-normalized with the 1e-12 floor (kmeans.rs:414-419).
  *
  * Scale: K*dim floats travel driver<->executors once per iteration
  * (4 iterations default); the training set is the reference's bounded
  * sample (≤ K * maxPointsPerCentroid tokens), not the full corpus.
  */
object GraftKMeans {

  /** Reference sampling heuristic (kmeans.rs:273-276). */
  def numSampleDocs(numDocs: Long): Long =
    math.min((1.0 + 16.0 * math.sqrt(120.0 * numDocs)).toLong, numDocs)

  /** Reference K heuristic (kmeans.rs:304-309). */
  def numPartitions(estimatedTotalTokens: Double): Int =
    math.pow(2.0, math.floor(math.log(16.0 * math.sqrt(estimatedTotalTokens)) / math.log(2.0))).toInt

  /** Train centroids on a token table `(doc_id, tok, vec: array<float>)`.
    * Returns flattened [K*dim] row-major centroids. */
  def train(
      spark: SparkSession,
      tokens: DataFrame,
      dim: Int,
      k: Int,
      iters: Int,
      seed: Long,
      maxPointsPerCentroid: Int,
      /** Row count of `tokens` when the caller already knows it (the
        * build computes it alongside its sample stats) — skips a
        * redundant count pass. */
      totalCount: Option[Long] = None
  ): Array[Float] = {
    import spark.implicits._

    // Bound the training set like the reference's max_points_per_centroid.
    // No global sort: hash-threshold sampling — keep tokens whose
    // xxhash64 bucket falls under the target fraction. Deterministic
    // (pure function of the data, independent of partitioning) and
    // shuffle-free; sample size is approximate, which the heuristic
    // tolerates. Long arithmetic: k * maxPoints overflows Int for large K.
    val nTotal = totalCount.getOrElse(tokens.count())
    val cap = k.toLong * maxPointsPerCentroid
    val uncapped = nTotal <= cap
    val capped = (if (uncapped) tokens.select("doc_id", "tok", "vec")
      else {
        val keepPerMillion = math.max((cap.toDouble / nTotal * 1e6).toLong, 1L)
        tokens
          .filter(pmod(xxhash64(col("doc_id"), col("tok"), lit(seed)), lit(1000000L))
            < lit(keepPerMillion))
          .select("doc_id", "tok", "vec")
      }).cache()
    // no capping -> the training set IS the input, count already known
    val nTrain = if (uncapped) nTotal else capped.count()
    val kEff = math.min(k.toLong, nTrain).toInt
    require(kEff > 0, "cannot compute 0 centroids")

    def initFrom(rows: Iterable[(Long, Long, Int, Array[Float])]): Array[Float] =
      flatten(rows.toSeq.sortBy(t => (t._1, t._2, t._3)).take(kEff).map(_._4).toArray, dim)

    // Small training sets run Lloyd's entirely on the driver: the
    // distributed path folds each cluster's vectors in (doc_id, tok)
    // order within its single post-repartition partition, so a local
    // fold over rows sorted by (code, doc_id, tok) produces bit-equal
    // Double sums — ONE collect (the hash column rides along, so init
    // selection is local too) instead of a takeOrdered job plus 4
    // shuffle rounds of tiny jobs. Above the threshold the distributed
    // path takes over.
    val localMaxFloats = 8L << 20
    var centroids: Array[Float] = null
    if (nTrain * dim <= localMaxFloats) {
      val rowsH = capped
        .withColumn("_h", xxhash64(col("doc_id"), col("tok"), lit(seed + 1)))
        .select("_h", "doc_id", "tok", "vec")
        .as[(Long, Long, Int, Array[Float])]
        .collect()
      centroids = initFrom(rowsH)
      val rows = rowsH.sortBy(t => (t._2, t._3)).map(t => (t._2, t._3, t._4))
      var it = 0
      while (it < iters) {
        val kNow = centroids.length / dim
        // assignment is per-row pure and the fold below re-sorts by
        // (code, doc_id, tok), so parallel order cannot leak into the
        // result; the kernel is the SIMD filter + exact-f32 refine
        // (bit-identical to the sequential-f32 argmin — see NearestKernel)
        val kern = new NearestKernel(centroids, kNow, dim)
        val assigned = new Array[(Int, Long, Int, Array[Float])](rows.length)
        java.util.stream.IntStream.range(0, rows.length).parallel().forEach { i =>
          val (docId, tok, vec) = rows(i)
          assigned(i) = (kern.nearestEuclideanF32(vec), docId, tok, vec)
        }
        val sums = scala.collection.mutable.LinkedHashMap.empty[Int, (Array[Double], Long)]
        assigned.sortBy { case (code, docId, tok, _) => (code, docId, tok) }
          .foreach { case (code, _, _, vec) =>
            val (acc, n) = sums.getOrElseUpdate(code, (new Array[Double](dim), 0L))
            var i = 0
            while (i < dim) { acc(i) += vec(i); i += 1 }
            sums(code) = (acc, n + 1)
          }
        val next = centroids.clone()
        sums.foreach { case (code, (acc, n)) =>
          var i = 0
          while (i < dim) { next(code * dim + i) = (acc(i) / n).toFloat; i += 1 }
        }
        centroids = next
        it += 1
      }
    } else {
      // Init: the kEff tokens with smallest (hash, doc_id, tok) — a
      // bounded per-partition heap selection (RDD.takeOrdered), not a
      // total sort.
      centroids = initFrom(
        capped
          .withColumn("_h", xxhash64(col("doc_id"), col("tok"), lit(seed + 1)))
          .select("_h", "doc_id", "tok", "vec")
          .as[(Long, Long, Int, Array[Float])]
          .rdd
          .takeOrdered(kEff)(Ordering.by(t => (t._1, t._2, t._3))))
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(centroids)
        val assigned = capped
          .as[(Long, Int, Array[Float])]
          .mapPartitions { rows =>
            val cents = bc.value
            val kNow = cents.length / dim
            val kern = new NearestKernel(cents, kNow, dim)
            rows.map { case (docId, tok, vec) =>
              (kern.nearestEuclideanF32(vec), docId, tok, vec)
            }
          }
          .toDF("code", "doc_id", "tok", "vec")

        // Deterministic per-cluster mean: all rows of a code land in one
        // partition, folded in (code, doc_id, tok) order with Double sums.
        val partials = assigned
          .repartition(col("code"))
          .sortWithinPartitions("code", "doc_id", "tok")
          .as[(Int, Long, Int, Array[Float])]
          .mapPartitions { rows =>
            val sums = scala.collection.mutable.LinkedHashMap
              .empty[Int, (Array[Double], Long)]
            rows.foreach { case (code, _, _, vec) =>
              val (acc, n) = sums.getOrElseUpdate(code, (new Array[Double](dim), 0L))
              var i = 0
              while (i < dim) { acc(i) += vec(i); i += 1 }
              sums(code) = (acc, n + 1)
            }
            sums.iterator.map { case (code, (acc, n)) => (code, acc, n) }
          }
          .collect()

        val next = centroids.clone()
        partials.foreach { case (code, acc, n) =>
          var i = 0
          while (i < dim) { next(code * dim + i) = (acc(i) / n).toFloat; i += 1 }
        }
        bc.destroy()
        centroids = next
        it += 1
      }
    }
    capped.unpersist()
    normalizeRows(centroids, dim)
    centroids
  }

  /** B1 oracle twin: Lloyd's with FIXED-ORDER f64 arithmetic end to
    * end — assignment argmin in sequential double (strict `<`, lowest
    * code wins ties), per-cluster per-coordinate sums folded in
    * (code, doc_id, tok) row order in double (the same fold order
    * [[train]] pins), means cast to f32 (the production precision
    * boundary between iterations), empty clusters carrying the
    * previous centroid, and final L2 normalization as double-divide
    * then f32 round. A SQL engine reading the dumped
    * `(init_hash, doc_id, tok, vec)` training rows replays every step
    * bit-for-bit (`list(x ORDER BY …)` + left-to-right `list_sum` is
    * the ordered fold; `CAST(… AS FLOAT)` is the f32 boundary).
    * Production [[train]] differs only in its SIMD-f32 assignment
    * kernel and f32 normalize division — IndexSearchSpec pins both to
    * this twin on the gate corpus. `rows`: (initHash, doc_id, tok,
    * vec) in any order; init takes the `k` smallest by (hash, doc_id,
    * tok), exactly [[train]]'s selection. */
  def trainOracleF64(
      rows: Seq[(Long, Long, Int, Array[Float])],
      dim: Int, k: Int, iters: Int): Array[Float] = {
    require(rows.nonEmpty, "cannot train on an empty set")
    val kEff = math.min(k.toLong, rows.size.toLong).toInt
    var centroids: Array[Float] = flatten(
      rows.sortBy(t => (t._1, t._2, t._3)).take(kEff).map(_._4).toArray, dim)
    val ordered = rows.sortBy(t => (t._2, t._3)).map(t => (t._2, t._3, t._4))
    var it = 0
    while (it < iters) {
      val kNow = centroids.length / dim
      val assigned = ordered.map { case (docId, tok, vec) =>
        var best = 0
        var bestDist = Double.PositiveInfinity
        var c = 0
        while (c < kNow) {
          var s = 0.0
          val off = c * dim
          var i = 0
          while (i < dim) {
            val d = vec(i).toDouble - centroids(off + i).toDouble
            s += d * d
            i += 1
          }
          if (s < bestDist) { best = c; bestDist = s }
          c += 1
        }
        (best, docId, tok, vec)
      }
      val sums = scala.collection.mutable.LinkedHashMap.empty[Int, (Array[Double], Long)]
      assigned.sortBy { case (code, docId, tok, _) => (code, docId, tok) }
        .foreach { case (code, _, _, vec) =>
          val (acc, n) = sums.getOrElseUpdate(code, (new Array[Double](dim), 0L))
          var i = 0
          while (i < dim) { acc(i) += vec(i); i += 1 }
          sums(code) = (acc, n + 1)
        }
      val next = centroids.clone()
      sums.foreach { case (code, (acc, n)) =>
        var i = 0
        while (i < dim) { next(code * dim + i) = (acc(i) / n).toFloat; i += 1 }
      }
      centroids = next
      it += 1
    }
    val kNow = centroids.length / dim
    var c = 0
    while (c < kNow) {
      val off = c * dim
      var sumSq = 0.0
      var i = 0
      while (i < dim) {
        sumSq += centroids(off + i).toDouble * centroids(off + i)
        i += 1
      }
      val norm = math.max(math.sqrt(sumSq), 1e-12)
      i = 0
      while (i < dim) {
        centroids(off + i) = (centroids(off + i).toDouble / norm).toFloat
        i += 1
      }
      c += 1
    }
    centroids
  }

  private def flatten(rows: Array[Array[Float]], dim: Int): Array[Float] = {
    val out = new Array[Float](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      System.arraycopy(rows(i), 0, out, i * dim, dim)
      i += 1
    }
    out
  }

  /** Argmax dot product — with L2-normalized centroids (train() output)
    * this is the cosine-nearest centroid for any input scale. */
  def nearestCosine(cents: Array[Float], k: Int, dim: Int, vec: Array[Float]): Int = {
    var best = 0
    var bestScore = Float.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = 0.0f
      val off = c * dim
      var i = 0
      while (i < dim) { s += cents(off + i) * vec(i); i += 1 }
      if (!s.isNaN && s > bestScore) { best = c; bestScore = s }
      c += 1
    }
    best
  }

  private def normalizeRows(flat: Array[Float], dim: Int): Unit = {
    val k = flat.length / dim
    var c = 0
    while (c < k) {
      val off = c * dim
      var sumSq = 0.0
      var i = 0
      while (i < dim) { sumSq += flat(off + i).toDouble * flat(off + i); i += 1 }
      val norm = math.max(math.sqrt(sumSq), 1e-12).toFloat
      i = 0
      while (i < dim) { flat(off + i) /= norm; i += 1 }
      c += 1
    }
  }
}
