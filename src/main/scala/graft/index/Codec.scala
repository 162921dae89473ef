package graft.index

import graft.core.Quantizer

/** Trained codec artifacts: the centroid codebook + residual quantizer +
  * global thresholds. Small enough to broadcast (K*dim floats).
  *
  * Mirrors the reference's ResidualCodec + codec npy artifacts
  * (next-plaid/src/codec.rs:107-123, index.rs:182-287): centroids [K,dim],
  * bucket_cutoffs [2^nbits-1], bucket_weights [2^nbits], avg_residual
  * [dim], cluster_threshold (0.75-quantile of residual L2 norms, used for
  * outlier detection on incremental updates).
  */
final case class Codec(
    dim: Int,
    centroids: Array[Float], // flattened [K * dim], row-major
    quantizer: Quantizer,
    avgResidual: Array[Float],
    clusterThreshold: Float
) extends Serializable {

  def numCentroids: Int = centroids.length / dim

  /** Filter-and-refine assignment kernel — SIMD speed, bit-identical
    * results (see [[NearestKernel]]). Lazy + transient: rebuilt per
    * executor after broadcast deserialization; thread-safe, so one
    * instance serves all task threads. */
  @transient private lazy val kernel =
    new NearestKernel(centroids, numCentroids, dim)

  @inline def centroid(code: Int): Array[Float] = {
    val out = new Array[Float](dim)
    System.arraycopy(centroids, code * dim, out, 0, dim)
    out
  }

  /** B4 nearest-centroid assignment: argmax dot product (embeddings and
    * centroids are L2-normalized). NaN scores never win (codec.rs fixture:
    * NaN centroid rows are skipped when finite choices exist).
    *
    * The dot accumulates in double with f64 products (each f32·f32 product
    * is exact in f64), so near-tied centroids resolve identically to any
    * f64 evaluation of the same sequential sum — the b4_assign oracle's
    * DuckDB list_dot_product twin computes exactly this. f32 accumulation
    * (the pre-round-10 kernel) flipped the argmax on near-ties. */
  def assign(vec: Array[Float]): Int = kernel.assignF64(vec)

  /** B4+B5+B6 fused: code, then residual = vec - centroid(code),
    * quantize-packed, with the residual's L2 norm before quantization
    * (the threshold refresh's input, update.rs:385-427). */
  def encode(vec: Array[Float]): (Int, Array[Byte], Float) = {
    val code = assign(vec)
    val off = code * dim
    val residual = new Array[Float](dim)
    var s = 0.0
    var i = 0
    while (i < dim) {
      residual(i) = vec(i) - centroids(off + i)
      s += residual(i).toDouble * residual(i)
      i += 1
    }
    (code, quantizer.quantize(residual), math.sqrt(s).toFloat)
  }

  /** B7 decompression: centroid + bucket weights, L2-normalized. */
  def decode(code: Int, packed: Array[Byte]): Array[Float] =
    quantizer.decompress(packed, centroids, code * dim, dim)

  /** Squared L2 distance to the nearest centroid (U2 outlier detection,
    * update.rs:457-488). */
  def minDistanceSq(vec: Array[Float]): Float = {
    val k = numCentroids
    var best = Float.PositiveInfinity
    var c = 0
    while (c < k) {
      var s = 0.0f
      val off = c * dim
      var i = 0
      while (i < dim) {
        val d = vec(i) - centroids(off + i)
        s += d * d
        i += 1
      }
      if (s < best) best = s
      c += 1
    }
    best
  }
}
