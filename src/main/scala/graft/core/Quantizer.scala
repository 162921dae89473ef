package graft.core

/** Residual quantizer: bucketize each residual value against trained
  * cutoffs and bit-pack `nbits` per value, MSB-first within each byte.
  *
  * Semantics match the reference codec (next-plaid/src/codec.rs:356-470):
  *  - bucket(v) = count of cutoffs strictly less than v (searchsorted right
  *    on `v > c`), giving a value in [0, 2^nbits - 1] for 2^nbits - 1 cutoffs;
  *  - bits of the bucket index are emitted LSB-of-bucket-first into a bit
  *    stream whose bytes fill MSB-first (bit position `7 - idx%8`);
  *  - decompression reconstructs `centroid + bucketWeights(bucket)` per dim
  *    and L2-normalizes each row with a 1e-12 floor.
  *
  * Pure JVM code so it can run inside codegen'd expressions / mapPartitions
  * with zero Spark dependencies.
  */
final class Quantizer(
    val nbits: Int,
    val bucketCutoffs: Array[Float],
    val bucketWeights: Array[Float]
) extends Serializable {
  require(nbits >= 1 && nbits <= 8, s"nbits must be in [1,8], got $nbits")
  require(
    bucketWeights.length == (1 << nbits),
    s"need 2^nbits bucket weights, got ${bucketWeights.length}"
  )
  require(
    bucketCutoffs.length == (1 << nbits) - 1,
    s"need 2^nbits-1 cutoffs, got ${bucketCutoffs.length}"
  )

  def packedDim(dim: Int): Int = {
    require((dim * nbits) % 8 == 0, s"dim*nbits must be byte-aligned: $dim*$nbits")
    dim * nbits / 8
  }

  /** Bucket index for a single residual value: #cutoffs strictly below v.
    * NaN compares false against everything, landing in bucket 0 — matching
    * the reference's `val > c` filter-count semantics. */
  @inline def bucketOf(v: Float): Int = {
    // cutoffs are sorted ascending; binary search for the count of c < v.
    var lo = 0
    var hi = bucketCutoffs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v > bucketCutoffs(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Quantize one residual vector into `dim*nbits/8` packed bytes. */
  def quantize(residual: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](packedDim(residual.length))
    var bitIdx = 0
    var i = 0
    while (i < residual.length) {
      val bucket = bucketOf(residual(i))
      var b = 0
      while (b < nbits) {
        val bit = (bucket >> b) & 1
        if (bit != 0) {
          val byteIdx = bitIdx / 8
          val bitPos = 7 - (bitIdx % 8)
          out(byteIdx) = (out(byteIdx) | (1 << bitPos)).toByte
        }
        bitIdx += 1
        b += 1
      }
      i += 1
    }
    out
  }

  /** Unpack packed bytes back to bucket indices (inverse of the bit layout). */
  def unpackBuckets(packed: Array[Byte], dim: Int): Array[Int] = {
    val buckets = new Array[Int](dim)
    var bitIdx = 0
    var i = 0
    while (i < dim) {
      var bucket = 0
      var b = 0
      while (b < nbits) {
        val byteIdx = bitIdx / 8
        val bitPos = 7 - (bitIdx % 8)
        val bit = (packed(byteIdx) >> bitPos) & 1
        bucket |= bit << b
        bitIdx += 1
        b += 1
      }
      buckets(i) = bucket
      i += 1
    }
    buckets
  }

  /** Bucket weights of every packed byte value, for widths that tile a
    * byte (`8 % nbits == 0`): entry `b * (8 / nbits) + j` is the weight
    * of the j-th value packed in byte `b`, in [[unpackBuckets]]' bit
    * order. Built once per instance (transient: rebuilt after
    * deserialization); null for other widths, which decode bit by bit. */
  @transient private lazy val byteWeights: Array[Float] =
    if (8 % nbits != 0) null
    else {
      val per = 8 / nbits
      val table = new Array[Float](256 * per)
      var b = 0
      while (b < 256) {
        var j = 0
        while (j < per) {
          var bucket = 0
          var k = 0
          while (k < nbits) {
            bucket |= ((b >> (7 - (j * nbits + k))) & 1) << k
            k += 1
          }
          table(b * per + j) = bucketWeights(bucket)
          j += 1
        }
        b += 1
      }
      table
    }

  /** Decompress one token: centroid + bucket weight per dim, then L2
    * normalize (norm floored at 1e-12, codec.rs:463-468). */
  def decompress(packed: Array[Byte], centroid: Array[Float]): Array[Float] =
    decompress(packed, centroid, 0, centroid.length)

  /** [[decompress]] against the `dim` centroid values at `off` of
    * `centroids` (a row of a flattened codebook, read in place). Widths
    * that tile a byte look each packed byte up in [[byteWeights]]; the
    * float operations and their order are those of the bit loop, so the
    * output is bit-identical either way. */
  def decompress(packed: Array[Byte], centroids: Array[Float], off: Int, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var sumSq = 0.0f
    var i = 0
    val table = byteWeights
    if (table != null) {
      val per = 8 / nbits
      var byteIdx = 0
      while (i < dim) {
        val base = (packed(byteIdx) & 0xff) * per
        var j = 0
        while (j < per && i < dim) {
          val v = centroids(off + i) + table(base + j)
          out(i) = v
          sumSq += v * v
          i += 1
          j += 1
        }
        byteIdx += 1
      }
    } else {
      val buckets = unpackBuckets(packed, dim)
      while (i < dim) {
        val v = centroids(off + i) + bucketWeights(buckets(i))
        out(i) = v
        sumSq += v * v
        i += 1
      }
    }
    val norm = math.max(math.sqrt(sumSq.toDouble).toFloat, 1e-12f)
    i = 0
    while (i < dim) { out(i) /= norm; i += 1 }
    out
  }
}

object Quantizer {

  /** Train cutoffs/weights from a heldout residual sample, mirroring
    * next-plaid/src/index.rs:182-287: cutoffs at quantiles i/2^nbits for
    * i in 1..2^nbits-1; weights at midpoint quantiles (i+0.5)/2^nbits. */
  def train(residualValues: Array[Float], nbits: Int): Quantizer = {
    val n = 1 << nbits
    val cutoffQs = (1 until n).map(_.toDouble / n).toArray
    val weightQs = (0 until n).map(i => (i + 0.5) / n).toArray
    val cutoffs = Quantiles.quantiles(residualValues, cutoffQs)
    val weights = Quantiles.quantiles(residualValues, weightQs)
    new Quantizer(nbits, cutoffs, weights)
  }
}
