package graft.index

import graft.core.{MaxSim, SimdMaxSim}

/** Filter-and-refine nearest-centroid kernels — SIMD speed with
  * BIT-IDENTICAL results to the sequential scalar kernels they
  * accelerate, so every oracle hash, the k-means determinism contract,
  * and the stored NDCG calibration stay untouched.
  *
  * Method: one SIMD f32 pass scores all K rows
  * ([[graft.core.SimdMaxSim.rowDots]]/[[graft.core.SimdMaxSim.rowDistSq]],
  * lane-parallel summation order), then ONLY the candidates within an
  * error-bound margin `delta` of the SIMD optimum are re-scored with the
  * exact original arithmetic (sequential f32 or f64), and the original
  * comparison/tie rules pick among them.
  *
  * Why the result is identical: let `exact(c)` be the original kernel's
  * score and `simd(c)` the SIMD pass's, with |exact(c) − simd(c)| ≤ E
  * for all c. For the true winner b = argmax exact: simd(b) ≥
  * exact(b) − E ≥ exact(c*) − E ≥ simd(c*) − 2E = simdMax − 2E (c* the
  * SIMD argmax). So with delta ≥ 2E the candidate set contains b; every
  * non-candidate c has exact(c) ≤ simd(c) + E < simdMax − delta + E ≤
  * simdMax − E ≤ exact(b), strictly below the winner, so it can affect
  * neither the argmax nor a tie. Refining candidates in ascending index
  * with the original strict comparison reproduces the original
  * first-index tie-break exactly.
  *
  * Error bound E: a float dot of length n (sequential or lane-parallel)
  * deviates from the exact value by at most ~(n + lanes)·ε_f32·Σ|aᵢbᵢ|
  * ≤ (n + lanes)·ε_f32·‖a‖‖b‖ (Cauchy–Schwarz); with n = dim ≤ a few
  * hundred that is < 1e-4·‖a‖‖b‖. We use delta = 1e-3·‖q‖·maxRowNorm
  * (>10× margin — a larger delta only admits a few more candidates to
  * the cheap refine, never a wrong answer). For squared distances every
  * summand is non-negative (no cancellation), so the error is relative:
  * delta = 1e-3·simdMin. The margins are asserted empirically by
  * `NearestKernelSpec`, which compares against the scalar kernels on
  * adversarial near-tie inputs.
  *
  * Instantiate once per partition / per centroid set (the row-norm scan
  * and score buffers amortize across calls). Thread-safe: the score
  * buffer is per-thread, so one instance may hang off a broadcast
  * object shared by every task thread in an executor (Codec does).
  */
final class NearestKernel(cents: Array[Float], k: Int, dim: Int)
    extends Serializable {

  private val simd = MaxSim.simdAvailable && k >= 64
  @transient private lazy val scoresTl: ThreadLocal[Array[Float]] =
    new ThreadLocal[Array[Float]] {
      override def initialValue(): Array[Float] = new Array[Float](k)
    }

  /** max row L2 norm — one pass, amortized over all calls. */
  private lazy val maxRowNorm: Double = {
    var best = 0.0
    var c = 0
    while (c < k) {
      var s = 0.0
      val off = c * dim
      var i = 0
      while (i < dim) { s += cents(off + i).toDouble * cents(off + i); i += 1 }
      if (s > best) best = s
      c += 1
    }
    math.sqrt(best)
  }

  private def vecNorm(vec: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < dim) { s += vec(i).toDouble * vec(i); i += 1 }
    math.sqrt(s)
  }

  /** Bit-identical to [[Codec.assign]]'s f64 sequential argmax (the
    * b4_assign oracle contract): SIMD filter, f64 refine. */
  def assignF64(vec: Array[Float]): Int = {
    if (!simd) return assignF64Scalar(vec)
    val scores = scoresTl.get()
    SimdMaxSim.rowDots(cents, k, dim, vec, scores)
    val delta = 1e-3 * vecNorm(vec) * maxRowNorm + 1e-20
    var simdMax = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val s = scores(c)
      if (!s.isNaN && s > simdMax) simdMax = s
      c += 1
    }
    if (simdMax.isInfinite) return assignF64Scalar(vec) // all NaN/-inf: exact path decides
    var best = -1
    var bestScore = Double.NegativeInfinity
    c = 0
    while (c < k) {
      if (!scores(c).isNaN && scores(c) >= simdMax - delta) {
        var s = 0.0
        val off = c * dim
        var i = 0
        while (i < dim) { s += cents(off + i).toDouble * vec(i); i += 1 }
        if (!s.isNaN && (best < 0 || s > bestScore)) { best = c; bestScore = s }
      }
      c += 1
    }
    if (best < 0) assignF64Scalar(vec) else best
  }

  private def assignF64Scalar(vec: Array[Float]): Int = {
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = 0.0
      val off = c * dim
      var i = 0
      while (i < dim) { s += cents(off + i).toDouble * vec(i); i += 1 }
      if (!s.isNaN && (best < 0 || s > bestScore)) { best = c; bestScore = s }
      c += 1
    }
    if (best < 0) 0 else best
  }

  /** Bit-identical to the sequential-f32 argmax-dot kernels
    * ([[MultiVectorIndex.bestDot]], [[GraftKMeans.nearestCosine]]):
    * SIMD filter, sequential-f32 refine. */
  def nearestDotF32(vec: Array[Float]): Int = {
    if (!simd) return nearestDotF32Scalar(vec)
    val scores = scoresTl.get()
    SimdMaxSim.rowDots(cents, k, dim, vec, scores)
    val delta = (1e-3 * vecNorm(vec) * maxRowNorm + 1e-20).toFloat
    var simdMax = Float.NegativeInfinity
    var c = 0
    while (c < k) {
      val s = scores(c)
      if (!s.isNaN && s > simdMax) simdMax = s
      c += 1
    }
    if (simdMax.isInfinite) return nearestDotF32Scalar(vec)
    var best = -1
    var bestScore = Float.NegativeInfinity
    c = 0
    while (c < k) {
      if (!scores(c).isNaN && scores(c) >= simdMax - delta) {
        var s = 0.0f
        val off = c * dim
        var i = 0
        while (i < dim) { s += cents(off + i) * vec(i); i += 1 }
        if (!s.isNaN && (best < 0 || s > bestScore)) { best = c; bestScore = s }
      }
      c += 1
    }
    if (best < 0) nearestDotF32Scalar(vec) else best
  }

  private def nearestDotF32Scalar(vec: Array[Float]): Int = {
    var best = -1
    var bestScore = Float.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = 0.0f
      val off = c * dim
      var i = 0
      while (i < dim) { s += cents(off + i) * vec(i); i += 1 }
      if (!s.isNaN && (best < 0 || s > bestScore)) { best = c; bestScore = s }
      c += 1
    }
    if (best < 0) 0 else best
  }

  /** Bit-identical to the sequential-f32 argmin squared distance
    * (`nearestEuclideanScalar`; NearestKernelSpec keeps an independent
    * reference): SIMD filter, sequential-f32 refine.
    * Non-negative summands make the error bound relative (no
    * cancellation), so delta scales with the minimum itself. */
  def nearestEuclideanF32(vec: Array[Float]): Int = {
    if (!simd) return nearestEuclideanScalar(vec)
    val scores = scoresTl.get()
    SimdMaxSim.rowDistSq(cents, k, dim, vec, scores)
    var simdMin = Float.PositiveInfinity
    var c = 0
    while (c < k) {
      val s = scores(c)
      if (s < simdMin) simdMin = s
      c += 1
    }
    if (simdMin.isInfinite || simdMin.isNaN) return nearestEuclideanScalar(vec)
    val delta = 1e-3f * simdMin + java.lang.Float.MIN_NORMAL
    var best = -1
    var bestDist = Float.PositiveInfinity
    c = 0
    while (c < k) {
      if (scores(c) <= simdMin + delta) {
        var s = 0.0f
        val off = c * dim
        var i = 0
        while (i < dim) { val d = vec(i) - cents(off + i); s += d * d; i += 1 }
        if (s < bestDist) { best = c; bestDist = s }
      }
      c += 1
    }
    if (best < 0) nearestEuclideanScalar(vec) else best
  }

  private def nearestEuclideanScalar(vec: Array[Float]): Int = {
    var best = 0
    var bestDist = Float.PositiveInfinity
    var c = 0
    while (c < k) {
      var s = 0.0f
      val off = c * dim
      var i = 0
      while (i < dim) { val d = vec(i) - cents(off + i); s += d * d; i += 1 }
      if (s < bestDist) { best = c; bestDist = s }
      c += 1
    }
    best
  }
}
