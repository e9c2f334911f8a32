package graft.core

import java.nio.ByteBuffer

/**
 * Mergeable t-digest quantile sketch (Dunning & Ertl, "Computing
 * extremely accurate quantiles using t-digests", 2019 — the merging
 * variant) completing the repo's sketch family: Bloom/counting/cuckoo
 * (membership), HLL (distinct), SpaceSaving (heavy hitters), t-digest
 * (quantiles). Clusters are (mean, weight) pairs whose sizes are
 * bounded by the k1 scale function k(q) = δ·(asin(2q−1)/π + 1/2):
 * adjacent points merge while k(q_right) − k(q_left) ≤ 1, so clusters
 * stay O(1/δ)-wide in RANK space — tails get fine clusters, the middle
 * coarse ones, and the worst-case rank error of an interpolated
 * quantile is O(1/δ). State is O(δ) (mean, weight) pairs regardless of
 * stream length.
 *
 * Exactness caveat, stated up front (contrast with [[Hll]]/Bloom whose
 * merges are register-wise max/OR and therefore ≡ rebuild
 * byte-identically): t-digest cluster boundaries depend on merge ORDER,
 * so merge(a,b) is NOT byte-identical to a one-shot build — only the
 * rank-error BOUND is order-invariant. Driver queries therefore emit
 * EXACT percentiles as the oracled surface and assert the digest's
 * rank error in-query (the q101 estimate-assert pattern).
 *
 * At 100 TB: exact per-group percentiles need a full sort (or Spark's
 * single-purpose percentile agg holding all values per group); a
 * digest column is a few KB per group, map-side combinable, and —
 * unlike `percentile_approx`'s transient buffer — a STORABLE column:
 * per-source/per-day digests persist and re-merge across rounds
 * without rescanning the corpus (the HLL-blob incremental pattern).
 */
final class TDigest(val delta: Double) {
  require(delta >= 10 && delta <= 10000, s"delta=$delta")

  private var means: Array[Double] = new Array[Double](0)
  private var weights: Array[Long] = new Array[Long](0)
  private var bufM = new Array[Double](TDigest.BufCap)
  private var bufW = new Array[Long](TDigest.BufCap)
  private var bufN = 0
  var min: Double = Double.PositiveInfinity
  var max: Double = Double.NegativeInfinity

  def add(x: Double, w: Long = 1L): Unit = {
    require(!x.isNaN && w > 0)
    if (bufN == TDigest.BufCap) compress()
    bufM(bufN) = x; bufW(bufN) = w; bufN += 1
    if (x < min) min = x
    if (x > max) max = x
  }

  def mergeInPlace(other: TDigest): TDigest = {
    require(other.delta == delta, "mixed-delta digests")
    other.compress()
    var i = 0
    while (i < other.means.length) {
      add(other.means(i), other.weights(i)); i += 1
    }
    if (other.min < min) min = other.min
    if (other.max > max) max = other.max
    this
  }

  def totalWeight: Long = {
    var s = 0L
    var i = 0
    while (i < weights.length) { s += weights(i); i += 1 }
    i = 0
    while (i < bufN) { s += bufW(i); i += 1 }
    s
  }

  def size: Int = { compress(); means.length }

  private def k(q: Double): Double =
    delta * (math.asin(2 * q - 1) / math.Pi + 0.5)

  /** Sort clusters+buffer by mean, re-cluster under the k1 bound. */
  def compress(): Unit = {
    if (bufN == 0) return
    val n = means.length + bufN
    val m = new Array[Double](n)
    val w = new Array[Long](n)
    System.arraycopy(means, 0, m, 0, means.length)
    System.arraycopy(weights, 0, w, 0, means.length)
    System.arraycopy(bufM, 0, m, means.length, bufN)
    System.arraycopy(bufW, 0, w, means.length, bufN)
    bufN = 0
    val idx = (0 until n).sortBy(m(_)).toArray
    val tw = { var s = 0L; var i = 0; while (i < n) { s += w(i); i += 1 }; s }
    val om = new Array[Double](n)
    val ow = new Array[Long](n)
    var out = 0
    var curM = m(idx(0)); var curW = w(idx(0))
    var wSoFar = 0L
    var kLeft = k(0.0)
    var i = 1
    while (i < n) {
      val pm = m(idx(i)); val pw = w(idx(i))
      val qNew = (wSoFar + curW + pw).toDouble / tw
      if (k(qNew) - kLeft <= 1.0) {
        curM = (curM * curW + pm * pw) / (curW + pw) // weighted mean
        curW += pw
      } else {
        om(out) = curM; ow(out) = curW; out += 1
        wSoFar += curW
        kLeft = k(wSoFar.toDouble / tw)
        curM = pm; curW = pw
      }
      i += 1
    }
    om(out) = curM; ow(out) = curW; out += 1
    means = java.util.Arrays.copyOf(om, out)
    weights = java.util.Arrays.copyOf(ow, out)
  }

  /** Interpolated quantile estimate; NaN on an empty digest. */
  def quantile(q: Double): Double = {
    require(q >= 0 && q <= 1, s"q=$q")
    compress()
    val n = means.length
    if (n == 0) return Double.NaN
    if (n == 1) return means(0)
    val tw = totalWeight.toDouble
    val t = q * tw
    if (t <= weights(0) / 2.0) return min +
      (t / (weights(0) / 2.0)) * (means(0) - min)
    var cum = 0.0
    var i = 0
    while (i < n) {
      val center = cum + weights(i) / 2.0
      if (t < center) {
        val prevCenter = cum - weights(i - 1) / 2.0
        val f = (t - prevCenter) / (center - prevCenter)
        return means(i - 1) + f * (means(i) - means(i - 1))
      }
      cum += weights(i)
      i += 1
    }
    val lastCenter = cum - weights(n - 1) / 2.0
    val f = math.min(1.0, (t - lastCenter) / (weights(n - 1) / 2.0))
    means(n - 1) + f * (max - means(n - 1))
  }

  def serialize(): Array[Byte] = {
    compress()
    val n = means.length
    val bb = ByteBuffer.allocate(8 * 3 + 4 + n * 16)
    bb.putDouble(delta).putDouble(min).putDouble(max).putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(means(i)); bb.putLong(weights(i)); i += 1 }
    bb.array()
  }
}

object TDigest {
  private[core] val BufCap = 512

  def deserialize(bytes: Array[Byte]): TDigest = {
    require(bytes.length >= 28, s"truncated t-digest blob: ${bytes.length} bytes")
    val bb = ByteBuffer.wrap(bytes)
    val delta = bb.getDouble
    require(delta >= 10 && delta <= 10000, s"bad t-digest blob: delta=$delta")
    val d = new TDigest(delta)
    d.min = bb.getDouble
    d.max = bb.getDouble
    val n = bb.getInt
    require(n >= 0 && bytes.length == 28 + 16L * n,
      s"truncated t-digest blob: n=$n, ${bytes.length} bytes")
    val m = new Array[Double](n)
    val w = new Array[Long](n)
    var i = 0
    while (i < n) { m(i) = bb.getDouble; w(i) = bb.getLong; i += 1 }
    // install directly (already clustered)
    i = 0
    while (i < n) { d.add(m(i), w(i)); i += 1 }
    d
  }

  /** Codegen-facing: quantile of a serialized blob. */
  def quantileBytes(bytes: Array[Byte], q: Double): Double =
    deserialize(bytes).quantile(q)

  /** Codegen-facing: total weight of a serialized blob. */
  def weightBytes(bytes: Array[Byte]): Long =
    deserialize(bytes).totalWeight
}
