package graft.core

import java.nio.ByteBuffer

/**
 * KMV (k-minimum-values) distinct-value / theta sketch over 64-bit keys
 * (Bar-Yossef et al. RANDOM'02; Beyer et al. SIGMOD'07) — the
 * SET-OPERATION member of the mergeable-sketch family. [[Hll]] counts
 * distincts more compactly, but its registers can't be intersected;
 * the KMV sample CAN: from two sketches alone it estimates the
 * union, intersection, and Jaccard of the underlying sets. That is the
 * cross-corpus shape a 100 TB mixture designer needs — "how much of
 * dump A's gram mass is inside dump B" for every source pair, without
 * the exact per-gram pair join (q92's matrix) that shuffles the full
 * distinct-gram table.
 *
 * State: the k smallest DISTINCT hashed values in SIGNED long order
 * (hash bits are uniform, so any fixed total order works; signed is
 * the cheapest). Normalization maps a value v to
 * u(v) = (v + 2^63 + 1) / 2^64 ∈ (0, 1], monotone in that order.
 *  - estimate D̂ = (k−1)/u(R_k) where R_k = the kth smallest value;
 *    EXACT when fewer than k distincts were seen (the whole set is
 *    stored) — the q84 exact-regime property.
 *  - union(A,B): k smallest of V(A) ∪ V(B) = the KMV of the union —
 *    so merge is exact-shape-preserving, commutative, associative, and
 *    (values are a deterministic SET) **byte-identical to a one-shot
 *    build over any partitioning** — the [[CountMin]]/[[CountingBloom]]
 *    property, asserted in KmvSpec.
 *  - Jaccard Ĵ = |L ∩ V(A) ∩ V(B)| / |L| where L = the
 *    min(k, |V(A)∪V(B)|) smallest of the combined values (Beyer §4:
 *    L is a uniform sample of the union, so the fraction landing in
 *    both sets estimates the Jaccard; std-err ≈ √(J(1−J)/k)).
 *  - intersection D̂∩ = Ĵ · D̂∪.
 *
 * Adds are O(1) amortized: values under the current threshold append
 * to a staging buffer that is sort+dedup+truncate compacted when full
 * (the DataSketches lazy-update trick) — no per-add shifting, so a
 * 100 TB token stream pays ~one branch per element past warm-up.
 *
 * Keys are pre-hashed 64-bit values (xxhash64 on the Spark side, the
 * [[Hll]] convention).
 */
final class Kmv private[core] (val k: Int) {
  // staged values (unsorted, may contain dups); compact() canonicalizes
  private val buf = new Array[Long](math.min(2 * k, k + 64))
  private var used = 0
  // number of leading values of buf that are sorted-distinct (post-compact)
  private var sortedN = 0
  // once k values are held, admit only values ≤ this (dups drop at compact)
  private var thresh: Long = Long.MaxValue

  def add(key: Long): Unit = {
    if (key <= thresh) {
      if (used == buf.length) compact()
      buf(used) = key
      used += 1
    }
  }

  /** Sort+dedup+truncate the staging buffer to the k smallest distincts. */
  private def compact(): Unit = {
    if (used == sortedN) return
    val a = java.util.Arrays.copyOf(buf, used)
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length && w < k) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    System.arraycopy(a, 0, buf, 0, w)
    used = w
    sortedN = w
    if (w == k) thresh = buf(w - 1)
  }

  /** Number of distinct values held (≤ k). */
  def size: Int = { compact(); sortedN }

  /** The sorted distinct values (ascending signed), length = size. */
  def values: Array[Long] = { compact(); java.util.Arrays.copyOf(buf, sortedN) }

  /** Distinct-count estimate: exact below k, (k−1)/u(R_k) at capacity. */
  def distinctEstimate: Long = {
    compact()
    if (sortedN < k) sortedN.toLong
    else math.round((k - 1).toDouble / Kmv.toUnit(buf(k - 1)))
  }

  def mergeInPlace(other: Kmv): Kmv = {
    require(other.k == k, s"k mismatch: $k vs ${other.k}")
    val ov = other.values
    var i = 0
    while (i < ov.length) { add(ov(i)); i += 1 }
    this
  }

  def serialize(): Array[Byte] = {
    compact()
    val bb = ByteBuffer.allocate(12 + 8 * sortedN)
    bb.putInt(Kmv.MAGIC).putInt(k).putInt(sortedN)
    var i = 0
    while (i < sortedN) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }
}

object Kmv {
  private[core] val MAGIC = 0x4b4d5631 // "KMV1"

  /** Signed long → (0, 1], monotone in signed order: (v + 2^63 + 1)/2^64. */
  @inline private[core] def toUnit(v: Long): Double =
    ((v.toDouble - Long.MinValue.toDouble) + 1.0) / math.pow(2.0, 64)

  def create(k: Int): Kmv = {
    require(k >= 16 && k <= (1 << 20), s"k=$k")
    new Kmv(k)
  }

  def deserialize(bytes: Array[Byte]): Kmv = {
    val (k, n) = header(bytes)
    require(n >= 0 && n <= k && bytes.length == 12 + 8L * n,
      s"truncated KMV blob: n=$n len=${bytes.length}")
    val s = create(k)
    val bb = ByteBuffer.wrap(bytes, 12, 8 * n)
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  private def header(bytes: Array[Byte]): (Int, Int) = {
    require(bytes.length >= 12, s"truncated KMV blob: ${bytes.length} bytes")
    val bb = ByteBuffer.wrap(bytes)
    val magic = bb.getInt
    require(magic == MAGIC, f"bad KMV magic 0x$magic%08x")
    (bb.getInt, bb.getInt)
  }

  /** Distinct estimate straight from a blob (codegen helper). */
  def distinctBytes(bytes: Array[Byte]): Long = {
    val (k, n) = header(bytes)
    if (n < k) n.toLong
    else {
      val kth = ByteBuffer.wrap(bytes).getLong(12 + 8 * (k - 1))
      math.round((k - 1).toDouble / toUnit(kth))
    }
  }

  /** Number of stored values (exact-regime witness; codegen helper). */
  def sizeBytes(bytes: Array[Byte]): Long = header(bytes)._2.toLong

  /**
   * Beyer et al. §4 set-operation estimates from two same-k blobs:
   * returns (jaccard, unionDistinct, intersectionDistinct). L = the
   * min(k, |V(A)∪V(B)|) smallest combined values; Ĵ = fraction of L in
   * both value sets; D̂∪ from L as a KMV of the union; D̂∩ = Ĵ·D̂∪.
   */
  def setEstimates(a: Array[Byte], b: Array[Byte]): (Double, Long, Long) = {
    val (ka, na) = header(a)
    val (kb, nb) = header(b)
    require(ka == kb, s"k mismatch: $ka vs $kb")
    val bba = ByteBuffer.wrap(a)
    val bbb = ByteBuffer.wrap(b)
    // merge the two sorted runs, tracking membership of each union value
    var i = 0
    var j = 0
    var taken = 0
    var inBoth = 0
    var lastV = 0L
    while (taken < ka && (i < na || j < nb)) {
      val cmp =
        if (i >= na) 1
        else if (j >= nb) -1
        else java.lang.Long.compare(bba.getLong(12 + 8 * i), bbb.getLong(12 + 8 * j))
      if (cmp == 0) {
        inBoth += 1; lastV = bba.getLong(12 + 8 * i); i += 1; j += 1
      } else if (cmp < 0) {
        lastV = bba.getLong(12 + 8 * i); i += 1
      } else {
        lastV = bbb.getLong(12 + 8 * j); j += 1
      }
      taken += 1
    }
    if (taken == 0) return (0.0, 0L, 0L)
    val jac = inBoth.toDouble / taken
    val unionEst =
      if (taken < ka) taken.toLong // exact: the whole union is stored
      else math.round((ka - 1).toDouble / toUnit(lastV))
    (jac, unionEst, math.round(jac * unionEst))
  }

  /** Jaccard estimate of two same-k blobs (codegen helper). */
  def jaccardBytes(a: Array[Byte], b: Array[Byte]): Double = setEstimates(a, b)._1

  /** Union-distinct estimate of two same-k blobs (codegen helper). */
  def unionDistinctBytes(a: Array[Byte], b: Array[Byte]): Long = setEstimates(a, b)._2

  /** Intersection-distinct estimate of two same-k blobs (codegen helper). */
  def intersectDistinctBytes(a: Array[Byte], b: Array[Byte]): Long = setEstimates(a, b)._3
}
