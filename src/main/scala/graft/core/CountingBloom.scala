package graft.core

import java.nio.ByteBuffer

/**
 * Counting Bloom filter over 64-bit keys — the DELETABLE variant of the
 * seen-set pre-filter (BASELINE.json north_star: "partitioned
 * bloom/cuckoo URL-seen filter"). A plain Bloom filter cannot forget:
 * after [[graft.frontier.SnapshotDiff.recrawlPlan]] retires changed/
 * removed urls from the exact seen table, the carried bloom still
 * answers "maybe seen" for them until the next full rebuild, sending
 * every legitimate re-fetch through the exact anti-join. Counting
 * filters (Fan et al. 2000, "Summary Cache") replace each bit with a
 * small counter: insert = +1 on k positions, delete = −1, membership =
 * all k counters > 0.
 *
 * Counting vs cuckoo (both are shipped; see [[CuckooFilter]]): counters
 * are SUMS, so the structure is distributive in exactly the way Spark
 * aggregation wants — per-partition filters combine by element-wise
 * vector add, a batch of deletions is itself a filter subtracted
 * element-wise, and counters(A ∪ B) − counters(B) == counters(A)
 * **byte-identically** (the spec asserts it). A cuckoo filter's insert
 * is order-dependent (eviction chains), so two legal merge orders yield
 * different BYTES — but its membership ANSWERS depend only on the
 * multiset of (bucket-pair, fingerprint) entries, which merge/delete
 * preserve, so the cuckoo state is still regression-checkable against a
 * rebuild at the answer level, in ~1/3 the space at ~80× lower fpp.
 * Pick counting when byte-level state diffing matters; cuckoo when the
 * state's footprint does (the 10^10-URL regime).
 *
 * Safety rules (standard):
 *  - counters saturate at 255 and a saturated counter never decrements
 *    (else under-count → false negatives); with the bloom sizing below
 *    the counter distribution is ≈ Poisson(ln 2), P(c ≥ 255) < 1e-300 —
 *    saturation is a formality, not a practical state;
 *  - only previously-inserted keys may be deleted (the retire path
 *    satisfies this by construction: retired hashes come FROM the seen
 *    set); deleting a foreign key can zero another key's counter.
 * False positives match the plain bloom's rate; false negatives are
 * impossible under the rules above.
 *
 * Hashing: Kirsch-Mitzenmacher double hashing (h1 + i·h2) over two
 * splitmix64 finalizer mixes — deterministic, allocation-free, and
 * independent of Spark internals.
 */
final class CountingBloom private[core] (
    val numHashes: Int, val counters: Array[Byte]) {

  private def m: Int = counters.length

  @inline private def idx(h1: Long, h2: Long, i: Int): Int = {
    val combined = h1 + i.toLong * h2 // wrap-around mixing is intended
    (((combined % m) + m) % m).toInt
  }

  def add(v: Long): Unit = {
    val h1 = CountingBloom.mix(v)
    val h2 = CountingBloom.mix(v ^ CountingBloom.GOLDEN)
    var i = 0
    while (i < numHashes) {
      val j = idx(h1, h2, i)
      if (counters(j) != -1) counters(j) = (counters(j) + 1).toByte // sat 255
      i += 1
    }
  }

  /** Delete a previously-inserted key (see class doc for the contract). */
  def remove(v: Long): Unit = {
    val h1 = CountingBloom.mix(v)
    val h2 = CountingBloom.mix(v ^ CountingBloom.GOLDEN)
    var i = 0
    while (i < numHashes) {
      val j = idx(h1, h2, i)
      val c = counters(j) & 0xff
      if (c != 255 && c > 0) counters(j) = (c - 1).toByte
      i += 1
    }
  }

  def mightContain(v: Long): Boolean = {
    val h1 = CountingBloom.mix(v)
    val h2 = CountingBloom.mix(v ^ CountingBloom.GOLDEN)
    var i = 0
    while (i < numHashes) {
      if (counters(idx(h1, h2, i)) == 0) return false
      i += 1
    }
    true
  }

  /** Element-wise saturating vector ADD (set union of inputs). */
  def mergeInPlace(other: CountingBloom): CountingBloom = {
    require(other.numHashes == numHashes && other.m == m,
      s"shape mismatch: ($numHashes,$m) vs (${other.numHashes},${other.m})")
    var j = 0
    while (j < m) {
      val s = (counters(j) & 0xff) + (other.counters(j) & 0xff)
      counters(j) = (if (s > 255) 255 else s).toByte
      j += 1
    }
    this
  }

  /** Element-wise vector SUBTRACT of a deletion batch (itself a filter
    * over the deleted keys). Saturated state counters stay saturated;
    * a saturated delta counter leaves the state untouched (conservative,
    * FP-only in both cases). */
  def subtractInPlace(other: CountingBloom): CountingBloom = {
    require(other.numHashes == numHashes && other.m == m,
      s"shape mismatch: ($numHashes,$m) vs (${other.numHashes},${other.m})")
    var j = 0
    while (j < m) {
      val a = counters(j) & 0xff
      val b = other.counters(j) & 0xff
      if (a != 255 && b != 255)
        counters(j) = (if (b >= a) 0 else a - b).toByte
      j += 1
    }
    this
  }

  def serialize: Array[Byte] = {
    val buf = ByteBuffer.allocate(12 + m)
    buf.putInt(CountingBloom.MAGIC).putInt(numHashes).putInt(m)
    buf.put(counters)
    buf.array()
  }

  def copy(): CountingBloom = new CountingBloom(numHashes, counters.clone())
}

object CountingBloom {
  private[core] val MAGIC = 0x43424631 // "CBF1"
  private[core] val GOLDEN = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer — a full-avalanche 64→64 mix. */
  @inline private[core] def mix(x0: Long): Long = {
    var x = x0 + GOLDEN
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Same sizing as the plain bloom: m = ⌈−n·ln p / (ln 2)²⌉ counters,
    * k = max(1, round(m/n · ln 2)) hashes. One BYTE per position (vs the
    * bloom's bit) — 8× the pre-filter footprint, the documented price of
    * deletability; bucket counts size each filter executor-small. */
  def create(expectedItems: Long, fpp: Double): CountingBloom = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1, s"n=$expectedItems p=$fpp")
    val n = expectedItems.toDouble
    val ln2 = math.log(2)
    val m = math.min(Int.MaxValue.toDouble, math.ceil(-n * math.log(fpp) / (ln2 * ln2))).toInt
    val k = math.max(1, math.round(m / n * ln2).toInt)
    new CountingBloom(k, new Array[Byte](math.max(m, 8)))
  }

  def deserialize(bytes: Array[Byte]): CountingBloom = {
    require(bytes.length >= 12, s"truncated counting-Bloom blob: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes)
    val magic = buf.getInt
    require(magic == MAGIC, f"bad counting-Bloom magic 0x$magic%08x")
    val k = buf.getInt
    val m = buf.getInt
    require(k > 0 && m > 0 && bytes.length == 12L + m,
      s"truncated counting-Bloom blob: k=$k m=$m, ${bytes.length} bytes")
    val counters = new Array[Byte](m)
    buf.get(counters)
    new CountingBloom(k, counters)
  }
}
