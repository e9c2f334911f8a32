package graft.core

import java.nio.ByteBuffer

/**
 * Count-min sketch over 64-bit keys (Cormode & Muthukrishnan, J.Alg'05) —
 * the POINT-FREQUENCY member of the mergeable-sketch family
 * ([[Hll]] = distinct count, [[SpaceSaving]] = top-k, [[TDigest]] =
 * quantiles, [[CountingBloom]]/[[CuckooFilter]] = membership). Where
 * SpaceSaving answers "which items are frequent", count-min answers
 * "how frequent is THIS item" for arbitrary, after-the-fact probes —
 * the shape a 100 TB corpus monitor needs when the probe set (newly
 * flagged spam tokens, a fresh blocklist, yesterday's trending n-grams)
 * isn't known while the corpus is scanned. An exact answer needs the
 * full per-key count table (O(distinct) state, a shuffle per probe
 * set); the sketch is d·w longs, built in one map-side-combinable pass,
 * probed for free afterwards.
 *
 * Structure: d independent rows of w counters. add(key, c) adds c to
 * one counter per row (row-seeded splitmix64 mix of the key);
 * estimate(key) = min over the d counters. Guarantees (N = total added
 * weight):
 *  - one-sided: estimate ≥ true count, always;
 *  - estimate ≤ true + ε·N with probability ≥ 1 − δ, for ε = e/w,
 *    δ = e^−d (each row overcounts by ε·N at most 1/e of the time,
 *    rows are independent).
 *
 * Like the counting-Bloom filter (and unlike [[TDigest]]/
 * [[CuckooFilter]]), the state is a vector of SUMS, so merge =
 * element-wise add and any merge tree over any partitioning is
 * **byte-identical** to the one-shot build — the spec asserts it, and
 * incremental carried state (per-round deltas folded into a running
 * sketch) needs no answer-level equivalence argument.
 *
 * Keys are pre-hashed 64-bit values (xxhash64 of the item on the Spark
 * side, the [[Hll]] convention); weights are non-negative longs.
 */
final class CountMin private[core] (
    val depth: Int, val width: Int, val counters: Array[Long]) {

  @inline private def idx(row: Int, key: Long): Int = {
    val h = CountMin.mix(key ^ CountMin.rowSeed(row))
    // floorMod for a uniform non-negative index
    row * width + (((h % width) + width) % width).toInt
  }

  def add(key: Long, weight: Long = 1L): Unit = {
    require(weight >= 0, s"negative weight $weight")
    var r = 0
    while (r < depth) { counters(idx(r, key)) += weight; r += 1 }
  }

  /** min over the d row counters — ≥ true count, ≤ true + ε·N w.h.p. */
  def estimate(key: Long): Long = {
    var m = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = counters(idx(r, key))
      if (c < m) m = c
      r += 1
    }
    m
  }

  /** Total added weight N (every add lands once per row — row 0's sum). */
  def total: Long = {
    var s = 0L
    var j = 0
    while (j < width) { s += counters(j); j += 1 }
    s
  }

  /** Element-wise vector ADD — commutative/associative, byte-identical
    * to a one-shot build over the union of inputs. */
  def mergeInPlace(other: CountMin): CountMin = {
    require(other.depth == depth && other.width == width,
      s"shape mismatch: ($depth,$width) vs (${other.depth},${other.width})")
    var j = 0
    while (j < counters.length) { counters(j) += other.counters(j); j += 1 }
    this
  }

  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(12 + 8 * counters.length)
    buf.putInt(CountMin.MAGIC).putInt(depth).putInt(width)
    var j = 0
    while (j < counters.length) { buf.putLong(counters(j)); j += 1 }
    buf.array()
  }

  def copy(): CountMin = new CountMin(depth, width, counters.clone())
}

object CountMin {
  private[core] val MAGIC = 0x434d5331 // "CMS1"

  /** ε = e/w additive-error fraction of this width. */
  def epsilon(width: Int): Double = math.E / width

  /** splitmix64 finalizer (the [[CountingBloom]] mix). */
  @inline private[core] def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Fixed per-row seeds — splitmix64 stream from a constant, so every
    * sketch of the same shape hashes identically (mergeable). */
  @inline private[core] def rowSeed(row: Int): Long =
    mix(0x5ca1ab1eL + row.toLong)

  def create(depth: Int, width: Int): CountMin = {
    require(depth >= 1 && depth <= 32, s"depth=$depth")
    require(width >= 8, s"width=$width")
    new CountMin(depth, width, new Array[Long](depth * width))
  }

  /** Point estimate straight from a serialized blob (codegen helper —
    * O(d) buffer reads, no counter-array copy). */
  def estimateBytes(bytes: Array[Byte], key: Long): Long = {
    val buf = ByteBuffer.wrap(bytes)
    val magic = buf.getInt
    require(magic == MAGIC, f"bad CMS magic 0x$magic%08x")
    val d = buf.getInt
    val w = buf.getInt
    var m = Long.MaxValue
    var r = 0
    while (r < d) {
      val h = mix(key ^ rowSeed(r))
      val j = r * w + (((h % w) + w) % w).toInt
      val c = buf.getLong(12 + 8 * j)
      if (c < m) m = c
      r += 1
    }
    m
  }

  /** Total added weight N from a serialized blob (codegen helper). */
  def totalBytes(bytes: Array[Byte]): Long = {
    val buf = ByteBuffer.wrap(bytes)
    val magic = buf.getInt
    require(magic == MAGIC, f"bad CMS magic 0x$magic%08x")
    buf.getInt // depth
    val w = buf.getInt
    var s = 0L
    var j = 0
    while (j < w) { s += buf.getLong(12 + 8 * j); j += 1 }
    s
  }

  def deserialize(bytes: Array[Byte]): CountMin = {
    require(bytes.length >= 12, s"truncated count-min blob: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes)
    val magic = buf.getInt
    require(magic == MAGIC, f"bad count-min magic 0x$magic%08x")
    val d = buf.getInt
    val w = buf.getInt
    require(d > 0 && w > 0 && bytes.length == 12 + 8L * d * w,
      s"truncated count-min blob: d=$d w=$w, ${bytes.length} bytes")
    val counters = new Array[Long](d * w)
    var j = 0
    while (j < counters.length) { counters(j) = buf.getLong; j += 1 }
    new CountMin(d, w, counters)
  }
}
