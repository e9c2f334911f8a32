package graft.core

import java.nio.ByteBuffer
import scala.collection.mutable.ArrayBuffer

/**
 * Cuckoo filter over 64-bit keys (Fan, Andersen, Kaminsky, Mitzenmacher,
 * CoNEXT 2014: "Cuckoo Filter: Practically Better Than Bloom") — the
 * compact DELETABLE seen pre-filter named by the north star
 * ("partitioned bloom/cuckoo URL-seen filter"). Versus the counting
 * Bloom ([[CountingBloom]], ~9.6 B/key at 1 % fpp) this stores one
 * 16-bit fingerprint per key in a 4-slot-per-bucket table at ≤70 % load
 * — ≈ 2.9 B/key with fpp ≈ 2·4/2^16 ≈ 1.2e-4, i.e. ~3× smaller at ~80×
 * lower false-positive rate. At the 10^10-URL north-rule scale that is
 * the difference between a ~29 GB and a ~96 GB deletable seen state.
 *
 * Partial-key cuckoo hashing: key v stores fingerprint fp(v) in one of
 * two candidate buckets, i1 = h(v) and i2 = i1 XOR h'(fp) — the XOR
 * makes the pair recoverable from EITHER member given fp, so entries can
 * relocate (cuckoo eviction chains) without knowing their original key.
 *
 * Merge-algebra contract — ANSWER-identity, not byte-identity: a cuckoo
 * table's physical layout is insertion-order-dependent (eviction
 * chains), so unlike [[CountingBloom]] (whose counters are sums) two
 * legal merge orders yield different BYTES. But every membership answer
 * depends only on the MULTISET of (candidate-pair, fingerprint) entries:
 * a probe for v checks fp(v) against buckets {i1, i2}, and an entry
 * physically at i answers exactly the probes whose candidate pair
 * contains i — a set invariant under relocation because alt(alt(i, fp),
 * fp) == i. [[mergeInPlace]] (re-insert every entry, overflow to an
 * exact stash so nothing is ever dropped) and [[subtractEntriesOf]]
 * (remove one matching copy per entry) therefore preserve the multiset,
 * and
 *
 *   answers(merge(A, B)) == answers(rebuild(inputs(A) ∪ inputs(B)))
 *   answers(state − retireBatch) == answers(rebuild(seen ∖ retired))
 *
 * for every probe key — CuckooFilterSpec asserts both over planted and
 * random probe sets. Incremental states ARE regression-checkable against
 * rebuilds, just at the answer level rather than the byte level.
 *
 * Safety rules (standard, same as the counting filter's):
 *  - only previously-inserted keys may be removed (the retire path
 *    satisfies this by construction: retired hashes come FROM the seen
 *    set); removing a foreign key can delete another key's fingerprint
 *    copy and create a false negative;
 *  - false positives occur at the fingerprint-collision rate; false
 *    negatives are impossible under the rule above (the stash catches
 *    insert overflow exactly — no entry is ever dropped).
 */
final class CuckooFilter private[core] (
    val nBuckets: Int,                 // power of two
    private val table: Array[Short],   // nBuckets * SLOTS; 0 = empty
    private val stash: ArrayBuffer[Long]) { // packed canonical entries

  import CuckooFilter._

  private def mask: Int = nBuckets - 1

  @inline private def altOf(i: Int, fp: Int): Int =
    (i ^ mix(fp.toLong & 0xffffL).toInt) & mask

  @inline private def canonicalPacked(i: Int, fp: Int): Long = {
    val a = altOf(i, fp)
    (math.min(i, a).toLong << 16) | (fp & 0xffffL)
  }

  @inline private def slotBase(i: Int): Int = i * SLOTS

  /** try to place fp in bucket i without eviction; true on success */
  private def tryPlace(i: Int, fp: Short): Boolean = {
    val base = slotBase(i)
    var s = 0
    while (s < SLOTS) {
      if (table(base + s) == 0) { table(base + s) = fp; return true }
      s += 1
    }
    false
  }

  /** insert an entry known to belong at bucket i (or its alt); eviction
    * chain capped at MAX_KICKS, overflow lands in the exact stash. */
  private[core] def insertEntry(i0: Int, fp0: Short): Unit = {
    if (tryPlace(i0, fp0) || tryPlace(altOf(i0, fp0 & 0xffff), fp0)) return
    var cur = i0
    var fp = fp0
    var kicks = 0
    while (kicks < MAX_KICKS) {
      // deterministic victim slot (no RNG: same input order ⇒ same bytes)
      val s = ((fp & 0xffff) + kicks) % SLOTS
      val base = slotBase(cur)
      val victim = table(base + s)
      table(base + s) = fp
      fp = victim
      cur = altOf(cur, fp & 0xffff)
      if (tryPlace(cur, fp)) return
      kicks += 1
    }
    stash += canonicalPacked(cur, fp & 0xffff)
  }

  def add(v: Long): Unit = insertEntry(bucketOf(v, mask), fpOf(v))

  def mightContain(v: Long): Boolean = {
    val fp = fpOf(v)
    val i1 = bucketOf(v, mask)
    val i2 = altOf(i1, fp & 0xffff)
    bucketHas(i1, fp) || (i2 != i1 && bucketHas(i2, fp)) ||
      (stash.nonEmpty && stash.contains(canonicalPacked(i1, fp & 0xffff)))
  }

  @inline private def bucketHas(i: Int, fp: Short): Boolean = {
    val base = slotBase(i)
    var s = 0
    while (s < SLOTS) {
      if (table(base + s) == fp) return true
      s += 1
    }
    false
  }

  /** remove ONE copy of fp from bucket i; true if found */
  private def removeFrom(i: Int, fp: Short): Boolean = {
    val base = slotBase(i)
    var s = 0
    while (s < SLOTS) {
      if (table(base + s) == fp) { table(base + s) = 0; return true }
      s += 1
    }
    false
  }

  /** Remove one fingerprint copy of a previously-inserted key (class
    * contract). Returns false only on contract violation. */
  def remove(v: Long): Boolean = removeEntry(bucketOf(v, mask), fpOf(v))

  private[core] def removeEntry(i: Int, fp: Short): Boolean = {
    val a = altOf(i, fp & 0xffff)
    if (removeFrom(i, fp) || (a != i && removeFrom(a, fp))) true
    else {
      val packed = canonicalPacked(i, fp & 0xffff)
      val at = stash.indexOf(packed)
      if (at >= 0) { stash.remove(at); true } else false
    }
  }

  /** Multiset-union merge: re-insert every entry of `other` (same shape
    * required). Overflow goes to the stash — nothing is dropped, so
    * answers equal a rebuild from the union of inputs (class doc). */
  def mergeInPlace(other: CuckooFilter): CuckooFilter = {
    require(other.nBuckets == nBuckets,
      s"shape mismatch: $nBuckets vs ${other.nBuckets} buckets")
    var i = 0
    while (i < other.table.length) {
      val fp = other.table(i)
      if (fp != 0) insertEntry(i / SLOTS, fp)
      i += 1
    }
    other.stash.foreach { packed =>
      insertEntry((packed >>> 16).toInt, (packed & 0xffffL).toShort)
    }
    this
  }

  /** Retire a deletion batch: remove one matching copy per entry of
    * `delta` (a cuckoo filter built over the retired keys — same shape).
    * Because fp/bucket derivation is deterministic, delta's entry
    * multiset IS the retired keys' entry multiset, so the result answers
    * exactly like a rebuild over seen ∖ retired. */
  def subtractEntriesOf(delta: CuckooFilter): CuckooFilter = {
    require(delta.nBuckets == nBuckets,
      s"shape mismatch: $nBuckets vs ${delta.nBuckets} buckets")
    var i = 0
    while (i < delta.table.length) {
      val fp = delta.table(i)
      if (fp != 0) removeEntry(i / SLOTS, fp)
      i += 1
    }
    delta.stash.foreach { packed =>
      removeEntry((packed >>> 16).toInt, (packed & 0xffffL).toShort)
    }
    this
  }

  def occupied: Int = { var n = 0; var i = 0
    while (i < table.length) { if (table(i) != 0) n += 1; i += 1 }; n }
  def stashSize: Int = stash.length

  def serialize: Array[Byte] = {
    val buf = ByteBuffer.allocate(16 + table.length * 2 + stash.length * 8)
    buf.putInt(MAGIC).putInt(nBuckets).putInt(SLOTS).putInt(stash.length)
    var i = 0
    while (i < table.length) { buf.putShort(table(i)); i += 1 }
    stash.sorted.foreach(buf.putLong) // canonical stash order
    buf.array()
  }

  def copy(): CuckooFilter =
    new CuckooFilter(nBuckets, table.clone(), stash.clone())
}

object CuckooFilter {
  private[core] val MAGIC = 0x434b4631 // "CKF1"
  private[core] val SLOTS = 4
  private[core] val MAX_KICKS = 500
  private val GOLDEN = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer — full-avalanche 64→64 mix. */
  @inline private[core] def mix(x0: Long): Long = {
    var x = x0 + GOLDEN
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** 16-bit fingerprint, never 0 (0 marks an empty slot). Derived from
    * the TOP bits of one mix; the bucket comes from an independent mix
    * so fp and bucket are (pairwise) independent. */
  @inline private[core] def fpOf(v: Long): Short = {
    val f = (mix(v) >>> 48).toInt
    (if (f == 0) 1 else f).toShort
  }

  @inline private[core] def bucketOf(v: Long, mask: Int): Int =
    mix(v ^ GOLDEN).toInt & mask

  /** Size for `expectedItems` at ≤70 % slot load (headroom keeps merge
    * overflow out of the stash in the common case); ≥8 buckets. */
  def create(expectedItems: Long): CuckooFilter = {
    require(expectedItems > 0, s"n=$expectedItems")
    val needBuckets = math.ceil(expectedItems / (SLOTS * 0.7)).toLong
    var nb = 8
    while (nb < needBuckets && nb < (1 << 28)) nb <<= 1
    new CuckooFilter(nb, new Array[Short](nb * SLOTS), ArrayBuffer.empty)
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    require(bytes.length >= 16, s"truncated cuckoo blob: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes)
    val magic = buf.getInt
    require(magic == MAGIC, f"bad cuckoo magic 0x$magic%08x")
    val nb = buf.getInt
    val slots = buf.getInt
    require(slots == SLOTS, s"cuckoo slot-count mismatch: $slots")
    val stashLen = buf.getInt
    require(nb > 0 && (nb & (nb - 1)) == 0 && stashLen >= 0 &&
      bytes.length == 16 + 2L * nb * SLOTS + 8L * stashLen,
      s"truncated cuckoo blob: buckets=$nb stash=$stashLen, ${bytes.length} bytes")
    val table = new Array[Short](nb * SLOTS)
    var i = 0
    while (i < table.length) { table(i) = buf.getShort; i += 1 }
    val stash = ArrayBuffer.fill(stashLen)(buf.getLong)
    new CuckooFilter(nb, table, stash)
  }
}
