package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.apache.spark.util.sketch.BloomFilter
import graft.core.{CountMin, CountingBloom, CuckooFilter, Hll, Kmv, TDigest}

/**
 * One sketch's codec and merge: the only place its blob format is read
 * or written on the Spark side. [[SketchMergeAgg]], [[SketchProbe]],
 * [[SketchSubtract]] and the build aggregates ([[SketchBuildAgg]]) all
 * go through a kind, so adding a sketch is one kind plus its build
 * aggregate. `merge` may fold `b` into `a` in place and return `a`.
 */
trait SketchKind[S] extends Serializable {
  def name: String
  def read(bytes: Array[Byte]): S
  def write(s: S): Array[Byte]
  def merge(a: S, b: S): S
}

/** A membership filter: its kind also answers "might `v` be in `s`". */
trait FilterKind[S] extends SketchKind[S] {
  def mightContain(s: S, v: Long): Boolean
  /** SQL name of the probe. */
  def probeName: String = s"${name}_might_contain"
}

/** A filter whose state can retire a batch: `subtract(state, delta)`
  * removes the keys of `delta`, a filter of the same shape over keys
  * that were inserted, and may do so in place on `state`. */
trait DeletableKind[S] extends FilterKind[S] {
  def subtract(state: S, delta: S): S
}

object SketchKind {

  object hll extends SketchKind[Hll] {
    val name = "hll"
    def read(bytes: Array[Byte]): Hll = Hll.deserialize(bytes)
    def write(s: Hll): Array[Byte] = s.serialize()
    def merge(a: Hll, b: Hll): Hll = a.mergeInPlace(b)
  }

  object tdigest extends SketchKind[TDigest] {
    val name = "tdigest"
    def read(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
    def write(s: TDigest): Array[Byte] = s.serialize()
    def merge(a: TDigest, b: TDigest): TDigest = a.mergeInPlace(b)
  }

  object count_min extends SketchKind[CountMin] {
    val name = "count_min"
    def read(bytes: Array[Byte]): CountMin = CountMin.deserialize(bytes)
    def write(s: CountMin): Array[Byte] = s.serialize()
    def merge(a: CountMin, b: CountMin): CountMin = a.mergeInPlace(b)
  }

  object kmv extends SketchKind[Kmv] {
    val name = "kmv"
    def read(bytes: Array[Byte]): Kmv = Kmv.deserialize(bytes)
    def write(s: Kmv): Array[Byte] = s.serialize()
    def merge(a: Kmv, b: Kmv): Kmv = a.mergeInPlace(b)
  }

  /**
   * Spark's public `BloomFilter` (see [[BloomFilterAgg]]). The merge is
   * the bitwise OR of filters built with IDENTICAL (expectedItems, fpp):
   * the union of same-shaped filters is exactly the filter of the union
   * of their input sets, so merging a per-round delta bloom into carried bloom state is
   * byte-identical to rebuilding from the full seen set — without the
   * full-state scan. This is what makes the seen pre-filter incremental
   * at 10^10 URLs (north rule "bloom/cuckoo URL-seen filter ...
   * per-partition state"): each round aggregates only the O(budget)
   * delta, and the driver rebuilds at doubled capacity only when the
   * exact seen count approaches capacity (geometric, amortized ≤ 2× one
   * build).
   */
  object bloom extends FilterKind[BloomFilter] {
    val name = "bloom"
    override val probeName = "might_contain"
    def read(bytes: Array[Byte]): BloomFilter =
      BloomFilter.readFrom(new ByteArrayInputStream(bytes))
    def write(s: BloomFilter): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      s.writeTo(out)
      out.toByteArray
    }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = a.mergeInPlace(b)
    def mightContain(s: BloomFilter, v: Long): Boolean = s.mightContainLong(v)
  }

  /** Counting Bloom: merge is the element-wise vector ADD and subtract
    * the saturating-aware vector SUB, both byte-identical to a rebuild
    * (see [[graft.core.CountingBloom]]). */
  object cbloom extends DeletableKind[CountingBloom] {
    val name = "cbloom"
    def read(bytes: Array[Byte]): CountingBloom = CountingBloom.deserialize(bytes)
    def write(s: CountingBloom): Array[Byte] = s.serialize
    def merge(a: CountingBloom, b: CountingBloom): CountingBloom = a.mergeInPlace(b)
    def mightContain(s: CountingBloom, v: Long): Boolean = s.mightContain(v)
    def subtract(state: CountingBloom, delta: CountingBloom): CountingBloom =
      state.subtractInPlace(delta)
  }

  /** Cuckoo filter: merge is the multiset union and subtract removes one
    * matching fingerprint copy per delta entry; both are answer-identical
    * (not byte-identical) to a rebuild (see [[graft.core.CuckooFilter]]). */
  object cuckoo extends DeletableKind[CuckooFilter] {
    val name = "cuckoo"
    def read(bytes: Array[Byte]): CuckooFilter = CuckooFilter.deserialize(bytes)
    def write(s: CuckooFilter): Array[Byte] = s.serialize
    def merge(a: CuckooFilter, b: CuckooFilter): CuckooFilter = a.mergeInPlace(b)
    def mightContain(s: CuckooFilter, v: Long): Boolean = s.mightContain(v)
    def subtract(state: CuckooFilter, delta: CuckooFilter): CuckooFilter =
      state.subtractEntriesOf(delta)
  }
}
