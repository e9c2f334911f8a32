package graft.core

import graft.SparkTestBase
import graft.functions.gf
import org.apache.spark.sql.functions._

class HllSpec extends SparkTestBase {
  import spark.implicits._

  private def mix(x: Long): Long = { // splitmix64 — stand-in for xxhash64
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  test("estimate within 4 sigma across linear-counting and raw regimes") {
    Seq(100, 1000, 20000, 200000).foreach { n =>
      val h = new Hll(12)
      (1 to n).foreach(i => h.add(mix(i.toLong)))
      val tol = 4 * 1.04 / math.sqrt(h.m) // ≈ 6.5 % at p=12
      val err = math.abs(h.estimate - n) / n
      assert(err <= tol, s"n=$n est=${h.estimate} err=$err")
    }
  }

  test("idempotent: re-adding seen values never changes a register") {
    val a = new Hll(12); val b = new Hll(12)
    (1 to 5000).foreach { i => a.add(mix(i.toLong)); b.add(mix(i.toLong)) }
    (1 to 5000).foreach(i => b.add(mix(i.toLong))) // full re-add
    assert(java.util.Arrays.equals(a.serialize(), b.serialize()))
  }

  test("merge of arbitrary splits is byte-identical to one-shot build") {
    val oneShot = new Hll(12)
    (1 to 30000).foreach(i => oneShot.add(mix(i.toLong)))
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val parts = Array.fill(6)(new Hll(12))
      (1 to 30000).foreach(i => parts(rnd.nextInt(6)).add(mix(i.toLong)))
      val merged = parts.reduce(_.mergeInPlace(_))
      assert(java.util.Arrays.equals(merged.serialize(), oneShot.serialize()))
    }
    // serialize→deserialize round trip preserves bytes
    assert(java.util.Arrays.equals(
      Hll.deserialize(oneShot.serialize()).serialize(), oneShot.serialize()))
  }

  test("precision mismatch and bad blobs rejected") {
    intercept[IllegalArgumentException](new Hll(12).mergeInPlace(new Hll(11)))
    intercept[IllegalArgumentException](new Hll(3))
    intercept[IllegalArgumentException](Hll.deserialize(Array[Byte](12, 0, 0)))
    val blob = { val h = new Hll(12); h.add(mix(1L)); h.serialize() }
    BadBlobs.assertRejected("HLL", Hll.deserialize)(
      Array.emptyByteArray, blob.dropRight(1), CountMin.create(4, 64).serialize())
  }

  test("column path: delta sketches merged per group ≡ direct sketch; estimate tracks exact") {
    val df = (1 to 40000).map(i => (s"h${i % 4}", s"p${i % 7}", s"key-${i % 9000}"))
      .toDF("host", "part", "key")
    // two-level: per-(host,part) deltas → per-host merge
    val twoLevel = df.groupBy("host", "part")
      .agg(gf.hll_agg(xxhash64(col("key"))).as("sk"))
      .groupBy("host").agg(gf.hll_merge_agg(col("sk")).as("sk"))
    // one-level direct
    val oneLevel = df.groupBy("host")
      .agg(gf.hll_agg(xxhash64(col("key"))).as("sk"))
    val two = twoLevel.select(col("host"), col("sk")).as[(String, Array[Byte])]
      .collect().toMap
    val one = oneLevel.select(col("host"), col("sk")).as[(String, Array[Byte])]
      .collect().toMap
    assert(two.keySet == one.keySet)
    two.foreach { case (h, blob) =>
      assert(java.util.Arrays.equals(blob, one(h)), s"host $h blobs differ")
    }
    val exact = df.groupBy("host").agg(count_distinct(col("key")).as("n"))
      .as[(String, Long)].collect().toMap
    oneLevel.select(col("host"), gf.hll_estimate(col("sk")).as("est"))
      .as[(String, Double)].collect().foreach { case (h, est) =>
        assert(math.abs(est - exact(h)) / exact(h) <= 0.05, s"$h est=$est exact=${exact(h)}")
      }
  }
}
