package graft.core

import graft.SparkTestBase
import graft.functions.gf
import org.apache.spark.sql.functions._

class CountMinSpec extends SparkTestBase {
  import spark.implicits._

  private def mix(x: Long): Long = { // stand-in for xxhash64
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Zipf-ish stream: key k appears ~n/k times — heavy head, long tail. */
  private def zipfStream(nKeys: Int, n: Int): Seq[Long] =
    (1 to n).map(i => mix((i % nKeys + 1).toLong)) ++
      (1 to nKeys).flatMap(k => Seq.fill(math.max(0, n / k - n / nKeys))(mix(k.toLong)))

  test("one-sided: estimate never below the true count; error ≤ εN for all keys") {
    val stream = zipfStream(500, 20000)
    val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cms = CountMin.create(4, 256)
    stream.foreach(cms.add(_))
    assert(cms.total == stream.size.toLong)
    val epsN = math.ceil(CountMin.epsilon(256) * cms.total).toLong
    var overs = 0
    exact.foreach { case (k, c) =>
      val e = cms.estimate(k)
      assert(e >= c, s"undercount: key=$k est=$e true=$c")
      if (e > c + epsN) overs += 1
    }
    // each key individually exceeds εN w.p. ≤ e^-4 ≈ 0.018; allow 5 % slack
    assert(overs <= math.max(2, exact.size / 20), s"$overs/${exact.size} keys over εN")
    // an absent key estimates at most εN (hash collisions only)
    assert(cms.estimate(mix(999999L)) <= epsN)
  }

  test("merge of arbitrary splits is byte-identical to one-shot build") {
    val stream = zipfStream(200, 15000)
    val oneShot = CountMin.create(4, 128)
    stream.foreach(oneShot.add(_))
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val parts = Array.fill(7)(CountMin.create(4, 128))
      stream.foreach(k => parts(rnd.nextInt(7)).add(k))
      val merged = parts.reduce(_.mergeInPlace(_))
      assert(java.util.Arrays.equals(merged.serialize(), oneShot.serialize()))
    }
    assert(java.util.Arrays.equals(
      CountMin.deserialize(oneShot.serialize()).serialize(), oneShot.serialize()))
  }

  test("weighted adds: weight w ≡ w unit adds") {
    val a = CountMin.create(3, 64); val b = CountMin.create(3, 64)
    (1 to 50).foreach { k =>
      a.add(mix(k.toLong), k.toLong)
      (1 to k).foreach(_ => b.add(mix(k.toLong)))
    }
    assert(java.util.Arrays.equals(a.serialize(), b.serialize()))
    assert(a.total == (1 to 50).map(_.toLong).sum)
  }

  test("shape mismatch and bad blobs rejected; negative weight rejected") {
    intercept[IllegalArgumentException](
      CountMin.create(4, 64).mergeInPlace(CountMin.create(4, 128)))
    intercept[IllegalArgumentException](CountMin.create(0, 64))
    intercept[IllegalArgumentException](CountMin.create(4, 4))
    intercept[IllegalArgumentException](CountMin.deserialize(Array[Byte](1, 2, 3, 4)))
    BadBlobs.assertRejected("count-min", CountMin.deserialize)(
      Array.emptyByteArray, Array[Byte](1, 2, 3),
      CountMin.create(4, 64).serialize().dropRight(8), Kmv.create(64).serialize())
    intercept[IllegalArgumentException](CountMin.create(4, 64).add(1L, -1L))
  }

  test("column path: two-level fold ≡ direct sketch byte-identically; probes track exact") {
    val df = (1 to 30000).map(i => (s"h${i % 4}", s"p${i % 7}", s"tok-${i % 300}"))
      .toDF("host", "part", "tok")
    val direct = df.agg(gf.count_min_agg(xxhash64(col("tok")), lit(1L)).as("sk"))
    val twoLevel = df.groupBy("host", "part")
      .agg(gf.count_min_agg(xxhash64(col("tok")), lit(1L)).as("sk"))
      .agg(gf.count_min_merge_agg(col("sk")).as("sk"))
    val d = direct.head().getAs[Array[Byte]]("sk")
    val t = twoLevel.head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(d, t))
    // probe through the column API: every token occurs 100×
    val probed = direct
      .withColumn("est", gf.count_min_query(col("sk"), xxhash64(lit("tok-7"))))
      .withColumn("n", gf.count_min_total(col("sk")))
      .head()
    val epsN = math.ceil(CountMin.epsilon(256) * 30000).toLong
    assert(probed.getAs[Long]("n") == 30000L)
    val est = probed.getAs[Long]("est")
    assert(est >= 100L && est <= 100L + epsN, s"est=$est")
  }
}
