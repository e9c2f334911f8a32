package graft.core

import graft.SparkTestBase
import graft.functions.gf
import org.apache.spark.sql.functions._

class KmvSpec extends SparkTestBase {
  import spark.implicits._

  private def mix(x: Long): Long = { // stand-in for xxhash64
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  test("exact regime: below k the sketch IS the set — estimate and jaccard exact") {
    val a = Kmv.create(256); val b = Kmv.create(256)
    val setA = (1 to 100).map(i => mix(i.toLong))
    val setB = (51 to 180).map(i => mix(i.toLong)) // |A∩B|=50, |A∪B|=180
    // adds with repeats — dedup is the sketch's job
    (setA ++ setA).foreach(a.add)
    (setB ++ setB.take(7)).foreach(b.add)
    assert(a.distinctEstimate == 100L && b.distinctEstimate == 130L)
    assert(a.size == 100 && b.size == 130)
    val (j, u, x) = Kmv.setEstimates(a.serialize(), b.serialize())
    assert(u == 180L && x == 50L)
    assert(math.abs(j - 50.0 / 180.0) < 1e-12)
  }

  test("merge of arbitrary splits is byte-identical to one-shot build") {
    val stream = (1 to 40000).map(i => mix((i % 7000).toLong))
    val oneShot = Kmv.create(512)
    stream.foreach(oneShot.add)
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val parts = Array.fill(9)(Kmv.create(512))
      stream.foreach(v => parts(rnd.nextInt(9)).add(v))
      val merged = parts.reduce(_.mergeInPlace(_))
      assert(java.util.Arrays.equals(merged.serialize(), oneShot.serialize()))
    }
    assert(java.util.Arrays.equals(
      Kmv.deserialize(oneShot.serialize()).serialize(), oneShot.serialize()))
  }

  test("estimation regime: distinct estimate within 5 rel-σ of truth") {
    for ((distinct, k) <- Seq((50000, 1024), (200000, 1024), (30000, 256))) {
      val s = Kmv.create(k)
      (1 to distinct).foreach(i => s.add(mix(i.toLong * 2654435761L)))
      val est = s.distinctEstimate
      val sigma = distinct.toDouble / math.sqrt(k - 2) // Beyer Thm 1 variance
      assert(math.abs(est - distinct) <= 5 * sigma,
        s"distinct=$distinct k=$k est=$est (|err|=${math.abs(est - distinct)} > 5σ=${5 * sigma})")
    }
  }

  test("estimation regime: jaccard/union/intersection track planted overlap") {
    // |A|=40k, |B|=40k, |A∩B|=20k ⇒ J = 20k/60k = 1/3
    val a = Kmv.create(1024); val b = Kmv.create(1024)
    (1 to 40000).foreach(i => a.add(mix(i.toLong)))
    (20001 to 60000).foreach(i => b.add(mix(i.toLong)))
    val (j, u, x) = Kmv.setEstimates(a.serialize(), b.serialize())
    val jSigma = math.sqrt((1.0 / 3) * (2.0 / 3) / 1024) // binomial std-err
    assert(math.abs(j - 1.0 / 3) <= 5 * jSigma, s"jaccard=$j")
    assert(math.abs(u - 60000L) <= 60000 * 5.0 / math.sqrt(1022), s"union=$u")
    assert(math.abs(x - 20000L) <= 20000 * 0.2, s"intersect=$x")
    // disjoint sets: small-J noise floor only
    val c = Kmv.create(1024)
    (100001 to 140000).foreach(i => c.add(mix(i.toLong)))
    assert(Kmv.jaccardBytes(a.serialize(), c.serialize()) < 0.02)
  }

  test("shape/blob errors rejected") {
    intercept[IllegalArgumentException](
      Kmv.create(64).mergeInPlace(Kmv.create(128)))
    intercept[IllegalArgumentException](Kmv.create(8))
    intercept[IllegalArgumentException](Kmv.deserialize(Array[Byte](1, 2, 3, 4)))
    val blob = { val s = Kmv.create(64); (1L to 10L).foreach(i => s.add(mix(i))); s.serialize() }
    BadBlobs.assertRejected("KMV", Kmv.deserialize)(
      Array.emptyByteArray, Array[Byte](1, 2, 3), blob.dropRight(8),
      CountMin.create(4, 64).serialize())
    intercept[IllegalArgumentException](
      Kmv.setEstimates(Kmv.create(64).serialize(), Kmv.create(128).serialize()))
    // empty sketches: everything zero, no div-by-zero
    val (j, u, x) = Kmv.setEstimates(Kmv.create(64).serialize(), Kmv.create(64).serialize())
    assert(j == 0.0 && u == 0L && x == 0L)
  }

  test("column path: two-level fold ≡ direct byte-identically; set estimates through exprs") {
    val df = (1 to 30000).map(i => (s"p${i % 11}", s"tok-${i % 5000}"))
      .toDF("part", "tok")
    val direct = df.agg(gf.kmv_agg(xxhash64(col("tok")), 256).as("sk"))
    val twoLevel = df.groupBy("part")
      .agg(gf.kmv_agg(xxhash64(col("tok")), 256).as("sk"))
      .agg(gf.kmv_merge_agg(col("sk")).as("sk"))
    val d = direct.head().getAs[Array[Byte]]("sk")
    val t = twoLevel.head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(d, t))
    val r = direct.select(
      gf.kmv_distinct(col("sk")).as("d"),
      gf.kmv_size(col("sk")).as("n"),
      gf.kmv_jaccard(col("sk"), col("sk")).as("jself"),
      gf.kmv_union_distinct(col("sk"), col("sk")).as("useLf"),
      gf.kmv_intersect_distinct(col("sk"), col("sk")).as("xself")).head()
    assert(r.getAs[Long]("n") == 256L) // at capacity
    val est = r.getAs[Long]("d")
    assert(math.abs(est - 5000L) <= 5000 * 5.0 / math.sqrt(254), s"est=$est")
    assert(r.getAs[Double]("jself") == 1.0)
    assert(r.getAs[Long]("useLf") == est && r.getAs[Long]("xself") == est)
  }
}
