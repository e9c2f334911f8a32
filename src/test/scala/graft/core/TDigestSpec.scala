package graft.core

import graft.SparkTestBase
import graft.functions.gf
import org.apache.spark.sql.functions._

/**
 * t-digest properties on deterministic streams: rank-error bounds at
 * body and tail quantiles, bound preservation under sharded merges,
 * serialization round-trip, exact min/max endpoints, and the two-level
 * column-aggregation path (per-group digests folded by
 * tdigest_merge_agg — the q101 HLL pattern).
 */
class TDigestSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic scrambled stream: values 0..n-1 in hash order
  private def stream(n: Int): Seq[Double] =
    (0 until n).sortBy(i => (i * 2654435761L) % 104729).map(_.toDouble)

  private def rankOf(sorted: IndexedSeq[Double], v: Double): Double = {
    val below = sorted.count(_ <= v)
    below.toDouble / sorted.size
  }

  test("rank error bounded at body and tails; endpoints exact") {
    val xs = stream(10000)
    val sorted = xs.sorted.toIndexedSeq
    val d = new TDigest(100)
    xs.foreach(d.add(_))
    assert(d.totalWeight == 10000L)
    assert(d.quantile(0.0) == 0.0 && d.quantile(1.0) == 9999.0)
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val r = rankOf(sorted, d.quantile(q))
      assert(math.abs(r - q) <= 0.02, s"q=$q est-rank=$r")
    }
    // state is O(delta), not O(n)
    assert(d.size < 300, s"clusters=${d.size}")
  }

  test("sharded merge preserves the bound and the total weight") {
    val xs = stream(10000)
    val sorted = xs.sorted.toIndexedSeq
    val shards = xs.grouped(1429).toSeq.map { sh =>
      val d = new TDigest(100); sh.foreach(d.add(_)); d
    }
    val merged = shards.reduce((a, b) => a.mergeInPlace(b))
    assert(merged.totalWeight == 10000L)
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val r = rankOf(sorted, merged.quantile(q))
      assert(math.abs(r - q) <= 0.02, s"q=$q est-rank=$r")
    }
  }

  test("serialization round-trip preserves quantiles and weight") {
    val d = new TDigest(100)
    stream(5000).foreach(d.add(_))
    val back = TDigest.deserialize(d.serialize())
    assert(back.totalWeight == d.totalWeight)
    for (q <- Seq(0.0, 0.1, 0.5, 0.9, 1.0))
      assert(back.quantile(q) == d.quantile(q), s"q=$q")
    assert(TDigest.quantileBytes(d.serialize(), 0.5) == d.quantile(0.5))
    assert(TDigest.weightBytes(d.serialize()) == 5000L)
  }

  test("empty, truncated and foreign blobs are rejected by name") {
    val d = new TDigest(100)
    stream(500).foreach(d.add(_))
    BadBlobs.assertRejected("t-digest", TDigest.deserialize)(
      Array.emptyByteArray, d.serialize().take(20), d.serialize().dropRight(16),
      new Hll(12).serialize(), CountMin.create(4, 64).serialize())
  }

  test("two-level column aggregation: per-group digests fold; bound holds") {
    val n = 6000
    val df = (0 until n).map(i =>
        ((i % 7).toLong, ((i * 2654435761L) % 104729).toDouble))
      .toDF("grp", "v")
    val perGroup = df.groupBy("grp").agg(gf.tdigest_agg(col("v")).as("dg"),
      count(lit(1)).as("n"), expr("percentile(v, 0.5)").as("exact50"))
    // per-group weight and median bound
    val rows = perGroup
      .select(col("grp"), col("n"), col("exact50"),
        gf.tdigest_weight(col("dg")).as("w"),
        gf.tdigest_quantile(col("dg"), lit(0.5)).as("est50"))
      .collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getAs[Long]("w") == r.getAs[Long]("n"))
      // values are spread over [0, 104729): a loose value-space check
      assert(math.abs(r.getAs[Double]("est50") - r.getAs[Double]("exact50"))
        <= 104729 * 0.05)
    }
    // fold the 7 digests into one; global weight + median rank bound
    val g = perGroup.agg(gf.tdigest_merge_agg(col("dg")).as("dg")).select(
      gf.tdigest_weight(col("dg")).as("w"),
      gf.tdigest_quantile(col("dg"), lit(0.5)).as("est50")).head()
    assert(g.getAs[Long]("w") == n.toLong)
    val all = (0 until n).map(i => ((i * 2654435761L) % 104729).toDouble)
      .sorted.toIndexedSeq
    val r = all.count(_ <= g.getAs[Double]("est50")).toDouble / n
    assert(math.abs(r - 0.5) <= 0.02, s"merged est-rank=$r")
  }
}
