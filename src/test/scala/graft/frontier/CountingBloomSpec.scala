package graft.frontier

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.{BadBlobs, CountingBloom, CrawlConfig, CuckooFilter}

/**
 * Counting-Bloom (deletable seen pre-filter) — kernel laws, the
 * distributed state algebra (add-merge ≡ rebuild, retire-subtract ≡
 * rebuild, BYTE-identical), and the recrawl-retirement integration the
 * plain bloom cannot express (a retired url must pass the pre-filter
 * again without a full-state rebuild).
 */
class CountingBloomSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = CrawlConfig(bloomBuckets = 8)

  test("kernel: no false negatives; delete B from A∪B == filter(A) byte-identically") {
    val a = (0L until 500L).map(i => i * 7919 + 13)
    val b = (0L until 200L).map(i => i * 104729 + 7)
    val ab = CountingBloom.create(1000, 0.01)
    (a ++ b).foreach(ab.add)
    a.foreach(v => assert(ab.mightContain(v)))
    b.foreach(v => assert(ab.mightContain(v)))
    b.foreach(ab.remove)
    val onlyA = CountingBloom.create(1000, 0.01)
    a.foreach(onlyA.add)
    assert(ab.serialize.sameElements(onlyA.serialize),
      "counters(A∪B) − counters(B) must equal counters(A) exactly")
    a.foreach(v => assert(ab.mightContain(v), "no false negatives after delete"))
    // FP sanity: most non-members test negative at fpp=1%
    val probes = (0L until 1000L).map(i => i * 999983 + 501)
      .filterNot(v => a.contains(v))
    val fps = probes.count(ab.mightContain)
    assert(fps < probes.size / 20, s"fp rate too high: $fps/${probes.size}")
  }

  test("kernel: subtract of a batch filter == element-wise removes") {
    val a = (0L until 300L).map(i => i * 31 + 1)
    val b = (0L until 100L).map(i => i * 31 + 1) // subset of a
    val f1 = CountingBloom.create(500, 0.01)
    a.foreach(f1.add)
    b.foreach(f1.remove)
    val f2 = CountingBloom.create(500, 0.01)
    a.foreach(f2.add)
    val bf = CountingBloom.create(500, 0.01)
    b.foreach(bf.add)
    f2.subtractInPlace(bf)
    assert(f1.serialize.sameElements(f2.serialize))
  }

  test("kernel: empty, truncated and foreign blobs are rejected by name") {
    val f = CountingBloom.create(100, 0.01)
    (0L until 50L).foreach(f.add)
    BadBlobs.assertRejected("counting-Bloom", CountingBloom.deserialize)(
      Array.emptyByteArray, f.serialize.take(8), f.serialize.dropRight(1),
      CuckooFilter.create(100).serialize)
  }

  private def bytesByBucket(df: org.apache.spark.sql.DataFrame): Map[Long, Array[Byte]] =
    df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("cbloom")).toMap

  test("state algebra: add-merge and retire-subtract are byte-identical to rebuilds") {
    val seen0 = (0L until 2000L).map(i => i * 6364136223846793005L + 1442695040888963407L)
    val delta = (0L until 300L).map(i => i * 2862933555777941757L + 3037000499L)
    val retired = seen0.filter(_ % 5 == 0)
    val cap = 1000L

    val s0 = seen0.toDF("urlHash")
    val d = delta.toDF("urlHash")
    val r = retired.toDF("urlHash")

    // add: merge(state, delta) == build(seen0 ∪ delta)
    val merged = SeenSet.addToCounting(
      SeenSet.buildCountingBlooms(s0, cap, cfg), d, cap, cfg)
    val rebuiltU = SeenSet.buildCountingBlooms(s0.unionByName(d), cap, cfg)
    val m1 = bytesByBucket(merged); val m2 = bytesByBucket(rebuiltU)
    assert(m1.keySet == m2.keySet)
    m1.foreach { case (k, v) => assert(v.sameElements(m2(k)), s"bucket $k add") }

    // retire: subtract(state, retired) == build(seen0 ∖ retired)
    val retiredState = SeenSet.retireFromCounting(
      SeenSet.buildCountingBlooms(s0, cap, cfg), r, cap, cfg)
    val rebuiltR = SeenSet.buildCountingBlooms(
      s0.join(r, Seq("urlHash"), "left_anti"), cap, cfg)
    val r1 = bytesByBucket(retiredState); val r2 = bytesByBucket(rebuiltR)
    assert(r1.keySet == r2.keySet)
    r1.foreach { case (k, v) => assert(v.sameElements(r2(k)), s"bucket $k retire") }
  }

  test("filterUnseenCounting == exact anti-join; retirement re-admits the url") {
    val seen = (0L until 1000L).map(_ * 37 + 5)
    val cands = (0L until 1500L).map(_ * 37 + 5) // first 1000 seen
    val seenDf = seen.toDF("urlHash")
    val candDf = cands.toDF("urlHash")
    val state = SeenSet.buildCountingBlooms(seenDf, 512L, cfg)

    val got = SeenSet.filterUnseenCounting(candDf, seenDf, state, cfg)
      .select("urlHash").as[Long].collect().toSet
    val want = cands.toSet -- seen.toSet
    assert(got == want)

    // retire every 10th seen hash → those urls must pass the filter again
    // WITHOUT touching the rest (plain blooms would need a full rebuild)
    val retired = seen.filter(_ % 10 == 3)
    val state2 = SeenSet.retireFromCounting(state, retired.toDF("urlHash"), 512L, cfg)
    val seen2 = seenDf.join(retired.toDF("urlHash"), Seq("urlHash"), "left_anti")
    val got2 = SeenSet.filterUnseenCounting(candDf, seen2, state2, cfg)
      .select("urlHash").as[Long].collect().toSet
    assert(got2 == (cands.toSet -- seen.toSet) ++ retired.toSet)
  }

  test("recrawl integration: changed urls re-enter via counting retirement") {
    import graft.functions.gf
    val urls = (0 until 40).map(i => s"https://h${i % 4}.example.com/p$i")
    val oldSnap = urls.map(u => (u, s"fp-$u-v1")).toDF("url", "fp")
    val newSnap = urls.zipWithIndex.map { case (u, i) =>
      (u, if (i % 4 == 0) s"fp-$u-v2" else s"fp-$u-v1")
    }.toDF("url", "fp")
    val seen = oldSnap
      .select(xxhash64(gf.canonicalize_url(col("url"))).as("urlHash"))
    val plan = SnapshotDiff.recrawlPlan(oldSnap, newSnap, "url", "fp", seen)
    val changedHashes = plan.urlDiff.filter(col("status") === "changed")
      .select("urlHash")

    val state = SeenSet.buildCountingBlooms(seen, 64L, cfg)
    val state2 = SeenSet.retireFromCounting(state, changedHashes, 64L, cfg)
    val readmitted = SeenSet.filterUnseenCounting(
      seen.select("urlHash"), plan.retiredSeen, state2, cfg)
      .as[Long].collect().toSet
    val wantChanged = changedHashes.as[Long].collect().toSet
    assert(readmitted == wantChanged,
      "exactly the changed urls pass the seen filter after retirement")
  }
}
