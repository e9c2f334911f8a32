package graft.frontier

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.{BadBlobs, CountingBloom, CrawlConfig, CuckooFilter}

/**
 * Cuckoo filter (compact deletable seen pre-filter) — kernel laws, the
 * ANSWER-identity state algebra (merge ≡ rebuild, retire-subtract ≡
 * rebuild, for every probe — bytes are layout-dependent and explicitly
 * NOT compared), the exact-stash overflow path, and the recrawl
 * integration mirroring CountingBloomSpec's.
 */
class CuckooFilterSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = CrawlConfig(bloomBuckets = 8)

  /** probe panel: members ∪ foreign keys, answers compared pointwise */
  private def answers(f: CuckooFilter, probes: Seq[Long]): Seq[Boolean] =
    probes.map(f.mightContain)

  test("kernel: no false negatives; fpp well under 1e-3; delete keeps the rest") {
    val a = (0L until 5000L).map(i => i * 7919 + 13)
    val b = (0L until 2000L).map(i => i * 104729 + 7)
    val ab = CuckooFilter.create(8000)
    (a ++ b).foreach(ab.add)
    (a ++ b).foreach(v => assert(ab.mightContain(v), s"false negative $v"))
    b.foreach(v => assert(ab.remove(v), s"remove($v) must find a copy"))
    a.foreach(v => assert(ab.mightContain(v), "no false negatives after delete"))
    // fpp: 16-bit fingerprints in 4-slot buckets ⇒ ≈ 8/65536 ≈ 1.2e-4
    val probes = (0L until 20000L).map(i => i * 999983 + 501)
      .filterNot(a.toSet).filterNot(b.toSet)
    val fps = probes.count(ab.mightContain)
    assert(fps <= probes.size / 1000,
      s"fp rate too high for 16-bit fingerprints: $fps/${probes.size}")
  }

  test("kernel: empty, truncated and foreign blobs are rejected by name") {
    val f = CuckooFilter.create(100)
    (0L until 50L).foreach(f.add)
    BadBlobs.assertRejected("cuckoo", CuckooFilter.deserialize)(
      Array.emptyByteArray, f.serialize.take(12), f.serialize.dropRight(2),
      CountingBloom.create(100, 0.01).serialize)
  }

  test("kernel: merge and subtract are ANSWER-identical to rebuilds (layout-independent)") {
    val s1 = (0L until 3000L).map(i => i * 6364136223846793005L + 1442695040888963407L)
    val s2 = (0L until 1200L).map(i => i * 2862933555777941757L + 3037000499L)
    val probes = s1 ++ s2 ++ (0L until 5000L).map(i => i * 999983 + 77)

    val fa = CuckooFilter.create(5000); s1.foreach(fa.add)
    val fb = CuckooFilter.create(5000); s2.foreach(fb.add)
    fa.mergeInPlace(fb)
    val rebuilt = CuckooFilter.create(5000); (s1 ++ s2).foreach(rebuilt.add)
    assert(answers(fa, probes) == answers(rebuilt, probes),
      "merge(A,B) must answer exactly like rebuild(inputs(A) ∪ inputs(B))")

    // subtract a retire batch (⊆ inserted) — answers like rebuild(s ∖ r)
    val retired = s1.filter(_ % 5 == 0)
    val delta = CuckooFilter.create(5000); retired.foreach(delta.add)
    fa.subtractEntriesOf(delta)
    val rebuilt2 = CuckooFilter.create(5000)
    ((s1.filterNot(_ % 5 == 0)) ++ s2).foreach(rebuilt2.add)
    assert(answers(fa, probes) == answers(rebuilt2, probes),
      "state − retireBatch must answer exactly like rebuild(seen ∖ retired)")
  }

  test("kernel: overload lands in the exact stash — still zero false negatives") {
    val keys = (0L until 400L).map(i => i * 31 + 1)
    val tiny = CuckooFilter.create(8) // 8 buckets min ⇒ 32 slots for 400 keys
    keys.foreach(tiny.add)
    assert(tiny.stashSize > 0, "overload must overflow to the stash")
    keys.foreach(v => assert(tiny.mightContain(v), s"false negative $v"))
    // delete through the stash path too, then the rest still answers
    val drop = keys.filter(_ % 3 == 0)
    drop.foreach(v => assert(tiny.remove(v)))
    keys.filterNot(_ % 3 == 0)
      .foreach(v => assert(tiny.mightContain(v), "survivors intact"))
    // serialize round-trips the stash
    val back = CuckooFilter.deserialize(tiny.serialize)
    assert(back.stashSize == tiny.stashSize)
    keys.filterNot(_ % 3 == 0).foreach(v => assert(back.mightContain(v)))
  }

  test("state algebra over columns: add-merge and retire answer like rebuilds") {
    val seen0 = (0L until 2000L).map(i => i * 6364136223846793005L + 1442695040888963407L)
    val delta = (0L until 300L).map(i => i * 2862933555777941757L + 3037000499L)
    val retired = seen0.filter(_ % 5 == 0)
    val probes = (seen0 ++ delta ++ (0L until 3000L).map(i => i * 999983 + 9)).distinct
    val cap = 1000L

    def answersByBucket(state: org.apache.spark.sql.DataFrame): Map[Long, Seq[Boolean]] = {
      val byBucket = state.collect()
        .map(r => r.getLong(0) -> CuckooFilter.deserialize(r.getAs[Array[Byte]]("ckf")))
        .toMap
      probes.groupBy(h => math.floorMod(h, cfg.bloomBuckets).toLong)
        .map { case (b, ps) => b -> ps.map(p => byBucket.get(b).exists(_.mightContain(p))) }
    }

    val s0 = seen0.toDF("urlHash"); val d = delta.toDF("urlHash")
    val r = retired.toDF("urlHash")

    val merged = SeenSet.addToCuckoo(
      SeenSet.buildCuckoos(s0, cap, cfg), d, cap, cfg)
    val rebuiltU = SeenSet.buildCuckoos(s0.unionByName(d), cap, cfg)
    assert(answersByBucket(merged) == answersByBucket(rebuiltU), "add-merge")

    val retiredState = SeenSet.retireFromCuckoo(
      SeenSet.buildCuckoos(s0, cap, cfg), r, cap, cfg)
    val rebuiltR = SeenSet.buildCuckoos(
      s0.join(r, Seq("urlHash"), "left_anti"), cap, cfg)
    assert(answersByBucket(retiredState) == answersByBucket(rebuiltR), "retire")
  }

  test("filterUnseenCuckoo == exact anti-join; retirement re-admits the url") {
    val seen = (0L until 1000L).map(_ * 37 + 5)
    val cands = (0L until 1500L).map(_ * 37 + 5) // first 1000 seen
    val seenDf = seen.toDF("urlHash")
    val candDf = cands.toDF("urlHash")
    val state = SeenSet.buildCuckoos(seenDf, 512L, cfg)

    val got = SeenSet.filterUnseenCuckoo(candDf, seenDf, state, cfg)
      .select("urlHash").as[Long].collect().toSet
    assert(got == cands.toSet -- seen.toSet)

    val retired = seen.filter(_ % 10 == 3)
    val state2 = SeenSet.retireFromCuckoo(state, retired.toDF("urlHash"), 512L, cfg)
    val seen2 = seenDf.join(retired.toDF("urlHash"), Seq("urlHash"), "left_anti")
    val got2 = SeenSet.filterUnseenCuckoo(candDf, seen2, state2, cfg)
      .select("urlHash").as[Long].collect().toSet
    assert(got2 == (cands.toSet -- seen.toSet) ++ retired.toSet)
  }
}
