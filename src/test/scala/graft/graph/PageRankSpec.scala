package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/**
 * PageRank differential + invariant tests: the distributed loop must
 * match a naive driver-side power iteration to float-sum tolerance on
 * an arbitrary graph (dangling nodes included), preserve Σr = 1 at
 * every size, and agree with the closed-form symmetric case.
 */
class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  /** Naive reference power iteration (same semantics, driver-side). */
  private def naive(n: Int, edges: Seq[(Long, Long)], d: Double,
                    iters: Int): Map[Long, Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = (0L until n.toLong).map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = r.collect { case (u, ru) if !out.contains(u) => ru }.sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = (0L until n.toLong).map { v =>
        v -> ((1.0 - d) / n + d * (in.getOrElse(v, 0.0) + dangling / n))
      }.toMap
    }
    r
  }

  test("pagerank matches the naive power iteration on a dangling graph") {
    val n = 30
    // pseudo-random deterministic graph; nodes ≡ 4 (mod 5) are dangling
    val edges = for {
      i <- 0L until n.toLong if i % 5 != 4
      j <- 1 to 3
    } yield (i, (i * 7 + j * 11) % n)
    val nodes = (0L until n.toLong).toDF("id")
    val e = edges.toDF("src", "dst")
    val got = PageRank.run(nodes, "id", e, "src", "dst", 0.85, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = naive(n, edges, 0.85, 5)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, r) =>
      assert(math.abs(r - want(id)) < 1e-12, s"node $id: $r vs ${want(id)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks must sum to 1")
  }

  test("symmetric 2-cycle stays uniform; multi-edges count multiply") {
    val nodes = Seq(0L, 1L).toDF("id")
    val e = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    PageRank.run(nodes, "id", e, "src", "dst", 0.85, 4)
      .collect().foreach(r => assert(math.abs(r.getDouble(1) - 0.5) < 1e-12))
    // 0 →→ 1 (double edge) plus 0 → 0 self loop: out-weights 2/3 vs 1/3
    val e2 = Seq((0L, 1L), (0L, 1L), (0L, 0L), (1L, 0L)).toDF("src", "dst")
    val got = PageRank.run(nodes, "id", e2, "src", "dst", 0.85, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = naive(2, Seq((0L, 1L), (0L, 1L), (0L, 0L), (1L, 0L)), 0.85, 5)
    got.foreach { case (id, r) => assert(math.abs(r - want(id)) < 1e-12) }
  }

  test("all-dangling graph degrades to uniform (pure teleport + mass)") {
    val nodes = (0L until 4L).toDF("id")
    val e = spark.emptyDataset[(Long, Long)].toDF("src", "dst")
    val got = PageRank.run(nodes, "id", e, "src", "dst", 0.85, 3)
      .collect().map(_.getDouble(1))
    got.foreach(r => assert(math.abs(r - 0.25) < 1e-12))
  }

  /** Naive personalized reference: teleport + dangling both follow d. */
  private def naiveTrust(n: Int, edges: Seq[(Long, Long)], dv: Map[Long, Double],
                         d: Double, iters: Int): Map[Long, Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = (0L until n.toLong).map(v => v -> dv.getOrElse(v, 0.0)).toMap
    for (_ <- 1 to iters) {
      val dangling = r.collect { case (u, ru) if !out.contains(u) => ru }.sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = (0L until n.toLong).map { v =>
        val w = dv.getOrElse(v, 0.0)
        v -> ((1.0 - d) * w + d * (in.getOrElse(v, 0.0) + dangling * w))
      }.toMap
    }
    r
  }

  test("trustrank matches the naive personalized iteration; Σt = 1; unreachable spam ≈ 0") {
    val n = 30
    val edges = (for {
      i <- 0L until 20L if i % 5 != 4 // nodes 20+ form an island farm
      j <- 1 to 3
    } yield (i, (i * 7 + j * 11) % 20)) ++
      // spam island 20..29: dense internal links, NO path from any seed
      (for (i <- 20L until 30L; j <- 1 to 3) yield (i, 20L + (i + j) % 10))
    val seeds = Seq(0L, 5L, 10L)
    val dv = seeds.map(_ -> 1.0 / 3).toMap
    val nodes = (0L until n.toLong).toDF("id")
    val tele = seeds.map(s => (s, 1.0 / 3)).toDF("id", "w")
    val got = PageRank.runPersonalized(nodes, "id",
        edges.toDF("src", "dst"), "src", "dst", tele, "w", 0.85, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = naiveTrust(n, edges, dv, 0.85, 5)
    got.foreach { case (id, r) =>
      assert(math.abs(r - want(id)) < 1e-12, s"node $id: $r vs ${want(id)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "trust must sum to 1")
    // the island gets NOTHING however densely it self-links
    (20L until 30L).foreach(v => assert(got(v) == 0.0, s"spam node $v got ${got(v)}"))
    // principled floor: t(seed) ≥ (1−α)·d(seed), so Σ over seeds ≥ 1−α
    assert(seeds.map(got).sum >= 0.15 - 1e-12, "seeds lost their teleport floor")
  }

  test("uniform teleport reduces trustrank to plain pagerank (ulp-identical)") {
    val n = 24
    val edges = for {
      i <- 0L until n.toLong if i % 4 != 3
      j <- 1 to 2
    } yield (i, (i * 13 + j * 5) % n)
    val nodes = (0L until n.toLong).toDF("id")
    val e = edges.toDF("src", "dst")
    val uniform = (0L until n.toLong).map(v => (v, 1.0 / n)).toDF("id", "w")
    val pr = PageRank.run(nodes, "id", e, "src", "dst", 0.85, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tr = PageRank.runPersonalized(nodes, "id", e, "src", "dst",
        uniform, "w", 0.85, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // d/N computed as (1/N cached in the vector) vs (literal / N) can
    // differ by an ulp — demand agreement at float-sum tolerance
    tr.foreach { case (id, r) => assert(math.abs(r - pr(id)) < 1e-15, s"node $id") }
  }

  test("round plans stay flat: 12 rounds analyse to no more joins than 1") {
    // each round's plan starts at the previous round's pin, so the
    // analysed plan does not grow with the round count (an unpinned round
    // nests its predecessor's joins). This says nothing about RDD
    // lineage, which grows under flat plans while no job truncates the
    // pins; graft.PinSpec asserts that every carried pin is truncated
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val n = 30
    val nodes = (0L until n.toLong).toDF("id")
    val e = (0L until n.toLong).filter(_ % 5 != 4)
      .map(i => (i, (i * 7 + 3) % n)).toDF("src", "dst")
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case j: Join => j }.size
    def ranks(iters: Int) = PageRank.run(nodes, "id", e, "src", "dst", 0.85, iters)
    val (many, one) = (joins(ranks(12)), joins(ranks(1)))
    assert(many <= one, s"12 rounds: $many joins, 1 round: $one")
    // and no round in between escapes its pin
    val w = PageRank.uniform(nodes, "id", e, "src", "dst")
    val perRound = Kernel.rounds(w.start, 12)((s, _) => PageRank.step(w, 0.85)(s))
      .tail.map(joins)
    assert(perRound.forall(_ <= one), s"joins per round: $perRound")
  }

  test("40 rounds keep the size estimate within Long.MaxValue") {
    // the state joins itself each round; an unclamped pin multiplies the
    // estimate round after round (about 200 digits by round 40)
    val n = 30
    val nodes = (0L until n.toLong).toDF("id")
    val e = (0L until n.toLong).map(i => (i, (i * 7 + 3) % n)).toDF("src", "dst")
    val ranks = PageRank.run(nodes, "id", e, "src", "dst", 0.85, iters = 40)
    val size = ranks.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size <= BigInt(Long.MaxValue), s"size estimate $size")
  }
}
