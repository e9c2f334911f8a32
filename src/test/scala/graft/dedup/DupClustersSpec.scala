package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/**
 * Connected components over dup-pair graphs: hand-planted topologies
 * (path, clique, forest), a union-find cross-check on seeded random
 * graphs, and the repo's determinism-across-partitionings rule.
 */
class DupClustersSpec extends SparkTestBase {
  import spark.implicits._

  /** Local union-find ground truth. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("a 64-node path collapses to one min-rooted component (log-round convergence)") {
    val edges = (0L until 63L).map(i => (i + 1, i)) // reversed order on purpose
    val got = DupClusters.components(edges.toDF("idA", "idB"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 64 && got.values.forall(_ == 0L))
  }

  test("an unconverged edge set throws naming the round cap") {
    // the 64-node path needs several star rounds; one is not a fixpoint
    val edges = (0L until 63L).map(i => (i + 1, i))
    val err = intercept[IllegalArgumentException] {
      DupClusters.components(edges.toDF("idA", "idB"), maxIters = 1)
    }
    assert(err.getMessage.contains("maxIters = 1"), err.getMessage)
  }

  test("clique + disjoint pair + isolated docs; survivors keep min ids only") {
    val clique = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (j, i)
    val edges = (clique ++ Seq((100L, 200L))).toDF("idA", "idB")
    val comp = DupClusters.components(edges).as[(Long, Long)].collect().toMap
    assert((10L to 14L).forall(comp(_) == 10L))
    assert(comp(100L) == 100L && comp(200L) == 100L)
    assert(comp.size == 7) // isolated docs never appear
    val docs = (0L to 300L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val kept = DupClusters.survivors(docs, "doc_id", edges)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.exists(Seq(11L, 12L, 13L, 14L, 200L).contains))
    assert(kept.contains(10L) && kept.contains(100L) && kept.contains(0L))
    assert(kept.size == 301 - 5)
    val sizes = DupClusters.clusterSizes(edges)
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(10L -> 5L, 100L -> 2L))
  }

  test("seeded random graphs match union-find; deterministic across partitionings") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val edges = (0 until 150).map { i =>
        val a = graft.synth.Synth.mix2(seed, i.toLong) % 80
        val b = graft.synth.Synth.mix2(seed, i.toLong + 1000) % 80
        (math.abs(a), math.abs(b))
      }.filter { case (a, b) => a != b }
      val expect = ufComponents(edges)
      val df = edges.toDF("idA", "idB")
      val got = DupClusters.components(df).as[(Long, Long)].collect().toMap
      assert(got == expect, s"seed $seed")
      val got2 = DupClusters.components(df.repartition(7))
        .as[(Long, Long)].collect().toMap
      assert(got2 == expect, s"seed $seed repartitioned")
    }
  }

  test("survivorsBy keeps the argmax member per cluster, min id on ties") {
    val docs = Seq(
      (10L, "a b c"), (11L, "a b c d e"), (12L, "a"), // cluster: 11 longest
      (20L, "x y"), (21L, "x y"),                     // tie → min id 20
      (30L, "lonely isolated doc")).toDF("doc_id", "text")
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("idA", "idB")
    val kept = DupClusters.survivorsBy(docs, "doc_id", edges,
        graft.text.TextOps.tokenCountWs($"text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 20L, 30L))
  }

  test("leakageFreeSplit: cluster members share one split; isolated docs ≡ hashSplit") {
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 50L, 51L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val got = DupClusters.leakageFreeSplit(docs, "doc_id", edges, 0.8, 0.1)
      .select("doc_id", "split_key", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 7)
    // clusters key on their min id and agree on the split
    assert(Seq(1L, 2L, 3L).map(got).distinct.size == 1 && got(1L)._1 == 1L)
    assert(got(10L) == got(11L) && got(10L)._1 == 10L)
    // isolated docs: exactly hashSplit of their own id
    val plain = graft.text.Sampling.hashSplit(
        Seq(50L, 51L).toDF("doc_id"), "doc_id", 0.8, 0.1)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    Seq(50L, 51L).foreach { id =>
      assert(got(id)._1 == id && got(id)._2 == plain(id))
    }
    // deterministic across partitionings
    val b = DupClusters.leakageFreeSplit(docs.repartition(5), "doc_id",
        edges.repartition(3), 0.8, 0.1)
      .select("doc_id", "split_key", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(b == got)
  }

  test("duplicate and reversed input edges are harmless; empty edge set yields empty") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("idA", "idB")
    val got = DupClusters.components(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(DupClusters.components(Seq.empty[(Long, Long)].toDF("idA", "idB")).count() == 0)
  }
}
