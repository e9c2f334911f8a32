package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.core.CrawlConfig
import graft.dedup.DupClusters
import graft.frontier.{CrawlRound, Crawler, FrontierStore}
import graft.graph.{Hits, KCore, Kernel, LabelProp, PageRank}
import graft.streaming.{BatchFold, StreamingFreq}
import graft.synth.{PageSynth, SynthConfig}

/**
 * The one-pin rule and its lineage guarantee. No `localCheckpoint` call
 * lives outside [[Pin]], and every frame a loop carries from one round
 * to the next is a settled pin: checkpointed, with a lineage of the
 * pinned RDD and its checkpoint only, whatever the round count. Under
 * AQE a lazy pin is truncated only by a job that reaches it, so a loop
 * that never runs one grows its RDD lineage every round.
 */
class PinSpec extends SparkTestBase {
  import spark.implicits._

  /** RDDs reachable from `rdd` through its dependencies, itself included. */
  private def reachable(rdd: RDD[_]): Int = {
    val seen = mutable.Set[Int]()
    val todo = mutable.Stack[RDD[_]](rdd)
    while (todo.nonEmpty) {
      val r = todo.pop()
      if (seen.add(r.id)) r.dependencies.foreach(d => todo.push(d.rdd))
    }
    seen.size
  }

  /** RDDs the executed plan of `df` reaches. */
  private def lineage(df: DataFrame): Int = reachable(df.queryExecution.toRdd)

  /** `df` is a pin that a job has materialised and truncated: its RDD is
    * checkpointed and reaches only its checkpoint. */
  private def assertSettled(what: String, df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        assert(r.rdd.isCheckpointed, s"$what: pin not checkpointed")
        assert(reachable(r.rdd) <= 2, s"$what: pin reaches ${reachable(r.rdd)} RDDs")
      case p => fail(s"$what: not a pin but ${p.nodeName}")
    }

  test("no localCheckpoint call in src/main/scala outside graft/Pin.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val pin = new java.io.File(root, "graft/Pin.scala").getCanonicalFile
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(root)
      .filter(f => f.getName.endsWith(".scala") && f.getCanonicalFile != pin)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (l, i) if l.contains("localCheckpoint(") => s"${f.getPath}:${i + 1}"
        }.toList
        finally src.close()
      }
    assert(offenders.isEmpty, s"pin through graft.Pin: ${offenders.mkString(", ")}")
  }

  // a 200-node graph: every node has out-edges, some have several
  private val n = 200
  private lazy val nodes = (0L until n.toLong).toDF("id")
  private lazy val edges = (0L until n.toLong)
    .flatMap(i => Seq((i, (i * 7 + 3) % n), (i, (i * 13 + 5) % n)))
    .filter { case (a, b) => a != b || a % 3 == 0 }.toDF("src", "dst")

  test("30 rounds of PageRank, HITS and LabelProp settle every carried pin") {
    val w = PageRank.uniform(nodes, "id", edges, "src", "dst")
    Kernel.rounds(w.start, 30)((s, _) => PageRank.step(w, 0.85)(s)).zipWithIndex
      .foreach { case (s, t) => assertSettled(s"PageRank state $t", s) }
    val ids = Kernel.nodes(nodes, "id")
    val e = Kernel.edges(edges, "src", "dst")
    Kernel.rounds(ids.withColumn("v", lit(1.0)), 30)(Hits.step(ids, e)).zipWithIndex
      .foreach { case (s, t) => assertSettled(s"HITS state $t", s) }
    Kernel.rounds(ids.withColumn("lbl", col("id")), 30)((lab, _) => LabelProp.step(e)(lab))
      .zipWithIndex.foreach { case (s, t) => assertSettled(s"LabelProp state $t", s) }
    // the operators' own loops: a 30-round result reaches no more RDDs
    // than a 2-round one
    def pr(iters: Int) = PageRank.run(nodes, "id", edges, "src", "dst", iters = iters)
    def hits(iters: Int) = Hits.run(nodes, "id", edges, "src", "dst", iters = iters)
    def lpa(iters: Int) = LabelProp.run(nodes, "id", edges, "src", "dst", iters = iters)
    Seq[(String, Int => DataFrame, Int)](("PageRank", pr, 30), ("HITS", hits, 15),
        ("LabelProp", lpa, 30)).foreach { case (what, run, long) =>
      val (many, few) = (lineage(run(long)), lineage(run(2)))
      assert(many <= few, s"$what: $many RDDs after $long iterations, $few after 2")
    }
  }

  test("the fixpoint loop settles every carried pin: 32 k-core rounds, DupClusters") {
    // peeling a 64-node path at k = 2 drops its two ends per round
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val states = mutable.ArrayBuffer[DataFrame]()
    val core = Kernel.fixpoint(KCore.adjacency(path, "src", "dst"), "cap", 40, "peel")(
      { s => val rows = Pin.count(Seq(s)).head._1; states += s; rows })(KCore.peel(2))
    assert(core.isEmpty && states.size >= 32, s"${states.size} rounds")
    states.zipWithIndex.foreach { case (s, t) => assertSettled(s"k-core state $t", s) }
    // DupClusters converges in O(log n) rounds: its longest planted input,
    // a reversed 64-node path, reaches no more RDDs than one edge does
    def comps(len: Long) = DupClusters.components(
      (0L until len).map(i => (i + 1, i)).toDF("idA", "idB"))
    val (many, few) = (lineage(comps(63L)), lineage(comps(1L)))
    assert(many <= few, s"DupClusters: $many RDDs on the path, $few on one edge")
  }

  test("the crawl round settles every pin the next round carries") {
    val synth = SynthConfig(nPages = 800L, nHosts = 6, hotFrac = 0.5)
    val cfg = CrawlConfig(maxDepth = 6, perHostBudget = 25, saltBuckets = 4, bloomBuckets = 8)
    val pages = Crawler.keyPages(PageSynth.pages(spark, synth).toDF(), 4)
    val robots = Pin(PageSynth.robots(spark, synth).toDF())
    val seeds = PageSynth.seeds(synth).toDF("url")
    val dir = java.nio.file.Files.createTempDirectory("graft-pin").toString
    val st = new FrontierStore(spark, dir)
    val frontier = Pin(CrawlRound.seedFrontier(seeds))
    Crawler.commitSeeds(st, frontier)
    var state = Crawler.storedState(st, 0, frontier)
    var round = 0
    while (round < 6 && state.frontierCount > 0) {
      state = Crawler.step(state, pages, robots, cfg).to
      round += 1
      Seq("frontier" -> state.frontier, "seen" -> state.seen,
          "blooms" -> state.bloom.get.blooms, "hostFetched" -> state.hostFetched)
        .foreach { case (what, df) => assertSettled(s"round $round $what", df) }
    }
    assert(round >= 4, s"only $round rounds")
    val r = Crawler.crawl(spark, null, robots, seeds, cfg, 6, None, Some(pages))
    assert(r.metrics.size == round)
    assertSettled("crawl seen", r.seen)
  }

  test("a BatchFold stream settles the state it carries") {
    val root = java.nio.file.Files.createTempDirectory("graft-pin-fold").toString
    new java.io.File(s"$root/batches").mkdirs()
    val q = StreamingFreq.start(spark, root)
    try {
      (1 to 5).foreach { b =>
        val tmp = java.nio.file.Files.createTempDirectory(s"pin$b").toString
        (0 until 200).map(i => (s"src${i % 3}", s"tok-${(i * 31 + b * 7) % 50}"))
          .toDF("source", "tok").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$root/batches/b$b.parquet"))
        q.processAllAvailable()
        BatchFold.state(root) match {
          case Some(s: DataFrame) => assertSettled(s"batch $b state", s)
          case other => fail(s"batch $b: no carried frame ($other)")
        }
      }
    } finally q.stop()
  }
}
