package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.CrawlConfig
import graft.synth.{PageSynth, SynthConfig}
import graft.frontier.{Crawler, FrontierStore}

class StreamingCrawlSpec extends SparkTestBase {
  import spark.implicits._

  private val synthCfg = SynthConfig(nPages = 300L, nHosts = 4, hotFrac = 0.5)
  private val crawlCfg = CrawlConfig(maxDepth = 10, perHostBudget = 15,
    saltBuckets = 4, bloomBuckets = 8)
  private lazy val pages = PageSynth.pages(spark, synthCfg).toDF()
  private lazy val robots = PageSynth.robots(spark, synthCfg).toDF()
  private lazy val seeds = PageSynth.seeds(synthCfg).toDF("url")
  private lazy val keyed = Crawler.keyPages(pages, 4)

  test("streaming crawl matches the batch crawler's fetch set and politeness") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream").toString
    StreamingCrawl.writeSeeds(spark, root, seeds)
    val listener = new CrawlQueryListener
    spark.streams.addListener(listener)
    StreamingCrawl.seenLoads = 0
    val q = StreamingCrawl.start(spark, root, keyed, robots, crawlCfg)
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)

    // T7: the listener captured per-micro-batch metrics
    assert(listener.batches.nonEmpty)
    assert(listener.totalRows > 0 && listener.meanRate > 0.0)
    // incremental seen state: the full store was loaded exactly once per
    // query start, not once per round
    assert(StreamingCrawl.seenLoads == 1,
      s"expected 1 full seen load, got ${StreamingCrawl.seenLoads}")

    val streamOrder = StreamingCrawl.readOrder(spark, root).cache()
    val batch = Crawler.crawl(spark, pages, robots, seeds, crawlCfg, 50, None, Some(keyed))

    // same seen set
    val sSet = streamOrder.select("urlHash").as[Long].collect().toSet
    val bSet = batch.order.select("urlHash").as[Long].collect().toSet
    assert(sSet == bSet, s"stream=${sSet.size} batch=${bSet.size}")
    // politeness per (round, host)
    val over = streamOrder.groupBy("round", "host").count()
      .filter($"count" > crawlCfg.perHostBudget).count()
    assert(over == 0)
    // no double-fetch
    assert(streamOrder.groupBy("urlHash").count().filter($"count" > 1).count() == 0)
    // identical per-round order rows
    val s = streamOrder.select($"round", $"host", $"hostRank", $"canonUrl")
      .as[(Int, String, Int, String)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq
    val b = batch.order.select($"round", $"host", $"hostRank", $"canonUrl")
      .as[(Int, String, Int, String)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(s == b)
    streamOrder.unpersist()
  }

  test("streaming stateful dedup (T4): per-key state ≡ batch exact dedup across micro-batches") {
    import graft.extract.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    new java.io.File(s"$root/in").mkdirs()
    def facs(rows: (String, String, String, String, String, String, String)*) =
      rows.toDF("sourceUrl", "name", "address", "city", "state", "zipCode", "phone")
    // batch 1: in-batch phone+addr dup pair (different names) + unique
    val b1 = facs(
      ("u01", "Alpha Home", "1 Oak St", "Springfield", "KS", "11111", "(555) 111-2222"),
      ("u02", "Alpha Home LLC", "1 Oak St", "Springfield", "KS", "11111", "(555) 111-2222"),
      ("u03", "Beta House", "2 Elm St", "Riverton", "TX", "22222", "(555) 333-4444"))
    // batch 2: cross-batch dup of u01 + fresh row + full-sig dup of u03
    val b2 = facs(
      ("u04", "Alpha Home", "1 Oak St", "Springfield", "KS", "11111", "(555) 111-2222"),
      ("u05", "Gamma Lodge", "3 Pine St", "Lakewood", "CA", "33333", "(555) 555-6666"),
      ("u06", "Beta House", "2 Elm St", "Riverton", "TX", "22222", "(555) 333-4444"))
    Seq(b1, b2).zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"sd$i").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$root/in/batch$i.parquet"))
    }

    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = StreamingDedup.dedupStream(stream).writeStream
      .format("memory").queryName("sdedup").outputMode("append")
      .option("checkpointLocation", s"$root/ck")
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sdedup")
      .select("sourceUrl").as[String].collect().toSet
    val batchSurvivors = Dedup.exact(b1.unionByName(b2))
      .select("sourceUrl").as[String].collect().toSet
    assert(batchSurvivors == Set("u01", "u03", "u05"))
    assert(streamed == batchSurvivors)

    // batch-mode equivalence of the same operator
    val batchMode = StreamingDedup.dedupStream(b1.unionByName(b2))
      .select("sourceUrl").as[String].collect().toSet
    assert(batchMode == batchSurvivors)
  }

  private def orderKey(df: DataFrame): Seq[(Int, String, Int, String)] =
    df.select($"round", $"host", $"hostRank", $"canonUrl")
      .as[(Int, String, Int, String)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq
  private def urlHashes(df: DataFrame): Set[Long] =
    df.select("urlHash").as[Long].collect().toSet
  private def batchCrawl(cfg: CrawlConfig) =
    Crawler.crawl(spark, pages, robots, seeds, cfg, 50, None, Some(keyed))

  /** A fresh stream root with the seeds written. */
  private def seededRoot(name: String): String = {
    val root = java.nio.file.Files.createTempDirectory(name).toString
    StreamingCrawl.writeSeeds(spark, root, seeds)
    root
  }

  private def drain(root: String, cfg: CrawlConfig): Unit = {
    val q = StreamingCrawl.start(spark, root, keyed, robots, cfg)
    try q.processAllAvailable() finally q.stop()
  }

  /** Run the stream until it has committed `n` micro-batches, then stop
    * it (the batch running then is interrupted). Returns the last round
    * the store committed. */
  private def stopAfterBatches(root: String, cfg: CrawlConfig, n: Int): Int = {
    val q = StreamingCrawl.start(spark, root, keyed, robots, cfg)
    try {
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (Option(q.lastProgress).forall(_.batchId < n - 1)) {
        assert(q.isActive, s"stream stopped early: ${q.exception}")
        assert(System.nanoTime() < deadline, s"no $n batches within 180 s")
        Thread.sleep(20)
      }
    } finally q.stop()
    new FrontierStore(spark, s"$root/store").lastCommittedRound.get
  }

  /** Stop a stream after 2 batches, restart it to the end, and check it
    * against the uninterrupted batch crawl. Returns the stream's root. */
  private def assertStopRestartEqualsBatch(cfg: CrawlConfig): String = {
    val root = seededRoot("graft-stream-resume")
    val roundsAfterStop = stopAfterBatches(root, cfg, 2)
    drain(root, cfg)

    val order = StreamingCrawl.readOrder(spark, root).cache()
    val finalRound = order.select(max("round")).as[Int].collect().head
    assert(roundsAfterStop >= 2 && roundsAfterStop < finalRound,
      s"phase 1 must stop mid-crawl: stopped at round $roundsAfterStop of $finalRound")
    // exactly-once: no urlHash fetched twice across the two query lifetimes
    assert(order.groupBy("urlHash").count().filter($"count" > 1).count() == 0)
    // equals an uninterrupted batch crawl, round by round
    assert(orderKey(order) == orderKey(batchCrawl(cfg).order))
    order.unpersist()
    root
  }

  test("streaming crawl resumes from checkpoint without reprocessing rounds") {
    assertStopRestartEqualsBatch(crawlCfg)
  }

  test("streaming crawl with compactEvery = 2, stopped and restarted, equals the batch crawl") {
    val root = assertStopRestartEqualsBatch(crawlCfg.copy(compactEvery = 2))
    assert(new FrontierStore(spark, s"$root/store").baseRound >= 1,
      "compaction must have run")
    assert(!new java.io.File(s"$root/store/seen/round=0").exists(), "gc must have run")
  }

  test("Crawler.crawl resumes a store the stream wrote; equals the uninterrupted batch crawl") {
    val root = seededRoot("graft-stream-handoff")
    val stoppedAt = stopAfterBatches(root, crawlCfg, 2)
    val st = new FrontierStore(spark, s"$root/store")
    val resumed = Crawler.crawl(spark, pages, robots, seeds, crawlCfg, 50, Some(st), Some(keyed))
    assert(resumed.metrics.head.round == stoppedAt + 1)
    val batch = batchCrawl(crawlCfg)
    val k = st.lastCommittedRound.get
    assert(k == batch.metrics.last.round)
    assert(orderKey(st.readOrderUpTo(k)) == orderKey(batch.order))
    assert(urlHashes(st.readSeenUpTo(k)) == urlHashes(batch.seen))
  }

  test("streaming crawl ≡ batch crawl under the per-site cap (maxPagesPerSite = 20)") {
    val cfg = crawlCfg.copy(maxPagesPerSite = 20)
    val root = seededRoot("graft-stream-cap")
    drain(root, cfg)
    val order = StreamingCrawl.readOrder(spark, root).cache()
    assert(orderKey(order) == orderKey(batchCrawl(cfg).order))
    val perHost = order.groupBy("host").count().as[(String, Long)].collect().toMap
    assert(perHost.values.forall(_ <= 20), s"fetched per host: $perHost")
    assert(perHost.values.exists(_ == 20), s"the cap must bind: $perHost")
    order.unpersist()
  }

  test("streaming incremental LSH dedup ≡ batch one-shot; store loaded once per query start") {
    import graft.text.TextPipeline
    val root = java.nio.file.Files.createTempDirectory("graft-sinc").toString
    new java.io.File(s"$root/batches").mkdirs()
    // planted corpus: period-9 base text → 9 distinct 5-shingles; appended
    // words give controllable jaccards (the TextPipelineSpec construction)
    val base = Seq.fill(9)("the quick data is good and fast for all").mkString(" ")
    val other = "different vocabulary entirely with the unique zebra words making twelve tokens here"
    val d1 = Seq((1L, base), (2L, base + " alpha beta")) // J(1,2)=9/11≈0.82 → 2 dropped
    val d2 = Seq((3L, base + " alpha beta gamma delta"), // J(2,3)=11/13≈0.85 → dropped
                                                         // via DROPPED doc 2 (J(1,3)=0.69)
      (4L, other))                                       // survives
    val d3 = Seq((5L, other + " extra"), (6L, base))     // 5 dropped via 4; 6 via 1
    def writeDelta(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$root/batches/$name.parquet"))
    }
    val cfg = TextPipeline.PipelineConfig(numPerms = 64, bands = 32)
    StreamingIncrementalDedup.storeLoads = 0
    // phase 1: two deltas, one micro-batch each
    writeDelta(d1, "d1")
    val q1 = StreamingIncrementalDedup.start(spark, root, cfg)
    q1.processAllAvailable()
    writeDelta(d2, "d2")
    q1.processAllAvailable()
    q1.stop()
    // phase 2: restart from checkpoint (state reload path), third delta
    writeDelta(d3, "d3")
    val q2 = StreamingIncrementalDedup.start(spark, root, cfg)
    q2.processAllAvailable()
    q2.stop()

    val streamed = StreamingIncrementalDedup.readSurvivors(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val all = (d1 ++ d2 ++ d3).toDF("doc_id", "text")
    val dropped = TextPipeline.nearDupPairsFromSigs(
        TextPipeline.signatureShingles(all, "doc_id", "text", cfg.numPerms, cfg.k),
        "doc_id", cfg.numPerms, cfg.bands, cfg.threshold)
      .select("idB").distinct().as[Long].collect().toSet
    val oneShot = (d1 ++ d2 ++ d3).map(_._1).filterNot(dropped.contains).sorted
    assert(streamed == Seq(1L, 4L), s"streamed=$streamed")
    assert(streamed == oneShot, s"stream=$streamed oneShot=$oneShot")
    // incremental state: one full store load per query start, not per batch
    assert(StreamingIncrementalDedup.storeLoads == 2,
      s"expected 2 store loads (one per start), got ${StreamingIncrementalDedup.storeLoads}")
  }

  test("warcMetrics (T7): tumbling per-host windows; late rows beyond the watermark dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Boolean)]
    val q = StreamingCrawl.warcMetrics(
        ms.toDF.toDF("warc_ts", "host", "fetchOk"))
      .writeStream.format("memory").queryName("warcm").outputMode("append")
      .start()
    try {
      // batch 1: two fetches in the 10:00 window + a 12:00 event that
      // advances the watermark (1h delay) to 11:00
      ms.addData((ts("10:00:10"), "a", true), (ts("10:00:40"), "a", true),
        (ts("12:00:00"), "a", true))
      q.processAllAvailable()
      // batch 2: a row at 09:30 — older than the 11:00 watermark → dropped
      ms.addData((ts("09:30:00"), "a", false))
      q.processAllAvailable()
      // batch 3: push the watermark past every closed window
      ms.addData((ts("14:00:00"), "a", true))
      q.processAllAvailable()
      val out = spark.table("warcm")
        .select(date_format($"window.start", "HH:mm").as("w"),
          $"host", $"fetches", $"misses")
        .as[(String, String, Long, Long)].collect().toSet
      assert(out.contains(("10:00", "a", 2L, 0L))) // late 09:30 miss not merged anywhere
      assert(!out.exists(_._1 == "09:30"), s"late row must be dropped, got $out")
    } finally q.stop()
  }
}
