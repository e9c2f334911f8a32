package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.core.CrawlConfig
import graft.synth.{PageSynth, Synth, SynthConfig}
import graft.functions.gf

class CrawlSpec extends SparkTestBase {
  import spark.implicits._

  private val synthCfg = SynthConfig(nPages = 800L, nHosts = 6, hotFrac = 0.5)
  private val crawlCfg = CrawlConfig(maxDepth = 6, perHostBudget = 25, saltBuckets = 4,
    bloomBuckets = 8)
  private lazy val pages = PageSynth.pages(spark, synthCfg).toDF()
  private lazy val robots = PageSynth.robots(spark, synthCfg).toDF()
  private lazy val seeds = PageSynth.seeds(synthCfg).toDF("url")
  private lazy val keyed = Crawler.keyPages(pages, 4)

  private def runCrawl(rounds: Int, store: Option[FrontierStore] = None) =
    Crawler.crawl(spark, pages, robots, seeds, crawlCfg, rounds, store, Some(keyed))
  // one shared full crawl reused by assertions that only read its output
  private lazy val fullCrawl = runCrawl(8)

  private def withShufflePartitions[T](parts: Int)(body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }
  private def orderKey(df: DataFrame): Seq[(Int, String, Int, String)] =
    df.select($"round", $"host", $"hostRank", $"canonUrl")
      .as[(Int, String, Int, String)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq
  private def urlHashes(df: DataFrame): Set[Long] =
    df.select("urlHash").as[Long].collect().toSet

  test("synthetic corpus is closed: every extracted link resolves to a page or a known host root") {
    val hashes = keyed.select("urlHash").as[Long].collect().toSet
    // sample some pages and check their outlinks exist in the corpus
    val linkHashes = keyed.limit(200)
      .select(explode(regexp_extract_all(col("html").cast("string"),
        lit("href=[\"']([^\"']+)[\"']"), lit(1))).as("href"), col("url"))
      .filter(!$"href".rlike("^(mailto:|tel:|javascript:)"))
      .select(gf.url_id(gf.resolve_url(gf.canonicalize_url($"url"), $"href")).as("h"))
      .as[Long].collect()
    assert(linkHashes.nonEmpty)
    assert(linkHashes.forall(hashes.contains), "dangling link in synthetic corpus")
  }

  test("crawl fetches pages, politeness budget holds, no url fetched twice") {
    val order = fullCrawl.order.cache()
    val total = order.count()
    assert(total > 100, s"expected a substantive crawl, got $total fetches")
    // politeness: ≤ B fetches per (host, round)
    val overBudget = order.groupBy("round", "host").count()
      .filter($"count" > crawlCfg.perHostBudget).count()
    assert(overBudget == 0)
    // seen-set correctness: no urlHash fetched twice across all rounds
    val dupFetches = order.groupBy("urlHash").count().filter($"count" > 1).count()
    assert(dupFetches == 0)
    // every fetch hit the page store (corpus is closed)
    assert(order.filter(!$"fetchOk").count() == 0)
    // all 6 hosts reached via cross-host root links
    assert(order.select("host").distinct().count() == synthCfg.nHosts)
    order.unpersist()
  }

  test("crawl order is deterministic across parallelism levels") {
    def orderRows(parts: Int): Seq[(Int, String, Int, String)] = withShufflePartitions(parts) {
      val full = Crawler.crawl(spark, pages, robots, seeds, crawlCfg, 3, None, None)
      // the lean drain graft.Bench times (no store, payloads dropped after
      // discovery) must run the same rounds to the same seen set
      val lean = Crawler.crawl(spark, pages, robots, seeds,
        crawlCfg.copy(keepPayload = false), 3, None, None)
      assert(lean.metrics.map(_.copy(wallMs = 0L)) == full.metrics.map(_.copy(wallMs = 0L)),
        s"keepPayload=false round metrics differ at $parts partitions")
      assert(urlHashes(lean.seen) == urlHashes(full.seen),
        s"keepPayload=false seen set differs at $parts partitions")
      orderKey(full.order)
    }
    val a = orderRows(2)
    val b = orderRows(7)
    assert(a == b, "crawl order must not depend on partitioning")
  }

  test("bloom pre-filter agrees with the exact anti-join") {
    val seen = keyed.select("urlHash").limit(400)
    val cands = CrawlRound.seedFrontier(
      keyed.select(col("url")).limit(900).toDF())
    val exact = cands.join(seen, Seq("urlHash"), "left_anti")
      .select("urlHash").as[Long].collect().toSet
    val viaBloom = SeenSet.filterUnseen(cands, seen, 400L, crawlCfg)
      .select("urlHash").as[Long].collect().toSet
    assert(viaBloom == exact)
  }

  test("resume from checkpoint: interrupted crawl equals uninterrupted") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-store-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-store-b").toString
    runCrawl(5, Some(new FrontierStore(spark, dirA)))
    // interrupted: run 2 rounds, then resume to 5 with a fresh store handle
    runCrawl(2, Some(new FrontierStore(spark, dirB)))
    runCrawl(5, Some(new FrontierStore(spark, dirB)))
    // state survives reconfiguration: interrupted at 2 shuffle partitions,
    // resumed at 7
    val dirR = java.nio.file.Files.createTempDirectory("graft-store-r").toString
    withShufflePartitions(2)(runCrawl(2, Some(new FrontierStore(spark, dirR))))
    withShufflePartitions(7)(runCrawl(5, Some(new FrontierStore(spark, dirR))))
    val sA = new FrontierStore(spark, dirA)
    val k = sA.lastCommittedRound.get
    for ((what, dir) <- Seq("same partitions" -> dirB, "2 -> 7 partitions" -> dirR)) {
      val s = new FrontierStore(spark, dir)
      assert(s.lastCommittedRound == sA.lastCommittedRound, what)
      assert(orderKey(s.readOrderUpTo(k)) == orderKey(sA.readOrderUpTo(k)), what)
      assert(urlHashes(s.readSeenUpTo(k)) == urlHashes(sA.readSeenUpTo(k)), what)
    }
  }

  test("resume across compact+gc equals uninterrupted; superseded dirs dropped") {
    val dirC = java.nio.file.Files.createTempDirectory("graft-store-c").toString
    val dirD = java.nio.file.Files.createTempDirectory("graft-store-d").toString
    runCrawl(5, Some(new FrontierStore(spark, dirC)))
    // interrupted at round 2, then compact THROUGH the committed round,
    // gc everything superseded, and resume to 5 on the compacted store
    runCrawl(2, Some(new FrontierStore(spark, dirD)))
    val sD0 = new FrontierStore(spark, dirD)
    val k0 = sD0.lastCommittedRound.get
    // a crash leftover under frontier/ must neither abort gc nor be deleted
    val junk = new java.io.File(s"$dirD/frontier/round=tmp")
    assert(junk.mkdirs())
    java.nio.file.Files.write(new java.io.File(junk, "part-0").toPath, Array[Byte](1))
    sD0.compact(k0)
    sD0.gc(retainFrontiers = 1)
    assert(sD0.baseRound == k0)
    assert(new java.io.File(junk, "part-0").exists(), "gc must leave a stray dir alone")
    // the covered per-round dirs and old frontiers are gone
    assert(!new java.io.File(s"$dirD/seen/round=0").exists())
    assert(!new java.io.File(s"$dirD/order/round=1").exists())
    assert(!new java.io.File(s"$dirD/frontier/round=0").exists())
    assert(new java.io.File(s"$dirD/frontier/round=$k0").exists())
    runCrawl(5, Some(new FrontierStore(spark, dirD)))
    val sC = new FrontierStore(spark, dirC)
    val sD = new FrontierStore(spark, dirD)
    assert(sC.lastCommittedRound == sD.lastCommittedRound)
    val k = sC.lastCommittedRound.get
    assert(orderKey(sC.readOrderUpTo(k)) == orderKey(sD.readOrderUpTo(k)))
    assert(urlHashes(sC.readSeenUpTo(k)) == urlHashes(sD.readSeenUpTo(k)))
    // a second compact at the final round is idempotent-safe and keeps
    // the same data while bounding storage
    sD.compact(k); sD.gc()
    assert(orderKey(sC.readOrderUpTo(k)) ==
      orderKey(new FrontierStore(spark, dirD).readOrderUpTo(k)))
  }

  test("auto-compaction (cfg.compactEvery) during the crawl equals caller-managed store") {
    val dirE = java.nio.file.Files.createTempDirectory("graft-store-e").toString
    val dirF = java.nio.file.Files.createTempDirectory("graft-store-f").toString
    Crawler.crawl(spark, pages, robots, seeds, crawlCfg, 5,
      Some(new FrontierStore(spark, dirE)), Some(keyed))
    Crawler.crawl(spark, pages, robots, seeds, crawlCfg.copy(compactEvery = 2), 5,
      Some(new FrontierStore(spark, dirF)), Some(keyed))
    val sE = new FrontierStore(spark, dirE)
    val sF = new FrontierStore(spark, dirF)
    assert(sE.lastCommittedRound == sF.lastCommittedRound)
    val k = sE.lastCommittedRound.get
    assert(sF.baseRound >= 2, "auto-compaction must have run")
    assert(orderKey(sE.readOrderUpTo(k)) == orderKey(sF.readOrderUpTo(k)))
    assert(urlHashes(sE.readSeenUpTo(k)) == urlHashes(sF.readSeenUpTo(k)))
    assert(sF.fileCount < sE.fileCount,
      s"compacted store must hold fewer files: ${sF.fileCount} vs ${sE.fileCount}")
  }

  test("long-lived store: compact+gc every 8 rounds keeps the file count flat; equals an uncompacted twin") {
    // 3 urls first seen per round, deterministic from the round
    def synthRound(k: Int) = {
      val seen = (0 until 3).map(i => k.toLong * 10 + i).toDF("urlHash")
      val frontier = seen.withColumn("url", concat(lit("https://h"), $"urlHash", lit(".example/")))
      val order = seen.select($"urlHash", lit(k).as("round"))
      (frontier.coalesce(1), seen.coalesce(1), order.coalesce(1))
    }
    def tempStore(name: String) =
      new FrontierStore(spark, java.nio.file.Files.createTempDirectory(name).toString)
    val compacted = tempStore("graft-store-long")
    val twin = tempStore("graft-store-twin")
    val filesAfterCompaction = (0 until 32).flatMap { k =>
      val (f, sd, o) = synthRound(k)
      compacted.writeRound(k, f, sd, o)
      twin.writeRound(k, f, sd, o)
      if (k % 8 == 7) { compacted.compact(k); compacted.gc(); Some(compacted.fileCount) }
      else None
    }
    assert(filesAfterCompaction.size == 4)
    assert(filesAfterCompaction.forall(_ == filesAfterCompaction.head),
      s"file count grows with the round count: $filesAfterCompaction")
    assert(filesAfterCompaction.last < twin.fileCount / 4,
      s"compacted ${filesAfterCompaction.last} vs uncompacted ${twin.fileCount} files")
    val k = 31
    assert(compacted.baseRound == k && twin.baseRound == -1)
    assert(urlHashes(compacted.readSeenUpTo(k)) == urlHashes(twin.readSeenUpTo(k)))
    def orderRows(s: FrontierStore) =
      s.readOrderUpTo(k).as[(Long, Int)].collect().sorted.toSeq
    assert(orderRows(compacted) == orderRows(twin))
    assert(orderRows(twin).size == 31 * 3)
  }

  /** A store whose round-2 commit lands its frontier write, then fails. */
  private class FailingStore(root: String) extends FrontierStore(spark, root) {
    val boom = new IllegalStateException("commit of round 2 failed")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    override def writeRound(round: Int, frontier: DataFrame, seenDelta: DataFrame,
                            order: DataFrame): Unit = {
      started.add(round)
      if (round == 2) {
        frontier.write.parquet(s"$root/frontier/round=2")
        Thread.sleep(300)
        throw boom
      }
      super.writeRound(round, frontier, seenDelta, order)
    }
  }

  /** path -> (size, mtime) of every file under `root`. */
  private def treeState(root: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => f.toString -> (java.nio.file.Files.size(f),
        java.nio.file.Files.getLastModifiedTime(f).toMillis))
      .toMap
  }

  test("pipelined commit: a failed commit fails the crawl, and nothing commits after it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-fail").toString
    val st = new FailingStore(dir)
    val e = intercept[IllegalStateException](runCrawl(5, Some(st)))
    assert(e eq st.boom, s"crawl must rethrow the commit's own error, got $e")
    // the manifest names the last round whose commit completed …
    assert(new FrontierStore(spark, dir).lastCommittedRound.contains(1))
    // … no commit started after the failed one …
    import scala.jdk.CollectionConverters._
    assert(st.started.asScala.toSeq == Seq(0, 1, 2))
    // … and nothing under the store root changes once crawl has thrown
    val atThrow = treeState(dir)
    Thread.sleep(1500)
    assert(treeState(dir) == atThrow, "the store changed after crawl threw")
  }

  test("pipelined commit: on return the manifest names the last round run") {
    for (every <- Seq(0, 2)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-store-last").toString
      val r = Crawler.crawl(spark, pages, robots, seeds, crawlCfg.copy(compactEvery = every),
        5, Some(new FrontierStore(spark, dir)), Some(keyed))
      val last = r.metrics.last.round
      val st = new FrontierStore(spark, dir)
      assert(st.lastCommittedRound.contains(last), s"compactEvery=$every")
      if (every > 0) assert(st.baseRound == last - last % every, s"compactEvery=$every")
    }
  }

  test("extract_text expression output equals the synthetic golden text column") {
    val mismatches = pages
      .withColumn("extracted", gf.extract_text($"html"))
      .filter($"extracted" =!= $"text").count()
    assert(mismatches == 0)
  }

  test("robots disallow is enforced: no /careers/ url ever fetched") {
    assert(fullCrawl.order.filter($"canonUrl".contains("/careers/")).count() == 0)
  }

  test("exclude patterns (F2) drop news/blog urls from discovery") {
    assert(fullCrawl.order.filter($"canonUrl".contains("/news/")).count() == 0)
  }

  test("link Generator: (href, anchor_text, rel) in one pass; anchor text flips the F3 verdict") {
    import graft.functions.UrlPredicates
    val html = """<html><body>
      |<a href="/about/team" rel="nofollow">Visit <b>Our Locations</b> Directory</a>
      |<a href="/about/staff">Meet the team</a>
      |<a href="/locations/springfield">Springfield</a>
      |<a id="x">no href, skipped</a>
      |</body></html>""".stripMargin
    val links = Seq((html, "https://x.example.com/about/team"))
      .toDF("html", "base")
      .select(gf.extract_links($"html").as(Seq("href", "anchor_text", "rel")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(links.toSeq == Seq(
      ("/about/team", "Visit Our Locations Directory", "nofollow"),
      ("/about/staff", "Meet the team", null),
      ("/locations/springfield", "Springfield", null)))

    // F3 full form: /about/team is NOT a facility url by path, but its
    // anchor text contains facility keywords → verdict flips to true
    val verdicts = Seq(
      ("https://x.example.com/about/team", "Visit Our Locations Directory"),
      ("https://x.example.com/about/staff", "Meet the team"),
      ("https://x.example.com/locations/springfield", "Springfield"))
      .toDF("url", "anchor")
      .select(UrlPredicates.isFacilityUrl($"url").as("byUrl"),
        UrlPredicates.isFacilityLink($"url", $"anchor").as("byLink"))
      .as[(Boolean, Boolean)].collect().toSeq
    assert(verdicts == Seq((false, true), (false, false), (true, true)))

    // the crawl's linkRecords pass matches the raw html's anchor set
    val rec = CrawlRound.linkRecords(
      pages.limit(5).withColumn("canonUrl", gf.canonicalize_url($"url"))
        .withColumn("depth", lit(0)).withColumn("fetchOk", lit(true)))
    assert(rec.count() > 0)
    assert(rec.filter($"anchor_text".isNull).count() == 0)
  }

  test("bucketed page store: crawl ≡ in-memory store; fetch join prunes buckets at runtime") {
    val dir = java.nio.file.Files.createTempDirectory("pstore").toString
    PageStore.write(pages, dir, nBuckets = 8)
    val store = PageStore.open(spark, dir)
    val bucketCrawl = Crawler.crawl(spark, pages, robots, seeds,
      crawlCfg.copy(pageBuckets = 8), 8, None, Some(store))
    val a = fullCrawl.order.select($"round", $"host", $"hostRank", $"canonUrl")
      .as[(Int, String, Int, String)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq
    val b = bucketCrawl.order.select($"round", $"host", $"hostRank", $"canonUrl")
      .as[(Int, String, Int, String)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(a == b)

    // the store scan carries a runtime bucket-pruning filter (dynamic
    // partition pruning from the broadcast frontier), or at minimum a
    // partition filter on the bucket column
    val r = CrawlRound.run(1, CrawlRound.seedFrontier(seeds), store, robots,
      crawlCfg.copy(pageBuckets = 8))
    val plan = r.raw.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the bucketed scan:\n$plan")
  }

  test("robots crawl-delay caps a host's per-round fetches (T3 pacing)") {
    import graft.synth.PageSynth
    // host 1 slows to crawl-delay 10 s → ≤ ceil(60/10) = 6 fetches/round
    val slowRobots = PageSynth.robots(spark, synthCfg).toDF()
      .withColumn("crawlDelay",
        when($"host" === Synth.hostName(1), 10.0).otherwise($"crawlDelay"))
    val r = Crawler.crawl(spark, pages, slowRobots, seeds,
      crawlCfg.copy(roundSeconds = 60.0), 6, None, Some(keyed))
    val perRound = r.order.groupBy("round", "host").count()
    assert(perRound.filter($"host" === Synth.hostName(1) && $"count" > 6).count() == 0)
    // not vacuous: the slow host is crawled, and fast hosts exceed 6
    assert(r.order.filter($"host" === Synth.hostName(1)).count() > 0)
    assert(perRound.filter($"host" =!= Synth.hostName(1) && $"count" > 6).count() > 0)
  }

  test("duplicated robots rows: max crawl-delay wins, no frontier row duplication") {
    import graft.synth.PageSynth
    // two robots rows for host 1 (delay 5 s and 10 s): the delay-cap join
    // must uniquify per host (else budget-path rows duplicate → double
    // fetch) and keep the conservative max ⇒ ≤ ceil(60/10) = 6 per round
    val base = PageSynth.robots(spark, synthCfg).toDF()
      .withColumn("crawlDelay",
        when($"host" === Synth.hostName(1), 10.0).otherwise($"crawlDelay"))
    val dupRobots = base.unionByName(
      base.filter($"host" === Synth.hostName(1)).withColumn("crawlDelay", lit(5.0)))
    val r = Crawler.crawl(spark, pages, dupRobots, seeds,
      crawlCfg.copy(roundSeconds = 60.0), 6, None, Some(keyed))
    val perRound = r.order.groupBy("round", "host").count()
    assert(perRound.filter($"host" === Synth.hostName(1) && $"count" > 6).count() == 0)
    assert(r.order.filter($"host" === Synth.hostName(1)).count() > 0)
    // no URL fetched twice (the no-double-fetch invariant survives dup rows)
    assert(r.order.groupBy("canonUrl").count().filter($"count" > 1).count() == 0)
  }

  test("incremental seen-bloom: delta merges ≡ full rebuild byte-for-byte; capacity rebuild is geometric") {
    val cfg = CrawlConfig(bloomBuckets = 8)
    val all = spark.range(0, 3000)
      .select(xxhash64(col("id")).as("urlHash"), col("id"))
    def slice(lo: Long, hi: Long) =
      all.filter($"id" >= lo && $"id" < hi).select("urlHash")
    // three rounds of deltas folded into carried state
    var st = SeenSet.advance(None, slice(0, 1000), slice(0, 1000), 1000, cfg)
    st = SeenSet.advance(Some(st), slice(1000, 2000), slice(0, 2000), 2000, cfg)
    st = SeenSet.advance(Some(st), slice(2000, 3000), slice(0, 3000), 3000, cfg)
    // merge branch taken (capacity never grew) …
    assert(st.capacityPerBucket == SeenSet.capacityFor(1000, cfg))
    // … and the merged filters are byte-identical to a batch build of the
    // same capacity (bit union of same-shaped blooms = bloom of the union)
    def bytes(df: DataFrame): Map[Long, Seq[Byte]] =
      df.as[(Long, Array[Byte])].collect().toMap.view.mapValues(_.toSeq).toMap
    val batch = SeenSet.buildBlooms(slice(0, 3000), st.capacityPerBucket, cfg)
    assert(bytes(st.blooms) == bytes(batch))

    // pushing past ~80 % of capacity forces a geometric rebuild …
    val big = spark.range(0, 9000).select(xxhash64(col("id")).as("urlHash"))
    val st2 = SeenSet.advance(Some(st), big, big, 9000, cfg)
    assert(st2.capacityPerBucket >= st.capacityPerBucket * 2)
    // … with zero false negatives after the rebuild
    val misses = big
      .withColumn("bloomBucket", pmod($"urlHash", lit(cfg.bloomBuckets)))
      .join(broadcast(st2.blooms), Seq("bloomBucket"))
      .filter(!gf.might_contain($"bloom", $"urlHash"))
    assert(misses.count() == 0)
  }

  test("pagination cap (W7): no url past page 50 is ever crawled or queued") {
    assert(fullCrawl.order
      .filter(regexp_extract(lower($"canonUrl"), "page[-=/](\\d{1,9})", 1) =!= "")
      .filter(regexp_extract(lower($"canonUrl"), "page[-=/](\\d{1,9})", 1).cast("int") > 50)
      .count() == 0)
    // not vacuous: sub-50 pagination pages do get crawled
    assert(fullCrawl.order
      .filter($"canonUrl".contains("/our-locations/page-")).count() > 0)
  }

  test("probe-URL seeding: facility-listing probes join round 0; misses dead-letter (T8)") {
    val probes = CrawlRound.probeUrls(seeds)
    // 16 keywords × 4 suffix forms, resolved against the seed root
    assert(probes.count() ==
      graft.functions.UrlPredicates.facilityKeywords.length * 4L)
    assert(probes.filter($"url" === s"https://${Synth.hostName(0)}/locations/").count() == 1)

    // budget > probes so round 1 fetches the whole seeded frontier
    val probed = Crawler.crawl(spark, pages, robots, seeds,
      crawlCfg.copy(probeSeeds = true, perHostBudget = 100), 1, None, Some(keyed))
    // probes for nonexistent pages flow through the dead-letter path
    assert(probed.order.filter(!$"fetchOk").count() == 64)
    // the real seed still fetches
    assert(probed.order.filter($"fetchOk").count() == 1)
  }

  test("recrawl scheduling: changed page re-fetched next round, unchanged not, removed retired") {
    // v1 crawl done (fullCrawl). Pick three FETCHED pages deterministically:
    // X will change, R will be removed, Y stays unchanged.
    val fetchedPg = pages.withColumn("urlHash", gf.url_id($"url"))
      .join(fullCrawl.order.select("urlHash"), Seq("urlHash"), "left_semi")
      .orderBy("url").limit(3).collect()
    val Array(xUrl, rUrl, yUrl) = fetchedPg.map(_.getAs[String]("url"))
    val Array(xHash, rHash, yHash) = fetchedPg.map(_.getAs[Long]("urlHash"))
    val aUrl = s"https://${new java.net.URI(xUrl).getHost}/brand-new-recrawl-page.html"

    // v2 snapshot: X's content changes, R disappears, A appears
    val v2 = pages.filter($"url" =!= rUrl)
      .withColumn("text", when($"url" === xUrl,
        concat($"text", lit(" updated content v2"))).otherwise($"text"))
      .unionByName(pages.filter($"url" === xUrl)
        .withColumn("url", lit(aUrl))
        .withColumn("text", lit("fresh page content")))
    val oldSnap = pages.select($"url", md5($"text").as("fp"))
    val newSnap = v2.select($"url", md5($"text").as("fp"))

    val plan = SnapshotDiff.recrawlPlan(oldSnap, newSnap, "url", "fp",
      fullCrawl.seen, scoreBoost = 5.0)
    val statuses = plan.urlDiff.select("url", "status")
      .as[(String, String)].collect().toMap
    assert(statuses(xUrl) == "changed" && statuses(rUrl) == "removed" &&
      statuses(aUrl) == "added" && statuses(yUrl) == "unchanged")

    // frontier = exactly {X, A}, score-boosted above plain seeding
    val fUrls = plan.frontier.select("url").as[String].collect().toSet
    assert(fUrls == Set(xUrl, aUrl), s"frontier=$fUrls")
    val boosted = plan.frontier.filter($"url" === xUrl).select("score").as[Double].head()
    val plain = CrawlRound.seedFrontier(Seq(xUrl).toDF("url"))
      .select("score").as[Double].head()
    assert(boosted == plain + 5.0)

    // seen retirement: X and R retired, Y still seen
    val retired = plan.retiredSeen.select("urlHash").as[Long].collect().toSet
    assert(!retired.contains(xHash) && !retired.contains(rHash) && retired.contains(yHash))

    // next round against the v2 store: X and A fetched, nothing else
    val keyed2 = Crawler.keyPages(v2, 4)
    val cands = SeenSet.filterUnseen(plan.frontier, plan.retiredSeen,
      retired.size.toLong, crawlCfg)
    val r = CrawlRound.run(99, cands, keyed2, robots, crawlCfg)
    val fetchedNow = r.order.filter($"fetchOk").select("urlHash").as[Long].collect().toSet
    assert(fetchedNow.contains(xHash), "changed page must be re-fetched")
    assert(fetchedNow.size == 2, s"only X and A re-fetch, got $fetchedNow")
    assert(!fetchedNow.contains(yHash), "unchanged page must NOT be re-fetched")
    keyed2.unpersist()

    // the retirement is the enabling step: against the UNRETIRED seen set
    // the changed page would have been dropped by the J1 filter
    val withoutRetire = SeenSet.filterUnseen(plan.frontier, fullCrawl.seen,
      fullCrawl.seen.count(), crawlCfg)
    assert(!withoutRetire.select("url").as[String].collect().toSet.contains(xUrl))
  }

  test("cumulative per-site cap (L3) holds across rounds") {
    val capped = Crawler.crawl(spark, pages, robots, seeds,
      crawlCfg.copy(maxPagesPerSite = 30), 8, None, Some(keyed))
    val over = capped.order.groupBy("host").count().filter($"count" > 30).count()
    assert(over == 0)
    // the hot host actually hits the cap (not vacuous)
    assert(capped.order.groupBy("host").count().filter($"count" === 30).count() >= 1)
  }

  test("a capped crawl ends once its hosts have used their per-site cap, not at maxRounds") {
    val capped = Crawler.crawl(spark, pages, robots, seeds,
      crawlCfg.copy(maxPagesPerSite = 30), 20, None, Some(keyed))
    assert(capped.metrics.size < 20,
      s"frontier per round: ${capped.metrics.map(_.frontierNext).mkString(",")}")
    assert(capped.metrics.last.frontierNext == 0)
    // not vacuous: the cap binds
    assert(capped.order.groupBy("host").count().filter($"count" === 30).count() >= 1)
  }

  test("crawl checkpoints carry a size estimate of at most 19 digits") {
    val r = Crawler.crawl(spark, pages, robots, seeds, crawlCfg.copy(perHostBudget = 1),
      12, None, Some(keyed))
    assert(r.metrics.size == 12)
    val digits = r.seen.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length
    assert(digits <= 19, s"seen size estimate has $digits digits")
  }

  test("adaptiveIntervals: smoothed change-rate MLE, clamping, no-signal rows dropped") {
    val hist = Seq(
      (1L, "unchanged"), (1L, "unchanged"),       // x=0 -> pinned to max
      (2L, "changed"), (2L, "unchanged"),         // x=1 of 2
      (3L, "changed"), (3L, "changed"),           // x=2 of 2 -> clamped to min
      (4L, "changed"),                            // single check
      (5L, "added"), (5L, "removed")              // no observations at all
    ).toDF("doc_id", "status")
    val got = SnapshotDiff.adaptiveIntervals(hist, "doc_id", "status",
        checkIntervalHours = 10.0, minHours = 6.5, maxHours = 100.0)
      .select("doc_id", "n_checks", "n_changed", "lambda_hat", "interval_h")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    def rd(v: Double, s: Int) =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def lam(n: Int, x: Int) = rd(-math.log((n - x + 0.5) / (n + 0.5)) / 10.0, 6)
    def ivl(n: Int, x: Int) =
      if (x == 0) 100.0 else rd(math.min(100.0, math.max(6.5, 1.0 / lam(n, x))), 4)
    assert(got(1L) == ((1L, 2L, 0L, 0.0, 100.0)))
    assert(1.0 / got(1L)._4 > 0) // +0.0, not -0.0: 1/lambda = +Inf
    assert(got(2L) == ((2L, 2L, 1L, lam(2, 1), ivl(2, 1))))
    assert(got(3L) == ((3L, 2L, 2L, lam(2, 2), 6.5))) // hits the min clamp
    assert(got(4L) == ((4L, 1L, 1L, lam(1, 1), ivl(1, 1))))
    assert(!got.contains(5L) && got.size == 4)
  }
}
