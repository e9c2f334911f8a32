package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.CrawlConfig
import graft.synth.{PageSynth, SynthConfig}
import graft.frontier.{Crawler, CrawlRound, SeenSet}
import graft.functions.gf

/**
 * Plan audit: prints `explain("formatted")` for the engine's hot plans so
 * shuffle/broadcast/pushdown regressions are visible. Checks asserted here
 * (grep the output):
 *  - fetch join J7 = ShuffledHashJoin (not SortMergeJoin) on urlHash
 *  - robots join J5 / blooms join = BroadcastHashJoin
 *  - seen anti-join J1 = ShuffledHashJoin/BHJ LeftAnti
 *  - parquet scans show PushedFilters + pruned ReadSchema
 *  - expression pipelines stay inside WholeStageCodegen
 *
 * A graph section explains round 1 of its loop: the operator's real
 * `step` over its unpinned start state (the loop itself pins every
 * state, which would hide the round's plan behind a checkpoint leaf).
 */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    gf.register(spark)
    import spark.implicits._

    val cfg = SynthConfig(nPages = 2000L, nHosts = 8)
    val crawlCfg = CrawlConfig()
    val pages = Crawler.keyPages(PageSynth.pages(spark, cfg).toDF(), 4)
    val robots = PageSynth.robots(spark, cfg).toDF()
    val frontier = CrawlRound.seedFrontier(
      pages.select("url").limit(500).toDF())

    println("==== politeness rank (two-phase salted) ====")
    CrawlRound.politenessRank(frontier, crawlCfg).explain("formatted")

    println("==== round: fetch join + link discovery ====")
    val r = CrawlRound.run(1, frontier, pages, robots, crawlCfg)
    r.fetched.explain("formatted")
    r.discovered.explain("formatted")

    println("==== seen anti-join with bloom pre-filter ====")
    val seen = pages.select("urlHash").limit(1000)
    SeenSet.filterUnseen(r.discovered, seen, 1000L, crawlCfg).explain("formatted")

    println("==== consolidate (J4): broadcast hash equi-join, never nested-loop ====")
    val chains = Seq(("Acme Care", "https://acme.example.com", 1, Seq("skilled nursing")))
      .toDF("corporation_name", "primary_url", "priority", "facility_types")
    val facs = Seq(("https://acme.example.com/loc/1", "Acme One", "Acme Care"))
      .toDF("sourceUrl", "name", "corporation_name")
    graft.sources.Chains.consolidate(facs, chains).explain("formatted")
    graft.sources.Chains.attribute(facs.drop("corporation_name"), chains).explain("formatted")

    println("==== extraction cascade: single html_probe / from_json (explode barrier) ====")
    graft.extract.FacilityExtract.extract(
      PageSynth.pages(spark, SynthConfig(nPages = 50L, nHosts = 2)).toDF()
        .withColumn("canonUrl", gf.canonicalize_url($"url"))).explain("formatted")

    println("==== parquet pushdown: q01 scan ====")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" > "1995-01-01")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
      .explain("formatted")

    println("==== text pipeline codegen: quality+langid ====")
    spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.text.TextOps.qualityScore($"text"),
        graft.text.TextOps.langIdFirstMatch($"text"))
      .explain("formatted")

    println("==== incremental dedup: broadcast band probe, no store shuffle ====")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val storeSigs = graft.text.TextPipeline.signatureShingles(
      docs.filter($"doc_id" < 250), "doc_id", "text").drop("__shSet")
    val (surv, _) = graft.text.TextPipeline.incrementalDedup(
      storeSigs, docs.filter($"doc_id" < 250),
      docs.filter($"doc_id" >= 250), "doc_id", "text")
    surv.explain("formatted")

    println("==== decontaminate: BROADCAST semi-join probe (corpus never shuffles) ====")
    graft.text.Decontaminate.contaminated(
      docs.filter($"doc_id" % 10 =!= 7), "doc_id", "text",
      docs.filter($"doc_id" % 10 === 7), "text", n = 3).explain("formatted")

    println("==== line dedup: broadcast boilerplate probe + one corpus scan ====")
    graft.text.LineDedup.clean(docs, "doc_id", "text", minDocs = 50)
      .explain("formatted")

    println("==== packing: window partitioned by pack_group (no global sort) ====")
    graft.text.Packing.pack(docs, "doc_id", "text", budget = 2048, numGroups = 8)
      .explain("formatted")

    println("==== dup clusters: large-star pass = agg + same-key join (no cartesian) ====")
    val edges = docs.filter($"doc_id" < 100)
      .select(($"doc_id" + 1).as("idA"), $"doc_id".as("idB"))
    graft.dedup.DupClusters.components(edges).explain("formatted")

    println("==== span scrub: gram agg + semi probe, un-hinted dup set, HOF cover ====")
    graft.text.SpanScrub.scrub(docs, "doc_id", "text", k = 6, minDf = 2)
      .explain("formatted")

    println("==== pagerank iteration: edge⋈rank SHJ gather + dst hash agg, state⋈inbound, 1-row dangling broadcast ====")
    val prNodes = docs.select($"doc_id".as("id"))
    val prEdges = prNodes.filter(pmod($"id", lit(10)) =!= 7)
      .select($"id".as("src"),
        pmod(xxhash64($"id"), lit(500L)).as("dst")) // hash-mix, never id*k+j (ANSI)
    val prWalk = graft.graph.PageRank.uniform(prNodes, "id", prEdges, "src", "dst")
    graft.graph.PageRank.step(prWalk, 0.85)(prWalk.start).explain("formatted")

    println("==== inverted index: postings capped by rank BEFORE collect_list ====")
    graft.text.InvertedIndex.build(docs, "doc_id", "text", cap = 10)
      .explain("formatted")

    println("==== counting-bloom retirement: per-bucket subtract join (O(retired), no state rescan) ====")
    val cbCfg = graft.core.CrawlConfig(bloomBuckets = 8)
    val seenH = docs.select(xxhash64($"doc_id").as("urlHash"))
    SeenSet.retireFromCounting(
      SeenSet.buildCountingBlooms(seenH, 1024L, cbCfg),
      seenH.limit(50), 1024L, cbCfg).explain("formatted")

    println("==== source gate: tiny stats agg, AQE-broadcast gate join ====")
    graft.text.Sampling.sourceQualityGate(
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"source",
          graft.text.TextOps.qualityScore($"text").as("q")),
      "source", round(avg($"q"), 4), 0.76).explain("formatted")

    println("==== heavy hitters: ObjectHashAggregate with PARTIAL space_saving_agg (summaries cross the wire, not keys) ====")
    spark.read.parquet(s"$dir/documents.parquet")
      .select($"lang", explode(graft.text.TextOps.words($"text")).as("term"))
      .groupBy("lang").agg(gf.space_saving_agg($"term", lit(1L), 512).as("sk"))
      .explain("formatted")

    println("==== blocklist keep: suffix explode -> unhinted semi + anti (AQE picks broadcast) ====")
    graft.frontier.Blocklist.keep(
      pages.select($"url"),
      "url",
      Seq("h1.example.com", "h3.example.com").toDF("domain")).explain("formatted")

    println("==== trap detect: one agg (2x Expand multi-distinct), no joins/windows ====")
    graft.frontier.TrapDetect.detect(
      pages.select($"url", lit("h").as("host"), $"urlHash".as("fingerprint")),
      minUrls = 10, maxContentRatio = 0.5).explain("formatted")

    println("==== warc ranged fetch: cdx repartition by file + in-order ranged reads (no segment scan) ====")
    val wdir = java.nio.file.Files.createTempDirectory("plan-warc").toString
    graft.sources.Warc.writeWithCdx(
      spark.range(50).select(concat(lit("https://x/p"), $"id").as("url"),
        lit("2026-01-01T00:00:00Z").as("date"), lit("b").as("body")),
      wdir, nFiles = 2)
    graft.sources.Warc.fetchRanged(
      graft.sources.Warc.readCdx(spark, wdir).limit(10)).explain("formatted")

    // ---- round-4 operators ----
    println("==== PQ encode: one projection over the vector scan (no shuffle) ====")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cb = graft.ann.Pq.train(vecs, "vec_id", "embedding", 64, 8, 16, 1)
    val codes = graft.ann.Pq.encode(vecs, "vec_id", "embedding", cb)
    codes.explain("formatted")

    println("==== PQ ADC scan: code column only + per-query LUT lookups (no vector math) ====")
    val lut = graft.ann.Pq.lutFor(Seq.fill(64)(0.0), cb)
    codes.select($"vec_id", graft.ann.Pq.adcDist($"codes", lut).as("adc"))
      .explain("formatted")

    println("==== Kneser-Ney: model tables joined on term keys, hinted SHJ spine ====")
    graft.text.KneserNey.score(
      docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text").explain("formatted")

    println("==== registrable-domain budgets: codegen eTLD+1 key + PARTITIONED windows ====")
    docs.select($"doc_id",
        concat(lit("a"), pmod($"doc_id", lit(7)).cast("string"),
          lit(".spam"), pmod($"doc_id", lit(3)).cast("string"),
          lit(".co.uk")).as("host"))
      .withColumn("rd", gf.registrable_domain($"host"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("rd")))
      .explain("formatted")

    println("==== t-digest two-level: PARTIAL tdigest_agg before the exchange (blobs cross the wire, not values) ====")
    spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", graft.text.TextOps.tokenCountWs($"text")
        .cast("double").as("ws"))
      .groupBy("source").agg(gf.tdigest_agg($"ws").as("dg"))
      .agg(gf.tdigest_merge_agg($"dg")).explain("formatted")

    println("==== CDC chunk dedup: codegen chunker + chunk-hash equi-join (AQE decides build side) ====")
    val ch = docs.select($"doc_id",
      explode(gf.cdc_chunks($"text", 16, 64, 256)).as("c"))
      .select($"doc_id", $"c.hash".as("h")).distinct()
    ch.join(ch.withColumnRenamed("doc_id", "other"), Seq("h"))
      .filter($"doc_id" < $"other").explain("formatted")

    println("==== KMV two-level: PARTIAL kmv_agg before the exchange (k-long blobs cross the wire, not gram keys) ====")
    docs.select($"doc_id", explode(graft.text.TextOps.words($"text")).as("w"))
      .groupBy(pmod($"doc_id", lit(5)).as("b"))
      .agg(gf.kmv_agg(xxhash64($"w"), 256).as("sk"))
      .agg(gf.kmv_merge_agg($"sk")).explain("formatted")

    println("==== count-min two-level: PARTIAL count_min_agg before the exchange (d·w-long blobs, vector-add merge) ====")
    docs.select($"doc_id", explode(graft.text.TextOps.words($"text")).as("w"))
      .groupBy(pmod($"doc_id", lit(5)).as("b"))
      .agg(gf.count_min_agg(xxhash64($"w"), lit(1L)).as("sk"))
      .agg(gf.count_min_merge_agg($"sk")).explain("formatted")

    println("==== trustrank iteration: teleport spine join + edge⋈rank SHJ (teleport NEVER broadcast whole) ====")
    val trTele = prNodes.filter(pmod($"id", lit(17)) === 3)
      .select($"id", lit(0.033).as("w"))
    val trWalk = graft.graph.PageRank.personalized(prNodes, "id", prEdges,
      "src", "dst", trTele, "w")
    graft.graph.PageRank.step(trWalk, 0.85)(trWalk.start).explain("formatted")

    println("==== OPIC round: edge⋈cash SHJ + dst agg + 1-row dangling bank (cash conserved in-plan) ====")
    val opWalk = graft.graph.Opic.walk(prNodes, "id", prEdges, "src", "dst")
    graft.graph.Opic.step(opWalk)(opWalk.start).explain("formatted")

    println("==== seed-distance BFS level: newest-frontier-only edge join + min agg ====")
    val grEdges = graft.graph.Kernel.edges(prEdges, "src", "dst")
    graft.graph.Bfs.step(grEdges)(
      graft.graph.Kernel.nodes(prNodes.filter(pmod($"id", lit(17)) === 3), "id")
        .withColumn("hop", lit(0L)), 1).explain("formatted")

    println("==== LPA round: edge⋈label SHJ + (dst,label) agg + argmax AGGREGATION (no window sort) + state⋈best ====")
    graft.graph.LabelProp.step(grEdges)(
      graft.graph.Kernel.nodes(prNodes, "id").withColumn("lbl", $"id"))
      .explain("formatted")

    println("==== BM25: broadcast query terms prune the tf table BEFORE any shuffle; 1-row N/avgdl scalars ====")
    val bmQ = Seq(("bm1", "merge"), ("bm1", "join")).toDF("query_id", "term")
    graft.text.Bm25.topDocs(docs, "doc_id", "text", bmQ).explain("formatted")

    println("==== triangles: pinned degree-ordered orientation, apex wedge self-join + (v,w) closure equi-join (never all-pairs) ====")
    graft.graph.Triangles.perNode(prNodes, "id", prEdges, "src", "dst")
      .explain("formatted")

    println("==== all-pairs prefix filter: prefix⋈prefix candidate join + join-shaped verify (post-checkpoint stages) ====")
    graft.dedup.AllPairs.jaccardJoin(
      docs.select($"doc_id", explode(array_distinct(
        graft.text.TextOps.wordNgrams(graft.text.TextOps.words($"text"), 3)))
        .as("g")),
      "doc_id", "g", 0.6).explain("formatted")

    println("==== HyperANF hop: edge⋈sketch SHJ pull + register-max hll_merge_agg (m bytes/node cross the wire) ====")
    graft.graph.HyperAnf.sketchStep(grEdges.distinct())(
      graft.graph.HyperAnf.sketchStart(graft.graph.Kernel.nodes(prNodes, "id")))
      .explain("formatted")

    println("==== SALSA iteration: two stochastic half-joins per walk (authority, then hub), no normalization pass ====")
    val saEdges = graft.graph.Salsa.weightedEdges(prEdges, "src", "dst")
    val saStart = graft.graph.Kernel.nodes(prNodes, "id").withColumn("v", lit(1.0))
    graft.graph.Salsa.step(saEdges, authority = true)(saStart).explain("formatted")
    graft.graph.Salsa.step(saEdges, authority = false)(saStart).explain("formatted")

    println("==== k-core peel round: degree hash agg + two shuffle-hash semi-joins over surviving adjacency ====")
    graft.graph.KCore.peel(4)(graft.graph.KCore.adjacency(prEdges, "src", "dst"))
      .explain("formatted")

    println("==== phrase search: ONE broadcast probe join + start-alignment hash agg (any phrase length) ====")
    val probes3 = Seq(("p1", "merge", 0L, 2L), ("p1", "join", 1L, 2L))
      .toDF("phrase", "term", "off", "plen")
    docs.select($"doc_id", posexplode(graft.text.TextOps.words($"text")))
      .join(broadcast(probes3), $"col" === $"term")
      .groupBy($"phrase", $"plen", $"doc_id", ($"pos" - $"off").as("start"))
      .agg(count(lit(1)).as("m")).filter($"m" === $"plen")
      .explain("formatted")

    println("==== SymSpell edit-1: deletion-variant equi-join + levenshtein verify (post-checkpoint stages) ====")
    graft.dedup.SymSpell.edit1Join(
      docs.select(concat(lit("k"), pmod($"doc_id", lit(40)).cast("string"))
        .as("k")), "k").explain("formatted")

    // ---- round-5 additions ----
    val vecs5 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val idx5 = graft.ann.IvfPq.train(vecs5, "vec_id", "embedding", 64,
      nCells = 8, m = 8, k = 16, iters = 1)
    println("==== IVF-PQ encodeFused: ONE projection (cell + residual codes from broadcast literals), no shuffle ====")
    graft.ann.IvfPq.encodeFused(vecs5, "vec_id", "embedding", idx5)
      .explain("formatted")
    println("==== IVF-PQ probe scan: (qid, cell, lut) equi-join on cell — only probed cells read; ADC = m element_at lookups ====")
    val q5 = vecs5.filter($"vec_id" === 16).collect()(0)
      .getSeq[Float](1).map(_.toDouble).toSeq
    val probes5 = graft.ann.IvfPq.probe(q5, idx5, nProbe = 2)
      .toDF("cell", "probe_rank", "lut")
    graft.ann.IvfPq.encodeFused(vecs5, "vec_id", "embedding", idx5)
      .join(broadcast(probes5), Seq("cell"))
      .select($"vec_id", $"probe_rank",
        graft.ann.Pq.adcDistCol($"codes", $"lut").as("adist"))
      .explain("formatted")

    println("==== pruned 4-gram LM: term-key BHJs of PRUNED count tables onto the eval gram stream; 1-row T crossJoin; hinted spine ====")
    graft.text.PrunedQuadLm.score(
      docs.filter($"doc_id" % 2 === 1).select($"doc_id", $"text"),
      docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text"),
      "doc_id", "text").explain("formatted")

    println("==== ExactSubstr scrub (r5 interval-merge tail): hash df agg + semi-join probe + per-doc linear splice, no per-char probe ====")
    graft.text.ExactSubstr.scrub(
      docs.select($"doc_id", $"text"), "doc_id", "text", L = 40, minDocs = 2)
      .explain("formatted")

    spark.stop()
  }
}
