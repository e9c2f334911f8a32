package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point (started by run.py):
 *
 *   Main --workload <crawl|query_mix> --seed <n> --seconds <s>
 *        --trace <0|1> --work <dir> --out <result.json> [--inject <kind>,...]
 *
 * Untraced (--trace 0): set up, then closed-loop passes until the next
 * pass would end past --seconds (at least one); prints the end-to-end
 * metrics. Traced (--trace 1): set up, one recorded untraced pass, then a
 * traced pass between two more untraced passes; prints the per-layer
 * metrics and writes the spans. There is no warm-up pass: every run
 * measures the first pass of a fresh driver process, as a submitted crawl
 * or query job runs.
 * `--inject fetch|digest|error` breaks one expectation (negative controls).
 */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "step_ms_p50" -> "ms", "items_per_s" -> "1/s")

  private val families = Seq("graph_loop", "webtext")
  val PerLayer: Seq[(String, String)] = Seq(
    "crawler.jobs_per_round" -> "count", "crawler.fetched" -> "count",
    "crawler.fetch_misses" -> "count", "crawler.discovered" -> "count",
    "crawler.dedup_hits" -> "count", "crawler.urls_per_s" -> "1/s",
    "crawler.bfs_s" -> "s", "crawler.resume_s" -> "s", "crawler.round_ms_max" -> "ms",
    "crawler.self_ms" -> "ms",
    "round.rank_fetch_ms" -> "ms", "round.discover_ms" -> "ms",
    "seen.advance_ms" -> "ms", "seen.filter_ms" -> "ms",
    "seen.dedup_hit_ratio" -> "ratio",
    "store.write_ms" -> "ms", "store.compact_ms" -> "ms",
    "store.resume_read_ms" -> "ms", "store.files" -> "count",
    "store.bytes" -> "bytes", "pagestore.buckets_read_frac" -> "ratio",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.size_estimate_digits" -> "count",
    "spark.jobs" -> "count", "spark.task_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.core_busy_frac" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.failed_tasks" -> "count") ++
    families.flatMap(f => Seq(s"query.$f.wall_s" -> "s",
      s"query.$f.construct_s" -> "s", s"query.$f.construct_jobs" -> "count",
      s"query.$f.exec_s" -> "s", s"query.$f.jobs" -> "count",
      s"query.$f.task_s" -> "s", s"query.$f.core_busy_frac" -> "ratio")) ++
    QueryMix.Order.map { case (_, q) => s"query.$q.wall_s" -> "s" } ++
    Seq("trace.overhead_frac" -> "ratio", "failed_ops_frac" -> "ratio")

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // no ContextCleaner: a garbage-collected accumulator then stays
      // registered as a cleared weak reference, so a late task update for
      // it logs AccumulatorContext's GC WARN before the DAGScheduler ERROR
      // and the ERROR trap can tell that race from a real failure
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.gf.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val inject = opt.get("inject").map(_.split(",").toSet).getOrElse(Set.empty[String])
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trap = ErrorTrap.install()
    val ctx = Ctx(spark, new Recorder(spark), new Checks, seed, cores, work, inject)
    val w: Workload = workload match {
      case "crawl" => new Crawl(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // setup_s is an end-to-end metric: a traced run sets up once
    val setups = (1 to (if (trace) 1 else 3)).map(_ => Stats.timeS(w.setup())._2)
    val setupS = sessionS + Stats.median(setups)
    log(f"session ${sessionS}%.2fs, input set-ups ${setups.map(s => f"$s%.2f").mkString(",")}s")

    trap.armed = true
    injectLogs(inject)
    val metrics: Map[String, Double] =
      if (!trace) {
        val passes = scala.collection.mutable.ArrayBuffer[PassResult]()
        val t0 = System.nanoTime()
        def elapsed = (System.nanoTime() - t0) / 1e9
        while (passes.isEmpty ||
            elapsed + Stats.median(passes.map(_.wallS).toSeq) <= seconds) {
          val p = w.pass()
          log(f"pass ${passes.size + 1}: ${p.wallS}%.3fs, ${p.items} items, steps ms ${p.stepsMs.map(_.round).mkString(",")}")
          passes += p
        }
        val ps = passes.toSeq
        Map(
          "setup_s" -> setupS,
          "pass_s" -> Stats.median(ps.map(_.wallS)),
          "step_ms_p50" -> Stats.median(ps.flatMap(_.stepsMs)),
          "items_per_s" -> Stats.median(ps.map(p => p.items / p.wallS)))
      } else {
        val tr = new Tracer
        val m = w.layers(tr)
        Files.write(Paths.get(s"$work/trace-$workload-$seed.json"),
          tr.toJson.getBytes(StandardCharsets.UTF_8))
        m
      }
    trap.armed = false

    val checks = ctx.checks
    trap.errors.forEach(e => { checks.attempted += 1; checks.fail(s"ERROR log: $e") })
    if (trap.benign.get > 0)
      log(s"${trap.benign.get} benign accumulator-GC errors (paired WARN present)")
    checks.failures.foreach(f => log(s"FAILED $f"))
    val catalog = if (trace) PerLayer else EndToEnd
    val all = metrics + ("failed_ops_frac" ->
      (if (checks.attempted == 0) 0.0 else checks.failed.toDouble / checks.attempted))
    val body = catalog.map { case (name, unit) =>
      s""""$name": {"value": ${num(all.getOrElse(name, 0.0))}, "unit": "$unit"}"""
    }.mkString(", ")
    val correct = checks.failed == 0 && checks.attempted > 0
    val json = s"""{"correct": $correct, "attempted": ${math.max(checks.attempted, 1)}, "failed": ${checks.failed}, "metrics": {$body}}"""
    Files.write(Paths.get(opt("out")), (json + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(if (correct) 0 else 2)
  }

  /** Log events for the ERROR-trap controls: a plain ERROR, and the
    * accumulator-GC ERROR with (benign) and without (not benign) its WARN. */
  private def injectLogs(inject: Set[String]): Unit = {
    import org.apache.logging.log4j.LogManager.getLogger
    if (inject("error")) getLogger("graftbench.Main").error("negative control: injected ERROR")
    if (inject("acc-paired"))
      getLogger("org.apache.spark.util.AccumulatorContext")
        .warn("Attempted to access garbage collected accumulator 987654321")
    if (inject("acc-paired") || inject("acc-unpaired"))
      getLogger("org.apache.spark.scheduler.DAGScheduler")
        .error("Failed to update accumulator 987654321 (Unknown class) for task 0")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def log(s: String): Unit = System.err.println(s"[graftbench] $s")
}
