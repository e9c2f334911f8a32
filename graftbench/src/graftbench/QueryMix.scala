package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.synth.Synth

/**
 * `query_mix`: four `SparkEntry.queries` in a closed loop over a generated
 * `documents` table — two iterative graph queries (`graph_loop`, bound by
 * DataFrame construction and the jobs it fires) and two text-pipeline
 * queries (`webtext`, bound by executor work). A query's wall is its
 * construction plus one timed action: the all-column [[Digest]].
 */
final class QueryMix(c: Ctx) extends Workload {
  import QueryMix._
  private val spark = c.spark
  private val dataDir = s"${c.workDir}/docs"

  def setup(): Unit = writeDocs(spark, dataDir, Docs, c.seed)

  private def expected(q: String): String =
    if (c.inject("digest") && q == Order.head._2) "wrong" else Digests(q)

  private final case class Ran(family: String, query: String, df: DataFrame,
      construct: Recorder.Window, exec: Recorder.Window) {
    def wallS: Double = construct.wallS + exec.wallS
  }

  private def runAll(tr: Tracer): Seq[Ran] =
    Order.flatMap { case (fam, q) =>
      c.checks.op(s"query.$q") {
        val (df, wc) = c.rec.window(tr.span(s"query.construct")(SparkEntry.queries(q)(spark, dataDir)))
        val (d, we) = c.rec.window(tr.span(s"query.exec")(Digest.of(df)))
        c.checks.check(s"$q.digest", d == expected(q), s"digest $d")
        Ran(fam, q, df, wc, we)
      }
    }

  def pass(): PassResult = {
    val rs = runAll(new Tracer)
    PassResult(rs.map(_.wallS).sum, rs.map(_.wallS * 1000), rs.size.toLong)
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val (rs, w) = c.rec.window(runAll(new Tracer))
    val before = pass()
    val (_, tracedWall) = Stats.timeS(runAll(tr))
    val after = pass()
    val fam = Seq("graph_loop", "webtext").flatMap { f =>
      val xs = rs.filter(_.family == f)
      val construct = xs.map(_.construct.wallS).sum
      val exec = xs.map(_.exec.wallS).sum
      val jobs = xs.map(x => x.construct.jobs + x.exec.jobs).sum
      val taskS = xs.map(x => x.construct.taskS + x.exec.taskS).sum
      Seq(
        s"query.$f.wall_s" -> (construct + exec),
        s"query.$f.construct_s" -> construct,
        s"query.$f.construct_jobs" -> xs.map(_.construct.jobs).sum.toDouble,
        s"query.$f.exec_s" -> exec,
        s"query.$f.jobs" -> jobs.toDouble,
        s"query.$f.task_s" -> taskS,
        s"query.$f.core_busy_frac" ->
          (if (construct + exec <= 0) 0.0 else taskS / ((construct + exec) * c.cores)))
    }
    val perQuery = rs.map(x => s"query.${x.query}.wall_s" -> x.wallS)
    val digits = (0L +: rs.map(x => CrawlBench.sizeEstimateDigits(x.df))).max
    CrawlBench.engine(w, c.cores) ++ fam ++ perQuery ++ Map(
      "catalyst.size_estimate_digits" -> digits.toDouble,
      "trace.overhead_frac" -> Stats.overhead(tracedWall, before.wallS, after.wallS))
  }
}

object QueryMix {
  val Docs = 500

  val Order: Seq[(String, String)] =
    Seq("q76_pagerank", "q134_kcore").map("graph_loop" -> _) ++
    Seq("q52_prep_stack", "q138_allpairs_join").map("webtext" -> _)

  /** Pinned from this tree; regenerate only for an intended semantic change. */
  val Digests: Map[String, String] = Map(
    "q76_pagerank" -> "rows=500;s=fe59f93a;ff99f2375e;fdf3b699cf;eb17c77d330cfcaa",
    "q134_kcore" -> "rows=500;s=c90b88b0;fa6ff7aa1f;edee45d023;8e0b05eb65c63339",
    "q52_prep_stack" -> "rows=1;s=b56252b2;51731f5e;e29fdb9c;e29fdb9c51731f5e",
    "q138_allpairs_join" -> "rows=19;s=cccd60b;933f9e9fe;7e054e627;2db3b555a57b5582")

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "es", "de", "fr", "zh")

  /** Word `j` of document `id`'s base text. */
  private def word(id: Long, j: Int): String =
    Vocab(math.floorMod(Synth.mix2(id * 131L + 7L, j.toLong), Vocab.length.toLong).toInt)

  /** Document text: 10..100 words; one document in 20 is a near copy of
    * an earlier one with a single word replaced by "dup". */
  def text(id: Long): String = {
    val dupOf = if (id > 0 && math.floorMod(Synth.mix2(0xD0L, id), 20L) == 0)
      Some(math.floorMod(Synth.mix2(0xD1L, id), id)) else None
    val base = dupOf.getOrElse(id)
    val n = 10 + math.floorMod(Synth.mix2(0xA1L, base), 91L).toInt
    val ws = Array.tabulate(n)(j => word(base, j))
    dupOf.foreach(_ => ws(math.floorMod(Synth.mix2(0xD2L, id), n.toLong).toInt) = "dup")
    ws.mkString(" ")
  }

  /**
   * Write the `documents` table (doc_id, text, lang, source, n_chars).
   * Its content is fixed; the seed only shuffles the row order and the
   * number of files, so every query digest must hold for every seed.
   */
  def writeDocs(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val id = i.toLong
      val t = text(id)
      (id, t, Langs(math.floorMod(Synth.mix2(0x1AL, id), Langs.length.toLong).toInt),
        s"src${id % 20}", t.length.toLong)
    }.sortBy(r => Synth.mix2(seed, r._1))
    val files = 2 + math.floorMod(seed, 4L).toInt
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(files).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
