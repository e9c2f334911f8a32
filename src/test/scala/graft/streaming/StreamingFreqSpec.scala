package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.gf

/**
 * Streaming incremental frequency sketches: the per-source count-min
 * state folded across micro-batches is BYTE-identical to a one-shot
 * sketch over the concatenated stream (vector-add merge), holds exact
 * total weights, and survives a stop/restart (state resumes from the
 * committed snapshot, loaded once per query start) and a replayed batch;
 * only the two newest snapshots are kept.
 */
class StreamingFreqSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic zipf-ish tokens, batch-disjoint tails
  private def rows(batch: Int, n: Int): Seq[(String, String)] =
    (0 until n).map { i =>
      val t = (i * 2654435761L + batch * 7919L) % 500L
      (s"src${i % 3}", s"tok-$t")
    }

  test("stream fold ≡ one-shot byte-identically; exact weights; restart-safe") {
    val root = java.nio.file.Files.createTempDirectory("graft-smf").toString
    new java.io.File(s"$root/batches").mkdirs()
    def writeDelta(batch: Int, n: Int): Unit = { // single part-FILE, the
      // file-stream source watches top-level files (StreamingCrawlSpec)
      val tmp = java.nio.file.Files.createTempDirectory(s"smf$batch").toString
      rows(batch, n).toDF("source", "tok").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$root/batches/b$batch.parquet"))
    }
    writeDelta(1, 800)
    val q1 = StreamingFreq.start(spark, root)
    q1.processAllAvailable()
    writeDelta(2, 1100)
    q1.processAllAvailable()
    q1.stop()
    assert(BatchFold.loads(root) == 1) // carried, not re-read

    // restart with a third batch: resumes from the committed snapshot
    writeDelta(3, 500)
    val q2 = StreamingFreq.start(spark, root)
    q2.processAllAvailable()
    q2.stop()
    assert(BatchFold.loads(root) == 2)

    val all = rows(1, 800) ++ rows(2, 1100) ++ rows(3, 500)
    // one-shot per-source sketches over the whole concatenated stream
    val oneShot = all.toDF("source", "tok").groupBy("source")
      .agg(gf.count_min_agg(xxhash64(col("tok")), lit(1L)).as("sk"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Array[Byte]]("sk"))
      .toMap
    val streamed = StreamingFreq.readSketches(spark, root)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Array[Byte]]("sk"))
      .toMap
    assert(streamed.keySet == oneShot.keySet && streamed.size == 3)
    streamed.foreach { case (src, sk) =>
      assert(java.util.Arrays.equals(sk, oneShot(src)),
        s"stream fold != one-shot sketch for $src")
      val exactN = all.count(_._1 == src).toLong
      assert(graft.core.CountMin.totalBytes(sk) == exactN, s"weight off for $src")
    }
    assert(StreamReplay.dirs(root, "sketches") == Seq("batch=2", "batch=3"))

    // replay: batch 3 re-runs from snapshot 2 and rewrites identical bytes
    StreamReplay.dropNewestCommit(root)
    val q3 = StreamingFreq.start(spark, root)
    q3.processAllAvailable()
    q3.stop()
    assert(BatchFold.loads(root) == 3)
    val replayed = StreamingFreq.readSketches(spark, root)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Array[Byte]]("sk").toSeq)
      .toMap
    assert(replayed == streamed.map { case (src, sk) => src -> sk.toSeq })
    assert(StreamReplay.dirs(root, "sketches") == Seq("batch=2", "batch=3"))
    // point probes through the column API: one-sided, inside ε·N
    val probes = all.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.map { case ((src, tok), c) => (src, tok, c) }
      .sortBy(t => (t._1, t._2)).take(40)
      .toDF("source", "tok", "cnt")
    val est = StreamingFreq.readSketches(spark, root)
      .join(probes, "source")
      .select(col("source"), col("cnt"),
        gf.count_min_query(col("sk"), xxhash64(col("tok"))).as("est"),
        gf.count_min_total(col("sk")).as("n"))
      .collect()
    assert(est.length == 40)
    est.foreach { r =>
      val (c, e, n) = (r.getAs[Long]("cnt"), r.getAs[Long]("est"), r.getAs[Long]("n"))
      val epsN = math.ceil(graft.core.CountMin.epsilon(256) * n).toLong
      assert(e >= c && e <= c + epsN, s"est $e outside [$c, $c+$epsN]")
    }
  }
}
