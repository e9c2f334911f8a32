package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.gf

/**
 * Streaming incremental quantiles: per-source digests folded across
 * micro-batches hold EXACT total weights and bounded-rank quantiles
 * equal to a one-shot digest over the concatenated stream's bound —
 * including across a stop/restart (state resumes from the committed
 * snapshot, loaded once per query start) and a replayed batch; only the
 * two newest snapshots are kept.
 */
class StreamingQuantilesSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic scrambled values, disjoint ranges per batch index
  private def rows(batch: Int, n: Int): Seq[(String, Double)] =
    (0 until n).map { i =>
      val v = ((i * 2654435761L + batch * 7919L) % 10007L).toDouble
      (s"src${i % 3}", v)
    }

  test("stream fold: exact weights, bounded quantiles, restart-safe") {
    val root = java.nio.file.Files.createTempDirectory("graft-tdq").toString
    new java.io.File(s"$root/batches").mkdirs()
    def writeDelta(batch: Int, n: Int): Unit = { // single part-FILE, the
      // file-stream source watches top-level files (StreamingCrawlSpec)
      val tmp = java.nio.file.Files.createTempDirectory(s"tdq$batch").toString
      rows(batch, n).toDF("source", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$root/batches/b$batch.parquet"))
    }
    writeDelta(1, 900)
    val q1 = StreamingQuantiles.start(spark, root)
    q1.processAllAvailable()
    writeDelta(2, 1200)
    q1.processAllAvailable()
    q1.stop()
    assert(BatchFold.loads(root) == 1) // carried, not re-read

    // restart with a third batch: resumes from the committed snapshot
    writeDelta(3, 600)
    val q2 = StreamingQuantiles.start(spark, root)
    q2.processAllAvailable()
    q2.stop()
    assert(BatchFold.loads(root) == 2)

    val all = rows(1, 900) ++ rows(2, 1200) ++ rows(3, 600)
    val exact = all.groupBy(_._1).map { case (s, vs) =>
      s -> vs.map(_._2).sorted.toIndexedSeq
    }
    def assertAnswers(): Unit = {
      val got = StreamingQuantiles.readDigests(spark, root)
        .select(col("source"),
          gf.tdigest_weight(col("dg")).as("w"),
          gf.tdigest_quantile(col("dg"), lit(0.5)).as("e50"),
          gf.tdigest_quantile(col("dg"), lit(0.9)).as("e90"))
        .collect()
      assert(got.length == 3)
      got.foreach { r =>
        val vs = exact(r.getAs[String]("source"))
        assert(r.getAs[Long]("w") == vs.size.toLong) // weights are EXACT
        for ((q, est) <- Seq(0.5 -> r.getAs[Double]("e50"),
                             0.9 -> r.getAs[Double]("e90"))) {
          val rank = vs.count(_ <= est).toDouble / vs.size
          assert(math.abs(rank - q) <= 0.05,
            s"${r.getAs[String]("source")} q=$q rank=$rank")
        }
      }
    }
    assertAnswers()
    assert(StreamReplay.dirs(root, "digests") == Seq("batch=2", "batch=3"))

    // replay: batch 3 re-runs from snapshot 2, loading state once more
    StreamReplay.dropNewestCommit(root)
    val q3 = StreamingQuantiles.start(spark, root)
    q3.processAllAvailable()
    q3.stop()
    assert(BatchFold.loads(root) == 3)
    assertAnswers()
    assert(StreamReplay.dirs(root, "digests") == Seq("batch=2", "batch=3"))
  }
}
