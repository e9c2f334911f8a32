package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/**
 * Streaming KS drift monitor: the per-value integer counts folded
 * across micro-batches must equal the one-shot aggregation over the
 * concatenated stream EXACTLY (integer adds — any batch split, any
 * restart point), and the KS readout over the carried state must match
 * the batch computation row-for-row. A replayed batch rewrites the same
 * counts, only the two newest snapshots are kept, and a stray
 * `batch=tmp` dir is ignored.
 */
class StreamingDriftSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic observations: cohort A ~ lengths 100..199,
  // cohort B shifted +batch*7 so drift grows across batches
  private def rows(batch: Int, n: Int): Seq[(Long, Boolean)] =
    (0 until n).map { i =>
      val isa = i % 2 == 0
      val base = (i * 2654435761L + batch * 104729L) % 100L
      val x = if (isa) 100L + base else 100L + base + batch * 7L
      (x, isa)
    }

  test("ksStat on a one-cohort or empty prefix reports drift=false, never NaN/NULL D") {
    // empty state: the monitor has seen nothing
    val empty = StreamingDrift.ksStat(
      Seq.empty[(Long, Long, Long)].toDF("x", "ca", "cb")).head()
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L)
    assert(empty.getDouble(2) == 0.0 && !empty.getBoolean(4))
    // only cohort A has arrived
    val onlyA = StreamingDrift.ksStat(
      Seq((100L, 5L, 0L), (101L, 3L, 0L)).toDF("x", "ca", "cb")).head()
    assert(onlyA.getLong(0) == 8L && onlyA.getLong(1) == 0L)
    assert(onlyA.getDouble(2) == 0.0, "one-cohort D must be the defined 0, not NaN")
    assert(onlyA.isNullAt(3) && !onlyA.getBoolean(4))
    // both cohorts: the guard must not perturb the real readout
    val both = StreamingDrift.ksStat(
      Seq((100L, 5L, 0L), (200L, 0L, 5L)).toDF("x", "ca", "cb")).head()
    assert(both.getDouble(2) == 1.0 && both.getBoolean(4))
  }

  test("stream fold ≡ one-shot exactly; KS readout matches batch q136 math; restart-safe") {
    val root = java.nio.file.Files.createTempDirectory("graft-smd").toString
    new java.io.File(s"$root/batches").mkdirs()
    def writeDelta(batch: Int, n: Int): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"smd$batch").toString
      rows(batch, n).toDF("x", "isa").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$root/batches/b$batch.parquet"))
    }
    // a crashed writer's leftover: neither the stream nor the reader parses it
    new java.io.File(s"$root/counts/batch=tmp").mkdirs()
    new java.io.File(s"$root/counts/batch=tmp/_SUCCESS").createNewFile()
    writeDelta(1, 600)
    val q1 = StreamingDrift.start(spark, root)
    q1.processAllAvailable()
    writeDelta(2, 900)
    q1.processAllAvailable()
    q1.stop()
    assert(BatchFold.loads(root) == 1) // carried, not re-read

    // restart with a third batch
    writeDelta(3, 400)
    val q2 = StreamingDrift.start(spark, root)
    q2.processAllAvailable()
    q2.stop()
    assert(BatchFold.loads(root) == 2)

    val all = rows(1, 600) ++ rows(2, 900) ++ rows(3, 400)
    val oneShot = all.toDF("x", "isa").groupBy("x").agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val streamed = StreamingDrift.readCounts(spark, root)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == oneShot) // exact integer equality, full domain

    // KS readout over the carried state == the same math one-shot
    val gotKs = StreamingDrift.ksStat(StreamingDrift.readCounts(spark, root))
      .collect()(0)
    val wantKs = StreamingDrift.ksStat(
      all.toDF("x", "isa").groupBy("x").agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb")))
      .collect()(0)
    assert(gotKs == wantKs)
    assert(gotKs.getLong(0) == all.count(_._2) &&
      gotKs.getLong(1) == all.count(!_._2))
    assert(gotKs.getBoolean(4), "planted shift should trip the drift gate")
    assert(StreamReplay.dirs(root, "counts") == Seq("batch=2", "batch=3", "batch=tmp"))

    // replay: batch 3 re-runs from snapshot 2 and rewrites the same counts
    StreamReplay.dropNewestCommit(root)
    val q3 = StreamingDrift.start(spark, root)
    q3.processAllAvailable()
    q3.stop()
    assert(BatchFold.loads(root) == 3)
    assert(StreamingDrift.readCounts(spark, root)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == streamed)
    assert(StreamReplay.dirs(root, "counts") == Seq("batch=2", "batch=3", "batch=tmp"))
  }
}
