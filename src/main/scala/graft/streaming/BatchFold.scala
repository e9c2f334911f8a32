package graft.streaming

import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Pin

/**
 * The one micro-batch fold of graft's stateful streams. A stream watches
 * a parquet dir and runs one step per micro-batch `k = batchId + 1`; it
 * keeps its state in `root/<sub>/batch=k` dirs, which count once their
 * `_SUCCESS` marker is written, and Spark's checkpoint in
 * `root/checkpoint`.
 *
 * State is loaded once per query start, at its first batch k, from
 * committed batches before k only: Spark replays batch k when it stopped
 * after k's writes but before k's commit, and the replay must recompute k
 * from k-1. Every later batch takes the state the previous one returned.
 */
private[graft] object BatchFold {

  private val batchDir = "batch=(\\d+)".r

  /** Committed `root/sub/batch=<n>` dirs as (n, path), oldest first. Any
    * other name, such as a crashed writer's `batch=tmp`, is ignored. */
  def committed(root: String, sub: String): Seq[(Int, String)] =
    Option(new java.io.File(s"$root/$sub").listFiles()).toSeq.flatten
      .flatMap(f => f.getName match {
        case batchDir(n) if f.isDirectory && new java.io.File(f, "_SUCCESS").exists() =>
          n.toIntOption.map(_ -> f.getPath)
        case _ => None
      })
      .sortBy(_._1)

  private val loadCount = TrieMap.empty[String, Int]

  /** Test hook: state loads by the streams run at `root` (one per query
    * start). */
  def loads(root: String): Int = loadCount.getOrElse(root, 0)

  private val carried = TrieMap.empty[String, WeakReference[Any]]

  /** Test hook: the state the newest batch of the running stream at
    * `root` returned (held weakly: a stopped query's state may be gone). */
  def state(root: String): Option[Any] = carried.get(root).flatMap(r => Option(r.get))

  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The newest committed batch of root/sub before `before`, or no rows
    * of `schema`. */
  def latest(spark: SparkSession, root: String, sub: String, schema: StructType,
             before: Int = Int.MaxValue): DataFrame =
    committed(root, sub).filter(_._1 < before).lastOption
      .fold(empty(spark, schema))(d => spark.read.parquet(d._2))

  /** Every committed batch of root/sub before `before`, or no rows of
    * `schema`. */
  def all(spark: SparkSession, root: String, sub: String, schema: StructType,
          before: Int = Int.MaxValue): DataFrame = {
    val dirs = committed(root, sub).filter(_._1 < before).map(_._2)
    if (dirs.isEmpty) empty(spark, schema) else spark.read.parquet(dirs: _*)
  }

  /** Run `step(batch, k, state)` on each micro-batch of the `schema`
    * parquet files under `in`; it returns the state the next batch gets.
    * `load(spark, k)` gives the state of the query's first batch k. */
  def stateful[S](spark: SparkSession, root: String, in: String, schema: StructType)(
      load: (SparkSession, Int) => S)(step: (DataFrame, Int, S) => S): StreamingQuery = {
    var state: Option[S] = None // this query's (foreachBatch runs sequentially)
    spark.readStream.schema(schema).parquet(in)
      .writeStream
      .option("checkpointLocation", s"$root/checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val k = batchId.toInt + 1
        val from = state.getOrElse {
          loadCount.updateWith(root)(n => Some(n.getOrElse(0) + 1))
          load(batch.sparkSession, k)
        }
        val next = step(batch, k, from)
        carried.update(root, new WeakReference(next))
        state = Some(next)
      }
      .start()
  }

  /**
   * The snapshot monitors' fold over the `rows` parquet files under
   * root/batches. A non-empty batch k turns into `delta` rows of `state`,
   * which join the newest snapshot before k; grouped by `state`'s first
   * column and aggregated by `merge`, they are written as root/sub/batch=k.
   * Snapshots older than k's predecessor are then deleted: a replay of k
   * reads that predecessor, and a replay of k+1 reads k. The carried
   * state is settled (materialised) before any deletion, so it never
   * reads a deleted snapshot.
   */
  def snapshots(spark: SparkSession, root: String, rows: StructType, sub: String,
                state: StructType)(delta: DataFrame => DataFrame, merge: Column*): StreamingQuery =
    stateful(spark, root, s"$root/batches", rows)(
        (s, k) => Pin.settled(latest(s, root, sub, state, before = k))) {
      (batch, k, carried) =>
        val b = Pin(batch)
        if (Pin.count(Seq(b)).head._1 == 0) carried
        else {
          val next = Pin.settled(carried.unionByName(delta(b))
            .groupBy(state.fieldNames.head).agg(merge.head, merge.tail: _*))
          next.write.mode("overwrite").parquet(s"$root/$sub/batch=$k")
          committed(root, sub).filter(_._1 < k).dropRight(1).foreach { case (_, dir) =>
            Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
              .foreach(f => Files.deleteIfExists(f))
          }
          next
        }
    }
}
