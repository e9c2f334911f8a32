package graftbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters at one instant; a [[Recorder.Window]] is the
  * difference of two of these plus the job intervals between them. */
final case class Snap(jobs: Long, taskMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, failedTasks: Long, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, bucketsRead: Long,
    bucketsTotal: Long, atMs: Long)

/**
 * The benchmark's own observer of the engine: a `SparkListener` for jobs
 * and tasks, and a `QueryExecutionListener` for the Catalyst phase times
 * (`qe.tracker`) of every executed query, including the lazy
 * `localCheckpoint` executions the crawl loop is built from. It also reads
 * the bucketed page store's "number of partitions read" scan metric, the
 * store's partition-pruning evidence. Nothing here calls into the program.
 */
final class Recorder(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val taskMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val spill = new AtomicLong
  private val failedTasks = new AtomicLong
  private val analysis = new DoubleAdder
  private val optimization = new DoubleAdder
  private val planning = new DoubleAdder
  private val bucketsRead = new AtomicLong
  private val bucketsTotal = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  private object Plans extends AdaptiveSparkPlanHelper

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobStart.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskInfo != null && e.taskInfo.failed) failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      ()
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      analysis.add(ms("analysis"))
      optimization.add(ms("optimization"))
      planning.add(ms("planning"))
      Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.partitionSchema.fieldNames.contains("bucket") &&
              s.metrics.contains("numPartitions") =>
          val total = s.relation.location match {
            case f: PartitioningAwareFileIndex => f.partitionSpec().partitions.size.toLong
            case _ => 0L
          }
          (s.metrics("numPartitions").value, total)
      }.foreach { case (read, total) =>
        bucketsRead.addAndGet(read); bucketsTotal.addAndGet(total)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  def snap(): Snap = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    Snap(jobs.get, taskMs.get, shuffleWrite.get, shuffleRead.get, spill.get,
      failedTasks.get, analysis.sum, optimization.sum, planning.sum,
      bucketsRead.get, bucketsTotal.get, System.currentTimeMillis())
  }

  /** Run `body` and return its result with the engine activity inside it. */
  def window[T](body: => T): (T, Recorder.Window) = {
    val a = snap()
    val r = body
    val b = snap()
    (r, Recorder.Window(a, b, covered(a.atMs, b.atMs)))
  }

  /** Milliseconds of [from, to] during which at least one job was running. */
  private def covered(from: Long, to: Long): Long = {
    import scala.jdk.CollectionConverters._
    val iv = intervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

object Recorder {
  final case class Window(a: Snap, b: Snap, busyMs: Long) {
    def wallS: Double = (b.atMs - a.atMs) / 1000.0
    def jobs: Long = b.jobs - a.jobs
    def taskS: Double = (b.taskMs - a.taskMs) / 1000.0
    def shuffleWrite: Long = b.shuffleWrite - a.shuffleWrite
    def shuffleRead: Long = b.shuffleRead - a.shuffleRead
    def spill: Long = b.spill - a.spill
    def failedTasks: Long = b.failedTasks - a.failedTasks
    def analysisMs: Double = b.analysisMs - a.analysisMs
    def optimizationMs: Double = b.optimizationMs - a.optimizationMs
    def planningMs: Double = b.planningMs - a.planningMs
    def bucketsRead: Long = b.bucketsRead - a.bucketsRead
    def bucketsTotal: Long = b.bucketsTotal - a.bucketsTotal
    /** wall with no job running: driver-side work between jobs */
    def driverGapS: Double = wallS - busyMs / 1000.0
    def coreBusyFrac(cores: Int): Double =
      if (wallS <= 0) 0.0 else taskS / (wallS * cores)
  }
}
