package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/**
 * Streaming distribution-drift monitor: the q136 two-sample KS test
 * kept ALWAYS-ON over a stream of (value, cohort) observations. State
 * is the per-distinct-value contingency counts (x, ca, cb) — integer
 * sums, folded per micro-batch by [[BatchFold.snapshots]] WITHOUT
 * rescanning earlier batches (the [[StreamingFreq]] fold: per-batch
 * `_SUCCESS`-gated snapshots under `counts/batch=k`, the two newest kept;
 * restart resumes from the latest committed snapshot strictly before the
 * replayed batch).
 *
 * Exactness contract — the strongest of the streaming family: the
 * state is a vector of INTEGER counts keyed by value, and integer
 * addition is associative/commutative, so the stream fold equals the
 * one-shot aggregation over the concatenated stream EXACTLY (not just
 * byte-identically serialized — the numbers are the same integers),
 * for any batch split and any restart point. Consequently [[ksStat]]
 * over the carried state is IDENTICAL to the batch q136 computation on
 * all data seen so far. StreamingDriftSpec asserts both, across a
 * stop/restart.
 *
 * Scale shape: state size is the VALUE DOMAIN (bounded by contract,
 * e.g. ~600 distinct doc lengths), not the stream; each batch does one
 * hash agg on its delta + one hash agg on the union with state. The KS
 * readout's cumulative window runs over that bounded domain (the q136
 * PlanGuard rationale).
 */
object StreamingDrift {

  val rowSchema: StructType = StructType(Seq(
    StructField("x", LongType), StructField("isa", BooleanType)))

  private val stateSchema = StructType(Seq(StructField("x", LongType),
    StructField("ca", LongType), StructField("cb", LongType)))

  /** Start the drift monitor over parquet (x, isa) deltas in
    * root/batches. */
  def start(spark: SparkSession, root: String): StreamingQuery =
    BatchFold.snapshots(spark, root, rowSchema, "counts", stateSchema)(
      _.groupBy("x").agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb")),
      sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))

  /** Latest committed (x, ca, cb) state. */
  def readCounts(spark: SparkSession, root: String): DataFrame =
    BatchFold.latest(spark, root, "counts", stateSchema)

  /** The q136 KS readout over a (x, ca, cb) counts table:
    * (n_a, n_b, ks_d, threshold, drift) — identical arithmetic.
    * Early-stream guard (ADVICE r4): until BOTH cohorts have at least
    * one observation a two-sample D is undefined — rather than emit
    * NaN/NULL the readout reports ks_d = 0, threshold = NULL,
    * drift = false ("no drift yet"), so an always-on alerter never
    * fires off a one-cohort prefix. */
  def ksStat(counts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = broadcast(counts.agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb")))
    counts
      .select(col("x"), sum(col("ca")).over(w).as("fa"),
        sum(col("cb")).over(w).as("fb"))
      .crossJoin(tot)
      // nullif guards the one-cohort prefix: under ANSI, double /0 THROWS;
      // a null divisor yields null d rows, swallowed by max() below
      .select(abs(col("fa").cast("double") /
          nullif(col("na"), lit(0L)).cast("double") -
        col("fb").cast("double") /
          nullif(col("nb"), lit(0L)).cast("double")).as("d"))
      .agg(max(col("d")).as("ksd"))
      .crossJoin(tot)
      .select(col("na"), col("nb"), col("ksd"),
        (coalesce(col("na"), lit(0L)) > 0L &&
          coalesce(col("nb"), lit(0L)) > 0L).as("__both"))
      .select(coalesce(col("na"), lit(0L)).as("n_a"),
        coalesce(col("nb"), lit(0L)).as("n_b"),
        when(col("__both"), round(col("ksd"), 6)).otherwise(lit(0.0))
          .as("ks_d"),
        when(col("__both"),
          round(lit(1.3581) * sqrt((col("na") + col("nb")).cast("double") /
            (col("na").cast("double") * col("nb").cast("double"))), 6))
          .as("threshold"),
        when(col("__both"),
          round(col("ksd"), 6) >
            round(lit(1.3581) * sqrt((col("na") + col("nb")).cast("double") /
              (col("na").cast("double") * col("nb").cast("double"))), 6))
          .otherwise(lit(false)).as("drift"))
  }
}
