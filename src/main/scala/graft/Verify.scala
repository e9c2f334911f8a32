package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // GRAFT_ONLY_QUERIES=q41_prep_pipeline,... — dump a subset (dev loop).
    // Loudly flagged: stale sibling dirs in outDir would otherwise pass a
    // later oracle replay as if this build had produced them.
    val only = sys.env.get("GRAFT_ONLY_QUERIES").map(_.split(",").toSet)
    only.foreach(o => System.err.println(
      s"[verify] SUBSET RUN: ${o.size}/${SparkEntry.queries.size} queries — " +
        "other dirs in outDir are stale; do not gate on them"))
    val failed = SparkEntry.queries.filter(t => only.forall(_.contains(t._1)))
      .collect { case (name, fn) if !write(spark, sfDir, outDir, name, fn) => name }
    System.err.println(s"[verify] failed queries (${failed.size}): ${failed.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes one query's result to `outDir/name`, first deleting what an
    * earlier run left there, so a query that throws (while its DataFrame
    * is built or run) leaves no directory for the oracle replay to pass
    * on. Logs the failure; returns whether the query succeeded. */
  private[graft] def write(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => DataFrame): Boolean = {
    val dir = Paths.get(outDir, name)
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    try { fn(spark, sfDir).coalesce(1).write.parquet(dir.toString); true }
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      false
    }
  }
}
