package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Offline result pins for every driver query: an order-insensitive digest
 * of each `SparkEntry.queries` result at sf0.001, plus the md5 of its
 * `oracleSql` text (the only in-repo guard on the DuckDB side, which
 * cannot be replayed without DuckDB). [[ResultDigestSpec]] checks both.
 *
 * Regenerate ONLY for an intended semantic change, and name the change
 * in CHANGES.md (the `GenDriverFixtures` discipline):
 *   sbt "Test/runMain graft.ResultDigests"
 * The generator also prints every query whose digest differs between
 * shuffle partitions 1, [[DefaultPartitions]] and 7.
 */
object ResultDigests {

  val dataDir = "/root/testdata/sf0.001"
  val fixture = "src/test/resources/fixtures/result_digests.json"
  /** The suite session's `spark.sql.shuffle.partitions` (SparkTestBase). */
  val DefaultPartitions = 4

  final case class Pin(digest: String, oracleMd5: String)

  /** Values normalised as graftbench's Digest does: doubles rounded to
    * 6 dp with -0.0 folded into 0.0, through arrays, structs and maps
    * (maps as their key-sorted entry arrays, since maps do not hash). */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Schema md5, row count, the two 32-bit halves of the per-row xxhash64
    * summed, and their XOR — independent of row and partition order. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)), bit_xor(col("h")))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    f"rows=${l(0)}%d;schema=${md5Hex(df.schema.simpleString).take(12)};${l(1)}%x;${l(2)}%x;${l(3)}%x"
  }

  /** One query's digest with the session at `partitions`, built and run
    * under that setting; the previous setting is restored. */
  def digestAt(spark: SparkSession, name: String, partitions: Int): String = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, partitions.toString)
    try digest(SparkEntry.queries(name)(spark, dataDir))
    finally spark.conf.set(key, before)
  }

  def read(path: String = fixture): Map[String, Pin] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.properties().asScala.map { e =>
      e.getKey -> Pin(e.getValue.get("digest").asText, e.getValue.get("oracle_md5").asText)
    }.toMap
  }

  def render(pins: Map[String, Pin]): String =
    pins.toSeq.sortBy(_._1).map { case (n, p) =>
      s"""  "$n": {"digest": "${p.digest}", "oracle_md5": "${p.oracleMd5}"}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    val spark = SparkTestBase.spark
    val names = SparkEntry.queries.keys.toSeq.sorted
    val pins = names.map { n =>
      val t0 = System.nanoTime()
      val at = Seq(1, DefaultPartitions, 7).map(p => p -> digestAt(spark, n, p)).toMap
      val secs = (System.nanoTime() - t0) / 1e9
      if (at.values.toSet.size > 1)
        System.err.println(s"[digests] PARTITION-DEPENDENT $n: $at")
      System.err.println(f"[digests] $n%-28s $secs%6.1f s ${at(DefaultPartitions)}")
      n -> Pin(at(DefaultPartitions), md5Hex(SparkEntry.oracleSql(n)))
    }.toMap
    Files.write(Paths.get(fixture), render(pins).getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[digests] wrote ${pins.size} pins to $fixture")
    spark.stop()
  }
}
