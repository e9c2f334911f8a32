package graft.expr

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.gf

/**
 * The contract every `<kind>_merge_agg` keeps, checked the same way for
 * each of the seven sketches: an all-null group merges to null, null
 * rows are skipped, one blob folds back to its own bytes, and a
 * non-BINARY input fails at analysis naming the function. The probe
 * case runs each `*might_contain` over rows that alternate between two
 * filters in one partition, which guards the probe's identity cache.
 */
class SketchAlgebraSpec extends SparkTestBase {
  import spark.implicits._

  /** (kind name, build aggregate over long `k` / double `x`, merge). */
  private val sketches: Seq[(String, Column, Column => Column)] = Seq(
    ("hll", gf.hll_agg($"k"), gf.hll_merge_agg(_)),
    ("tdigest", gf.tdigest_agg($"x"), gf.tdigest_merge_agg(_)),
    ("count_min", gf.count_min_agg($"k", lit(1L)), gf.count_min_merge_agg(_)),
    ("kmv", gf.kmv_agg($"k", 64), gf.kmv_merge_agg(_)),
    ("bloom", gf.bloom_agg($"k", 200L), gf.bloom_merge_agg(_)),
    ("cbloom", gf.cbloom_agg($"k", 200L), gf.cbloom_merge_agg(_)),
    ("cuckoo", gf.cuckoo_agg($"k", 200L), gf.cuckoo_merge_agg(_)))

  private lazy val values = spark.range(0, 400)
    .select(($"id" % 2).as("g"), xxhash64($"id").as("k"), $"id".cast("double").as("x"))

  for ((name, build, merge) <- sketches)
    test(s"${name}_merge_agg: null group → null, nulls skipped, one blob folds to itself, " +
      "non-BINARY rejected at analysis") {
      // blobs collected first: a rebuild may order partial merges differently
      val blobs = values.groupBy("g").agg(build.as("b")).as[(Long, Array[Byte])]
        .collect().toMap
      val rows = blobs.toSeq.map { case (g, b) => (g, Option(b)) } ++
        Seq(0L, 1L, 2L, 2L).map(g => (g, Option.empty[Array[Byte]]))
      val merged = rows.toDF("g", "b").groupBy("g").agg(merge($"b"))
        .as[(Long, Array[Byte])].collect().toMap
      assert(merged.keySet == Set(0L, 1L, 2L))
      assert(merged(2L) == null, "an all-null group must merge to null")
      for (g <- Seq(0L, 1L))
        assert(java.util.Arrays.equals(merged(g), blobs(g)), s"group $g did not fold to its blob")
      val e = intercept[AnalysisException](values.agg(merge($"k")))
      assert(e.getMessage.contains(s"${name}_merge_agg"), e.getMessage)
    }

  private def answer[S](kind: FilterKind[S], blob: Array[Byte], v: Long): Boolean =
    kind.mightContain(kind.read(blob), v)

  test("*might_contain: rows alternating between two filters each probe their own") {
    val filters: Seq[(FilterKind[_], (Column, Long) => Column, (Column, Column) => Column)] = Seq(
      (SketchKind.bloom, gf.bloom_agg(_, _), gf.might_contain(_, _)),
      (SketchKind.cbloom, gf.cbloom_agg(_, _), gf.cbloom_might_contain(_, _)),
      (SketchKind.cuckoo, gf.cuckoo_agg(_, _), gf.cuckoo_might_contain(_, _)))
    // one partition, filters switching every two rows: A A B B A A …
    def onA(id: Long): Boolean = id / 2 % 2 == 0
    val ids = 0L until 600L
    for ((kind, build, probe) <- filters) {
      // filter A holds 0..99, filter B 100..199; probes run over 0..299
      val Seq(a, b) = Seq(0L, 100L).map(lo =>
        spark.range(lo, lo + 100).agg(build($"id", 100L)).as[Array[Byte]].head())
      val rows = spark.range(0, ids.size, 1, 1)
        .select($"id", ($"id" % 300).as("v"),
          when(($"id" / 2).cast("long") % 2 === 0, lit(a)).otherwise(lit(b)).as("f"))
      val got = rows.select($"id", probe($"f", $"v")).as[(Long, Boolean)]
        .collect().sortBy(_._1).map(_._2).toSeq
      val own = ids.map(id => answer(kind, if (onA(id)) a else b, id % 300))
      val other = ids.map(id => answer(kind, if (onA(id)) b else a, id % 300))
      val wrong = ids.filter(id => got(id.toInt) != own(id.toInt))
      assert(wrong.isEmpty,
        s"${kind.name}: rows ${wrong.take(5).mkString(", ")}… probed against the other filter")
      assert(own != other, s"${kind.name}: the two filters must answer differently")
      val members = ids.filter(id => id % 300 < 200 && (id % 300 < 100) == onA(id))
      assert(members.forall(id => got(id.toInt)), s"${kind.name}: false negative")
    }
  }
}
