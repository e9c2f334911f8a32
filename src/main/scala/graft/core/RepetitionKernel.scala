package graft.core


import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass Gopher repetition metrics (backing
 * `repetition_metrics` ([[graft.expr.ScalarKernel]])): per-doc top-n-gram and duplicate
 * n-gram character fractions computed in a single JVM scan with two
 * per-doc hash maps — ZERO shuffle, vs the column pipeline's exploded
 * (doc, n, gram) rows through two corpus-wide aggregations. Semantics
 * are EXACTLY graft.text.Repetition.metricsCols (differential spec):
 *   - words = maximal [a-z] runs of the Unicode-lowercased text;
 *   - gram chars = sum of its words' lengths (gram length − (n−1));
 *   - top pick = max (count, gramChars, gram) — grams are ASCII so
 *     lexicographic String order == the column version's UTF8 order;
 *   - fractions = long arithmetic then double division, matching
 *     Spark's Divide cast order; wordless docs score (0.0, 0.0).
 */
object RepetitionKernel {

  private def grams(words: Array[String], n: Int): java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]()
    var i = 0
    while (i + n <= words.length) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
      val g = sb.toString
      m.merge(g, 1L, (a, b) => a + b)
      i += 1
    }
    m
  }

  def metrics(text: UTF8String, topN: Int, dupN: Int): InternalRow = {
    // no-arg toLowerCase == Spark lower()'s non-ASCII path (default
    // locale on both sides) — Locale.ROOT would diverge from the column
    // spec on e.g. tr_TR hosts ('I' → dotless ı vs 'i')
    val lowered = text.toString.toLowerCase
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var tot = 0L
    var i = 0
    val sb = new java.lang.StringBuilder()
    while (i <= lowered.length) {
      val c = if (i < lowered.length) lowered.charAt(i) else ' '
      if (c >= 'a' && c <= 'z') sb.append(c)
      else if (sb.length > 0) { words += sb.toString; tot += sb.length; sb.setLength(0) }
      i += 1
    }
    val ws = words.toArray
    var topFrac = 0.0
    var dupFrac = 0.0
    if (tot > 0) {
      val tm = grams(ws, topN)
      if (!tm.isEmpty) {
        var bestCnt = -1L; var bestGc = -1L; var bestGram: String = null
        val it = tm.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val gc = (e.getKey.length - (topN - 1)).toLong
          val better = e.getValue > bestCnt ||
            (e.getValue == bestCnt && (gc > bestGc ||
              (gc == bestGc && e.getKey.compareTo(bestGram) > 0)))
          if (better) { bestCnt = e.getValue; bestGc = gc; bestGram = e.getKey }
        }
        topFrac = (bestCnt * bestGc).toDouble / tot.toDouble
      }
      val dm = grams(ws, dupN)
      var dupChars = 0L
      val it2 = dm.entrySet().iterator()
      while (it2.hasNext) {
        val e = it2.next()
        if (e.getValue > 1)
          dupChars += (e.getValue - 1L) * (e.getKey.length - (dupN - 1))
      }
      dupFrac = dupChars.toDouble / tot.toDouble
    }
    new GenericInternalRow(Array[Any](topFrac, dupFrac))
  }
}
