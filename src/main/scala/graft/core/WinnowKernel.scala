package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass winnowed-fingerprint kernel (Schleimer et al., SIGMOD 2003)
 * backing `winnow_fingerprints` ([[graft.expr.ScalarKernel]]). Semantics are EXACTLY the
 * column-expression pipeline in NearDup.winnowFingerprintsCols (the
 * spec asserts differential equality): lowercase → keep [a-z0-9] →
 * md5-60bit hash of every k-char gram → per-w-window minima (monotonic
 * deque, O(n) instead of the column version's O(n·w) interpreted array
 * ops) → distinct ascending.
 *
 * The gram hash is the top 60 bits of md5 (= first 15 hex chars parsed
 * base-16), matching NearDup.md5TokenHash so the driver's DuckDB oracle
 * recomputes identical values from raw text.
 */
object WinnowKernel {

  private def hash60(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    v >>> 4 // drop the 16th hex char: 60-bit value, never negative
  }

  def fingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    // no-arg toLowerCase == Spark lower()'s non-ASCII path (default
    // locale on both sides); Locale.ROOT would diverge on tr_TR hosts
    val lowered = text.toString.toLowerCase
    val sb = new java.lang.StringBuilder(lowered.length)
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      i += 1
    }
    val nrm = sb.toString
    val n = nrm.length
    val md = MessageDigest.getInstance("MD5")
    if (n < k) return new GenericArrayData(Array(hash60(md, nrm)))
    val m = n - k + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) { hs(p) = hash60(md, nrm.substring(p, p + k)); p += 1 }
    val mins: Array[Long] =
      if (m < w) {
        var mn = hs(0); var j = 1
        while (j < m) { if (hs(j) < mn) mn = hs(j); j += 1 }
        Array(mn)
      } else {
        val out = new Array[Long](m - w + 1)
        val dq = new Array[Int](m) // deque of indices with increasing hs
        var head = 0; var tail = 0; var j = 0
        while (j < m) {
          while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
          dq(tail) = j; tail += 1
          if (dq(head) <= j - w) head += 1
          if (j >= w - 1) out(j - w + 1) = hs(dq(head))
          j += 1
        }
        out
      }
    java.util.Arrays.sort(mins)
    val ded = new Array[Long](mins.length)
    var cnt = 0; var j = 0
    while (j < mins.length) {
      if (cnt == 0 || ded(cnt - 1) != mins(j)) { ded(cnt) = mins(j); cnt += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ded, cnt))
  }
}
