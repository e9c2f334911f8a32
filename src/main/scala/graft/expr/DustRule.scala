package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `dust_rule(a, b)` → struct<alpha:string, beta:string> — the
 * substring-substitution rule that rewrites url `a` into url `b`,
 * extracted by stripping the longest common PREFIX, then the longest
 * common SUFFIX of the remainders (DustBuster's rule shape:
 * Bar-Yossef, Keidar & Schonfeld, WWW'07 "Do not crawl in the DUST" —
 * mining "different URLs with similar text" rewrite rules like
 * `?utm_source=…` → `` or `/amp` → `` from observed alias pairs, so a
 * crawler can canonicalize BEFORE fetching).
 *
 * `alpha` is a's differing middle, `beta` is b's; identical strings
 * yield ("", ""). Null if either side is null. Operates on UTF-8
 * BYTES (urls are ASCII by RFC; byte-LCP is what the dedup rule needs
 * and keeps both engines' semantics trivially aligned). One pass, no
 * allocation beyond the two substrings; codegen'd as a static call —
 * the C24 kernel family.
 */
object DustRule {

  val schema: DataType = StructType(Seq(
    StructField("alpha", StringType), StructField("beta", StringType)))

  def rule(a: UTF8String, b: UTF8String): InternalRow = {
    val x = a.getBytes
    val y = b.getBytes
    var p = 0
    val maxP = math.min(x.length, y.length)
    while (p < maxP && x(p) == y(p)) p += 1
    var s = 0
    val maxS = math.min(x.length, y.length) - p
    while (s < maxS && x(x.length - 1 - s) == y(y.length - 1 - s)) s += 1
    InternalRow(
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(x, p, x.length - s)),
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(y, p, y.length - s)))
  }
}
