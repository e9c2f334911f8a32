package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass facility-field probe over raw HTML: all the page-level
 * extraction layers the cascade needs (itemprop microdata, tel: href,
 * JSON-LD block, title, list items) emitted as ONE struct from ONE scan.
 *
 * Replaces ~9 independent unanchored regexes per page
 * (reference: CSS-schema selectors /root/reference/schema_based_extractor.py:443-473
 * compiled per SURVEY.md C25, JSON-LD discovery extractors.py:29-45,
 * title extractors.py:578-580, blocks hybrid_extractor.py:375-399) —
 * the dominant CPU sink at 100 TB of page bytes. Each helper preserves
 * the exact first-match/backtracking semantics of the regex it replaces
 * (see scaladoc per method).
 */
object HtmlFacilityProbe {

  val schema: StructType = StructType(Seq(
    StructField("mdName", StringType),
    StructField("mdStreet", StringType),
    StructField("mdCity", StringType),
    StructField("mdState", StringType),
    StructField("mdZip", StringType),
    StructField("mdTel", StringType),
    StructField("jsonld", StringType),
    StructField("title", StringType),
    StructField("liItems", ArrayType(StringType))))

  /** First `itemprop="prop"[^>]*>([^<]+)<` capture, or null — identical
    * semantics to the regex: per occurrence, skip to the first '>', take a
    * non-empty '<'-terminated run; empty/unterminated capture falls through
    * to the next occurrence (regex backtracking). */
  private def itemprop(s: String, prop: String): String = {
    val lit = "itemprop=\"" + prop + "\""
    var from = 0
    while (from <= s.length) {
      val i = s.indexOf(lit, from)
      if (i < 0) return null
      val gt = s.indexOf('>', i + lit.length)
      if (gt < 0) return null
      val start = gt + 1
      var j = start
      while (j < s.length && s.charAt(j) != '<') j += 1
      if (j > start && j < s.length) return s.substring(start, j)
      from = i + 1
    }
    null
  }

  /** First `href="tel:([0-9+]+)"` capture, or null. */
  private def telHref(s: String): String = {
    val lit = "href=\"tel:"
    var from = 0
    while (from <= s.length) {
      val i = s.indexOf(lit, from)
      if (i < 0) return null
      val start = i + lit.length
      var j = start
      while (j < s.length && {
        val c = s.charAt(j); (c >= '0' && c <= '9') || c == '+'
      }) j += 1
      if (j > start && j < s.length && s.charAt(j) == '"')
        return s.substring(start, j)
      from = i + 1
    }
    null
  }

  /** First lazy `open(.*?)close` capture, null on no/empty capture —
    * matches `extractOrNull` over `(?s)open(.*?)close`. */
  private def between(s: String, open: String, close: String): String = {
    val i = s.indexOf(open)
    if (i < 0) return null
    val start = i + open.length
    val e = s.indexOf(close, start)
    if (e < 0 || e == start) null else s.substring(start, e)
  }

  /** All `(?s)<li>([^<]+)</li>` captures in order (regexp_extract_all:
    * resume after each match end; failed positions advance by one). */
  private def liItems(s: String): Array[UTF8String] = {
    val buf = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var from = 0
    var continue = true
    while (continue) {
      val i = s.indexOf("<li>", from)
      if (i < 0) continue = false
      else {
        val start = i + 4
        var j = start
        while (j < s.length && s.charAt(j) != '<') j += 1
        if (j > start && s.startsWith("</li>", j)) {
          buf += UTF8String.fromString(s.substring(start, j))
          from = j + 5
        } else from = i + 1
      }
    }
    buf.toArray
  }

  private def u8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  def probe(s: String): InternalRow =
    new GenericInternalRow(Array[Any](
      u8(itemprop(s, "name")),
      u8(itemprop(s, "streetAddress")),
      u8(itemprop(s, "addressLocality")),
      u8(itemprop(s, "addressRegion")),
      u8(itemprop(s, "postalCode")),
      u8(telHref(s)),
      u8(between(s, "<script type=\"application/ld+json\">", "</script>")),
      u8(between(s, "<title>", "</title>")),
      new GenericArrayData(liItems(s).asInstanceOf[Array[Any]])))

  // ---- codegen adapters ----
  def probeU8(html: UTF8String): InternalRow = probe(html.toString)
  def probeBytes(html: Array[Byte]): InternalRow =
    probe(new String(html, java.nio.charset.StandardCharsets.UTF_8))
}
