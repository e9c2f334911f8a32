package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.HtmlDom

/**
 * `html_table_cells(html)` → array<struct<table:int, row:int, col:int,
 * is_header:boolean, cell:string>> — structured `<table>` extraction
 * through the real DOM ([[graft.core.HtmlDom]]), the tabular companion
 * to the CSS field extractors (SURVEY.md C25; reference behavior:
 * crawl4ai's table-to-rows extraction in its markdown/structured
 * pipelines, e.g. facility rosters published as HTML tables).
 *
 * Semantics (the BeautifulSoup-convention subset):
 *  - tables are indexed in document order (nested tables get their own
 *    index);
 *  - a row is a `tr` whose NEAREST ancestor `table` is this table
 *    (so `thead`/`tbody` wrappers are transparent and nested tables
 *    don't leak rows into their parent);
 *  - cells are the `td`/`th` ELEMENT CHILDREN of the row, indexed by
 *    position; `is_header` = the cell is a `th`;
 *  - cell text is the whitespace-collapsed subtree text (the
 *    [[HtmlDom.Elem.text]] contract the CSS engine uses).
 *
 * Sloppy HTML (unclosed `tr`/`td`) is repaired by the DOM's recovery
 * rules, so a page that omits every `</tr>` extracts identically to
 * its well-formed twin — q144 plants exactly that and proves it
 * against a formula-level oracle. Single pass per page, zero shuffle
 * (the C24/C25 kernel family).
 */
object HtmlTableCells {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("table", IntegerType), StructField("row", IntegerType),
    StructField("col", IntegerType), StructField("is_header", BooleanType),
    StructField("cell", StringType))), containsNull = false)

  private def nearestTable(e: HtmlDom.Elem): HtmlDom.Elem = {
    var p = e.parent
    while (p != null && p.tag != "table") p = p.parent
    p
  }

  def cells(html: UTF8String): GenericArrayData = {
    val root = HtmlDom.parse(html.toString)
    val all = HtmlDom.documentOrder(root)
    val tables = all.filter(_.tag == "table")
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    tables.zipWithIndex.foreach { case (t, ti) =>
      // rows: tr descendants whose nearest ancestor table is t
      val rows = HtmlDom.documentOrder(t)
        .filter(e => e.tag == "tr" && (nearestTable(e) eq t))
      rows.zipWithIndex.foreach { case (tr, ri) =>
        var ci = 0
        tr.children.foreach { c =>
          if (c.tag == "td" || c.tag == "th") {
            out += InternalRow(ti, ri, ci, c.tag == "th",
              UTF8String.fromString(c.text))
            ci += 1
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }
}
