package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Inverted-index construction: term → capped posting list — the search
 * side of a crawl corpus (the reference stops at per-page keyword
 * scoring, `extractors.py:363-381`; a web-scale engine also has to
 * BUILD the index the crawl feeds).
 *
 * For every term: document frequency, total term frequency, and the
 * top-`cap` postings ordered by (tf desc, id asc), serialized as
 * "id:tf,id:tf,…" so the result is engine-portable (the DuckDB oracle
 * reproduces the string byte-for-byte via ordered string_agg).
 *
 * Scale shape: one words-explode → (term, doc) hash agg (map-side
 * combinable), then a per-term window rank caps the posting list —
 * a hot term ("the") never materializes an unbounded list: rows past
 * `cap` are filtered BEFORE the collect_list, so per-group state is
 * bounded at `cap` structs. The df/total_tf stats aggregate the full
 * (term, doc) table separately (no cap) and join back on term.
 */
object InvertedIndex {

  /** (term, df, total_tf, postings) — postings = top-`cap` docs by
    * (tf desc, id asc) as "id:tf,…". Ordered-by-term output is the
    * caller's job (queries add .orderBy). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            cap: Int = 10): DataFrame = {
    val tf = docs
      .select(col(idCol).cast("long").as("__id"),
        explode(TextOps.words(col(textCol))).as("term"))
      .groupBy("term", "__id").agg(count(lit(1)).as("tf"))
      .transform(Pin(_)) // feeds stats agg AND the ranked postings
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
    val w = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("__id").asc)
    val posts = tf
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .groupBy("term")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__rk"),
            concat(col("__id").cast("string"), lit(":"),
              col("tf").cast("string")).as("__p")))),
          x => x.getField("__p")),
        ",").as("postings"))
    stats.join(posts, Seq("term"))
      .select(col("term"), col("df"), col("total_tf"), col("postings"))
  }
}
