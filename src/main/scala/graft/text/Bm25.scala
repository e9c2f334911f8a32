package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * BM25 ranked retrieval over the corpus (Robertson & Walker SIGIR'94;
 * the Okapi formula with the (k1+1) numerator) — the query-time half
 * the indexing suite lacked: q54's TF-IDF scores documents in
 * isolation, q77 builds postings; this RANKS documents for a query:
 *
 *   score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
 *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
 *
 * Scale shape: ONE text scan builds the (doc, term, tf) table; dl and
 * df both derive from it (no second scan). The query set is a tiny
 * broadcast joined into tf on term — the corpus never shuffles on
 * anything but the term key, and only for rows matching query terms
 * (the broadcast join prunes first). N and avgdl are 1-row in-plan
 * aggregates. Top-k per query is a window over (query, score) — rank
 * ties broken on the ROUNDED score then doc id (the q54 cross-engine
 * tie lesson), so both engines rank identically.
 */
object Bm25 {

  /**
   * Top-k docs per query. `queries`: (query_id, term) rows, one row
   * per query term (duplicate terms count once — dedup applied).
   * Returns (query_id, rank, doc_id, score) with score rounded to
   * `scoreDp` decimals (ranking uses the rounded score).
   */
  def topDocs(docs: DataFrame, idCol: String, textCol: String,
              queries: DataFrame, k1: Double = 1.2, b: Double = 0.75,
              topK: Int = 10, scoreDp: Int = 6): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.words(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(Pin(_)) // feeds dl, df, and the posting join
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("__n")))
    // avgdl as exact-integer sum ÷ count: ONE double division, so both
    // engines agree to the last bit (avg() would accumulate doubles in
    // partition order — a gratuitous ulp hazard)
    val avgRow = broadcast(dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl")))
    val q = queries.select(col("query_id"), col("term")).distinct()
    val scored = tf
      .join(broadcast(q), "term") // prunes the corpus to query terms FIRST
      .join(dfT.hint("shuffle_hash"), "term")
      .join(dl.hint("shuffle_hash"), "doc_id")
      .crossJoin(nRow).crossJoin(avgRow)
      .select(col("query_id"), col("doc_id"),
        // written to mirror the oracle SQL operation-for-operation
        (log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("dl") / col("__avgdl")))).as("__c"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("__c")), scoreDp).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
  }
}
