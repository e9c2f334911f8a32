package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers that more than one query family uses. */
object Shared {

  /** The sf table `name` of the scale directory `dir`. */
  private[queries] def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Synthetic url per document row — identical string construction in the
    * DuckDB oracles, so url ops are cross-checkable. */
  private[queries] def docUrl: Column =
    concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/doc-"), col("doc_id"))

  private[queries] val docUrlSql =
    "concat('https://', source, '.example.com/', lang, '/doc-', doc_id)"

  /** words: lowercase letter runs, empties dropped (matches TextOps.words). */
  private[queries] val wordsSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '')"

  /** DuckDB word list — identical to [[graft.text.TextOps.words]]. */
  private[queries] val duckWords =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"

  /** DuckDB k-word-shingle set over `words` (matches NearDup.shingleHashes
    * modulo the collision-free hash: set cardinalities are identical). */
  private[queries] def duckShingles(k: Int): String =
    s"""CASE WHEN len(words) < $k THEN [array_to_string(words, ' ')]
       | ELSE list_distinct(list_transform(range(1, len(words) - ${k - 2}),
       |   i -> array_to_string(words[i:i+${k - 1}], ' '))) END""".stripMargin

  /** DuckDB: the first `hexDigits` hex digits of md5(`expr`) as a BIGINT
    * — at 15 digits the portable 60-bit hash of NearDup.md5TokenHash. */
  private[queries] def md5Bits(expr: String, hexDigits: Int): String =
    s"CAST('0x' || substring(md5($expr), 1, $hexDigits) AS BIGINT)"

  /** DuckDB: per-source distinct word-3-gram sets `g`, their sizes `c`
    * and per-source-pair shared counts `sh` (TextOps.sourceOverlapMatrix
    * at n = 3) — the CTEs of the q92/q104/q122 overlap oracles. */
  private[queries] val sourceGramCtes =
    s"""w AS (SELECT source, $duckWords AS words FROM documents),
       |g AS (SELECT DISTINCT source, array_to_string(words[i:i+2], ' ') AS g
       |  FROM w, unnest(range(1, len(words) - 1)) AS t(i)),
       |c AS (SELECT source, count(*) AS n FROM g GROUP BY source),
       |sh AS (SELECT a.source AS sa, b.source AS sb, count(*) AS shared
       |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)""".stripMargin

  /** Golden-fixture oracle (see [[GenDriverFixtures]]): the query has no
    * sf-table input (deterministic synthetic corpus + custom expressions
    * DuckDB cannot evaluate), so its once-pinned result parquet IS the
    * oracle — a hard rows+schema+values regression gate. */
  private[queries] def fixtureOracle(name: String): String =
    s"SELECT * FROM '/root/repo/${GenDriverFixtures.fixtureDir}/$name.parquet'"
}
