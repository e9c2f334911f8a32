package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.Sampling
import graft.ann.{Pq, SemDedup, SemanticDecontaminate, Similarity}

import Shared._

/** Similarity-search queries over `embeddings`: exact top-k, LSH, IVF,
  * PQ, IVF-PQ, semantic dedup and MMR. */
object AnnQueries {

  /** The 8-query panel `vec_ids first .. first + 7`, sorted, as doubles. */
  private def queryPanel(vecs: DataFrame, first: Long): Seq[(Long, Seq[Double])] = {
    val qs = vecs.filter(col("vec_id") >= first && col("vec_id") < first + 8)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq.sortBy(_._1)
    require(qs.size == 8, s"query panel expects vec_ids $first..${first + 7}, got ${qs.size}")
    qs
  }

  /** Squared L2 distance of a float-array column to a double-array one. */
  private def sqL2(v: Column, q: Column): Column = aggregate(
    zip_with(transform(v, x => x.cast("double")), q,
      (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x)

  /** Exact brute-force L2 top-10 per panel query (`qdf`: qid, qvec) in one
    * constant-key-broadcast plan, ranked by (dist, vec_id) — the emitted,
    * DuckDB-replayed surface of q115 and q157. */
  private def bruteL2Top10(vecs: DataFrame, qdf: DataFrame): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("dist").asc, col("vec_id").asc)
    vecs.withColumn("__k", lit(1))
      .join(qdf.withColumn("__k", lit(1)), Seq("__k"))
      .withColumn("dist", sqrt(sqL2(col("embedding"), col("qvec"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("vec_id"), round(col("dist"), 4).as("dist"),
        col("rank"))
      .transform(Pin(_))
  }

  /** DuckDB mirror of [[bruteL2Top10]] on the panel `first .. first + 7`
    * (rank on the unrounded distance, vec_id tiebreak). */
  private def bruteL2OracleSql(first: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id >= $first AND vec_id < ${first + 8}),
       |s AS (SELECT q.qid, e.vec_id,
       |    list_distance(e.embedding::DOUBLE[], q.qv) AS d
       |  FROM embeddings e, q),
       |r AS (SELECT qid, vec_id, d, row_number()
       |    OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS rank FROM s)
       |SELECT qid, vec_id, round(d, 4) AS dist, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The q28/q29/q40 query vector: vec_id 0's embedding, collected. */
  private def vec0(vecs: DataFrame): Seq[Float] =
    vecs.filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0)

  /** qid → the vec_ids it ranks, collected from a (qid, vec_id, …) frame. */
  private def idSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("qid", "vec_id").collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  val queries: Map[String, Query] = Map(
    "q28_ann_topk" -> Query((s, dir) => { // brute-force exact cosine top-k
      val vecs = T(s, dir, "embeddings")
      val q = vec0(vecs)
      Similarity.topK(vecs, "vec_id", "embedding", q, 10)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("cos").desc, col("vec_id").asc)
    },
      // ORDER BY the unrounded cosine (not the rounded alias) so the
      // LIMIT cutoff matches Spark's topK, which ranks before rounding
      oracle = """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 4) AS cos
        |FROM embeddings
        |ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) DESC, vec_id ASC
        |LIMIT 10""".stripMargin),

    "q29_ann_lsh" -> Query((s, dir) => { // LSH-bucketed ANN (scale path)
      val vecs = T(s, dir, "embeddings")
      val q = vec0(vecs)
      Similarity.annLsh(vecs, "vec_id", "embedding", q, 10, planes = 6)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("cos").desc, col("vec_id").asc)
    },
      // q29 oracle: hyperplane LSH recomputed in SQL — the same ±1 plane
      // constants (from Similarity.planeSigns) embedded as literal arrays;
      // per-term products are exact sign flips, so projections/buckets are
      // bitwise identical across engines.
      oracle = {
        val bucket = Similarity.planeSigns(planes = 6, dim = 64).zipWithIndex.map {
          case (row, p) =>
            val arr = row.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(e, $arr) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |bk AS (SELECT vec_id, e, $bucket AS bucket FROM v),
           |q AS (SELECT e AS qv, bucket AS qb FROM bk WHERE vec_id = 0)
           |SELECT vec_id, round(list_cosine_similarity(e, (SELECT qv FROM q)), 4) AS cos
           |FROM bk WHERE bucket = (SELECT qb FROM q)
           |ORDER BY list_cosine_similarity(e, (SELECT qv FROM q)) DESC, vec_id ASC
           |LIMIT 10""".stripMargin
      }),

    "q30_embedding_neardup" -> Query((s, dir) => { // embedding-cosine near-dup pairs
      val vecs = T(s, dir, "embeddings").select("vec_id", "embedding")
      val withCopies = vecs.unionByName(
        vecs.withColumn("vec_id", col("vec_id") + 1000000L))
      Similarity.embeddingNearDups(withCopies, "vec_id", "embedding",
          threshold = 0.98, planes = 8, dim = 64)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("idA", "idB")
    },
      oracle = """WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |v AS (SELECT vec_id, e FROM v0 UNION ALL SELECT vec_id + 1000000, e FROM v0),
        |p AS (SELECT a.vec_id AS idA, b.vec_id AS idB,
        |    list_cosine_similarity(a.e, b.e) AS c
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT idA, idB, round(c, 4) AS cos FROM p WHERE c >= 0.98
        |ORDER BY idA, idB""".stripMargin),

    "q40_ann_ivf" -> Query((s, dir) => { // IVF: k-means-refined partition pruning
      val vecs = T(s, dir, "embeddings")
      val q = vec0(vecs)
      val cents = Similarity.ivfCentroids(vecs, "vec_id", "embedding",
        nCentroids = 16, iters = 2)
      val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
      Similarity.annIvf(assigned, "vec_id", "embedding", q, 10, nProbe = 4, cents)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("cos").desc, col("vec_id").asc)
    },
      // q40/q47 read the sf embeddings table; their fixtures are pinned at
      // sf0.01 (the correctness gate's scale) — k-means is not SQL-expressible
      oracle = fixtureOracle("q40_ann_ivf")),

    "q47_semdedup" -> Query((s, dir) => { // SemDeDup: k-means cluster + cosine drop
      val vecs = T(s, dir, "embeddings").select("vec_id", "embedding")
      // planted exact dups (+1M, cos = 1) and near-dups (+2M, last
      // coordinate shifted +0.1 on a ~unit-norm vector → cos ≈ 0.99);
      // the natural corpus has no pairs above 0.52, so every drop is a
      // plant and both the cos=1 and cos<1 paths are exercised
      val withCopies = vecs
        .unionByName(vecs.withColumn("vec_id", col("vec_id") + 1000000L))
        .unionByName(vecs.filter(pmod(col("vec_id"), lit(5)) === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            concat(slice(col("embedding"), 1, 63),
              array(element_at(col("embedding"), 64) + lit(0.1f))).as("embedding")))
      SemDedup.dropped(withCopies, "vec_id", "embedding", k = 16, tau = 0.96)
        .select(col("id").as("vec_id"), col("dup_of"),
          round(col("max_cos"), 4).as("max_cos"))
        .orderBy("vec_id")
    },
      oracle = fixtureOracle("q47_semdedup")),

    "q64_semantic_decon" -> Query((s, dir) => { // embedding-space decontamination
      // bench = label-0 vectors (the "eval set"); corpus = the rest plus
      // planted leaks (exact copies of even-id bench vectors, id+1e6 —
      // the q30 planting pattern). Natural cross-label max cosine ≤ 0.55
      // at every sf, so τ=0.95 flags exactly the planted leaks.
      val v = T(s, dir, "embeddings").select("vec_id", "label", "embedding")
      val bench = v.filter(col("label") === 0)
      val corpus = v.filter(col("label") =!= 0).unionByName(
        bench.filter(pmod(col("vec_id"), lit(2)) === 0)
          .withColumn("vec_id", col("vec_id") + 1000000L))
      SemanticDecontaminate.contaminated(corpus, "vec_id", "embedding",
          bench, "embedding", threshold = 0.95)
        .orderBy("vec_id")
    },
      // q64 oracle: identical bench/corpus/planting construction; max-then-
      // round on both sides; margins are decisive (planted = 1.0, natural
      // cross-label max ≤ 0.55 at every sf)
      oracle = """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        |bench AS (SELECT e FROM v WHERE label = 0),
        |corp AS (SELECT vec_id, e FROM v WHERE label <> 0
        |  UNION ALL
        |  SELECT vec_id + 1000000, e FROM v WHERE label = 0 AND vec_id % 2 = 0),
        |m AS (SELECT c.vec_id,
        |    round(max(list_cosine_similarity(c.e, b.e)), 4) AS max_cos
        |  FROM corp c CROSS JOIN bench b GROUP BY 1)
        |SELECT vec_id, max_cos FROM m WHERE max_cos >= 0.95
        |ORDER BY vec_id""".stripMargin),

    "q65_topic_quota" -> Query((s, dir) => { // topic-balanced quota sampling
      // cluster-balanced mixing: cap each embedding-LSH "topic" bucket's
      // contribution (16 hyperplane buckets × quota 20) — the same ±1
      // plane constants the q29 oracle mirrors in SQL, so the whole
      // composition is DuckDB-checkable end to end.
      val v = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("bucket", Similarity.lshBucket(col("embedding"), 4, 64))
      Sampling.quotaSample(v.select("vec_id", "bucket"), "vec_id", "bucket",
          quota = 20)
        .orderBy("vec_id")
    },
      // q65 oracle: the same ±1 plane constants as the Spark-side 4-plane
      // topic bucket (bitwise-identical projections — the q29 proof), then
      // the identical md5-rank quota window.
      oracle = {
        val bucket = Similarity.planeSigns(planes = 4, dim = 64).zipWithIndex.map {
          case (row, p) =>
            val arr = row.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(e, $arr) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |bk AS (SELECT vec_id, $bucket AS bucket FROM v),
           |r AS (SELECT vec_id, bucket, CAST(row_number() OVER (
           |    PARTITION BY bucket
           |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS sample_rank
           |  FROM bk)
           |SELECT vec_id, bucket, sample_rank FROM r
           |WHERE sample_rank <= 20 ORDER BY vec_id""".stripMargin
      }),

    "q111_ann_recall" -> Query((s, dir) => { // IVF recall@10 instrumentation
      // q40's IVF asserted nothing about RECALL (VERDICT r3 #8). Here an
      // 8-query panel is scored two ways in ONE vectorized plan each:
      // exact brute-force top-10 (emitted — DuckDB-oracle-able) and IVF
      // top-10 at nProbe ∈ {1,2,4} (asserted in-query, the q101
      // pattern): recall@10 must be monotone in nProbe — guaranteed by
      // the superset-candidates + exact-rescoring construction — and
      // meet a floor at each probe width. All fan-outs are equi-joins
      // (constant-key / centroid / qid broadcasts), never a BNLJ.
      import s.implicits._
      val vecs = T(s, dir, "embeddings").select("vec_id", "embedding")
        .transform(Pin(_))
      val qs = queryPanel(vecs, 0)
      val qdf = broadcast(qs.toDF("qid", "qvec"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      def top10(cand: DataFrame): DataFrame = cand
        .withColumn("cos", Similarity.cosine(
          transform(col("embedding"), x => x.cast("double")), col("qvec")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      val brute = top10(vecs.withColumn("__k", lit(1))
          .join(qdf.withColumn("__k", lit(1)), Seq("__k")))
        .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"),
          col("rank"))
        .transform(Pin(_))
      val bruteSets = idSets(brute)
      val cents = Similarity.ivfCentroids(vecs, "vec_id", "embedding",
        nCentroids = 16, iters = 2)
      val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
        .transform(Pin(_))
      val recalls: Seq[(Int, Double)] = Seq(1, 2, 4).map { np =>
        val pairs = qs.flatMap { case (qid, qv) =>
          Similarity.probeCentroids(qv, cents, np).map(cid => (qid, cid))
        }.toDF("qid", "centroid")
        val ivfSets = idSets(top10(assigned.join(broadcast(pairs), Seq("centroid"))
            .join(qdf, Seq("qid"))))
        np -> qs.map { case (qid, _) =>
          (ivfSets.getOrElse(qid, Set.empty) & bruteSets(qid)).size / 10.0
        }.sum / qs.size
      }
      val r = recalls.toMap
      System.err.println(s"[q111] recall@10 by nProbe: $recalls")
      require(r(1) <= r(2) + 1e-9 && r(2) <= r(4) + 1e-9,
        s"recall must be monotone in nProbe, got $recalls")
      // floors pinned under observed minima across sf0.001/0.01/0.1
      // (0.74/0.78/0.88 — sf0.01 is the weakest panel) with margin
      require(r(1) >= 0.5 && r(2) >= 0.6 && r(4) >= 0.8,
        s"recall floors (0.5/0.6/0.8 at nProbe 1/2/4) violated: $recalls")
      brute.orderBy("qid", "rank")
    },
      // q111 oracle: the emitted surface is the EXACT multi-query brute
      // top-10 (rank on the unrounded cosine, vec_id tiebreak — the q28
      // lesson); the IVF recall numbers are asserted inside the query
      oracle = """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
        |  FROM embeddings e, q),
        |r AS (SELECT qid, vec_id, c, row_number()
        |    OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rank FROM s)
        |SELECT qid, vec_id, round(c, 4) AS cos, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    "q115_ann_pq" -> Query((s, dir) => { // product-quantization ANN (ADC + exact re-rank)
      // The memory half of IVF-PQ (ann/Pq, Jégou TPAMI'11): 64 float
      // dims compress to 8 codes (k=16 per subspace); queries scan ONLY
      // the code column via an ADC lookup table and exact-re-rank the
      // top-C candidates by id equi-join. Emitted surface = the exact
      // brute-force L2 top-10 for an 8-query panel (vec_ids 8..15,
      // disjoint from q111's IVF panel) — DuckDB replays it with
      // list_distance. The PQ path is asserted in-query (q111 pattern):
      // recall@10 is monotone in C (superset candidates + exact rerank)
      // and meets floors at C = {4%, 10%} of the corpus. C scales with
      // n because a FLAT ADC scan's fixed-width recall decays as the
      // corpus grows; in the production IVF-PQ composition the IVF half
      // bounds each probed cell, making the per-cell C constant.
      import s.implicits._
      val vecs = T(s, dir, "embeddings").select("vec_id", "embedding")
        .transform(Pin(_))
      val qs = queryPanel(vecs, 8)
      val qdf = broadcast(qs.toDF("qid", "qvec"))
      val w = Window.partitionBy("qid")
        .orderBy(col("dist").asc, col("vec_id").asc)
      val brute = bruteL2Top10(vecs, qdf)
      val bruteSets = idSets(brute)
      val cb = Pq.train(vecs, "vec_id", "embedding", dim = 64,
        m = 8, k = 32, iters = 3)
      val codes = Pq.encode(vecs, "vec_id", "embedding", cb)
        .transform(Pin(_)) // the 1/32-width scan surface
      // one 8×8×16-double LUT literal covering the whole panel; ADC =
      // m lookups per (row, query) — no float vector touched
      val lutLit = typedlit(qs.map { case (_, qv) => Pq.lutFor(qv, cb) })
      val qidx = (col("qid") - 7).cast("int") // 1-based panel position
      val adc = aggregate(
        zip_with(col("codes"), element_at(lutLit, qidx),
          (c, row) => element_at(row, c + 1)), lit(0.0d), (acc, x) => acc + x)
      val n = vecs.count()
      val cWidths = Seq(math.max(20L, n / 25).toInt, math.max(50L, n / 10).toInt)
      val adcRanked = codes.withColumn("__k", lit(1))
        .join(broadcast(qs.map(_._1).toDF("qid").withColumn("__k", lit(1))),
          Seq("__k"))
        .withColumn("dist", adc)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= cWidths.max) // narrower C is a prefix
        .select("qid", "vec_id", "rank")
        .transform(Pin(_))
      val recalls: Seq[(Int, Double)] = cWidths.map { c =>
        val rr = idSets(adcRanked.filter(col("rank") <= c)
          .join(vecs, Seq("vec_id")) // rehydrate ONLY the candidates
          .join(qdf, Seq("qid"))
          .withColumn("dist", sqL2(col("embedding"), col("qvec")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10))
        c -> qs.map { case (qid, _) =>
          (rr.getOrElse(qid, Set.empty) & bruteSets(qid)).size / 10.0
        }.sum / qs.size
      }
      System.err.println(s"[q115] PQ recall@10 by candidate width: $recalls")
      require(recalls(0)._2 <= recalls(1)._2 + 1e-9,
        s"recall must be monotone in candidate width, got $recalls")
      require(recalls(0)._2 >= 0.5 && recalls(1)._2 >= 0.7,
        s"recall floors (0.5/0.7 at 4%/10% width) violated: $recalls")
      brute.orderBy("qid", "rank")
    },
      // q115 oracle: the emitted surface is the exact brute-force L2
      // top-10 for the vec_id 8..15 panel (rank on the unrounded distance,
      // vec_id tiebreak); the PQ ADC recall floors are asserted in-query
      oracle = bruteL2OracleSql(8)),

    "q145_mmr_rerank" -> Query((s, dir) => { // MMR diversified retrieval
      // Maximal Marginal Relevance (Carbonell & Goldstein SIGIR'98):
      // re-rank the exact top-12 cosine candidates (q28's distributed
      // path) into 6 DIVERSE picks — score = 0.7*rel − 0.3*max-sim-to-
      // selected, greedy. The candidate pool is k-bounded BY
      // CONSTRUCTION (a re-rank stage), so the greedy runs driver-side
      // over 12 rows — the IVF-centroid collect convention; all the
      // distributed work (scan + TakeOrdered top-k) happened upstream.
      // Parity: cosineScalar is bit-identical to the column cosine
      // (same fold order), each step ranks on the ROUNDED 4 dp score
      // with vec_id tie-break (q54), and the oracle unrolls the same
      // 6 greedy steps over list_cosine_similarity (the q28-proven
      // 4 dp cross-engine agreement).
      import s.implicits._
      val vecs = T(s, dir, "embeddings")
      val qv = vecs.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val cands = ann.Similarity.topK(vecs.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", qv, 12)
        .join(vecs.select("vec_id", "embedding").hint("shuffle_hash"),
          Seq("vec_id"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          r.getSeq[Float](2).map(_.toDouble).toIndexedSeq))
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val byId = cands.map(c => c._1 -> c._3).toMap
      val selected =
        scala.collection.mutable.ArrayBuffer[(Int, Long, Double, Double)]()
      var remaining = cands.toList
      for (step <- 1 to 6) {
        val scored = remaining.map { case (id, rel, v) =>
          val pen = if (selected.isEmpty) 0.0
            else selected.map(t =>
              ann.Similarity.cosineScalar(v, byId(t._2))).max
          (id, rel, r4(0.7 * rel - 0.3 * pen))
        }
        val pick = scored.minBy { case (id, _, mmr) => (-mmr, id) }
        selected += ((step, pick._1, pick._2, pick._3))
        remaining = remaining.filterNot(_._1 == pick._1)
      }
      selected.toSeq
        .map { case (rk, id, rel, mmr) => (rk, id, r4(rel), mmr) }
        .toDF("sel_rank", "vec_id", "rel", "mmr")
        .orderBy("sel_rank")
    },
      // q145 oracle: the same 6 greedy MMR steps unrolled (MATERIALIZED);
      // candidate cutoff ranks on the UNROUNDED rel like q28, each step
      // ranks on the ROUNDED 4 dp mmr with vec_id tie-break
      oracle = {
        val steps = (2 to 6).map { k =>
          val prev = s"sel${k - 1}"
          s"""s$k AS MATERIALIZED (
             | SELECT $k AS sel_rank, c.vec_id, c.rel,
             |   round(0.7*c.rel - 0.3*(SELECT max(list_cosine_similarity(c.v, cs.v))
             |     FROM $prev s JOIN c cs ON cs.vec_id = s.vec_id), 4) AS mmr
             | FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
             | ORDER BY mmr DESC, c.vec_id LIMIT 1),
             |sel$k AS MATERIALIZED (SELECT vec_id FROM $prev
             | UNION ALL SELECT vec_id FROM s$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS MATERIALIZED (
           | SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
           |c AS MATERIALIZED (
           | SELECT vec_id, embedding::DOUBLE[] AS v,
           |   list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) AS rel
           | FROM embeddings WHERE vec_id <> 0
           | ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q))
           |   DESC, vec_id LIMIT 12),
           |s1 AS MATERIALIZED (
           | SELECT 1 AS sel_rank, vec_id, rel,
           |   round(0.7*rel - 0.3*0.0, 4) AS mmr
           | FROM c ORDER BY mmr DESC, vec_id LIMIT 1),
           |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
           |$steps
           |SELECT sel_rank, vec_id, round(rel, 4) AS rel, mmr FROM (
           | SELECT * FROM s1 UNION ALL SELECT * FROM s2
           | UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
           | UNION ALL SELECT * FROM s5 UNION ALL SELECT * FROM s6)
           |ORDER BY sel_rank""".stripMargin
      }),

    "q157_ann_ivfpq" -> Query((s, dir) => { // IVF-PQ composed index (IVFADC)
      // The composition of q40's IVF and q115's PQ (ann/IvfPq, Jégou
      // TPAMI'11 §IV): coarse cells partition the vectors, RESIDUALS
      // v − c_cell are product-quantized, and a probe ADC-scans only
      // nProbe cells against per-(query, cell) residual LUTs — the
      // deployable 10^9-vector shape (bounded scan AND bounded bytes).
      // Emitted surface = exact brute-force L2 top-10 for a fresh
      // 8-query panel (vec_ids 16..23, disjoint from q111/q115),
      // DuckDB-replayed via list_distance. The composed path is
      // asserted in-query over the (nProbe, per-cell width) GRID:
      // per-cell top-w candidates make recall formally monotone in
      // BOTH knobs (supersets within cells as w grows, union of more
      // cells as nProbe grows, exact re-rank on top), with floors at
      // the corner points.
      import s.implicits._
      val vecs = T(s, dir, "embeddings").select("vec_id", "embedding")
        .transform(Pin(_))
      val qs = queryPanel(vecs, 16)
      val qdf = broadcast(qs.toDF("qid", "qvec"))
      val brute = bruteL2Top10(vecs, qdf)
      val bruteSets = idSets(brute)
      val idx = ann.IvfPq.train(vecs, "vec_id", "embedding", dim = 64,
        nCells = 16, m = 8, k = 32, iters = 3)
      val codes = ann.IvfPq.encodeFused(vecs, "vec_id", "embedding", idx)
        .transform(Pin(_)) // at rest: partitioned BY CELL (pruned probes)
      val n = vecs.count()
      // per-CELL candidate widths (the production knob: constant per
      // probed cell, so total candidates = nProbe × width)
      val widths = Seq(math.max(6L, n / 84).toInt, math.max(16L, n / 31).toInt)
      val nProbes = Seq(1, 2, 4, 8)
      val probeDf = broadcast(qs.flatMap { case (qid, qv) =>
        ann.IvfPq.probe(qv, idx, nProbes.max)
          .map { case (cell, pr, lut) => (qid, cell, pr, lut) }
      }.toDF("qid", "cell", "probe_rank", "lut"))
      val cellW = Window.partitionBy("qid", "cell")
        .orderBy(col("adist").asc, col("vec_id").asc)
      val cand = codes.join(probeDf, Seq("cell")) // ONLY probed cells scanned
        .withColumn("adist", ann.Pq.adcDistCol(col("codes"), col("lut")))
        .withColumn("crank", row_number().over(cellW))
        .filter(col("crank") <= widths.max)
        .select("qid", "vec_id", "probe_rank", "crank")
        .transform(Pin(_)) // the grid filters below are prefixes of it
      // ALL grid points in ONE job: each candidate row explodes into the
      // (p, wd) cells whose downward-closed rectangle contains it (an
      // 8-struct literal filtered per row — no join), then one exact
      // re-rank windowed by (p, wd, qid). Replaces 8 sequential rerank
      // jobs — the grid collect is ≤ |grid|·|panel|·10 rows.
      val gridLit = typedlit(for (p <- nProbes; wd <- widths) yield (p, wd))
      val rerank = cand
        .select(col("qid"), col("vec_id"),
          explode(filter(gridLit, g =>
            col("probe_rank") <= g.getField("_1") &&
              col("crank") <= g.getField("_2"))).as("g"))
        .select(col("qid"), col("vec_id"),
          col("g._1").as("p"), col("g._2").as("wd"))
        .join(vecs, Seq("vec_id")) // rehydrate ONLY the candidates
        .join(qdf, Seq("qid"))
        .withColumn("dist", sqL2(col("embedding"), col("qvec")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("p", "wd", "qid")
            .orderBy(col("dist").asc, col("vec_id").asc)))
        .filter(col("rank") <= 10)
        .select("p", "wd", "qid", "vec_id").collect()
      val rrSets: Map[(Int, Int, Long), Set[Long]] = rerank
        .groupBy(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .map { case (k, rows) => k -> rows.map(_.getLong(3)).toSet }
      val grid: Seq[((Int, Int), Double)] = for (p <- nProbes; wd <- widths)
        yield (p, wd) -> qs.map { case (qid, _) =>
          (rrSets.getOrElse((p, wd, qid), Set.empty) & bruteSets(qid)).size / 10.0
        }.sum / qs.size
      System.err.println(s"[q157] IVF-PQ recall@10 (nProbe, cellWidth) grid: $grid")
      val g = grid.toMap
      for (wd <- widths; i <- 0 until nProbes.length - 1)
        require(g((nProbes(i), wd)) <= g((nProbes(i + 1), wd)) + 1e-9,
          s"recall must be monotone in nProbe at width $wd: $grid")
      for (p <- nProbes)
        require(g((p, widths(0))) <= g((p, widths(1))) + 1e-9,
          s"recall must be monotone in width at nProbe $p: $grid")
      // floors with margin under the measured grids (0.24-0.26 /
      // 0.60-0.66 / 0.80-0.86 at sf0.001/0.01/0.1 — BASELINE.md r5)
      require(g((nProbes.min, widths.min)) >= 0.15 &&
        g((4, widths.max)) >= 0.5 && g((nProbes.max, widths.max)) >= 0.7,
        s"recall floors (0.15 at 1×narrow, 0.5 at 4×wide, 0.7 at 8×wide) " +
          s"violated: $grid")
      brute.orderBy("qid", "rank")
    },
      // q157 oracle: the q115 exact-L2-top-10 shape on the fresh
      // vec_ids 16..23 panel; the IVF-PQ grid is asserted in-query
      oracle = bruteL2OracleSql(16))
  )
}
