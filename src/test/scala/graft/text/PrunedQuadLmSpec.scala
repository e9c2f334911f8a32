package graft.text

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/**
 * Pruned 4-gram backoff LM vs a driver-side brute-force twin computing
 * the identical formula from hand-built count maps — every branch of
 * the ladder (kept quad, PRUNED-hole backoff, unseen trigram, bigram,
 * unigram, OOV) exercised by construction, plus the countProfile
 * telemetry.
 */
class PrunedQuadLmSpec extends SparkTestBase {
  import spark.implicits._

  // model: "a b c d" twice (quad abcd count 2, survives prune4=2),
  // "a b c e" once (quad abce pruned at 2; its trigram a b c has
  // count 3, survives prune3=2), plus a tail to vary unigrams
  private val model = Seq(
    (0L, "a b c d"), (2L, "a b c d"), (4L, "a b c e"), (6L, "e d c b"))
  // eval rows fire distinct branches:
  //  10: "a b c d" → kept-quad branch
  //  12: "e d c b" → quad (e,d,c,b) count 1 in model → PRUNED →
  //      trigram (d,c,b) count 1 → PRUNED → bigram (c,b) seen → α² branch
  //  14: "b c e d" → quad unseen, trigram (c,e,d) unseen, bigram (e,d)
  //      seen → α² branch; plus "x" words for unigram/OOV docs
  //  16: "z z z d" → quads unseen, trigrams unseen, bigrams (z,z)/(z,d)
  //      unseen, d in vocab → α³ unigram branch (first gram OOV z → α⁴)
  private val evalDocs = Seq(
    (11L, "a b c d"), (13L, "e d c b"), (15L, "b c e d"), (17L, "z z z d"))

  private def words(s: String): Seq[String] = s.split(" ").toSeq

  /** Brute twin of PrunedQuadLm.score: same tables, same formula. */
  private def brute(alpha: Double, prune4: Int, prune3: Int)
      : Map[Long, (Long, Double)] = {
    def grams(k: Int): Seq[Seq[String]] =
      model.flatMap { case (_, t) => words(t).sliding(k).filter(_.length == k) }
    val c4 = grams(4).groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= prune4).toMap
    val c123 = grams(4).map(_.take(3)).groupBy(identity).view.mapValues(_.size).toMap
    val c3 = grams(3).groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= prune3).toMap
    val c23 = grams(3).map(_.take(2)).groupBy(identity).view.mapValues(_.size).toMap
    val cb = grams(2).groupBy(identity).view.mapValues(_.size).toMap
    val c2 = grams(2).map(_.take(1)).groupBy(identity).view.mapValues(_.size).toMap
    val cu = grams(1).groupBy(identity).view.mapValues(_.size).toMap
    val t = grams(1).size.toDouble
    evalDocs.map { case (id, txt) =>
      val qs = words(txt).sliding(4).filter(_.length == 4).toSeq
      val lps = qs.map { q =>
        val p =
          if (c4.contains(q)) c4(q).toDouble / c123(q.take(3))
          else if (c3.contains(q.drop(1))) alpha * c3(q.drop(1)) / c23(q.slice(1, 3))
          else if (cb.contains(q.drop(2))) alpha * alpha * cb(q.drop(2)) / c2(q.slice(2, 3))
          else if (cu.contains(q.drop(3))) alpha * alpha * alpha * cu(q.drop(3)) / t
          else alpha * alpha * alpha * alpha / t
        -math.log(p)
      }
      id -> (qs.size.toLong,
        if (lps.isEmpty) 0.0 else lps.sum / lps.size)
    }.toMap
  }

  test("score matches the brute-force twin on every branch") {
    val got = PrunedQuadLm.score(
        evalDocs.toDF("doc_id", "text"), model.toDF("doc_id", "text"),
        "doc_id", "text", alpha = 0.4, prune4 = 2, prune3 = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = brute(0.4, 2, 2)
    assert(got.keySet == want.keySet)
    want.foreach { case (id, (n, nll)) =>
      assert(got(id)._1 == n, s"doc $id gram count")
      assert(math.abs(got(id)._2 -
        BigDecimal(nll).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        < 1e-9, s"doc $id nll: got ${got(id)._2} want $nll")
    }
  }

  test("prune=1 keeps every table entry: kept == raw in countProfile") {
    val p1 = PrunedQuadLm.countProfile(model.toDF("doc_id", "text"), "text", 1, 1)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    p1.foreach { case (_, raw, kept) => assert(kept == raw) }
    val p2 = PrunedQuadLm.countProfile(model.toDF("doc_id", "text"), "text", 2, 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // abcd survives at order 4; abce/edcb quads pruned
    assert(p2.find(_._1 == 4).get._3 == 1)
    assert(p2.forall { case (_, raw, kept) => kept < raw })
  }

  test("pruning raises NLL: the pruned model backs off where the unpruned scores full") {
    val ev = evalDocs.toDF("doc_id", "text")
    val m = model.toDF("doc_id", "text")
    val unpruned = PrunedQuadLm.score(ev, m, "doc_id", "text", 0.4, 1, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pruned = PrunedQuadLm.score(ev, m, "doc_id", "text", 0.4, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 13's quad exists with count 1 — pruned away ⇒ strictly worse
    assert(pruned(13L) > unpruned(13L))
    // doc 11's quad has count 2 — survives ⇒ identical
    assert(pruned(11L) == unpruned(11L))
  }

  test("an empty model corpus fails by name, not with an ANSI divide-by-zero") {
    val ev = evalDocs.toDF("doc_id", "text")
    for ((what, m) <- Seq(
        "no model rows" -> Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "whitespace-only model" -> Seq((0L, "   "), (1L, "")).toDF("doc_id", "text"))) {
      val e = intercept[Exception](
        PrunedQuadLm.score(ev, m, "doc_id", "text").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("empty model corpus")), s"$what: ${msgs.mkString(" | ")}")
      assert(!msgs.exists(_.contains("DIVIDE_BY_ZERO")), what)
    }
  }
}
