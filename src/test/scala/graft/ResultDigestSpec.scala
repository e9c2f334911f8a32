package graft

/**
 * Offline result-regression gate over EVERY driver query: each
 * `SparkEntry.queries` result at sf0.001 must match its pinned
 * order-insensitive digest (schema and all columns, doubles rounded —
 * see [[ResultDigests]]) at shuffle partitions 1 and 7, and each
 * `oracleSql` text its pinned md5. A refactor that keeps these green
 * keeps every query's rows and the driver's DuckDB side unchanged.
 *
 * The pins change only with an intended semantic change, named in
 * CHANGES.md: `sbt "Test/runMain graft.ResultDigests"`.
 */
class ResultDigestSpec extends SparkTestBase {

  /** Queries whose digest differs between shuffle partitions 1 and 7,
    * each with its observed cause. They are checked at the suite default
    * only (the partition count the pin was generated at), never dropped;
    * each is a parallelism defect on ROADMAP. */
  private val partitionDependent: Map[String, String] = Map.empty

  private lazy val pins = ResultDigests.read()

  private def mismatches(names: Seq[String], partitions: Int): Seq[String] =
    names.flatMap { n =>
      try {
        val d = ResultDigests.digestAt(spark, n, partitions)
        if (d == pins(n).digest) None
        else Some(s"$n: got $d, pinned ${pins(n).digest}")
      } catch {
        case e: Exception => Some(s"$n: failed: ${e.getMessage}")
      }
    }

  test("the pinned names equal SparkEntry.queries and oracleSql") {
    assert(pins.keySet == SparkEntry.queries.keySet)
    assert(pins.keySet == SparkEntry.oracleSql.keySet)
    assert(partitionDependent.keySet.subsetOf(pins.keySet))
  }

  test("every oracleSql text matches its pinned md5") {
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (n, sql) if ResultDigests.md5Hex(sql) != pins(n).oracleMd5 => n
    }
    assert(bad.isEmpty, s"oracle SQL changed: ${bad.mkString(", ")}")
  }

  for (p <- Seq(1, 7))
    test(s"every query's result digest matches its pin at shuffle partitions $p") {
      val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(partitionDependent.contains)
      val bad = mismatches(names, p)
      assert(bad.isEmpty, bad.mkString("\n"))
    }

  test("partition-dependent queries match their pin at the suite default") {
    val bad = mismatches(partitionDependent.keys.toSeq.sorted, ResultDigests.DefaultPartitions)
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
