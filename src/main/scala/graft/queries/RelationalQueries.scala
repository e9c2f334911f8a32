package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Shared._

/** Relational core queries over the TPC-H-style tables and `events` (SURVEY.md §2.3-§2.7). */
object RelationalQueries {

  val queries: Map[String, Query] = Map(
    "q01_agg_lineitem" -> Query((s, dir) => // A1: partial+final hash aggregate
      T(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count("*").as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 4).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus"),
      oracle = """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_price,
        | round(avg(l_discount),4) AS avg_disc
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    "q02_join_broadcast" -> Query((s, dir) => // J4: broadcast hash join on small dim
      T(s, dir, "orders")
        .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count("*").as("cnt"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment"),
      oracle = """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice),2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q03_anti_join" -> Query((s, dir) => // J1: the URL-seen anti-join shape
      T(s, dir, "orders")
        .join(T(s, dir, "customer").filter(col("c_acctbal") < 0).select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy("o_orderstatus").agg(count("*").as("cnt"))
        .orderBy("o_orderstatus"),
      oracle = """SELECT o_orderstatus, count(*) AS cnt FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q04_semi_join" -> Query((s, dir) => // J1 inverse: semi join
      T(s, dir, "customer")
        .join(T(s, dir, "orders").filter(col("o_totalprice") > 100000).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count("*").as("cnt"))
        .orderBy("c_mktsegment"),
      oracle = """SELECT c_mktsegment, count(*) AS cnt FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q05_argmax_window" -> Query((s, dir) => { // W4: argmax per group
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      T(s, dir, "customer").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_mktsegment"), col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_mktsegment")
    },
      oracle = """SELECT c_mktsegment, c_custkey, round(c_acctbal,2) AS acctbal FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer)
        |WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin),

    "q06_batch_assign" -> Query((s, dir) => { // W6: batch-id assignment window
      // UNPARTITIONED window = single-partition global sort: fine ONLY
      // under the reference's chains <= 10,000 bound (csv_processor.py:68)
      // this query mirrors; PlanGuardSpec allowlists it by name.
      val rn = row_number().over(Window.orderBy("c_custkey"))
      T(s, dir, "customer")
        .withColumn("batch_id", floor((rn - 1) / 100.0).cast("long"))
        .groupBy("batch_id").agg(count("*").as("cnt"))
        .orderBy("batch_id")
    },
      oracle = """SELECT batch_id, count(*) AS cnt FROM (
        |  SELECT CAST(floor((row_number() OVER (ORDER BY c_custkey) - 1) / 100.0) AS BIGINT) AS batch_id
        |  FROM customer)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q07_distinct_count" -> Query((s, dir) => // A11: distinct count
      T(s, dir, "orders").agg(countDistinct("o_custkey").as("n")),
      oracle = "SELECT count(DISTINCT o_custkey) AS n FROM orders"),

    "q08_except" -> Query((s, dir) => // SO2: set difference
      T(s, dir, "customer").select("c_custkey")
        .except(T(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
        .agg(count("*").as("n")),
      oracle = """SELECT count(*) AS n FROM (
        |  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)""".stripMargin),

    "q09_mode" -> Query((s, dir) => // A7: mode (most frequent)
      T(s, dir, "events").groupBy("event_type").agg(count("*").as("cnt"))
        .orderBy(col("cnt").desc, col("event_type").asc).limit(1),
      oracle = """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY 1 ORDER BY cnt DESC, event_type ASC LIMIT 1""".stripMargin),

    "q10_priority_dist" -> Query((s, dir) => // A2: distribution count
      T(s, dir, "orders").groupBy("o_orderpriority").agg(count("*").as("cnt"))
        .orderBy("o_orderpriority"),
      oracle = "SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1"),

    "q11_first_int_sum" -> Query((s, dir) => // A4: sum of first integer in string
      T(s, dir, "events").agg(
        sum(when(regexp_extract(col("props"), "([0-9]+)", 1) === "", lit(null))
          .otherwise(regexp_extract(col("props"), "([0-9]+)", 1)).cast("long")).as("total")),
      oracle = """SELECT CAST(sum(CAST(nullif(regexp_extract(props, '([0-9]+)', 1), '') AS BIGINT)) AS BIGINT) AS total
        |FROM events""".stripMargin),

    "q12_staleness_filter" -> Query((s, dir) => // F10/C14: timestamp staleness filter
      T(s, dir, "events").filter(col("ts") < lit("2025-06-01").cast("timestamp"))
        .groupBy("event_type").agg(count("*").as("cnt"))
        .orderBy("event_type"),
      oracle = """SELECT event_type, count(*) AS cnt FROM events
        |WHERE ts < TIMESTAMP '2025-06-01' GROUP BY 1 ORDER BY 1""".stripMargin),

    "q13_event_windows" -> Query((s, dir) => // T8: tumbling event-time windows (batch)
      T(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("hr"))
        .agg(count("*").as("cnt"), round(sum("value"), 2).as("sum_val"))
        .orderBy("hr"),
      oracle = """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr, count(*) AS cnt,
        | round(sum(value),2) AS sum_val
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    "q17_case_bucket" -> Query((s, dir) => // A6: confidence buckets (manual width_bucket)
      T(s, dir, "events")
        .withColumn("bucket", when(col("value") >= 0.8, "high")
          .when(col("value") >= 0.5, "medium").otherwise("low"))
        .groupBy("bucket").agg(count("*").as("cnt"), round(avg("value"), 4).as("avg_val"))
        .orderBy("bucket"),
      oracle = """SELECT bucket, count(*) AS cnt, round(avg(value),4) AS avg_val FROM (
        |  SELECT value, CASE WHEN value >= 0.8 THEN 'high'
        |    WHEN value >= 0.5 THEN 'medium' ELSE 'low' END AS bucket FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
