package graft
package queries

import graft.pipeline.RangeJoin
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core: Catalyst-native pushdown, joins, windows, set
  * operations and cubes (q01-q14). */
object RelationalQueries {

  /** decimal-exact sum of a double expression, rounded and emitted as
    * double: `round(sum(CAST(x AS DECIMAL(20,4))),2)::DOUBLE`. */
  private def dsum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast("decimal(20,4)")), scale).cast("double")

  val all: Seq[Query] = Seq(

    Query("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        | round(sum(CAST(l_quantity AS DECIMAL(20,4))),2)::DOUBLE AS sum_qty,
        | round(sum(CAST(l_extendedprice AS DECIMAL(20,4))),2)::DOUBLE AS sum_base_price,
        | round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,4))),2)::DOUBLE AS sum_disc_price,
        | round(round(sum(CAST(l_quantity AS DECIMAL(20,4))),2)::DOUBLE / count(*), 6) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      floor = true) { t =>
      val li = t("lineitem").where(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(round(sum(col("l_quantity").cast("decimal(20,4)")), 2).cast("double") / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    Query("q02_filter_topn",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 49 AND l_shipdate >= TIMESTAMP '2000-01-01'
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
      floor = true) { t =>
      t("lineitem")
        .where(col("l_quantity") >= 49 && col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },

    Query("q03_revenue_by_nation",
      """SELECT n_name,
        | round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(20,4))),2)::DOUBLE AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
      floor = true) { t =>
      val li = t("lineitem")
      val o = t("orders")
      val c = t("customer")
      val n = t("nation")
      // customer grows with sf (1.5 M rows at sf10) — no explicit broadcast;
      // AQE's size gate picks the strategy. Nation is a true 25-row dim.
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("n_name")
    },

    Query("q04_window_latest_order",
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        | SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        | FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
      floor = false) { t =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t("orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    },

    Query("q05_customers_no_recent_orders",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
        |ORDER BY c_custkey""".stripMargin,
      floor = false) { t =>
      val recent = t("orders").where(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      t("customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    Query("q06_orders_with_max_qty_item",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 50)
        |ORDER BY o_orderkey""".stripMargin,
      floor = false) { t =>
      val big = t("lineitem").where(col("l_quantity") >= 50)
      t("orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    Query("q07_setop_parts",
      """(SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity >= 49)
        |EXCEPT
        |(SELECT DISTINCT l_partkey FROM lineitem WHERE l_discount = 0.0)
        |ORDER BY l_partkey""".stripMargin,
      floor = false) { t =>
      val li = t("lineitem")
      val a = li.where(col("l_quantity") >= 49).select("l_partkey").distinct()
      val b = li.where(col("l_discount") === 0.0).select("l_partkey").distinct()
      a.except(b).orderBy("l_partkey")
    },

    Query("q08_rollup_orders",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(CAST(o_totalprice AS DECIMAL(20,4))),2)::DOUBLE AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
      floor = true) { t =>
      t("orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    Query("q09_nation_customer_stats",
      """SELECT n_name, count(*) AS n_customers,
        | round(sum(CAST(c_acctbal AS DECIMAL(20,4))),2)::DOUBLE AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
      floor = true) { t =>
      t("customer")
        .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy("n_name")
    },

    Query("q10_events_hourly",
      """SELECT CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS bucket_start, event_type,
        | count(*) AS n, round(sum(CAST(value AS DECIMAL(20,6))),4)::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      floor = false) { t =>
      t("events")
        .groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("sum_value"))
        .orderBy("bucket_start", "event_type")
    },

    Query("q11_sessionize",
      """WITH g AS (SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM g)
        |SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events,
        | min(us) AS start_us, max(us) AS end_us, max(us) - min(us) AS duration_us,
        | round(sum(CAST(value AS DECIMAL(20,6))),4)::DOUBLE AS sum_value
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
      floor = false) { t =>
      // gap-based sessionization (30-min idle gap): one shuffle on the
      // entity key, two ordered window passes, microsecond-exact boundaries
      pipeline.Sessions.sessionize(t("events"), "user_id", "ts", "event_id",
          gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts").cast("timestamp"))).as("start_us"),
          max(unix_micros(col("ts").cast("timestamp"))).as("end_us"),
          round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("sum_value"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy("user_id", "session_idx")
    },

    Query("q12_cube_orders",
      """SELECT o_orderstatus, o_orderpriority,
        | GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid,
        | count(*) AS n,
        | round(sum(CAST(o_totalprice AS DECIMAL(20,4))),2)::DOUBLE AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
      floor = true) { t =>
      // full grouping-set lattice with grouping_id — the multi-dimensional
      // metrics rollup a per-(source, partition, …) audit report uses
      t("orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    Query("q14_range_join",
      """WITH w(window_id, w_start, w_end) AS (VALUES
        |  (1, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-02 00:00:00'),
        |  (2, TIMESTAMP '2024-01-01 12:00:00', TIMESTAMP '2024-01-03 06:00:00'),
        |  (3, TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-05 00:30:00'),
        |  (4, TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-17 00:00:00'),
        |  (5, TIMESTAMP '2024-02-01 00:00:00', TIMESTAMP '2024-02-01 00:00:00')),
        |j AS (SELECT window_id, event_id FROM events JOIN w
        |      ON ts >= w_start AND ts < w_end)
        |SELECT window_id::BIGINT AS window_id, count(*) AS n_events,
        |  min(event_id) AS first_event, max(event_id) AS last_event,
        |  sum(event_id)::BIGINT AS sum_event_ids
        |FROM j GROUP BY window_id ORDER BY window_id""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // bucketized interval join (1-day buckets): events fall into
      // promotional windows of wildly different lengths — overlapping,
      // sub-bucket, multi-day, and empty. The equi-join on the bucket is
      // plan-guarded (no nested loop); counts + id extremes + id sum pin
      // the full match set without emitting every pair.
      val windows = Seq(
        (1L, "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
        (2L, "2024-01-01 12:00:00", "2024-01-03 06:00:00"),
        (3L, "2024-01-05 00:00:00", "2024-01-05 00:30:00"),
        (4L, "2024-01-10 00:00:00", "2024-01-17 00:00:00"),
        (5L, "2024-02-01 00:00:00", "2024-02-01 00:00:00")
      ).toDF("window_id", "ws", "we")
        .select(col("window_id"), col("ws").cast("timestamp").as("w_start"),
          col("we").cast("timestamp").as("w_end"))
      RangeJoin.joinPointInInterval(t("events"), "ts",
          windows, "w_start", "w_end", bucketSeconds = 86400L)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"), sum(col("event_id")).as("sum_event_ids"))
        .orderBy("window_id")
    },

    Query("q13_asof_join",
      """WITH ord AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |             FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS asof_o_orderkey
        |FROM events e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
      floor = false) { t =>
      // point-in-time join: each event picks the customer's latest order at
      // or before the event timestamp — union + carry-forward window (ONE
      // shuffle, |L|+|R| rows, no range-join explosion); DuckDB's native
      // ASOF JOIN is the oracle. Right side deduped per (customer, date).
      val ev = t("events").select("event_id", "user_id", "ts")
      val ord = t("orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      pipeline.AsOf.joinAsOf(ev, "user_id", "ts", ord, "o_custkey", "o_orderdate",
          payload = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("asof_o_orderkey"))
        .orderBy("event_id")
    }
  )
}
