package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Relational engine surface: aggregation, multi-way broadcast join, window,
 * top-k, set ops, JSON navigation (reference F6 analog,
 * adapters/stac/StacParser.java:72-100).
 *
 * Determinism discipline for the DuckDB oracle: money sums go through
 * integer cents (`CAST(ROUND(x*100, 0) AS BIGINT)`) so sums are exact and
 * order-independent; ratios are rounded after identical-order IEEE math.
 */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> { (s, dir) =>
      import s.implicits._
      Tables.read(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          // round-then-cast: DuckDB's double->bigint cast rounds while
          // Spark's truncates, so normalize through ROUND(x, 0) first
          sum(round($"l_quantity", 0).cast("bigint")).as("sum_qty"),
          sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100, 0).cast("bigint"))
            .as("revenue_cents"),
          count(lit(1)).as("n_rows"))
        .withColumn("avg_qty", round($"sum_qty".cast("double") / $"n_rows", 6))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    "q02_region_revenue" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables.read(s, dir, "orders")
      val cust = Tables.read(s, dir, "customer")
      val nation = Tables.read(s, dir, "nation")
      val region = Tables.read(s, dir, "region")
      orders
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(
          sum(round($"o_totalprice" * 100, 0).cast("bigint")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy($"r_name")
    },

    // Anti-join coverage: parts never sold at a deep (>= 9%) discount.
    // LEFT ANTI against the filtered fact table — the filter rides the
    // parquet scan (PushedFilters), and at scale the distinct-partkey side
    // is what shuffles while the dim streams; oracle = NOT EXISTS.
    "q19_parts_never_discounted" -> { (s, dir) =>
      import s.implicits._
      val part = Tables.read(s, dir, "part")
      val li = Tables.read(s, dir, "lineitem")
        .filter($"l_discount" >= 0.09).select($"l_partkey")
      part.join(li, $"p_partkey" === $"l_partkey", "left_anti")
        .select($"p_partkey", $"p_name", $"p_type")
        .orderBy($"p_partkey")
    },

    // Semi-join coverage: customers with at least one urgent order over a
    // price floor — LEFT SEMI keeps the probe side unduplicated without a
    // distinct (no exchange of the multiplicity), oracle = EXISTS.
    "q54_customers_with_urgent" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.read(s, dir, "customer")
      val orders = Tables.read(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 100000.0)
      cust.join(orders, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    // Tumbling-window aggregation — Spark's window() streaming idiom on the
    // batch path. The aggregation is LITERALLY the streaming one
    // (graft.streaming.DocStream.eventWindowCounts, reused by the
    // readStream variant whose equality StreamingSpec asserts): 1-hour
    // buckets per event_type, value sums in integer cents. Window bounds
    // are epoch-derived, replayed with epoch_ms integer arithmetic.
    "q55_tumbling_windows" -> { (s, dir) =>
      import s.implicits._
      graft.streaming.DocStream.eventWindowCounts(Tables.read(s, dir, "events"))
        .orderBy($"w_start_ms", $"event_type")
    },

    // Pivot: event counts by hour-of-day x event_type, through Spark's
    // relational pivot with an EXPLICIT value list (deterministic output
    // schema — never let pivot infer columns with a distinct scan at
    // corpus scale). Oracle = portable conditional aggregation.
    "q89_pivot_hourly" -> { (s, dir) =>
      import s.implicits._
      Tables.read(s, dir, "events")
        .select(hour($"ts".cast("timestamp")).cast("bigint").as("hr"), $"event_type")
        .groupBy($"hr")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // pivot yields NULL for absent (hr, type) combos where conditional
        // aggregation yields 0 — normalize so small scale factors compare
        .select($"hr", coalesce($"click", lit(0L)).as("n_click"),
                coalesce($"error", lit(0L)).as("n_error"),
                coalesce($"purchase", lit(0L)).as("n_purchase"),
                coalesce($"signup", lit(0L)).as("n_signup"),
                coalesce($"view", lit(0L)).as("n_view"))
        .orderBy($"hr")
    },

    // Set difference: AUTOMOBILE customers who never placed an URGENT
    // order — EXCEPT over projected key sets (q05 covers INTERSECT).
    "q90_except_customers" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.read(s, dir, "customer")
        .filter($"c_mktsegment" === "AUTOMOBILE").select($"c_custkey".as("k"))
      val urgent = Tables.read(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey".as("k"))
      cust.except(urgent).orderBy($"k")
    },

    // Custom TYPED aggregation (the Dataset Aggregator API surface): exact
    // population variance of order totals per priority via integer
    // whole-dollar power sums — the Aggregator carries (n, sum, sumsq)
    // exactly, so the distributed merge order cannot change a bit, and the
    // oracle replays S2/n - mean^2 from the same integers (dollar
    // quantization keeps sumsq far from BIGINT overflow at any SF).
    "q91_typed_variance" -> { (s, dir) =>
      import s.implicits._
      val agg = udaf(graft.functions.CentsVariance)
      val d = Tables.read(s, dir, "orders")
        .select($"o_orderpriority",
                round($"o_totalprice", 0).cast("bigint").as("dollars"))
        .groupBy($"o_orderpriority")
        .agg(agg($"dollars").as("v"))
      val mean = $"v.sum".cast("double") / $"v.n"
      d.select($"o_orderpriority", $"v.n".as("n_orders"), $"v.sum".as("sum_dollars"),
               round($"v.sumsq".cast("double") / $"v.n" - mean * mean, 6)
                 .as("var_dollars"))
        .orderBy($"o_orderpriority")
    },

    // ROLLUP: order counts and revenue by (priority, status) with subtotal
    // and grand-total rows — GROUPING SETS coverage; grouping_id
    // disambiguates NULL-as-subtotal from NULL data in both engines.
    "q92_rollup_orders" -> { (s, dir) =>
      import s.implicits._
      Tables.read(s, dir, "orders")
        .select($"o_orderpriority", $"o_orderstatus",
                round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
        .rollup($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("revenue_cents"),
             grouping_id().as("gid"))
        .orderBy($"gid", $"o_orderpriority", $"o_orderstatus")
    },

    // Exact order statistics per group — engine percentile functions
    // differ in interpolation, so the quantile is DEFINED deterministically:
    // the value at rank floor((n-1)*p)+1 of the (cents, event_id)-sorted
    // order. One shuffle by group, rank + pick — the spec is portable to
    // any engine and replayed verbatim.
    "q87_exact_quantiles" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"event_type")
        .orderBy($"cents", $"event_id")
      val ranked = Tables.read(s, dir, "events")
        .select($"event_type", $"event_id",
                round($"value" * 100, 0).cast("bigint").as("cents"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      def pick(pNum: Long, pDen: Long) = // exact integral rank arithmetic
        max(when($"rnk" === expr(s"((n - 1) * $pNum) div $pDen") + 1L, $"cents"))
      ranked.groupBy($"event_type")
        .agg(max($"n").as("n_events"),
             pick(1, 2).as("p50_cents"), pick(9, 10).as("p90_cents"),
             pick(99, 100).as("p99_cents"))
        .orderBy($"event_type")
    },

    // Frame-based rolling window: per user ordered by (ts, event_id), the
    // moving sum/avg of the last 5 events (ROWS BETWEEN 4 PRECEDING AND
    // CURRENT ROW) in integer cents — frame sums are sequential per
    // partition, so exactness needs no quantized-sum tricks, but cents
    // keep avg division deterministic.
    "q88_rolling_window" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.read(s, dir, "events")
        .select($"user_id", $"event_id",
                unix_millis($"ts".cast("timestamp")).as("tms"),
                round($"value" * 100, 0).cast("bigint").as("cents"))
      val w = Window.partitionBy($"user_id").orderBy($"tms", $"event_id")
        .rowsBetween(-4, 0)
      ev.withColumn("roll_cents", sum($"cents").over(w))
        .withColumn("roll_n", count(lit(1)).over(w))
        .select($"user_id", $"event_id", $"tms", $"roll_cents",
                round($"roll_cents".cast("double") / $"roll_n" / 100.0, 6)
                  .as("roll_avg"))
        .orderBy($"user_id", $"tms", $"event_id")
    },

    // Funnel / sequence analysis: per user, earliest view -> earliest
    // subsequent click within 24h -> earliest subsequent purchase within
    // 24h of the click. Three staged min-aggregations chained by joins on
    // the SAME key (user_id) — one co-partitioned shuffle key end to end,
    // no ordered-row state, no window over the full event stream.
    "q60_event_funnel" -> { (s, dir) =>
      import s.implicits._
      val day = 86400000L
      val ev = Tables.read(s, dir, "events")
        .select($"user_id", $"event_type",
                unix_millis($"ts".cast("timestamp")).as("tms"))
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"tms").as("t_view"))
      val c = ev.filter($"event_type" === "click")
        .join(v, "user_id")
        .filter($"tms" > $"t_view" && $"tms" <= $"t_view" + day)
        .groupBy($"user_id").agg(min($"tms").as("t_click"))
      val pu = ev.filter($"event_type" === "purchase")
        .join(c, "user_id")
        .filter($"tms" > $"t_click" && $"tms" <= $"t_click" + day)
        .groupBy($"user_id").agg(min($"tms").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(pu, Seq("user_id"), "left")
        .select($"user_id", $"t_view", $"t_click", $"t_purchase",
                (lit(1L) + when($"t_click".isNotNull, 1L).otherwise(0L)
                   + when($"t_purchase".isNotNull, 1L).otherwise(0L)).as("stage"))
        .orderBy($"user_id")
    },

    // TPC-H Q8 shape (national market share): 5-table star — lineitem fact,
    // part/supplier/nation dims broadcast, orders joined on the fact key —
    // per order-year revenue share of each supplier nation within the
    // PROMO part segment. Revenue in exact integer cents; the share ratio
    // divides two already-aggregated BIGINTs so it replays bit-for-bit.
    "q08_market_share" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.read(s, dir, "lineitem")
      val part = Tables.read(s, dir, "part").filter($"p_type" === "PROMO")
      val supp = Tables.read(s, dir, "supplier")
      val nation = Tables.read(s, dir, "nation")
      val orders = Tables.read(s, dir, "orders")
      val rev = li
        .join(broadcast(part), $"l_partkey" === $"p_partkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
        .join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy(year($"o_orderdate").cast("bigint").as("o_year"), $"n_name")
        .agg(sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100, 0)
               .cast("bigint")).as("revenue_cents"))
      val w = Window.partitionBy($"o_year")
      rev.withColumn("year_cents", sum($"revenue_cents").over(w))
        .select($"o_year", $"n_name", $"revenue_cents",
                round($"revenue_cents".cast("double") / $"year_cents", 6).as("share"))
        .orderBy($"o_year", $"n_name")
    },

    // TPC-H Q9 shape (product-type profit), adapted to this schema's lack
    // of partsupp: profit = revenue - 10% of retail price x quantity (the
    // cost model is synthetic but identical in both engines), grouped by
    // supplier nation x order-year over parts named '%gear%'.
    "q09_product_profit" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.read(s, dir, "lineitem")
      val part = Tables.read(s, dir, "part").filter($"p_name".like("%gear%"))
      val supp = Tables.read(s, dir, "supplier")
      val nation = Tables.read(s, dir, "nation")
      val orders = Tables.read(s, dir, "orders")
      val amountCents = round(
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")
           - $"p_retailprice" * $"l_quantity" * 0.1) * 100, 0).cast("bigint")
      li.join(broadcast(part), $"l_partkey" === $"p_partkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
        .join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name", year($"o_orderdate").cast("bigint").as("o_year"))
        .agg(sum(amountCents).as("profit_cents"), count(lit(1)).as("n_lines"))
        .orderBy($"n_name", $"o_year")
    },

    "q03_top_orders_per_segment" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables.read(s, dir, "orders")
      val cust = Tables.read(s, dir, "customer")
      val w = Window.partitionBy($"c_mktsegment").orderBy($"o_totalprice".desc, $"o_orderkey")
      orders.join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter($"rnk" <= 3)
        .select($"c_mktsegment", $"rnk", $"o_orderkey", $"o_totalprice")
        .orderBy($"c_mktsegment", $"rnk")
    },

    "q04_top100_orders" -> { (s, dir) =>
      import s.implicits._
      Tables.read(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    "q05_priority_intersect" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables.read(s, dir, "orders")
      orders.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
        .intersect(orders.filter($"o_orderpriority" === "5-LOW").select($"o_custkey"))
        .orderBy($"o_custkey")
    },

    // gap-based sessionization (30-min inactivity closes a session): the
    // classic event-pipeline window op — lag -> new-session flag ->
    // running-sum session index -> per-session aggregate
    "q07_sessionize" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      Tables.read(s, dir, "events")
        .withColumn("ms", unix_millis($"ts".cast("timestamp")))
        .withColumn("new_sess",
          when(lag($"ms", 1).over(w).isNull ||
               $"ms" - lag($"ms", 1).over(w) > 1800000L, 1L).otherwise(0L))
        .withColumn("sess_idx", sum($"new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"sess_idx")
        .agg(count(lit(1)).as("n_events"),
             min($"ms").as("start_ms"), max($"ms").as("end_ms"),
             sum(round($"value" * 100, 0).cast("bigint")).as("sum_value_cents"))
        .orderBy($"user_id", $"sess_idx")
    },

    "q06_json_props" -> { (s, dir) =>
      import s.implicits._
      Tables.read(s, dir, "events")
        .withColumn("k", get_json_object($"props", "$.k").cast("bigint"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count($"k").as("n"))
        .orderBy($"event_type")
    })

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       COUNT(*) AS n_rows,
        |       ROUND(CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q89_pivot_hourly" ->
      """SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
        |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q90_except_customers" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY k""".stripMargin,

    "q91_typed_variance" ->
      """WITH s AS (
        |  SELECT o_orderpriority,
        |         COUNT(*) AS n,
        |         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS sum_dollars,
        |         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)
        |                  * CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS sumsq
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, n AS n_orders, sum_dollars,
        |       ROUND(CAST(sumsq AS DOUBLE) / n
        |             - (CAST(sum_dollars AS DOUBLE) / n) * (CAST(sum_dollars AS DOUBLE) / n),
        |             6) AS var_dollars
        |FROM s ORDER BY 1""".stripMargin,

    "q92_rollup_orders" ->
      """SELECT o_orderpriority, o_orderstatus,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin,

    "q87_exact_quantiles" ->
      """WITH r AS (
        |  SELECT event_type, event_id,
        |         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |                                 ORDER BY CAST(ROUND(value * 100, 0) AS BIGINT),
        |                                          event_id) AS BIGINT) AS rnk,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
        |       MAX(CASE WHEN rnk = ((n - 1) * 1) // 2 + 1 THEN cents END) AS p50_cents,
        |       MAX(CASE WHEN rnk = ((n - 1) * 9) // 10 + 1 THEN cents END) AS p90_cents,
        |       MAX(CASE WHEN rnk = ((n - 1) * 99) // 100 + 1 THEN cents END) AS p99_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q88_rolling_window" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS tms,
        |       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
        |            OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
        |       ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
        |                  OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |             / COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |             / 100.0, 6) AS roll_avg
        |FROM events ORDER BY user_id, tms, event_id""".stripMargin,

    "q60_event_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS tms FROM events),
        |v AS (
        |  SELECT user_id, MIN(tms) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.tms) AS t_click
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.tms > v.t_view
        |    AND e.tms <= v.t_view + 86400000 GROUP BY 1),
        |pu AS (
        |  SELECT e.user_id, MIN(e.tms) AS t_purchase
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.tms > c.t_click
        |    AND e.tms <= c.t_click + 86400000 GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, pu.t_purchase,
        |       CAST(1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
        |              + CASE WHEN pu.t_purchase IS NOT NULL THEN 1 ELSE 0 END
        |            AS BIGINT) AS stage
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN pu ON v.user_id = pu.user_id
        |ORDER BY v.user_id""".stripMargin,

    "q19_parts_never_discounted" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_discount >= 0.09E0)
        |ORDER BY p_partkey""".stripMargin,

    "q54_customers_with_urgent" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        |    AND o_totalprice > 100000.0E0)
        |ORDER BY c_custkey""".stripMargin,

    "q55_tumbling_windows" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS w_start_ms, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |       MIN(event_id) AS min_ev, MAX(event_id) AS max_ev
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q08_market_share" ->
      """WITH rev AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, n_name,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |                       AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_year, n_name, revenue_cents,
        |       ROUND(CAST(revenue_cents AS DOUBLE)
        |             / CAST(SUM(revenue_cents) OVER (PARTITION BY o_year) AS DOUBLE),
        |             6) AS share
        |FROM rev ORDER BY o_year, n_name""".stripMargin,

    "q09_product_profit" ->
      """SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)
        |                            - p_retailprice * l_quantity * 0.1) * 100, 0)
        |                     AS BIGINT)) AS BIGINT) AS profit_cents,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_region_revenue" ->
      """SELECT r_name,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q03_top_orders_per_segment" ->
      """SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,

    "q04_top100_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q05_priority_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY o_custkey""".stripMargin,

    "q07_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, value, ms,
        |         CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |sess AS (
        |  SELECT user_id, value, ms,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
        |  FROM flagged)
        |SELECT user_id, sess_idx, COUNT(*) AS n_events,
        |       MIN(ms) AS start_ms, MAX(ms) AS end_ms,
        |       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q06_json_props" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       COUNT(json_extract_string(props, '$.k')) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
}
