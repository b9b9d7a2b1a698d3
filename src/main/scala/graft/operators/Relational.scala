package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Relational/OLAP coverage over the TPC-H-ish tables: aggregations, joins
  * (broadcast / shuffle / semi / anti), window functions, top-k, rollup,
  * set ops, time-bucketed aggregation.
  *
  * Oracle bit-exactness rule used throughout: never hash-compare a SUM of
  * doubles (parallel vs sequential summation differs in final ULPs).
  * Monetary values are integerized per row — ROUND(x*100) → BIGINT cents —
  * so every aggregate is an exact, order-independent integer sum with an
  * identical distributed plan. Ratios derived from exact ints divide
  * bit-identically in both engines.
  */
object Relational {

  /** l_extendedprice*(1-l_discount) in exact cents. */
  private val revenueCents: Column =
    round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** TPC-H Q1: pricing summary report. Pure partial+final hash aggregation —
    * map-side combine collapses 600k rows to (flag×status) groups before the
    * shuffle; at 100 TB this stays one narrow exchange of ~8 rows/partition. */
  val q1PricingSummary: QueryDef = QueryDef.sql(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*(1+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(revenueCents).as("sum_disc_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * 100).cast("long")).as("sum_charge_cents"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-style shipping priority: 3-way join with selective dimension
    * filters, revenue top-10. customer is tiny → broadcast; orders⋈lineitem
    * is the one real shuffle. Top-k via orderBy+limit plans as
    * TakeOrderedAndProject (per-partition heap + driver merge, no full sort). */
  val q3ShippingPriority: QueryDef = QueryDef.sql(
    "q3_shipping_priority",
    """SELECT l_orderkey,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       o_orderdate
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
    val cutoff = lit("1998-03-15 00:00:00").cast("timestamp")
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
    val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(revenueCents).as("revenue_cents"))
      .select("l_orderkey", "revenue_cents", "o_orderdate")
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: 6-table join through nation/region, revenue per nation.
    * All dimensions (supplier/customer/nation/region) broadcast; fact tables
    * shuffle once on orderkey. The c_nationkey = s_nationkey predicate is the
    * classic local-supplier condition. */
  val q5LocalSupplier: QueryDef = QueryDef.sql(
    "q5_local_supplier",
    """SELECT n_name,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(s, d)
      .join(asia, col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    Tables.lineitem(s, d)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenueCents).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** Broadcast dimension join: revenue by part brand. part is small at every
    * SF relative to lineitem → explicit broadcast() keeps the fact table
    * shuffle-free (map-side hash join + partial agg). */
  val joinBroadcastBrand: QueryDef = QueryDef.sql(
    "join_broadcast_brand",
    """SELECT p_brand,
      |       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(revenueCents).as("revenue_cents"), count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Semi/anti join pair: order counts by status for orders that do (semi) /
    * do not (anti) have a recent-shipped lineitem. Both plan as broadcast or
    * shuffled hash semi-joins — no row duplication, no distinct needed. */
  val semiAntiJoin: QueryDef = QueryDef.sql(
    "semi_anti_join",
    """WITH recent AS (SELECT DISTINCT l_orderkey FROM lineitem
      |                WHERE l_shipdate > TIMESTAMP '2000-01-01 00:00:00')
      |SELECT o_orderstatus,
      |       CAST(SUM(CASE WHEN r.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_recent,
      |       CAST(SUM(CASE WHEN r.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_recent
      |FROM orders o LEFT JOIN recent r ON o.o_orderkey = r.l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val recent = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("2000-01-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"))
    val ord = Tables.orders(s, d)
    val withR = ord.join(recent, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).cast("long").as("n_with_recent"))
    val withoutR = ord.join(recent, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).cast("long").as("n_without_recent"))
    withR.join(withoutR, Seq("o_orderstatus"), "full_outer")
      .select(
        col("o_orderstatus"),
        coalesce(col("n_with_recent"), lit(0L)).as("n_with_recent"),
        coalesce(col("n_without_recent"), lit(0L)).as("n_without_recent"))
      .orderBy("o_orderstatus")
  }

  /** Top-k without a global sort: TakeOrderedAndProject. */
  val topkOrders: QueryDef = QueryDef.sql(
    "topk_orders",
    """SELECT o_orderkey, o_custkey,
      |       CAST(ROUND(o_totalprice*100) AS BIGINT) AS totalprice_cents
      |FROM orders
      |ORDER BY totalprice_cents DESC, o_orderkey LIMIT 25""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("totalprice_cents"))
      .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
      .limit(25)
  }

  /** Per-group top-k through graft's injected [[graft.plans.TopKPerGroup]]
    * SparkStrategy: the custom logical node plans to a bounded-heap
    * physical operator — same single clustered exchange as the window
    * row_number form, NO sort, O(groups·k) task memory — and the DuckDB
    * window oracle proves the heap selects exactly the rows the total
    * order would. The one registered query whose plan contains a
    * graft-planned physical operator (TopKStrategySpec pins the plan
    * shape; this pins the values under the driver gate). */
  val topkPerGroupStrategy: QueryDef = QueryDef.sql(
    "topk_per_group_strategy",
    """WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
      |                  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |           FROM orders)
      |SELECT o_orderstatus, o_orderkey,
      |       CAST(ROUND(o_totalprice*100) AS BIGINT) AS totalprice_cents
      |FROM r WHERE rn <= 5 ORDER BY o_orderstatus, o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).select(
      col("o_orderstatus"), col("o_orderkey"),
      col("o_totalprice").cast("double").as("score"))
    graft.plans.TopKPerGroup(base, Seq(col("o_orderstatus")),
        col("score"), col("o_orderkey"), 5)
      .select(col("o_orderstatus"), col("o_orderkey"),
        cents(col("score")).as("totalprice_cents"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  /** Analytic window: per-customer running order-value total in date order.
    * One shuffle on o_custkey + in-partition sort; the frame is the default
    * unbounded-preceding..current row. */
  val windowRunningSum: QueryDef = QueryDef.sql(
    "window_running_sum",
    """SELECT o_custkey, o_orderkey,
      |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
      |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT)
      |         AS running_cents
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Ranking window: top-3 orders per customer by value (dense top-n per
    * group — the scalable alternative to a global sort). */
  val windowTopPerGroup: QueryDef = QueryDef.sql(
    "window_top_per_group",
    """SELECT o_custkey, o_orderkey, rnk FROM (
      |  SELECT o_custkey, o_orderkey,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
  }

  /** Grouping sets via ROLLUP: order stats at (status, priority), (status),
    * and grand-total levels; null group keys labeled 'ALL'. */
  val rollupOrders: QueryDef = QueryDef.sql(
    "rollup_orders",
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_cents"))
      .orderBy("status", "priority")
  }

  /** Exact distinct aggregation (expands to a two-phase plan under the hood). */
  val distinctParts: QueryDef = QueryDef.sql(
    "distinct_parts_per_flag",
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps,
      |       COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** Set operations: customers seen in both open and fulfilled orders
    * (INTERSECT), open-only (EXCEPT), and the union count. The engine form
    * fuses all three into ONE scan of orders and one exchange: per-custkey
    * O/F membership flags via conditional aggregation, then the buckets fall
    * out of a final tiny aggregation (INTERSECT = both flags, EXCEPT = O
    * without F, UNION = any flag). The naive set-op formulation — kept as
    * the oracle, so DuckDB independently verifies the rewrite — scans and
    * distinct-aggregates `orders` six times (2 per branch); the fused plan
    * is 6 exchanges → 2 and is what you'd run at 100 TB. */
  val setOps: QueryDef = QueryDef.sql(
    "set_ops_customers",
    """WITH o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
      |     f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |SELECT 'both' AS bucket, COUNT(*) AS n FROM (SELECT * FROM o INTERSECT SELECT * FROM f) t
      |UNION ALL
      |SELECT 'open_only' AS bucket, COUNT(*) AS n FROM (SELECT * FROM o EXCEPT SELECT * FROM f) t
      |UNION ALL
      |SELECT 'either' AS bucket, COUNT(*) AS n FROM (SELECT * FROM o UNION SELECT * FROM f) t
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val flags = Tables.orders(s, d)
      .filter(col("o_orderstatus").isin("O", "F"))
      .groupBy(col("o_custkey"))
      .agg(
        max(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("has_o"),
        max(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("has_f"))
    // coalesce: a sum over zero input rows is NULL, but the oracle's COUNT(*)
    // branches return 0 on degenerate data — keep parity when no O/F orders exist.
    flags
      .agg(
        coalesce(sum(when(col("has_o") === 1 && col("has_f") === 1, 1L).otherwise(0L)), lit(0L)).as("both"),
        coalesce(sum(when(col("has_o") === 1 && col("has_f") === 0, 1L).otherwise(0L)), lit(0L)).as("open_only"),
        count(lit(1)).as("either"))
      .select(explode(map(
        lit("both"), col("both"),
        lit("either"), col("either"),
        lit("open_only"), col("open_only"))).as(Seq("bucket", "n")))
      .orderBy("bucket")
  }

  /** Time-bucketed aggregation over the event stream: hourly tumbling window.
    * ts arrives as LongType nanos ([[graft.Tables.events]] normalizes the
    * physical column); integer `div` keeps the conversion exact (a double
    * round-trip would lose ns precision). Bucket emitted as epoch seconds
    * so both engines hash identical BIGINTs. */
  val hourlyEvents: QueryDef = QueryDef.sql(
    "hourly_events",
    """SELECT epoch_ms(date_trunc('hour', ts))//1000 AS hour_epoch,
      |       event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(
        timestamp_micros(expr("ts div 1000")).as("ts_us"),
        col("event_type"), col("value"))
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts_us"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .orderBy("hour_epoch", "event_type")
  }

  /** ROBUST anomaly detection over the hourly event-rate series — the
    * median/MAD alarm (Iglewicz & Hoaglin's modified z-score family) that
    * production pipeline monitors run instead of mean/stddev, because one
    * outage hour corrupts a mean but not a median. Per event type: the
    * exact LOWER median of hourly counts (rank (n+1) div 2 — rank
    * selection, no interpolation to disagree across engines), the MAD
    * (lower median of |count − median|), and every hour whose absolute
    * deviation exceeds 3·MAD flagged with its evidence (count, median,
    * MAD, deviation). All integer arithmetic end to end; the 1.4826
    * normal-consistency scale is deliberately folded into the threshold
    * rather than multiplied onto MAD, keeping every value exact.
    *
    * Scale shape: the only corpus-scale pass is the hourly pre-aggregate
    * (map-side combined, same exchange as `hourly_events`); both median
    * selections are windows over the |types × hours| rollup — thousands
    * of rows per year per type, never the event stream. */
  val eventsAnomalyMad: QueryDef = QueryDef.sql(
    "events_anomaly_mad",
    """WITH h AS (SELECT epoch_ms(date_trunc('hour', ts))//1000 AS hour_epoch,
      |                  event_type, COUNT(*) AS n
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, hour_epoch) AS rk,
      |             COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM h),
      |med AS (SELECT event_type, n AS med FROM r WHERE rk = (cnt + 1) // 2),
      |dv AS (SELECT h.*, med.med, abs(h.n - med.med) AS dev FROM h JOIN med USING (event_type)),
      |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, hour_epoch) AS rk2,
      |              COUNT(*) OVER (PARTITION BY event_type) AS cnt2 FROM dv),
      |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rk2 = (cnt2 + 1) // 2)
      |SELECT d.event_type, CAST(d.hour_epoch AS BIGINT) AS hour_epoch,
      |       CAST(d.n AS BIGINT) AS n, CAST(d.med AS BIGINT) AS med,
      |       CAST(m.mad AS BIGINT) AS mad, CAST(d.dev AS BIGINT) AS dev
      |FROM dv d JOIN mad m USING (event_type)
      |WHERE d.dev > 3 * m.mad
      |ORDER BY d.event_type, d.hour_epoch""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts_us"), col("event_type"))
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts_us"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wN = Window.partitionBy(col("event_type")).orderBy(col("n"), col("hour_epoch"))
    val wAll = Window.partitionBy(col("event_type"))
    val med = h
      .withColumn("rk", row_number().over(wN))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col("event_type"), col("n").as("med"))
    val dv = h.join(med, Seq("event_type"))
      .withColumn("dev", abs(col("n") - col("med")))
    val wD = Window.partitionBy(col("event_type")).orderBy(col("dev"), col("hour_epoch"))
    val mad = dv
      .withColumn("rk2", row_number().over(wD))
      .withColumn("cnt2", count(lit(1)).over(wAll))
      .filter(col("rk2") === expr("(cnt2 + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad"))
    dv.join(mad, Seq("event_type"))
      .filter(col("dev") > lit(3) * col("mad"))
      .select(col("event_type"), col("hour_epoch").cast("long"),
        col("n").cast("long"), col("med").cast("long"),
        col("mad").cast("long"), col("dev").cast("long"))
      .orderBy("event_type", "hour_epoch")
  }

  /** SEASONAL-NAIVE forecast backtest over the hourly event rates — the
    * capacity-planning baseline every pipeline monitor starts from
    * (forecast(h) = actual(h − 1 day), the "seasonal naive" of the
    * forecasting literature — the no-parameter model later models must
    * beat). Backtests the trailing 24 hours: per (event_type, hour),
    * actual vs same-hour-yesterday forecast, absolute error, and the
    * event type's milli MAE-over-actual on every row — integer end to
    * end, so the whole backtest hash-compares. Hours absent from the
    * rollup are absent here too (no dense grid is materialized); a
    * missing yesterday-hour forecasts 0, surfaced not interpolated.
    *
    * Scale shape: the hourly pre-aggregate is the only corpus-scale
    * exchange (shared shape with `hourly_events`); the forecast is a
    * self-join of that rollup on (type, hour − 86400) and the MAE a
    * second |types|-row aggregate joined back. */
  val eventsForecast: QueryDef = QueryDef.sql(
    "events_forecast_snaive",
    """WITH h AS (SELECT epoch_ms(date_trunc('hour', ts))//1000 AS he, event_type, COUNT(*) AS n
      |           FROM events GROUP BY 1, 2),
      |mx AS (SELECT MAX(he) AS hmax FROM h),
      |bt AS (SELECT a.event_type, a.he, a.n AS actual, COALESCE(f.n, 0) AS forecast
      |       FROM h a CROSS JOIN mx
      |       LEFT JOIN h f ON f.event_type = a.event_type AND f.he = a.he - 86400
      |       WHERE a.he > mx.hmax - 86400),
      |m AS (SELECT event_type,
      |             1000 * SUM(abs(actual - forecast)) // SUM(actual) AS mae
      |      FROM bt GROUP BY event_type)
      |SELECT bt.event_type, CAST(bt.he AS BIGINT) AS hour_epoch,
      |       CAST(bt.actual AS BIGINT) AS actual,
      |       CAST(bt.forecast AS BIGINT) AS forecast,
      |       CAST(abs(bt.actual - bt.forecast) AS BIGINT) AS abs_err,
      |       CAST(m.mae AS BIGINT) AS type_mae_milli
      |FROM bt JOIN m USING (event_type)
      |ORDER BY bt.event_type, bt.he""".stripMargin) { (s, d) =>
    // r22 (guide §2.4): the hour−86400 lookup and the per-type MAE were a
    // self-join on (event_type, he−86400) plus a groupBy joined back —
    // three exchanges of the rollup and two broadcast builds downstream of
    // `h`. Both are window-expressible over ONE hash(event_type) exchange:
    // the rollup has exactly one row per (type, he), so a RANGE frame
    // [−86400, −86400] over he within the type partition contains exactly
    // the same-hour-yesterday row when it exists (else sums to NULL →
    // coalesce 0 — the self-join's COALESCE(f.n, 0)), and the MAE's two
    // sums are unbounded windows over the SAME partition key on the
    // backtest rows, so neither adds an exchange. Values are identical to
    // the join form row for row; the oracle is untouched.
    val h = Tables.materialize(Tables.events(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts_us"), col("event_type"))
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts_us"))).as("he"),
        col("event_type"))
      .agg(count(lit(1)).as("n")))
    val mx = h.agg(max(col("he")).as("hmax"))
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("he"))
      .rangeBetween(-86400L, -86400L)
    val wType = Window.partitionBy(col("event_type"))
    val bt = h.crossJoin(broadcast(mx))
      .withColumn("forecast", coalesce(sum(col("n")).over(wDay), lit(0L)))
      .filter(col("he") > col("hmax") - 86400L)
      .select(col("event_type"), col("he"), col("n").as("actual"), col("forecast"))
    bt
      .withColumn("sum_abs_err", sum(abs(col("actual") - col("forecast"))).over(wType))
      .withColumn("sum_actual", sum(col("actual")).over(wType))
      .withColumn("mae", expr("1000 * sum_abs_err div sum_actual"))
      .select(col("event_type"), col("he").cast("long").as("hour_epoch"),
        col("actual").cast("long"), col("forecast").cast("long"),
        abs(col("actual") - col("forecast")).cast("long").as("abs_err"),
        col("mae").cast("long").as("type_mae_milli"))
      .orderBy("event_type", "hour_epoch")
  }

  /** Calendar-bucketed multi-grain rollup over the event stream —
    * month → day → event_type hierarchy in ONE pass via GROUP BY ROLLUP
    * (round-9 verdict item 8: exploit the real timestamp type for new
    * event-time surface). Spark plans `rollup` as a single Expand +
    * hash aggregate: each input row is replicated once per grouping set
    * BEFORE the map-side partial agg, so the shuffle carries only
    * partially-combined (group, n, cents) rows — at 100 TB, 4 grouping
    * sets cost one Expand over the scan, never 4 scans or 4 shuffles.
    * Grouped-out levels surface as NULL in both engines; the subtotal
    * marker is derived from GROUPING() bits (composed manually as
    * g(m)+2*g(dy)+4*g(event_type) — Spark's and DuckDB's grouping_id
    * bit orders differ, the per-column GROUPING() function does not),
    * so a literal '(all)' event_type or NULL data value can never be
    * confused with a rollup subtotal row. The coalesced display
    * sentinels remain for hash-friendly non-null columns but are
    * disambiguated by `lvl`. */
  val calendarRollup: QueryDef = QueryDef.sql(
    "calendar_rollup_events",
    """WITH b AS (SELECT date_trunc('month', ts) AS m, date_trunc('day', ts) AS dy,
      |                  event_type, CAST(ROUND(value*100) AS BIGINT) AS cents FROM events)
      |SELECT CAST(GROUPING(m) + 2*GROUPING(dy) + 4*GROUPING(event_type) AS BIGINT) AS lvl,
      |       COALESCE(epoch_ms(m)//1000, -1) AS month_epoch,
      |       COALESCE(epoch_ms(dy)//1000, -1) AS day_epoch,
      |       COALESCE(event_type, '(all)') AS event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(cents) AS BIGINT) AS value_cents
      |FROM b GROUP BY ROLLUP(m, dy, event_type)
      |ORDER BY lvl, month_epoch, day_epoch, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts_us"),
        col("event_type"), cents(col("value")).as("cents"))
      .select(date_trunc("month", col("ts_us")).as("m"),
        date_trunc("day", col("ts_us")).as("dy"),
        col("event_type"), col("cents"))
      .rollup(col("m"), col("dy"), col("event_type"))
      .agg(
        (grouping(col("m")) + lit(2) * grouping(col("dy")) +
          lit(4) * grouping(col("event_type"))).cast("long").as("lvl"),
        count(lit(1)).as("n"), sum(col("cents")).as("value_cents"))
      .select(
        col("lvl"),
        coalesce(unix_timestamp(col("m")), lit(-1L)).as("month_epoch"),
        coalesce(unix_timestamp(col("dy")), lit(-1L)).as("day_epoch"),
        coalesce(col("event_type"), lit("(all)")).as("event_type"),
        col("n"), col("value_cents"))
      .orderBy("lvl", "month_epoch", "day_epoch", "event_type")
  }

  /** Collect/array aggregation: each customer's sorted order-key list,
    * emitted as CSV so both engines hash a plain string. Collected arrays
    * are ORDER-SENSITIVE in a distributed engine — collect_list order is
    * partition-arrival order, so the explicit sort_array is what makes the
    * result deterministic (same reason every fold here carries an explicit
    * order column). */
  val arrayAgg: QueryDef = QueryDef.sql(
    "array_agg_orders",
    """SELECT o_custkey,
      |       array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys_csv,
      |       COUNT(*) AS n
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("orderkeys_csv"),
        count(lit(1)).as("n"))
      .orderBy("o_custkey")
  }

  /** Ranking-function family: rank (gapped), dense_rank, ntile quartiles
    * over order value per status — all exact integers. */
  val windowRanking: QueryDef = QueryDef.sql(
    "window_ranking",
    """SELECT o_orderkey,
      |       CAST(RANK() OVER w AS BIGINT) AS rnk,
      |       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
      |       CAST(NTILE(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(cents(col("o_totalprice")).desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderkey")
  }

  val all: Seq[QueryDef] = Seq(
    q1PricingSummary, q3ShippingPriority, q5LocalSupplier, joinBroadcastBrand,
    semiAntiJoin, topkOrders, topkPerGroupStrategy, windowRunningSum, windowTopPerGroup,
    rollupOrders, distinctParts, setOps, hourlyEvents, eventsAnomalyMad,
    eventsForecast, calendarRollup, arrayAgg,
    windowRanking)
}
