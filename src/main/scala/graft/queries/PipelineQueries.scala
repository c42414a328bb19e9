package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestRead

import graft.SparkEntry.{dbl, scd2Source, staged, t}
import graft.etl.{GoldMarts, Scd2, StarSchema}

import Shared._

/** The medallion pipeline's own queries: TPC-H-style aggregations, the
  * star fact and the Gold seller/customer marts, the SCD2 engine (classify,
  * apply, deletes, as-of, bucketed merge, time travel, change feed) and the
  * streaming and table-store operators that feed it. */
private[graft] object PipelineQueries {
  // SCD2 simulation timestamps (pinned; the reference drifts current_timestamp)
  private val T0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val T1 = Timestamp.valueOf("2026-02-01 00:00:00")

  /** fact_order_details as a SQL CTE body (mirrors StarSchema). */
  private def factSql: String =
    """SELECT l.l_orderkey AS OrderID, l.l_linenumber AS OrderItemID,
      |  o.o_custkey AS CustomerID, c.c_name AS CustomerName,
      |  l.l_partkey AS ProductID, p.p_name AS ProductName, p.p_brand AS CategoryName,
      |  l.l_suppkey AS SellerID, s.s_name AS SellerName,
      |  n.n_name AS NationName, r.r_name AS RegionName,
      |  CASE WHEN l.l_returnflag = 'N' THEN 'Delivered'
      |       WHEN l.l_returnflag = 'A' THEN 'Cancelled'
      |       ELSE 'Returned' END AS StatusName,
      |  CAST(l.l_quantity AS DECIMAL(12,2)) AS Quantity,
      |  CAST(l.l_extendedprice AS DECIMAL(12,2)) AS CurrentPrice,
      |  CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(l.l_extendedprice AS DECIMAL(12,2)) AS TotalAmount,
      |  o.o_orderdate AS OrderDate
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  private def dailySql: String =
    """SELECT SellerID, SellerName, ProductID, ProductName, CategoryName,
      |  CAST(year(CAST(OrderDate AS DATE)) AS INTEGER) AS year,
      |  CAST(quarter(CAST(OrderDate AS DATE)) AS INTEGER) AS quarter,
      |  CAST(month(CAST(OrderDate AS DATE)) AS INTEGER) AS month,
      |  CAST(OrderDate AS DATE) AS order_date,
      |  SUM(TotalAmount) AS total_revenue,
      |  SUM(Quantity) AS total_quantity_sold,
      |  COUNT(DISTINCT OrderID) AS distinct_orders
      |FROM fact GROUP BY 1,2,3,4,5,6,7,8,9""".stripMargin

  private def scd2SourceSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
      |  CASE WHEN c_custkey % 3 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
      |FROM customer WHERE c_custkey % 10 < 8
      |UNION ALL
      |SELECT c_custkey + 1000000, 'NEW ' || c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin

  private def fpSql(alias: String = ""): String = {
    val p = if (alias.isEmpty) "" else alias + "."
    s"sha256(concat_ws('||', ${p}c_name, CAST(${p}c_nationkey AS VARCHAR), " +
      s"CAST(${p}c_acctbal AS VARCHAR), ${p}c_mktsegment))"
  }

  private def stagedSql: String =
    s"""WITH src AS ($scd2SourceSql),
       |sh AS (SELECT *, ${fpSql()} AS hash FROM src),
       |th AS (SELECT c_custkey, ${fpSql()} AS hash FROM customer),
       |j AS (SELECT sh.c_custkey AS s_key, sh.c_name, sh.c_nationkey, sh.c_acctbal,
       |        sh.c_mktsegment, th.c_custkey AS t_key, sh.hash AS s_hash, th.hash AS t_hash
       |      FROM sh FULL OUTER JOIN th ON sh.c_custkey = th.c_custkey),
       |staged AS (
       |  SELECT s_key AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       |    CASE WHEN t_key IS NULL THEN 'INSERT'
       |         WHEN s_key IS NULL THEN 'NO CHANGE'
       |         WHEN s_hash <> t_hash THEN 'UPDATE'
       |         ELSE 'NO CHANGE' END AS action
       |  FROM j)
       |""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q01_pricing_summary", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity").cast("decimal(12,2)")).as("sum_qty_d"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).as("sum_base_price_d"),
        sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))).as("sum_disc_price_d"),
        count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          dbl("sum_qty_d").as("sum_qty"),
          dbl("sum_base_price_d").as("sum_base_price"),
          dbl("sum_disc_price_d").as("sum_disc_price"),
          col("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin),
    Query("q02_star_fact", (s, dir) =>
      StarSchema.factOrderDetails(s, dir)
        .withColumn("Quantity", dbl("Quantity"))
        .withColumn("CurrentPrice", dbl("CurrentPrice"))
        .withColumn("TotalAmount", dbl("TotalAmount")),
      s"""WITH fact AS ($factSql)
         |SELECT OrderID, OrderItemID, CustomerID, CustomerName, ProductID, ProductName,
         |  CategoryName, SellerID, SellerName, NationName, RegionName, StatusName,
         |  CAST(Quantity AS DOUBLE) AS Quantity, CAST(CurrentPrice AS DOUBLE) AS CurrentPrice,
         |  CAST(TotalAmount AS DOUBLE) AS TotalAmount, OrderDate
         |FROM fact""".stripMargin),
    Query("q03_seller_perf_daily", (s, dir) =>
      GoldMarts.sellerPerformanceDaily(
        GoldMarts.withDateParts(StarSchema.factOrderDetails(s, dir)))
        .withColumn("total_revenue", dbl("total_revenue"))
        .withColumn("total_quantity_sold", dbl("total_quantity_sold")),
      s"""WITH fact AS ($factSql), daily AS ($dailySql)
         |SELECT SellerID, SellerName, ProductID, ProductName, CategoryName, year, quarter,
         |  month, order_date, CAST(total_revenue AS DOUBLE) AS total_revenue,
         |  CAST(total_quantity_sold AS DOUBLE) AS total_quantity_sold, distinct_orders
         |FROM daily""".stripMargin),
    Query("q04_seller_perf_monthly", (s, dir) =>
      GoldMarts.sellerPerformanceMonthly(
        GoldMarts.sellerPerformanceDaily(
          GoldMarts.withDateParts(StarSchema.factOrderDetails(s, dir))))
        .withColumn("total_revenue", dbl("total_revenue"))
        .withColumn("total_quantity_sold", dbl("total_quantity_sold")),
      s"""WITH fact AS ($factSql), daily AS ($dailySql)
         |SELECT SellerID, SellerName, ProductID, ProductName, CategoryName, year, month,
         |  CAST(SUM(total_revenue) AS DOUBLE) AS total_revenue,
         |  CAST(SUM(total_quantity_sold) AS DOUBLE) AS total_quantity_sold,
         |  CAST(SUM(distinct_orders) AS BIGINT) AS distinct_orders
         |FROM daily GROUP BY 1,2,3,4,5,6,7""".stripMargin),
    Query("q05_seller_perf_quarterly", (s, dir) =>
      GoldMarts.sellerPerformanceQuarterly(
        GoldMarts.sellerPerformanceDaily(
          GoldMarts.withDateParts(StarSchema.factOrderDetails(s, dir))))
        .withColumn("total_revenue", dbl("total_revenue"))
        .withColumn("total_quantity_sold", dbl("total_quantity_sold")),
      s"""WITH fact AS ($factSql), daily AS ($dailySql)
         |SELECT SellerID, SellerName, ProductID, ProductName, CategoryName, year, quarter,
         |  CAST(SUM(total_revenue) AS DOUBLE) AS total_revenue,
         |  CAST(SUM(total_quantity_sold) AS DOUBLE) AS total_quantity_sold,
         |  CAST(SUM(distinct_orders) AS BIGINT) AS distinct_orders
         |FROM daily GROUP BY 1,2,3,4,5,6,7""".stripMargin),
    Query("q06_order_rates", (s, dir) =>
      GoldMarts.orderRates(StarSchema.factOrderDetails(s, dir)),
      s"""WITH fact AS ($factSql)
         |SELECT SellerID, SellerName,
         |  COUNT(DISTINCT OrderID) AS total_orders_placed,
         |  COUNT(DISTINCT CASE WHEN StatusName = 'Delivered' THEN OrderID END) AS delivered_orders,
         |  COUNT(DISTINCT CASE WHEN StatusName = 'Cancelled' THEN OrderID END) AS cancelled_orders,
         |  COUNT(DISTINCT CASE WHEN StatusName = 'Returned' THEN OrderID END) AS returned_orders,
         |  CAST(COUNT(DISTINCT CASE WHEN StatusName = 'Cancelled' THEN OrderID END) AS DOUBLE)
         |    / CAST(COUNT(DISTINCT OrderID) AS DOUBLE) AS cancellation_rate,
         |  CAST(COUNT(DISTINCT CASE WHEN StatusName = 'Returned' THEN OrderID END) AS DOUBLE)
         |    / CAST(CASE WHEN COUNT(DISTINCT CASE WHEN StatusName = 'Delivered' THEN OrderID END) > 0
         |           THEN COUNT(DISTINCT CASE WHEN StatusName = 'Delivered' THEN OrderID END) ELSE 1 END AS DOUBLE) AS return_rate
         |FROM fact GROUP BY 1, 2""".stripMargin),
    Query("q07_seller_segmentation", (s, dir) => {
      val fact = StarSchema.factOrderDetails(s, dir)
      val daily = GoldMarts.sellerPerformanceDaily(GoldMarts.withDateParts(fact))
      GoldMarts.sellerSegmentation(daily, GoldMarts.orderRates(fact))
        .withColumn("total_revenue", dbl("total_revenue"))
    },
      s"""WITH fact AS ($factSql), daily AS ($dailySql),
         |revenue AS (SELECT SellerID, SellerName, SUM(total_revenue) AS total_revenue
         |            FROM daily GROUP BY 1, 2),
         |rates AS (
         |  SELECT SellerID,
         |    COUNT(DISTINCT OrderID) AS total_orders_placed,
         |    COUNT(DISTINCT CASE WHEN StatusName = 'Delivered' THEN OrderID END) AS delivered_orders,
         |    COUNT(DISTINCT CASE WHEN StatusName = 'Cancelled' THEN OrderID END) AS cancelled_orders,
         |    COUNT(DISTINCT CASE WHEN StatusName = 'Returned' THEN OrderID END) AS returned_orders,
         |    CAST(COUNT(DISTINCT CASE WHEN StatusName = 'Cancelled' THEN OrderID END) AS DOUBLE)
         |      / CAST(COUNT(DISTINCT OrderID) AS DOUBLE) AS cancellation_rate,
         |    CAST(COUNT(DISTINCT CASE WHEN StatusName = 'Returned' THEN OrderID END) AS DOUBLE)
         |      / CAST(CASE WHEN COUNT(DISTINCT CASE WHEN StatusName = 'Delivered' THEN OrderID END) > 0
         |             THEN COUNT(DISTINCT CASE WHEN StatusName = 'Delivered' THEN OrderID END) ELSE 1 END AS DOUBLE) AS return_rate
         |  FROM fact GROUP BY 1)
         |SELECT r.SellerID, r.SellerName, CAST(r.total_revenue AS DOUBLE) AS total_revenue,
         |  t.total_orders_placed, t.delivered_orders, t.cancelled_orders, t.returned_orders,
         |  t.cancellation_rate, t.return_rate,
         |  CASE WHEN r.total_revenue > 10000 AND t.return_rate < 0.015 THEN 'Top Seller'
         |       WHEN r.total_revenue > 2000 AND t.return_rate < 0.03 THEN 'Premium Seller'
         |       ELSE 'Risk Seller' END AS seller_segment
         |FROM revenue r JOIN rates t ON r.SellerID = t.SellerID""".stripMargin),
    Query("q08_customer_analytics", (s, dir) =>
      GoldMarts.customerAnalytics(StarSchema.factOrderDetails(s, dir))
        .withColumn("total_spend", dbl("total_spend")),
      s"""WITH fact AS ($factSql)
         |SELECT CustomerID, CustomerName,
         |  COUNT(DISTINCT OrderID) AS total_orders,
         |  CAST(SUM(TotalAmount) AS DOUBLE) AS total_spend,
         |  MIN(OrderDate) AS first_purchase_date,
         |  MAX(OrderDate) AS last_purchase_date,
         |  CASE WHEN COUNT(DISTINCT OrderID) > 1 THEN 'Returning Customer'
         |       ELSE 'New Customer' END AS customer_type
         |FROM fact GROUP BY 1, 2""".stripMargin),
    Query("q09_scd2_fingerprint", (s, dir) => {
      val c = t(s, dir, "customer")
      c.select(col("c_custkey"),
        Scd2.fingerprint(Scd2.trackedColumns(c, "c_custkey")).as("scd2_hash"))
    },
      s"SELECT c_custkey, ${fpSql()} AS scd2_hash FROM customer"),
    Query("q10_watermark_filter", (s, dir) =>
      t(s, dir, "events").where(
        col("ts") > lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-20 00:00:00").cast("timestamp")),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events
        |WHERE ts > TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'""".stripMargin),
    Query("q11_batch_watermark", (s, dir) =>
      t(s, dir, "events").agg(max(col("ts")).as("new_watermark")),
      "SELECT CAST(MAX(ts) AS TIMESTAMP) AS new_watermark FROM events"),
    Query("q12_scd2_classify", (s, dir) =>
      staged(s, dir).select("c_custkey", "action"),
      s"""${stagedSql}SELECT c_custkey, action FROM staged WHERE action IN ('INSERT', 'UPDATE')"""),
    Query("q13_scd2_new_records", (s, dir) =>
      Scd2.insertedRecords(staged(s, dir), Seq("c_custkey", "c_name", "c_mktsegment")),
      s"""${stagedSql}SELECT c_custkey, c_name, c_mktsegment FROM staged WHERE action = 'INSERT'"""),
    Query("q14_scd2_expire_keys", (s, dir) =>
      Scd2.expireKeys(staged(s, dir), "c_custkey"),
      s"""${stagedSql}SELECT DISTINCT c_custkey FROM staged WHERE action = 'UPDATE'"""),
    Query("q15_scd2_apply", (s, dir) => {
      val target = Scd2.initialLoad(t(s, dir, "customer"), T0)
      Scd2.applyMerge(target, staged(s, dir), "c_custkey", T1)
    },
      s"""${stagedSql},
         |ins AS (SELECT * FROM staged WHERE action IN ('INSERT', 'UPDATE')),
         |keys AS (SELECT DISTINCT c_custkey FROM staged WHERE action = 'UPDATE')
         |SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
         |  CASE WHEN k.c_custkey IS NOT NULL THEN FALSE ELSE TRUE END AS is_current,
         |  TIMESTAMP '2026-01-01 00:00:00' AS effective_date,
         |  CASE WHEN k.c_custkey IS NOT NULL THEN TIMESTAMP '2026-02-01 00:00:00' END AS end_date
         |FROM customer c LEFT JOIN keys k ON c.c_custkey = k.c_custkey
         |UNION ALL
         |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         |  TRUE, TIMESTAMP '2026-02-01 00:00:00', NULL
         |FROM ins""".stripMargin),
    // SCD2 delete detection: scd2Source is a FULL snapshot here — 20% of
    // customer keys are absent (DELETE), every 3rd re-arriving key changed
    // segment (UPDATE), shifted keys are new (INSERT)
    Query("q46_scd2_deletes", (s, dir) =>
      Scd2.stageWithDeletes(scd2Source(s, dir), t(s, dir, "customer"), "c_custkey")
        .select("c_custkey", "action"),
      s"""WITH src AS ($scd2SourceSql),
         |sh AS (SELECT *, ${fpSql()} AS hash FROM src),
         |th AS (SELECT c_custkey, ${fpSql()} AS hash FROM customer),
         |j AS (SELECT sh.c_custkey AS s_key, th.c_custkey AS t_key,
         |        sh.hash AS s_hash, th.hash AS t_hash
         |      FROM sh FULL OUTER JOIN th ON sh.c_custkey = th.c_custkey),
         |staged AS (
         |  SELECT coalesce(s_key, t_key) AS c_custkey,
         |    CASE WHEN t_key IS NULL THEN 'INSERT'
         |         WHEN s_key IS NULL THEN 'DELETE'
         |         WHEN s_hash <> t_hash THEN 'UPDATE'
         |         ELSE 'NO CHANGE' END AS action
         |  FROM j)
         |SELECT c_custkey, action FROM staged
         |WHERE action IN ('INSERT', 'UPDATE', 'DELETE')""".stripMargin),
    Query("q16_event_hourly", (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,2)")).as("sum_value_d"))
        .select(col("hour"), col("event_type"), col("n_events"),
          dbl("sum_value_d").as("sum_value")),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    Query("q17_top_customers_by_nation", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val fact = StarSchema.factOrderDetails(s, dir)
      val spend = fact.groupBy("NationName", "CustomerID")
        .agg(sum(col("TotalAmount")).as("spend_d"))
      val w = Window.partitionBy("NationName")
        .orderBy(col("spend_d").desc, col("CustomerID").asc)
      spend.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("NationName"), col("CustomerID"), dbl("spend_d").as("spend"), col("rank"))
    },
      s"""WITH fact AS ($factSql),
         |spend AS (SELECT NationName, CustomerID, SUM(TotalAmount) AS spend_d
         |          FROM fact GROUP BY 1, 2)
         |SELECT NationName, CustomerID, CAST(spend_d AS DOUBLE) AS spend,
         |  CAST(row_number() OVER (PARTITION BY NationName ORDER BY spend_d DESC, CustomerID ASC) AS INTEGER) AS rank
         |FROM spend
         |QUALIFY row_number() OVER (PARTITION BY NationName ORDER BY spend_d DESC, CustomerID ASC) <= 3""".stripMargin),
    // every calendar drill-down grain from ONE aggregation (grouping sets)
    Query("q48_calendar_rollup", (s, dir) =>
      GoldMarts.sellerPerformanceCalendarRollup(
        GoldMarts.sellerPerformanceDaily(
          GoldMarts.withDateParts(StarSchema.factOrderDetails(s, dir))))
        .withColumn("total_revenue", dbl("total_revenue"))
        .withColumn("total_quantity_sold", dbl("total_quantity_sold")),
      s"""WITH fact AS ($factSql), daily AS ($dailySql)
         |SELECT year, quarter, month,
         |  CAST(SUM(total_revenue) AS DOUBLE) AS total_revenue,
         |  CAST(SUM(total_quantity_sold) AS DOUBLE) AS total_quantity_sold,
         |  CAST(SUM(distinct_orders) AS BIGINT) AS distinct_orders,
         |  CAST(GROUPING(year, quarter, month) AS INTEGER) AS lvl
         |FROM daily GROUP BY ROLLUP (year, quarter, month)""".stripMargin),
    // time travel: the q15 SCD2 history read back AS OF T0 — expired
    // pre-update versions reappear, T1 insertions vanish
    Query("q77_scd2_asof", (s, dir) => {
      val target = Scd2.initialLoad(t(s, dir, "customer"), T0)
      Scd2.asOf(Scd2.applyMerge(target, staged(s, dir), "c_custkey", T1), T0)
    },
      s"""${stagedSql},
         |ins AS (SELECT * FROM staged WHERE action IN ('INSERT', 'UPDATE')),
         |keys AS (SELECT DISTINCT c_custkey FROM staged WHERE action = 'UPDATE'),
         |hist AS (
         |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
         |    CASE WHEN k.c_custkey IS NOT NULL THEN FALSE ELSE TRUE END AS is_current,
         |    TIMESTAMP '2026-01-01 00:00:00' AS effective_date,
         |    CASE WHEN k.c_custkey IS NOT NULL THEN TIMESTAMP '2026-02-01 00:00:00' END AS end_date
         |  FROM customer c LEFT JOIN keys k ON c.c_custkey = k.c_custkey
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         |    TRUE, TIMESTAMP '2026-02-01 00:00:00', NULL
         |  FROM ins)
         |SELECT * FROM hist
         |WHERE effective_date <= TIMESTAMP '2026-01-01 00:00:00'
         |  AND (end_date IS NULL OR end_date > TIMESTAMP '2026-01-01 00:00:00')""".stripMargin),
    // windowed time-series mart: running totals + month-over-month growth
    // in ONE window pass (same partition/order for sum and lag)
    Query("q54_revenue_trend", (s, dir) =>
      GoldMarts.sellerRevenueTrend(
        GoldMarts.sellerPerformanceDaily(
          GoldMarts.withDateParts(StarSchema.factOrderDetails(s, dir)))),
      s"""WITH fact AS ($factSql), daily AS ($dailySql),
         |monthly AS (
         |  SELECT SellerID, SellerName, year, month, SUM(total_revenue) AS rev
         |  FROM daily GROUP BY 1, 2, 3, 4)
         |SELECT SellerID, SellerName, year, month,
         |  CAST(rev AS DOUBLE) AS total_revenue,
         |  CAST(SUM(rev) OVER w AS DOUBLE) AS cumulative_revenue,
         |  CAST(lag(rev) OVER w AS DOUBLE) AS prev_revenue,
         |  round(CASE WHEN lag(rev) OVER w IS NULL OR lag(rev) OVER w = 0 THEN NULL
         |        ELSE (CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
         |             / CAST(lag(rev) OVER w AS DOUBLE) END, 6) AS mom_growth
         |FROM monthly
         |WINDOW w AS (PARTITION BY SellerID ORDER BY year, month)""".stripMargin),
    // batch sessionization (gap = 30 min) — the window-fold oracle twin of
    // the streaming flatMapGroupsWithState operator
    Query("q41_sessionize", (s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(
        t(s, dir, "events").select("user_id", "ts"), 1800000L),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (SELECT user_id, ts,
        |        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
        |      FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events,
        |  CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS BIGINT) AS duration_ms
        |FROM s GROUP BY 1, 2""".stripMargin),
    // REAL event-time streaming sessionize (flatMapGroupsWithState +
    // watermark timeout), reduced to its FINAL state: update-mode output
    // re-emits an open session once per micro-batch it grows in, so the
    // driver-checkable surface is the last snapshot per (user, session
    // start) — closed rows are final by construction, open rows grow
    // monotonically under the source's per-user event-time order. The
    // reduced table must equal q41's batch fold exactly (the streaming
    // CONTRACT: replay/batch parity, not just rows>0)
    Query("q90_stream_sessionize", (s, dir) => {
      import s.implicits._
      import graft.streaming.EventStream
      val name = "bench_stream_sessions"
      val ev = EventStream.readEventsStream(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .as[EventStream.Event]
      withStatePartitions(s, 8) {
        val q = EventStream.sessionizeEventTime(ev, 1800000L)
          .writeStream.format("memory").queryName(name)
          .outputMode("update")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("bench-sess-ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name)
        .groupBy(col("user_id"), col("sessionStartMs").as("session_start_ms"))
        .agg(max("nEvents").as("n_events"), max("durationMs").as("duration_ms"))
    },
      // same default RANGE-to-current-row window frame as the Spark side;
      // gaps in exact integer microseconds (epoch_us ↔ unix_micros)
      // q90: the streaming sessionize's final-state reduction must equal the
      // batch gap fold — q41's CTE chain, re-keyed to the stream's surface
      // (start in epoch-ms via getTime, duration as ms-diff of ms-snapped
      // endpoints — NOT the µs-diff // 1000 of q41, which differs when
      // sub-ms precision exists)
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (SELECT user_id, ts,
        |        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
        |      FROM marked)
        |SELECT user_id,
        |  min(epoch_us(ts) // 1000) AS session_start_ms,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(epoch_us(ts) // 1000) - min(epoch_us(ts) // 1000) AS duration_ms
        |FROM s GROUP BY user_id, session_id""".stripMargin),
    // JSONL export round-trip: write the corpus as content-sharded JSONL,
    // read the shards BACK, and oracle every (shard, row) against the md5
    // shard assignment — proving payloads survive the JSON round-trip and
    // membership is content-derived, not writer-dependent
    Query("q106_jsonl_export", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      val out = java.nio.file.Files.createTempDirectory("q106-export").toString
      // jsonlShards writes eagerly; its manifest is read via count()
      graft.sources.Export.jsonlShards(s, docs, "doc_id", out, 8).count()
      s.read.schema(docs.schema).json(out)
        .select(col("shard").cast("long").as("shard"),
          col("doc_id"), col("text"), col("source"))
    },
      // q106: the read-back shard rows must equal the md5 shard assignment —
      // membership is a pure function of the id, independent of how the
      // writer was partitioned
      s"""SELECT CAST(${md5ModSql("doc_id", 8)} AS BIGINT) AS shard, doc_id, text, source
         |FROM documents""".stripMargin),
    // drained stream-stream interval join (click→purchase attribution):
    // the streaming twin of the banded range join, oracled against the
    // plain inequality join — inner-join semantics make the drained result
    // exactly the batch answer
    Query("q107_stream_interval_join", (s, dir) => {
      import graft.streaming.EventStream
      import org.apache.spark.sql.streaming.Trigger
      val clicks = EventStream.readEventsStream(s, dir)
        .where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = EventStream.readEventsStream(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      val name = "q107_interval_join"
      withStatePartitions(s, 8) {
        val q = EventStream.intervalJoinStream(clicks, purchases, "user_id",
            "click_ts", "purchase_ts", "24 hours", "1 hour")
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("q107-ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name)
    },
      // q107: inner-join semantics — the drained stream equals the batch
      // inequality join
      """SELECT l.user_id, l.event_id AS click_id, CAST(l.ts AS TIMESTAMP) AS click_ts,
        |  r.event_id AS purchase_id, CAST(r.ts AS TIMESTAMP) AS purchase_ts
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 24 HOUR
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'""".stripMargin),
    // sliding-window stream: 1-hour windows every 15 minutes, drained in
    // complete mode so the watermark-suppressed tail windows emit too;
    // the oracle re-derives the 4-window-per-event fan-out with
    // epoch-aligned buckets
    Query("q168_stream_sliding_counts", (s, dir) => {
      import graft.streaming.EventStream
      import org.apache.spark.sql.streaming.Trigger
      val name = "q168_sliding"
      withStatePartitions(s, 8) {
        val q = EventStream.slidingCounts(
            EventStream.readEventsStream(s, dir).withWatermark("ts", "1 hour"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("q168-ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name)
    },
      // q168: the sliding-window fan-out re-derived batch-side — every
      // event belongs to the 4 epoch-aligned 15-min-step windows ending at
      // its own bucket (ts ∈ [b, b+15m) ⊂ [b − k·15m, b − k·15m + 1h) for
      // exactly k = 0..3), so no membership predicate is needed
      """WITH ks AS (SELECT unnest(generate_series(0, 3)) AS k),
        |w AS (SELECT time_bucket(INTERVAL '15 minutes', ts)
        |        - k * INTERVAL '15 minutes' AS win_start,
        |      event_type, value FROM events, ks)
        |SELECT CAST(win_start AS TIMESTAMP) AS win_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin),
    // incremental mart CONTRACT: key-parity split partials, merged and
    // finalized, must equal the oracle's full recompute on every exact
    // metric; the HLL customer estimate within its analytic band
    Query("q240_incremental_mart", (s, dir) =>
      graft.etl.IncrementalMart.incrementalMartContract(
        t(s, dir, "orders"), pmod(col("o_orderkey"), lit(2)) === 0),
      // q240: the oracle recomputes the mart from the FULL fact in one
      // pass — any incremental-merge error (count, cent sum, lattice, or
      // sketch-union drift past the band) shows as a mismatch; money is
      // snapped to exact integer cents so sum order cannot leak in
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    o_totalprice, o_custkey
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |m AS (SELECT day, count(*) AS n_orders,
        |    sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS cents,
        |    min(o_totalprice) AS min_order, max(o_totalprice) AS max_order
        |  FROM o GROUP BY 1)
        |SELECT day, CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  min_order, max_order,
        |  CAST((cents * 10000) // n_orders AS DOUBLE) / 1000000.0
        |    AS avg_order,
        |  TRUE AS est_ok
        |FROM m""".stripMargin),
    // streaming twin of q240: the mart maintained by per-micro-batch
    // partial merges over three ordered drops must equal the batch
    // oracle's full recompute - the replay-safe no-rescan ingest shape
    Query("q245_stream_mart_merge", (s, dir) => {
      import graft.streaming.EventStream
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val tmp = java.nio.file.Files.createTempDirectory("q245-mart").toString
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      def drop(df: DataFrame, name: String, modTime: Long): Unit = {
        val stage = s"$tmp/stage_$name"
        df.coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(modTime)
      }
      drop(o.where(pmod(col("o_orderkey"), lit(3)) === 0), "b0", 1000000L)
      drop(o.where(pmod(col("o_orderkey"), lit(3)) === 1), "b1", 2000000L)
      drop(o.where(pmod(col("o_orderkey"), lit(3)) === 2), "b2", 3000000L)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val store = new graft.sources.TableStore(s)
      val q = EventStream.streamMartMerge(stream, store, s"$tmp/mart",
        s"$tmp/ckpt")
      q.awaitTermination()
      graft.etl.IncrementalMart.martWithContract(store.read(s"$tmp/mart"), o)
    },
      // q245: identical to q240's full recompute - the stream-maintained
      // partials must converge to the same mart
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    o_totalprice, o_custkey
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |m AS (SELECT day, count(*) AS n_orders,
        |    sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS cents,
        |    min(o_totalprice) AS min_order, max(o_totalprice) AS max_order
        |  FROM o GROUP BY 1)
        |SELECT day, CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  min_order, max_order,
        |  CAST((cents * 10000) // n_orders AS DOUBLE) / 1000000.0
        |    AS avg_order,
        |  TRUE AS est_ok
        |FROM m""".stripMargin),
    // classic order-priority revenue top-k (TPC-H Q3 shape): segment-
    // filtered customers broadcast, date filters pushed to both scans,
    // exact-decimal revenue so the top-10 rank is engine-deterministic
    Query("q218_shipping_priority", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val cut = lit("1998-07-01").cast("timestamp")
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = t(s, dir, "orders").where(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = t(s, dir, "lineitem").where(col("l_shipdate") > cut)
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(12, 2)) -
              col("l_discount").cast(DecimalType(12, 2)))).as("__rev"))
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum("__rev").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },
      // q218/q219: identical DECIMAL(12,2) arithmetic — decimal sums are
      // exact, so the ranks and revenues are bit-identical cross-engine
      """SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))))
        |    AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o.o_orderkey ASC
        |LIMIT 10""".stripMargin),
    // per-nation regional supplier volume (TPC-H Q5 shape): the 4-dim
    // snowflake broadcast chain over one fact pipeline, local-supplier
    // constraint (customer and supplier share a nation), exact decimals
    Query("q219_region_volume", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val asia = t(s, dir, "region").where(col("r_name") === "ASIA")
      val nat = t(s, dir, "nation")
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = t(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(12, 2)) -
              col("l_discount").cast(DecimalType(12, 2)))).as("__rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust.where(col("c_nationkey").isNotNull)),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(sum("__rev").cast("double").as("revenue"))
    },
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin),
    // the SCD2 merge staged against a pk-BUCKETED catalog target (read
    // back through the version-pointer view) — must produce exactly the
    // q15 merge result while the diff shuffles only the batch side
    // (PipelineE2ESpec pins the single-exchange plan; this makes the
    // bucketed path's CORRECTNESS driver-visible too)
    Query("q109_bucketed_scd2_merge", (s, dir) => {
      val store = new graft.sources.BucketedTableStore(s, "graft_q109", 8)
      store.overwrite("silver_customers",
        Scd2.initialLoad(t(s, dir, "customer"), T0), "c_custkey")
      store.vacuum("silver_customers") // repeat runs: drop superseded versions
      val target = store.read("silver_customers")
      val st = Scd2.stage(scd2Source(s, dir), target.where(col("is_current")), "c_custkey")
      Scd2.applyMerge(target, st, "c_custkey", T1)
    },
      // q109: identical contract to q15 — the bucketed layout must be
      // invisible in the merge RESULT (it only changes the exchange plan)
      s"""${stagedSql},
         |ins AS (SELECT * FROM staged WHERE action IN ('INSERT', 'UPDATE')),
         |keys AS (SELECT DISTINCT c_custkey FROM staged WHERE action = 'UPDATE')
         |SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
         |  CASE WHEN k.c_custkey IS NOT NULL THEN FALSE ELSE TRUE END AS is_current,
         |  TIMESTAMP '2026-01-01 00:00:00' AS effective_date,
         |  CASE WHEN k.c_custkey IS NOT NULL THEN TIMESTAMP '2026-02-01 00:00:00' END AS end_date
         |FROM customer c LEFT JOIN keys k ON c.c_custkey = k.c_custkey
         |UNION ALL
         |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         |  TRUE, TIMESTAMP '2026-02-01 00:00:00', NULL
         |FROM ins""".stripMargin),
    // table-level time travel (the Delta `versionAsOf` the reference's
    // merge targets keep implicitly): three commits — base load,
    // incremental append, full overwrite — then read the PRE-overwrite
    // snapshot back by version number. The oracle pins v1's contents, so
    // a readVersion that followed the current pointer (now the disjoint
    // %3=2 slice) would hash-mismatch, not just differ in count
    Query("q128_time_travel", (s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val tmp = java.nio.file.Files.createTempDirectory("q128-tt").toString + "/cust"
      val store = new graft.sources.TableStore(s)
      store.overwrite(tmp, cust.where(col("c_custkey") % 3 === 0)) // v0
      store.append(tmp, cust.where(col("c_custkey") % 3 === 1))    // v1
      store.overwrite(tmp, cust.where(col("c_custkey") % 3 === 2)) // v2 = current
      store.readVersion(tmp, 1)
    },
      // q128: version 1 = the %3=0 base plus the %3=1 append; the current
      // pointer (v2) holds the disjoint %3=2 slice, so any pointer-following
      // bug produces a full hash mismatch
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 3 <> 2""".stripMargin),
    // row-level diff between two committed snapshots (the change-data-feed
    // question from plain versioned manifests): v1→v2 replaced the whole
    // table, so every v2 row diffs as insert and every v1 row as delete —
    // the oracle enumerates both sides explicitly
    // incremental VIEW MAINTENANCE: the q258 change feed applied to the
    // invertible daily mart (retract pre-images, add post-images) must
    // equal a full recompute of the new version - no history rescan
    Query("q259_ivm_apply", (s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val tmp = java.nio.file.Files.createTempDirectory("q259-ivm").toString + "/orders"
      val store = new graft.sources.TableStore(s)
      val v0 = o.where(pmod(col("o_orderkey"), lit(3)) < 2)
      store.overwrite(tmp, v0)
      store.overwrite(tmp,
        o.where(pmod(col("o_orderkey"), lit(3)) >= 1)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(6)) === 1,
              col("o_totalprice") + 100.0).otherwise(col("o_totalprice"))))
      val feed = store.changeFeed(tmp, 0, 1, Seq("o_orderkey"))
      graft.etl.IncrementalMart.finalizeInvertible(
        graft.etl.IncrementalMart.applyChangeFeed(
          graft.etl.IncrementalMart.invertibleDailyPartials(v0), feed))
    },
      // q259: the oracle recomputes the mart from the NEW version's rows
      // (same mod rules) - any retraction error shows as a mismatch
      """WITH v1 AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CASE WHEN o_orderkey % 6 = 1 THEN o_totalprice + 100.0
        |      ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_orderkey % 3 >= 1),
        |m AS (SELECT day, count(*) AS n_orders,
        |    sum(CAST(round(p * 100.0) AS BIGINT)) AS cents
        |  FROM v1 GROUP BY 1)
        |SELECT day, CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  CAST((cents * 10000) // n_orders AS DOUBLE) / 1000000.0
        |    AS avg_order
        |FROM m""".stripMargin),
    // key-aware change feed (Delta-CDF semantics): value changes become
    // update pre/post pairs instead of unrelated delete+insert
    Query("q258_change_feed", (s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val tmp = java.nio.file.Files.createTempDirectory("q258-cdf").toString + "/cust"
      val store = new graft.sources.TableStore(s)
      store.overwrite(tmp, cust.where(pmod(col("c_custkey"), lit(3)) < 2)) // v0
      store.overwrite(tmp, // v1: drop %3=0, keep %3=1 (bump %6=1), add %3=2
        cust.where(pmod(col("c_custkey"), lit(3)) >= 1)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(6)) === 1,
              col("c_acctbal") + 100.0).otherwise(col("c_acctbal"))))
      store.changeFeed(tmp, 0, 1, Seq("c_custkey"))
    },
      // q258: the expected feed derived directly from the same mod rules;
      // +100.0 is the identical double addition on both engines
      """SELECT c_custkey, c_name, c_acctbal, 'delete' AS change
        |FROM customer WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'insert' AS change
        |FROM customer WHERE c_custkey % 3 = 2
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'update_preimage' AS change
        |FROM customer WHERE c_custkey % 6 = 1
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal + 100.0, 'update_postimage'
        |  AS change
        |FROM customer WHERE c_custkey % 6 = 1""".stripMargin),
    Query("q130_version_diff", (s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      val tmp = java.nio.file.Files.createTempDirectory("q130-diff").toString + "/cust"
      val store = new graft.sources.TableStore(s)
      store.overwrite(tmp, cust.where(col("c_custkey") % 3 === 0)) // v0
      store.append(tmp, cust.where(col("c_custkey") % 3 === 1))    // v1
      store.overwrite(tmp, cust.where(col("c_custkey") % 3 === 2)) // v2
      store.versionDiff(tmp, 1, 2)
    },
      // q130: the full-replacement diff enumerated — v2's slice inserts,
      // v1's union deletes
      """SELECT c_custkey, c_name, c_acctbal, 'insert' AS change
        |FROM customer WHERE c_custkey % 3 = 2
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'delete' AS change
        |FROM customer WHERE c_custkey % 3 <> 2""".stripMargin),
    // streaming SCD2 upsert drained over two ordered micro-batches (full
    // snapshot at T0, the simulated incremental batch at T1) — the final
    // silver state must equal the BATCH merge q15 oracles (same staged
    // diff, same merge SQL), proving the two paths cannot drift
    Query("q108_stream_scd2_upsert", (s, dir) => {
      import graft.streaming.EventStream
      val tmp = java.nio.file.Files.createTempDirectory("q108-scd2").toString
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      // one parquet FILE per micro-batch, mod-times forcing b0 → b1 order
      // (the file source admits oldest-first with maxFilesPerTrigger=1)
      def drop(df: DataFrame, name: String, ts: Timestamp, modTime: Long): Unit = {
        val stage = s"$tmp/stage_$name"
        df.withColumn("ingestion_timestamp", lit(ts)).coalesce(1)
          .write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(modTime)
      }
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      drop(c, "b0", T0, 1000000L)
      drop(scd2Source(s, dir), "b1", T1, 2000000L)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val store = new graft.sources.TableStore(s)
      withStatePartitions(s, 8) {
        val q = EventStream.streamToSilverScd2(stream, store, s"$tmp/silver",
          "c_custkey", "ingestion_timestamp", s"$tmp/ckpt")
        q.awaitTermination()
      }
      store.read(s"$tmp/silver").drop("ingestion_timestamp")
    },
      // q108: the drained two-batch streaming upsert must equal the batch
      // merge — q15's oracle verbatim
      s"""${stagedSql},
         |ins AS (SELECT * FROM staged WHERE action IN ('INSERT', 'UPDATE')),
         |keys AS (SELECT DISTINCT c_custkey FROM staged WHERE action = 'UPDATE')
         |SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
         |  CASE WHEN k.c_custkey IS NOT NULL THEN FALSE ELSE TRUE END AS is_current,
         |  TIMESTAMP '2026-01-01 00:00:00' AS effective_date,
         |  CASE WHEN k.c_custkey IS NOT NULL THEN TIMESTAMP '2026-02-01 00:00:00' END AS end_date
         |FROM customer c LEFT JOIN keys k ON c.c_custkey = k.c_custkey
         |UNION ALL
         |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         |  TRUE, TIMESTAMP '2026-02-01 00:00:00', NULL
         |FROM ins""".stripMargin)
  )
}
