package graft.queries

import graft.core.Tables
import graft.operators.{AsOfJoin, Snapshot}
import graft.oracle.DuckSql
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Window, event-analytics, sessionization, streaming-equivalent and
  * temporal-join queries: each query's Spark plan is declared beside its
  * DuckDB oracle SQL. */
object EventQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("window_top_orders_per_customer", ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
        """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          |  FROM orders
          |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    // time-series densification: an hourly spine per day joined against
    // observed counts — silent gaps become explicit zero rows (resample)
    QuerySpec("events_hourly_dense", ((s, d) => {
      val ev = Tables.events(s, d)
      val bounds = ev.agg(
        unix_timestamp(date_trunc("hour", min(col("ts")))).as("t0"),
        unix_timestamp(date_trunc("hour", max(col("ts")))).as("t1"))
      val spine = bounds.select(
        explode(sequence(col("t0"), col("t1"), lit(3600L))).as("hour_epoch"))
      val counts = ev.filter(col("event_type") === "purchase")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("he"))
        .agg(count(lit(1)).as("n"))
      spine.join(counts, col("hour_epoch") === col("he"), "left_outer")
        .select(col("hour_epoch"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hour_epoch"))
    }),
        """WITH bounds AS (
          |  SELECT CAST(epoch(date_trunc('hour', min(ts))) AS BIGINT) AS t0,
          |         CAST(epoch(date_trunc('hour', max(ts))) AS BIGINT) AS t1
          |  FROM events
          |), spine AS (
          |  SELECT unnest(generate_series(t0, t1, 3600)) AS hour_epoch FROM bounds
          |), counts AS (
          |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS he, COUNT(*) AS n
          |  FROM events WHERE event_type = 'purchase' GROUP BY he
          |)
          |SELECT hour_epoch, COALESCE(n, 0) AS n
          |FROM spine LEFT OUTER JOIN counts ON hour_epoch = he
          |ORDER BY hour_epoch""".stripMargin),
    QuerySpec("events_hourly_stats", ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 3).as("v_sum"))
        .orderBy(col("hour_epoch"), col("event_type"))),
        s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
           |  COUNT(*) AS n, ${dsumSql("value", 3)} AS v_sum
           |FROM events GROUP BY hour_epoch, event_type ORDER BY hour_epoch, event_type""".stripMargin),
    // --- as-of join (SURVEY §2.2 joins row: point-in-time enrichment)
    QuerySpec("asof_join_events_orders", ((s, d) =>
      AsOfJoin.asOf(
        Tables.events(s, d).select(col("event_id"), col("ts"), col("user_id"), col("event_type")),
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
        keyL = "user_id", keyR = "o_custkey", timeL = "ts", timeR = "o_orderdate",
        payloadR = Seq("o_orderkey", "o_totalprice"), tiebreakR = "o_orderkey")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))),
        """SELECT event_id, user_id, event_type, o_orderkey, o_totalprice FROM (
          |  SELECT event_id, user_id, event_type, side,
          |    last_value(pk IGNORE NULLS) OVER w AS o_orderkey,
          |    last_value(pv IGNORE NULLS) OVER w AS o_totalprice
          |  FROM (
          |    SELECT event_id, user_id AS k, ts AS t, 1 AS side, CAST(NULL AS BIGINT) AS tb,
          |           user_id, event_type, CAST(NULL AS BIGINT) AS pk, CAST(NULL AS DOUBLE) AS pv
          |    FROM events
          |    UNION ALL
          |    SELECT CAST(NULL AS BIGINT), o_custkey, o_orderdate, 0, o_orderkey,
          |           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), o_orderkey, o_totalprice
          |    FROM orders
          |  )
          |  WINDOW w AS (PARTITION BY k ORDER BY t ASC, side ASC, tb ASC
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |) WHERE side = 1 ORDER BY event_id""".stripMargin),
    // event-type transition matrix from per-user event sequences (first-
    // order Markov mining): lag window per user, then count + row-
    // normalize — the session-behavior statistic
    QuerySpec("events_markov_transitions", ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long").asc, col("event_id").asc)
      val trans = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type")).agg(count(lit(1)).as("n"))
      val totals = Window.partitionBy(col("prev_type"))
      trans
        .withColumn("p", col("n").cast("double") / sum(col("n")).over(totals))
        .orderBy(col("prev_type"), col("event_type"))
    }),
        """WITH seq AS (
          |  SELECT user_id, event_id, event_type,
          |    (epoch_ns(ts) // 1000000000) AS tse FROM events),
          |trans AS (
          |  SELECT prev_type, event_type, COUNT(*) AS n FROM (
          |    SELECT event_type,
          |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY tse ASC, event_id ASC) AS prev_type
          |    FROM seq)
          |  WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type)
          |SELECT prev_type, event_type, n,
          |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p
          |FROM trans ORDER BY prev_type, event_type""".stripMargin),
    // --- streaming-equivalent windowed aggregation (window() function; the
    // streaming variant with watermark runs in StreamingSpec)
    QuerySpec("stream_window_agg", ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 3).as("v_sum"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("n"), col("v_sum"))
        .orderBy(col("window_start"), col("event_type"))),
        s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, event_type,
           |  COUNT(*) AS n, ${dsumSql("value", 3)} AS v_sum
           |FROM events GROUP BY window_start, event_type ORDER BY window_start, event_type""".stripMargin),
    // sliding windows (width 2h, slide 1h — every event lands in exactly
    // two windows); the hopping-window shape streaming dashboards use
    QuerySpec("stream_sliding_agg", ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 3).as("v_sum"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("n"), col("v_sum"))
        .orderBy(col("window_start"), col("event_type"))),
        s"""WITH ev AS (SELECT event_type, value, (epoch_ns(ts) // 1000000000) AS tse FROM events),
           |w AS (
           |  SELECT ((tse // 3600) * 3600) AS window_start, event_type, value FROM ev
           |  UNION ALL
           |  SELECT ((tse // 3600) * 3600) - 3600 AS window_start, event_type, value FROM ev
           |)
           |SELECT window_start, event_type, COUNT(*) AS n, ${dsumSql("value", 3)} AS v_sum
           |FROM w GROUP BY window_start, event_type ORDER BY window_start, event_type""".stripMargin),
    // gap-based sessionization (batch form; the flatMapGroupsWithState
    // streaming form is proven equal in SessionizeSpec)
    QuerySpec("sessionize_events", ((s, d) =>
      graft.streaming.Sessionize.batch(Tables.events(s, d), gapMinutes = 30)
        .orderBy(col("user_id"), col("session_idx"))),
        s"""SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           |  MIN(tse) AS session_start, MAX(tse) AS session_end,
           |  COUNT(*) AS n_events, ${dsumSql("value", 3)} AS v_sum
           |FROM (
           |  SELECT user_id, value, tse,
           |    SUM(CASE WHEN prev IS NOT NULL AND tse - prev > 1800 THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY user_id ORDER BY tse ASC, event_id ASC
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           |  FROM (
           |    SELECT user_id, event_id, value, (epoch_ns(ts) // 1000000000) AS tse,
           |      LAG((epoch_ns(ts) // 1000000000)) OVER (PARTITION BY user_id
           |        ORDER BY (epoch_ns(ts) // 1000000000) ASC, event_id ASC) AS prev
           |    FROM events
           |  )
           |) GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin),
    // Spark's NATIVE session_window (micro-precision bounds; an event at
    // exactly prev + gap starts a NEW session — half-open window merge),
    // pinned against the portable lag+cumsum formulation in the oracle
    QuerySpec("sessionize_native", ((s, d) =>
      Tables.events(s, d)
        .withColumn("tus", unix_micros(col("ts")))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          min(col("tus")).as("session_start_us"), max(col("tus")).as("session_last_us"),
          dsum(col("value"), 3).as("v_sum"))
        .select(col("user_id"), col("session_start_us"), col("session_last_us"),
          col("n_events"), col("v_sum"))
        .orderBy(col("user_id"), col("session_start_us"))),
        s"""SELECT user_id, MIN(tus) AS session_start_us, MAX(tus) AS session_last_us,
           |  COUNT(*) AS n_events, ${dsumSql("value", 3)} AS v_sum
           |FROM (
           |  SELECT user_id, value, tus,
           |    SUM(CASE WHEN prev IS NOT NULL AND tus - prev >= 1800000000 THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           |  FROM (
           |    SELECT user_id, event_id, value, (epoch_ns(ts) // 1000) AS tus,
           |      LAG((epoch_ns(ts) // 1000)) OVER (PARTITION BY user_id
           |        ORDER BY (epoch_ns(ts) // 1000) ASC, event_id ASC) AS prev
           |    FROM events
           |  )
           |) GROUP BY user_id, session_idx ORDER BY user_id, session_start_us""".stripMargin),
    // percent-of-total (ratio-to-report): per-nation revenue share via an
    // UNPARTITIONED window over the aggregated rollup — the window input
    // is |nations| rows, so the single-partition frame is harmless
    QuerySpec("window_revenue_share", ((s, d) => {
      val byNation = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("tot"))
      byNation
        .withColumn("grand", sum(col("tot")).over(Window.partitionBy()))
        .select(col("n_name"), col("tot").cast("double").as("revenue"),
          (col("tot").cast("double") / col("grand").cast("double")).as("share"))
        .orderBy(col("n_name"))
    }),
        """WITH by_nation AS (
          |  SELECT n.n_name, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS tot
          |  FROM orders o
          |  JOIN customer c ON o.o_custkey = c.c_custkey
          |  JOIN nation n ON c.c_nationkey = n.n_nationkey
          |  GROUP BY n.n_name)
          |SELECT n_name, CAST(tot AS DOUBLE) AS revenue,
          |  CAST(tot AS DOUBLE) / CAST(SUM(tot) OVER () AS DOUBLE) AS share
          |FROM by_nation ORDER BY n_name""".stripMargin),
    // rolling 3-order revenue per customer (frame-bounded window; decimal
    // accumulation keeps the sums order- and engine-exact)
    QuerySpec("window_rolling_revenue", ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(-2, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("roll_sum3"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),
        """SELECT o_custkey, o_orderkey,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
          |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_sum3
          |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    // ntile quantile bucketing per month (integer window arithmetic —
    // engine-exact; partitioned so no global sort at scale)
    QuerySpec("window_ntile_price_quartiles", ((s, d) => {
      val w = Window.partitionBy(col("month"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("month"), col("quartile"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("month"), col("quartile"))
    }),
        s"""SELECT month, quartile, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
           |FROM (
           |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, o_totalprice,
           |    CAST(NTILE(4) OVER (PARTITION BY date_trunc('month', o_orderdate)
           |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS INT) AS quartile
           |  FROM orders
           |) GROUP BY month, quartile ORDER BY month, quartile""".stripMargin),
    // keyed interval join (batch form of the stream-stream join; the
    // watermarked streaming form is proven equivalent in StreamJoinSpec).
    // Timestamps floored to epoch seconds so both engines band identically.
    QuerySpec("interval_join_click_purchase", ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          timestamp_seconds(col("ts").cast("long")).as("t_click"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          timestamp_seconds(col("ts").cast("long")).as("t_purchase"))
      graft.streaming.StreamJoin.batch(clicks, purchases,
          "user_id", "p_user", "t_click", "t_purchase", windowSec = 1800)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (col("t_purchase").cast("long") - col("t_click").cast("long")).as("gap_s"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id AS user_id,
          |  (tp - tc) AS gap_s
          |FROM (SELECT event_id, user_id, (epoch_ns(ts) // 1000000000) AS tc FROM events WHERE event_type = 'click') c
          |JOIN (SELECT event_id, user_id, (epoch_ns(ts) // 1000000000) AS tp FROM events WHERE event_type = 'purchase') p
          |  ON c.user_id = p.user_id AND tp >= tc AND tp <= tc + 1800
          |ORDER BY click_id, purchase_id""".stripMargin),
    // --- round-3: window widening (LOCF fill, rank ratios, lag deltas)
    // last-observation-carried-forward: every event annotated with the
    // user's most recent purchase value (running last_value IGNORE NULLS —
    // the same kernel as the as-of join, one shuffle on user_id)
    QuerySpec("window_locf_last_purchase", ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tse").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("long").as("tse"), col("value"))
        .withColumn("last_purchase_value",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("event_type"), col("last_purchase_value"))
        .orderBy(col("event_id"))
    }),
        """SELECT event_id, user_id, event_type, last_purchase_value FROM (
          |  SELECT event_id, user_id, event_type,
          |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
          |      OVER (PARTITION BY user_id ORDER BY tse ASC, event_id ASC
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
          |  FROM (SELECT event_id, user_id, event_type, value, (epoch_ns(ts) // 1000000000) AS tse FROM events)
          |) ORDER BY event_id""".stripMargin),
    // percent_rank + cume_dist: integer-ratio window functions (exact IEEE
    // division in both engines); unique (price, orderkey) order → no peers
    QuerySpec("window_percent_rank_orders", ((s, d) => {
      val w = Window.partitionBy(col("month"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
        .select(col("month"), col("o_orderkey"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("month"), col("o_orderkey"))
    }),
        """SELECT month, o_orderkey,
          |  percent_rank() OVER w AS pct_rank,
          |  cume_dist() OVER w AS cume
          |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, o_orderkey, o_totalprice FROM orders)
          |WINDOW w AS (PARTITION BY month ORDER BY o_totalprice ASC, o_orderkey ASC)
          |ORDER BY month, o_orderkey""".stripMargin),
    // lag delta: seconds since the user's previous event (integer-exact)
    QuerySpec("window_lag_gap", ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tse").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").cast("long").as("tse"))
        .withColumn("gap_s", col("tse") - lag(col("tse"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("gap_s"))
        .orderBy(col("event_id"))
    }),
        """SELECT event_id, user_id, gap_s FROM (
          |  SELECT event_id, user_id,
          |    tse - LAG(tse) OVER (PARTITION BY user_id ORDER BY tse ASC, event_id ASC) AS gap_s
          |  FROM (SELECT event_id, user_id, (epoch_ns(ts) // 1000000000) AS tse FROM events)
          |) ORDER BY event_id""".stripMargin),
    // --- round-3: product-analytics funnel (staged conversion): users with
    // a view, a click strictly after their first view, a purchase strictly
    // after that click. Three key-local aggregations (same user_id shuffle
    // partitioning reused across stages); integer counts — exact.
    QuerySpec("events_funnel", ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts").cast("long").as("tse"))
      val tv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tse")).as("tv"))
      val tc = ev.join(tv, Seq("user_id"))
        .filter(col("event_type") === "click" && col("tse") > col("tv"))
        .groupBy(col("user_id")).agg(min(col("tse")).as("tc"))
      val tp = ev.join(tc, Seq("user_id"))
        .filter(col("event_type") === "purchase" && col("tse") > col("tc"))
        .groupBy(col("user_id")).agg(min(col("tse")).as("tp"))
      tv.agg(count(lit(1)).as("n_view"))
        .crossJoin(tc.agg(count(lit(1)).as("n_click_after_view")))
        .crossJoin(tp.agg(count(lit(1)).as("n_purchase_after_click")))
    }),
        """WITH ev AS (SELECT user_id, event_type, (epoch_ns(ts) // 1000000000) AS tse FROM events),
          |tv AS (SELECT user_id, MIN(tse) AS tv FROM ev WHERE event_type = 'view' GROUP BY user_id),
          |tc AS (SELECT ev.user_id, MIN(tse) AS tc FROM ev JOIN tv ON ev.user_id = tv.user_id
          |       WHERE event_type = 'click' AND tse > tv GROUP BY ev.user_id),
          |tp AS (SELECT ev.user_id, MIN(tse) AS tp FROM ev JOIN tc ON ev.user_id = tc.user_id
          |       WHERE event_type = 'purchase' AND tse > tc GROUP BY ev.user_id)
          |SELECT (SELECT COUNT(*) FROM tv) AS n_view,
          |       (SELECT COUNT(*) FROM tc) AS n_click_after_view,
          |       (SELECT COUNT(*) FROM tp) AS n_purchase_after_click""".stripMargin),
    // trailing-7-day distinct active users per day (the rolling-MAU
    // shape): DISTINCT over a sliding window is not frame-expressible —
    // the scalable exact form dedups to (day, user) pairs once, CASTS
    // each pair to the 7 target days it contributes to (a bounded
    // explode), and distinct-counts per target day. |active-pairs|×7
    // rows, all key-local; no per-day rescans of the event log
    QuerySpec("events_rolling_active_users", ((s, d) => {
      val pairs = Tables.events(s, d)
        .select(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast(LongType).as("eday"), col("user_id"))
        .distinct()
      val bounds = pairs.agg(min(col("eday")).as("min_day"), max(col("eday")).as("max_day"))
      pairs
        .select(explode(sequence(col("eday"), col("eday") + 6)).as("target_day"),
          col("user_id"))
        .crossJoin(broadcast(bounds))
        .filter(col("target_day") <= col("max_day"))
        .groupBy(col("target_day"))
        .agg(count_distinct(col("user_id")).as("active_7d"))
        .withColumn("day",
          date_add(lit("1970-01-01").cast("date"), col("target_day").cast("int")))
        .orderBy(col("target_day"))
    }),
        """WITH pairs AS (
          |  SELECT DISTINCT
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS eday,
          |    user_id
          |  FROM events),
          |bounds AS (SELECT MAX(eday) AS max_day FROM pairs),
          |contrib AS (
          |  SELECT eday + off AS target_day, user_id
          |  FROM pairs CROSS JOIN (SELECT unnest(range(0, 7)) AS off))
          |SELECT target_day,
          |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d,
          |  DATE '1970-01-01' + CAST(target_day AS INT) AS day
          |FROM contrib CROSS JOIN bounds
          |WHERE target_day <= max_day
          |GROUP BY target_day ORDER BY target_day""".stripMargin),
    // CUSUM changepoint statistic over the daily event series: the
    // classic monitoring fold c_t = max(0, c_{t-1} + (x_t − mean)) is an
    // inherently SEQUENTIAL recursion no window expresses — it runs as a
    // left fold over the |days|-sized aggregated series (Spark `aggregate`
    // ≡ DuckDB `list_reduce`, the BPE fold-replay contract), with a
    // two-slot accumulator carrying (cusum, running max). The corpus
    // collapses to |days| rows first; the fold never sees raw events
    QuerySpec("events_cusum_daily", ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      daily
        .agg(collect_list(struct(col("day"), col("n"))).as("arr"),
          sum(col("n")).as("tot"), count(lit(1)).as("n_days"))
        .withColumn("mean_daily",
          round(col("tot").cast("double") / col("n_days").cast("double"), 6))
        .select(col("n_days"), col("mean_daily"),
          round(element_at(aggregate(
            transform(array_sort(col("arr")),
              e => e.getField("n").cast("double") - col("mean_daily")),
            array(lit(0.0), lit(0.0)),
            (acc, x) => {
              val c = greatest(lit(0.0), element_at(acc, 1) + x)
              array(c, greatest(element_at(acc, 2), c))
            }), 2), 6).as("max_cusum"))
    }),
      {
        val z = DuckSql.fmt(0.0)
        s"""WITH daily AS (
           |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1),
           |agg AS (
           |  SELECT list(CAST(n AS DOUBLE) ORDER BY day) AS arr,
           |    CAST(SUM(n) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n_days
           |  FROM daily),
           |m AS (
           |  SELECT n_days, arr,
           |    ROUND(CAST(tot AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean_daily
           |  FROM agg)
           |SELECT n_days, mean_daily,
           |  ROUND(list_reduce(
           |    list_prepend([$z, $z], list_transform(arr, v -> [v - mean_daily])),
           |    (acc, x) -> [GREATEST($z, acc[1] + x[1]),
           |                 GREATEST(acc[2], GREATEST($z, acc[1] + x[1]))])[2], 6) AS max_cusum
           |FROM m""".stripMargin
      }),
    // funnel step latency: exact p50/p90 seconds between the funnel's
    // first qualifying events (view→click, click→purchase) — the
    // conversion-TIME report next to events_funnel's conversion-COUNT
    // report. Same first-qualifying-step chain (three key-local
    // aggregations), deltas percentiled with the proven exact
    // interpolated kernel; one row out
    QuerySpec("events_funnel_latency", ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts").cast("long").as("tse"))
      val tv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tse")).as("tv"))
      val tc = ev.join(tv, Seq("user_id"))
        .filter(col("event_type") === "click" && col("tse") > col("tv"))
        .groupBy(col("user_id")).agg(min(col("tse")).as("tc"))
      val tp = ev.join(tc, Seq("user_id"))
        .filter(col("event_type") === "purchase" && col("tse") > col("tc"))
        .groupBy(col("user_id")).agg(min(col("tse")).as("tp"))
      val vc = tc.join(tv, Seq("user_id"))
        .select((col("tc") - col("tv")).as("dsec"))
        .agg(count(lit(1)).as("n_vc"),
          percentile(col("dsec"), lit(0.5)).as("p50_view_click"),
          percentile(col("dsec"), lit(0.9)).as("p90_view_click"))
      val cp = tp.join(tc, Seq("user_id"))
        .select((col("tp") - col("tc")).as("dsec"))
        .agg(count(lit(1)).as("n_cp"),
          percentile(col("dsec"), lit(0.5)).as("p50_click_purchase"),
          percentile(col("dsec"), lit(0.9)).as("p90_click_purchase"))
      vc.crossJoin(cp)
    }),
        s"""WITH ev AS (SELECT user_id, event_type, (epoch_ns(ts) // 1000000000) AS tse FROM events),
           |tv AS (SELECT user_id, MIN(tse) AS tv FROM ev WHERE event_type = 'view' GROUP BY user_id),
           |tc AS (SELECT ev.user_id, MIN(tse) AS tc FROM ev JOIN tv ON ev.user_id = tv.user_id
           |       WHERE event_type = 'click' AND tse > tv GROUP BY ev.user_id),
           |tp AS (SELECT ev.user_id, MIN(tse) AS tp FROM ev JOIN tc ON ev.user_id = tc.user_id
           |       WHERE event_type = 'purchase' AND tse > tc GROUP BY ev.user_id),
           |vc AS (SELECT COUNT(*) AS n_vc,
           |         quantile_cont(tc - tv, ${DuckSql.fmt(0.5)}) AS p50_view_click,
           |         quantile_cont(tc - tv, ${DuckSql.fmt(0.9)}) AS p90_view_click
           |       FROM tc JOIN tv USING (user_id)),
           |cp AS (SELECT COUNT(*) AS n_cp,
           |         quantile_cont(tp - tc, ${DuckSql.fmt(0.5)}) AS p50_click_purchase,
           |         quantile_cont(tp - tc, ${DuckSql.fmt(0.9)}) AS p90_click_purchase
           |       FROM tp JOIN tc USING (user_id))
           |SELECT * FROM vc CROSS JOIN cp""".stripMargin),
    // forward as-of: each event's NEXT order at-or-after its timestamp
    QuerySpec("asof_join_forward", ((s, d) =>
      AsOfJoin.asOf(
        Tables.events(s, d).select(col("event_id"), col("ts"), col("user_id"), col("event_type")),
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
        keyL = "user_id", keyR = "o_custkey", timeL = "ts", timeR = "o_orderdate",
        payloadR = Seq("o_orderkey", "o_totalprice"), tiebreakR = "o_orderkey",
        direction = "forward")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))),
        """SELECT event_id, user_id, event_type, o_orderkey, o_totalprice FROM (
          |  SELECT event_id, user_id, event_type, side,
          |    first_value(pk IGNORE NULLS) OVER w AS o_orderkey,
          |    first_value(pv IGNORE NULLS) OVER w AS o_totalprice
          |  FROM (
          |    SELECT event_id, user_id AS k, ts AS t, 0 AS side, CAST(NULL AS BIGINT) AS tb,
          |           user_id, event_type, CAST(NULL AS BIGINT) AS pk, CAST(NULL AS DOUBLE) AS pv
          |    FROM events
          |    UNION ALL
          |    SELECT CAST(NULL AS BIGINT), o_custkey, o_orderdate, 1, o_orderkey,
          |           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), o_orderkey, o_totalprice
          |    FROM orders
          |  )
          |  WINDOW w AS (PARTITION BY k ORDER BY t ASC, side ASC, tb ASC
          |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          |) WHERE side = 0 ORDER BY event_id""".stripMargin),
    // cohort retention: users bucketed by first-seen day, activity counted
    // per (cohort, day offset) — two key-local aggregations, exact integers
    QuerySpec("events_retention_cohorts", ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("day_epoch")).as("cohort_epoch"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_epoch"),
          ((col("day_epoch") - col("cohort_epoch")) / lit(86400L)).cast("long").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_epoch"), col("day_offset"))
    }),
        """WITH ev AS (SELECT user_id, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch FROM events),
          |c AS (SELECT user_id, MIN(day_epoch) AS cohort_epoch FROM ev GROUP BY user_id)
          |SELECT cohort_epoch, (day_epoch - cohort_epoch) // 86400 AS day_offset,
          |  COUNT(DISTINCT ev.user_id) AS n_active
          |FROM ev JOIN c ON ev.user_id = c.user_id
          |GROUP BY cohort_epoch, day_offset ORDER BY cohort_epoch, day_offset""".stripMargin),
    // behavior-sequence assembly: each user's event types concatenated in
    // the engine-wide (ts, event_id) total order — the trajectory-building
    // step of a behavioral training set (one shuffle on the key; the
    // sequence is assembled per key, never globally). Same ordered-listagg
    // kernel as agg_listagg_suppliers, with the struct sort carrying the
    // time axis
    QuerySpec("seq_user_event_trajectory", ((s, d) =>
      Tables.events(s, d).filter(col("user_id") % 50 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          concat_ws(" ",
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x("event_type"))).as("trajectory"))
        .orderBy(col("user_id"))),
        """SELECT user_id, COUNT(*) AS n_events,
          |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS trajectory
          |FROM events WHERE user_id % 50 = 0
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // RANGE window frame over event time (value-based bounds, not row
    // counts): 30-day trailing revenue per customer — frames follow the
    // time axis through gaps and duplicate dates
    QuerySpec("window_range_frame_revenue", ((s, d) => {
      // o_orderdate arrives as TIMESTAMP_NTZ; session TZ is pinned UTC so
      // the TIMESTAMP hop to epoch seconds is exact
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400L, 0L)
      Tables.orders(s, d)
        .filter(col("o_custkey") % 50 === 0)
        .withColumn("rev30",
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderdate"), col("rev30"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("rev30"))
    }),
        """SELECT o_custkey, o_orderdate,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderdate
          |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev30
          |FROM orders WHERE o_custkey % 50 = 0
          |ORDER BY o_custkey, o_orderdate, rev30""".stripMargin),
    // stream-static enrichment: events × broadcast customer dim → hourly
    // windowed aggregation per segment (streaming form ≡ batch, proven in
    // StreamEnrichSpec)
    QuerySpec("stream_static_enrich", ((s, d) =>
      graft.streaming.StreamEnrich.hourlyBySegment(
          Tables.events(s, d), Tables.customer(s, d))
        .orderBy(col("c_mktsegment"), col("hour_start"))),
        """SELECT c.c_mktsegment, CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS hour_start,
          |  COUNT(*) AS n, CAST(SUM(CAST(e.value AS DECIMAL(18,3))) AS DOUBLE) AS v_sum
          |FROM events e JOIN customer c ON e.user_id = c.c_custkey
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // trailing-window anomaly detection on the event stream: hourly counts
    // vs their own trailing-24-HOUR mean. The frame is a value-based RANGE
    // over hour_epoch (a ROWS frame would skip empty hours and stretch the
    // baseline arbitrarily far back), and the mean divides the frame SUM
    // by 24.0 so absent hours correctly count as zero activity; rows
    // qualify once a full day of history has elapsed for that type
    QuerySpec("events_hourly_anomaly", ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
        .rangeBetween(-24L * 3600L, -1L)
      val first = Window.partitionBy(col("event_type"))
      hourly
        .withColumn("trail_avg", coalesce(sum(col("n")).over(w), lit(0L)) / 24.0)
        .withColumn("first_epoch", min(col("hour_epoch")).over(first))
        .filter(col("hour_epoch") >= col("first_epoch") + 24L * 3600L)
        .withColumn("is_anomaly",
          (col("n") > col("trail_avg") * 1.5 || col("n") < col("trail_avg") * 0.5).cast("int"))
        .select(col("event_type"), col("hour_epoch"), col("n"),
          col("trail_avg"), col("is_anomaly"))
        .orderBy(col("event_type"), col("hour_epoch"))
    }),
        """WITH hourly AS (
          |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
          |    event_type, COUNT(*) AS n
          |  FROM events GROUP BY 1, 2)
          |SELECT event_type, hour_epoch, n, trail_avg,
          |  CAST(CASE WHEN n > trail_avg * 1.5 OR n < trail_avg * 0.5 THEN 1 ELSE 0 END AS INT) AS is_anomaly
          |FROM (
          |  SELECT event_type, hour_epoch, n,
          |    COALESCE(SUM(n) OVER w, 0) / 24.0 AS trail_avg,
          |    MIN(hour_epoch) OVER (PARTITION BY event_type) AS first_epoch
          |  FROM hourly
          |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch
          |               RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING))
          |WHERE hour_epoch >= first_epoch + 86400
          |ORDER BY event_type, hour_epoch""".stripMargin),
    // OHLC candlestick downsampling (TimeSeries.ohlc): per-type hourly
    // bars with first/last under the TOTAL (ts, event_id) order — plain
    // arg_min/min_by would tie-break arbitrarily per engine on duplicate
    // timestamps; the row_number formulation is deterministic
    QuerySpec("events_ohlc_hourly", ((s, d) =>
      graft.operators.TimeSeries.ohlc(
          Tables.events(s, d), "event_type",
          unix_timestamp(date_trunc("hour", col("ts"))),
          "ts", "value", "event_id")
        .orderBy(col("event_type"), col("bucket"))),
        """WITH b AS (
          |  SELECT event_type,
          |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
          |    CAST(value AS DECIMAL(18,3)) AS v,
          |    ROW_NUMBER() OVER w AS rn,
          |    COUNT(*) OVER (PARTITION BY event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT)) AS nb
          |  FROM events
          |  WINDOW w AS (PARTITION BY event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
          |               ORDER BY (epoch_ns(ts) // 1000) ASC, event_id ASC)
          |)
          |SELECT event_type, bucket,
          |  CAST(MAX(CASE WHEN rn = 1 THEN v END) AS DOUBLE) AS open,
          |  CAST(MAX(v) AS DOUBLE) AS high,
          |  CAST(MIN(v) AS DOUBLE) AS low,
          |  CAST(MAX(CASE WHEN rn = nb THEN v END) AS DOUBLE) AS close,
          |  COUNT(*) AS n
          |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // peak session concurrency per day: sessions (the proven sessionize
    // kernel) exploded to the minutes they cover, minute-level active
    // counts, then per-day max — interval concurrency WITHOUT the global
    // sweep-line sort (+1/-1 running sum needs ONE total order over all
    // boundaries; the minute spine keeps every step key-local and the
    // explode bounded by session duration). The capacity-planning gauge
    QuerySpec("events_concurrency_peak", ((s, d) => {
      val sess = graft.streaming.Sessionize.batch(Tables.events(s, d))
      val conc = sess
        .select(explode(sequence(
          floor(col("session_start") / 60).cast(LongType),
          floor(col("session_end") / 60).cast(LongType))).as("minute"))
        .groupBy(col("minute"))
        .agg(count(lit(1)).cast(LongType).as("concurrent"))
      conc
        .withColumn("epoch_day", floor(col("minute") / 1440).cast(LongType))
        .groupBy(col("epoch_day"))
        .agg(max(col("concurrent")).as("peak_concurrent"),
          count(lit(1)).cast(LongType).as("n_active_minutes"))
        .withColumn("day",
          date_add(lit("1970-01-01").cast("date"), col("epoch_day").cast("int")))
        .orderBy(col("epoch_day"))
    }),
        """WITH sess AS (
          |  SELECT user_id, session_idx,
          |    MIN(tse) AS session_start, MAX(tse) AS session_end
          |  FROM (
          |    SELECT user_id, tse,
          |      SUM(CASE WHEN prev IS NOT NULL AND tse - prev > 1800 THEN 1 ELSE 0 END)
          |        OVER (PARTITION BY user_id ORDER BY tse ASC, event_id ASC
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          |    FROM (
          |      SELECT user_id, event_id, (epoch_ns(ts) // 1000000000) AS tse,
          |        LAG((epoch_ns(ts) // 1000000000)) OVER (PARTITION BY user_id
          |          ORDER BY (epoch_ns(ts) // 1000000000) ASC, event_id ASC) AS prev
          |      FROM events
          |    )
          |  ) GROUP BY user_id, session_idx),
          |mins AS (
          |  SELECT unnest(generate_series(
          |    CAST(FLOOR(session_start / 60) AS BIGINT),
          |    CAST(FLOOR(session_end / 60) AS BIGINT))) AS minute
          |  FROM sess),
          |conc AS (SELECT minute, CAST(COUNT(*) AS BIGINT) AS concurrent
          |         FROM mins GROUP BY minute)
          |SELECT epoch_day, peak_concurrent, n_active_minutes,
          |  DATE '1970-01-01' + CAST(epoch_day AS INT) AS day
          |FROM (
          |  SELECT CAST(FLOOR(minute / 1440) AS BIGINT) AS epoch_day,
          |    MAX(concurrent) AS peak_concurrent,
          |    CAST(COUNT(*) AS BIGINT) AS n_active_minutes
          |  FROM conc GROUP BY 1)
          |ORDER BY epoch_day""".stripMargin),
    // Welch two-sample t-test between click and purchase values — the A/B
    // significance statistic, completing the inferential kit (chi², PSI,
    // AUC). ONE conditional-aggregation pass over events (no join, no
    // second scan); per-group power sums are exact scale-3 decimals, cast
    // to double once, then mean/variance/t/dof run as the same IEEE tree
    // in both engines (the zscore double-tree contract)
    QuerySpec("events_ab_ttest", ((s, d) => {
      val v = col("value").cast(DecimalType(18, 3))
      def side(t: String, c: Column) = when(col("event_type") === t, c)
      val g = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .agg(
          sum(side("click", lit(1L))).as("n_a"),
          sum(side("click", v)).as("sa"),
          sum(side("click", v * v)).as("saa"),
          sum(side("purchase", lit(1L))).as("n_b"),
          sum(side("purchase", v)).as("sb"),
          sum(side("purchase", v * v)).as("sbb"))
      val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
      val ma = col("sa").cast("double") / na
      val mb = col("sb").cast("double") / nb
      val va = (na * col("saa").cast("double") -
        col("sa").cast("double") * col("sa").cast("double")) / (na * (na - 1.0))
      val vb = (nb * col("sbb").cast("double") -
        col("sb").cast("double") * col("sb").cast("double")) / (nb * (nb - 1.0))
      val sea = va / na; val seb = vb / nb
      g.select(col("n_a"), col("n_b"),
        round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
        round((ma - mb) / sqrt(sea + seb), 6).as("t_stat"),
        round((sea + seb) * (sea + seb) /
          (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6).as("dof"))
    }),
        """WITH g AS (
          |  SELECT
          |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_a,
          |    SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,3)) END) AS sa,
          |    SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,3)) * CAST(value AS DECIMAL(18,3)) END) AS saa,
          |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_b,
          |    SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,3)) END) AS sb,
          |    SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,3)) * CAST(value AS DECIMAL(18,3)) END) AS sbb
          |  FROM events WHERE event_type IN ('click', 'purchase')),
          |m AS (
          |  SELECT n_a, n_b,
          |    CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
          |    CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
          |    (CAST(n_a AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          |      / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS va,
          |    (CAST(n_b AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
          |      / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS vb
          |  FROM g),
          |se AS (
          |  SELECT n_a, n_b, ma, mb,
          |    va / CAST(n_a AS DOUBLE) AS sea, vb / CAST(n_b AS DOUBLE) AS seb
          |  FROM m)
          |SELECT n_a, n_b, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
          |  ROUND((ma - mb) / SQRT(sea + seb), 6) AS t_stat,
          |  ROUND((sea + seb) * (sea + seb)
          |    / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
          |      + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)), 6) AS dof
          |FROM se""".stripMargin),
    // SCD Type-2 dimension history from the event change log: collapse
    // consecutive repeats per user, emit [valid_from, valid_to) + current
    // flag — two windows over ONE (user, time) shuffle. The open interval
    // carries a far-future sentinel instead of NULL (the warehouse
    // convention, and it keeps the cross-engine hash off null-timestamp
    // representation). Sentinel is 2200-01-01, NOT 9999-12-31: the classic
    // sentinel overflows int64 NANOSECONDS (max 2262-04-11), and any
    // ns-based reader of the parquet dump (pyarrow/pandas) silently wraps
    // it to 1816-03-29 — which is exactly how it hash-mismatched in r04
    QuerySpec("scd2_user_event_history", ((s, d) =>
      Snapshot.scd2(Tables.events(s, d).filter(col("user_id") % 20 === 0),
          "user_id", "event_type", "ts", "event_id")
        .withColumn("valid_to",
          coalesce(col("valid_to"), lit("2200-01-01 00:00:00").cast("timestamp")))
        // valid_to joins the sort so duplicate-timestamp change points of
        // one attribute order totally (remaining ties are full-row dups)
        .orderBy(col("user_id"), col("valid_from"), col("event_type"), col("valid_to"))),
        """SELECT user_id, event_type, valid_from,
          |  COALESCE(valid_to0, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
          |  CAST(CASE WHEN valid_to0 IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
          |FROM (
          |  SELECT user_id, event_type, ts AS valid_from,
          |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to0
          |  FROM (
          |    SELECT user_id, event_type, ts, event_id,
          |      LAG(event_type) OVER w AS prev_type,
          |      ROW_NUMBER() OVER w AS rn
          |    FROM events WHERE user_id % 20 = 0
          |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type)
          |ORDER BY user_id, valid_from, event_type, valid_to""".stripMargin),
    // time-weighted average of event value per user: each sample weighted
    // by WHOLE SECONDS until the next — the statistic uneven sampling
    // needs (products in exact decimal × integer seconds, one double
    // division at the end; see TimeSeries for why not microseconds)
    QuerySpec("events_time_weighted_avg", ((s, d) =>
      graft.operators.TimeSeries.timeWeightedAvg(
          Tables.events(s, d).filter(col("user_id") % 10 === 0),
          "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id"))),
      // dt in integer SECONDS (epoch_ns // 1e9 mirrors Spark's ts.cast(long)
      // floor); products in exact DECIMAL(18,3) × BIGINT whose summed
      // unscaled value stays under 2^53, so the decimal→double cast is
      // correctly rounded (hence identical) in both engines
        """SELECT user_id,
          |  CAST(SUM(CAST(value AS DECIMAL(18,3)) * dt_s) AS DOUBLE)
          |    / CAST(SUM(dt_s) AS DOUBLE) AS twa,
          |  CAST(SUM(dt_s) AS BIGINT) AS total_dt_s,
          |  COUNT(*) AS n_intervals
          |FROM (
          |  SELECT user_id, value,
          |    LEAD(tse) OVER w - tse AS dt_s
          |  FROM (SELECT user_id, value, event_id, (epoch_ns(ts) // 1000000000) AS tse
          |        FROM events WHERE user_id % 10 = 0)
          |  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id))
          |WHERE dt_s IS NOT NULL
          |GROUP BY user_id HAVING SUM(dt_s) > 0 ORDER BY user_id""".stripMargin),
    // bounded-lookback EWMA over the hourly event-type series: the corpus
    // collapses to |types|×|hours| bucket means first; the decay is the
    // series self-joined through a broadcast 24-row offset table (one
    // equi-shuffle), weights renormalized over PRESENT buckets so gaps
    // don't drag the average toward zero
    QuerySpec("events_ewma_hourly", ((s, d) =>
      graft.operators.TimeSeries.ewmaHourly(
          Tables.events(s, d), "event_type", "ts", "value",
          alpha = 0.9, lookback = 24)
        .orderBy(col("key"), col("bucket"))),
      {
        val vals = (0 until 24).map(j =>
          s"($j, ${DuckSql.fmt(math.pow(0.9, j))})").mkString(", ")
        s"""WITH series AS (
           |  SELECT event_type AS key, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
           |    round(CAST(SUM(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE)
           |      / CAST(COUNT(*) AS DOUBLE), 6) AS x
           |  FROM events GROUP BY 1, 2),
           |weights(j, w) AS (VALUES $vals)
           |SELECT c.key AS key, c.bucket AS bucket,
           |  round(CAST(SUM(CAST(round(p.x * wt.w, 9) AS DECIMAL(18,9))) AS DOUBLE)
           |    / CAST(SUM(CAST(round(wt.w, 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS ewma
           |FROM series c CROSS JOIN weights wt
           |JOIN series p ON p.key = c.key AND p.bucket = c.bucket - wt.j * 3600
           |GROUP BY c.key, c.bucket ORDER BY key, bucket""".stripMargin
      }),
    // temporal (validity-interval) join against the SCD2 dimension: each
    // purchase picks up the browsing state valid AT its timestamp —
    // fact.ts ∈ [valid_from, valid_to) of the user's non-purchase history;
    // purchases before any history row keep NULL state (left join). The
    // equi key (user) carries the join; the interval predicate filters
    // within the key's (small) history
    QuerySpec("scd2_temporal_join", ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id") % 20 === 0)
      val hist = Snapshot.scd2(ev.filter(col("event_type") =!= "purchase"),
          "user_id", "event_type", "ts", "event_id")
        .withColumn("valid_to",
          coalesce(col("valid_to"), lit("9999-12-31 00:00:00").cast("timestamp")))
        .select(col("user_id").as("h_user"), col("event_type").as("state"),
          col("valid_from"), col("valid_to"))
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .join(hist, col("user_id") === col("h_user") &&
          col("ts") >= col("valid_from") && col("ts") < col("valid_to"), "left")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("state"), col("valid_from").as("state_since"))
        .orderBy(col("event_id"))
    }),
        """WITH hist AS (
          |  SELECT user_id AS h_user, event_type AS state, valid_from,
          |    COALESCE(valid_to0, TIMESTAMP '9999-12-31 00:00:00') AS valid_to
          |  FROM (
          |    SELECT user_id, event_type, ts AS valid_from,
          |      LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to0
          |    FROM (
          |      SELECT user_id, event_type, ts, event_id,
          |        LAG(event_type) OVER w AS prev_type,
          |        ROW_NUMBER() OVER w AS rn
          |      FROM events WHERE user_id % 20 = 0 AND event_type <> 'purchase'
          |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |    WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type))
          |SELECT e.event_id, e.user_id, e.ts, h.state, h.valid_from AS state_since
          |FROM events e
          |LEFT JOIN hist h ON e.user_id = h.h_user
          |  AND e.ts >= h.valid_from AND e.ts < h.valid_to
          |WHERE e.user_id % 20 = 0 AND e.event_type = 'purchase'
          |ORDER BY e.event_id""".stripMargin),
    // nearest-in-time join: each purchase attached to the user's CLOSEST
    // click in either direction (tie → the earlier one) — attribution
    // when the touchpoint can trail the conversion. One shuffle on
    // user_id; backward + forward candidates from two frames over the
    // same exchange
    QuerySpec("asof_join_nearest", ((s, d) => {
      val ev = Tables.events(s, d)
      AsOfJoin.asOfNearest(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("c_ts")),
        keyL = "user_id", keyR = "c_user", timeL = "ts", timeR = "c_ts",
        payloadR = Seq("click_id"), tiebreakR = "click_id")
        .select(col("event_id"), col("user_id"), col("click_id"), col("asof_dt_s"))
        .orderBy(col("event_id"))
    }),
      // round-5
        """WITH u AS (
          |  SELECT event_id, user_id AS k, ts AS t,
          |         (epoch_ns(ts) // 1000000000) AS tse,
          |         1 AS sb, 0 AS sf, CAST(NULL AS BIGINT) AS tb,
          |         user_id, CAST(NULL AS BIGINT) AS pid, CAST(NULL AS BIGINT) AS pts
          |  FROM events WHERE event_type = 'purchase'
          |  UNION ALL
          |  SELECT CAST(NULL AS BIGINT), user_id, ts, CAST(NULL AS BIGINT),
          |         0, 1, event_id,
          |         CAST(NULL AS BIGINT), event_id, (epoch_ns(ts) // 1000000000)
          |  FROM events WHERE event_type = 'click'),
          |c AS (
          |  SELECT event_id, user_id, sb, tse,
          |    last_value(pid IGNORE NULLS) OVER wb AS b_id,
          |    last_value(pts IGNORE NULLS) OVER wb AS b_t,
          |    first_value(pid IGNORE NULLS) OVER wf AS f_id,
          |    first_value(pts IGNORE NULLS) OVER wf AS f_t
          |  FROM u
          |  WINDOW wb AS (PARTITION BY k ORDER BY t ASC, sb ASC, tb ASC
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |         wf AS (PARTITION BY k ORDER BY t ASC, sf ASC, tb ASC
          |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          |SELECT event_id, user_id,
          |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR (tse - b_t) <= (f_t - tse))
          |       THEN b_id ELSE f_id END AS click_id,
          |  CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR (tse - b_t) <= (f_t - tse))
          |       THEN b_t - tse ELSE f_t - tse END AS asof_dt_s
          |FROM c WHERE sb = 1 ORDER BY event_id""".stripMargin),
    // longest consecutive-day activity streak per user (gaps-and-islands:
    // day_number − row_number island constant) — pure integer day
    // arithmetic, engine-exact
    QuerySpec("events_streak_longest", ((s, d) =>
      graft.operators.TimeSeries.longestDailyStreak(
          Tables.events(s, d), "user_id", "ts")
        .select(col("key").as("user_id"), col("n_active_days"),
          col("longest_streak"))
        .orderBy(col("user_id"))),
        """WITH days AS (
          |  SELECT DISTINCT user_id,
          |    (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) AS d
          |  FROM events),
          |r AS (SELECT user_id, d,
          |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d ASC) AS rn
          |      FROM days),
          |g AS (SELECT user_id, COUNT(*) AS streak FROM r GROUP BY user_id, d - rn)
          |SELECT user_id, CAST(SUM(streak) AS BIGINT) AS n_active_days,
          |  MAX(streak) AS longest_streak
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
    // exact trailing-7-row median of the per-type daily value sums — the
    // robust smoother (spikes can't drag a median the way they drag the
    // rolling mean). collect_list over a ROWS frame holds ≤ 7 doubles per
    // row; partitioned by event_type, so no global window. round(6) on
    // both engines absorbs the even-count midpoint's ULP association
    QuerySpec("window_rolling_median", ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(dsum(col("value"), 3).as("v_day"))
      graft.operators.TimeSeries.rollingMedian(daily, Seq(col("event_type")),
          col("day_epoch"), col("v_day"), width = 7, outCol = "med7")
        .select(col("event_type"), col("day_epoch"), col("v_day"),
          round(col("med7"), 6).as("med7"))
        .orderBy(col("event_type"), col("day_epoch"))
    }),
        s"""WITH daily AS (
           |  SELECT event_type, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
           |    ${dsumSql("value", 3)} AS v_day
           |  FROM events GROUP BY event_type, day_epoch)
           |SELECT event_type, day_epoch, v_day,
           |  round(median(v_day) OVER (PARTITION BY event_type ORDER BY day_epoch ASC
           |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
           |FROM daily ORDER BY event_type, day_epoch""".stripMargin),
    // multi-touch LINEAR attribution: each purchase splits one unit of
    // credit equally across the user's qualifying touches in the prior 7
    // days; per-channel credit sums. Fractions are 9-decimal-quantized
    // BEFORE summing so the per-channel totals are order-independent and
    // engine-exact. Join is user-keyed + time-bounded (candidates per
    // purchase bounded by a user's 7-day activity, not the corpus); the
    // per-purchase count is a window over those bounded groups
    QuerySpec("events_multitouch_attribution", ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").cast("long").as("p_t"))
      val touches = ev.filter(col("event_type").isin("view", "click", "signup"))
        .select(col("user_id").as("t_user"), col("event_type").as("channel"),
          col("ts").cast("long").as("t_t"))
      val wn = Window.partitionBy(col("p_id"))
      purchases.join(touches,
          col("p_user") === col("t_user") && col("t_t") < col("p_t") &&
            col("t_t") >= col("p_t") - lit(604800L))
        .withColumn("n_touch", count(lit(1)).over(wn))
        .withColumn("credit",
          round(lit(1.0) / col("n_touch").cast("double"), 9)
            .cast(DecimalType(18, 9)))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit")).cast("double").as("credit_sum"))
        .orderBy(col("channel"))
    }),
        s"""WITH p AS (SELECT event_id AS p_id, user_id AS p_user,
           |             (epoch_ns(ts) // 1000000000) AS p_t
           |           FROM events WHERE event_type = 'purchase'),
           |t AS (SELECT user_id AS t_user, event_type AS channel,
           |        (epoch_ns(ts) // 1000000000) AS t_t
           |      FROM events WHERE event_type IN ('view', 'click', 'signup')),
           |j AS (SELECT p_id, channel FROM p JOIN t
           |      ON p_user = t_user AND t_t < p_t AND t_t >= p_t - 604800),
           |c AS (SELECT p_id, channel,
           |        COUNT(*) OVER (PARTITION BY p_id) AS n_touch FROM j)
           |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
           |  CAST(SUM(CAST(round(${DuckSql.fmt(1.0)} / CAST(n_touch AS DOUBLE), 9)
           |    AS DECIMAL(18,9))) AS DOUBLE) AS credit_sum
           |FROM c GROUP BY channel ORDER BY channel""".stripMargin),
    // day-of-week seasonal baseline + relative deviation — the weekly-
    // rhythm-aware anomaly readout (Mondays compare against Mondays).
    // dow from pure integer epoch arithmetic ((d/86400 + 4) mod 7,
    // 1970-01-01 = Thursday) — no engine dayofweek() convention to
    // reconcile. Two key-local aggregations; |days| rows after the first
    QuerySpec("events_dow_seasonal", ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", pmod((col("day_epoch") / 86400L).cast("long") + 4L, lit(7L)))
      val base = daily.groupBy(col("dow"))
        .agg((sum(col("n")).cast("double") / count(lit(1)).cast("double"))
          .as("baseline"))
      daily.join(broadcast(base), "dow")
        .select(col("day_epoch"), col("dow"), col("n"),
          round(col("baseline"), 6).as("baseline"),
          round((col("n").cast("double") - col("baseline")) / col("baseline"), 6)
            .as("rel_dev"))
        .orderBy(col("day_epoch"))
    }),
        """WITH daily AS (
          |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
          |    CAST(COUNT(*) AS BIGINT) AS n
          |  FROM events GROUP BY day_epoch),
          |d2 AS (SELECT day_epoch, n, ((day_epoch // 86400) + 4) % 7 AS dow FROM daily),
          |base AS (SELECT dow, CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS baseline
          |         FROM d2 GROUP BY dow)
          |SELECT day_epoch, dow, n, round(baseline, 6) AS baseline,
          |  round((CAST(n AS DOUBLE) - baseline) / baseline, 6) AS rel_dev
          |FROM d2 JOIN base USING (dow) ORDER BY day_epoch""".stripMargin),
    // gap-fill by LINEAR INTERPOLATION: days suppressed by a simulated
    // outage (day_num % 5 = 2) are rebuilt from the nearest surviving
    // neighbors, weighted by integer day distance — the resampling step
    // before any fixed-grid time-series model. Same union+two-frame
    // kernel as the nearest as-of join; the series here is ONE bounded
    // daily aggregate (30 rows), so the unpartitioned window is benign —
    // per-key series would partition by the key
    QuerySpec("window_gap_fill_interpolate", ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(dsum(col("value"), 3).as("v"))
        .withColumn("dnum", (col("day_epoch") / 86400L).cast("long"))
      val spine = daily.select(col("day_epoch"), col("dnum"),
        when(pmod(col("dnum"), lit(5L)) =!= 2L, col("v")).as("v_obs"))
      val wb = Window.orderBy(col("dnum").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.orderBy(col("dnum").asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val prevV = last(col("v_obs"), ignoreNulls = true).over(wb)
      val prevD = last(when(col("v_obs").isNotNull, col("dnum")), ignoreNulls = true).over(wb)
      val nextV = first(col("v_obs"), ignoreNulls = true).over(wf)
      val nextD = first(when(col("v_obs").isNotNull, col("dnum")), ignoreNulls = true).over(wf)
      spine
        .withColumn("pv", prevV).withColumn("pd", prevD)
        .withColumn("nv", nextV).withColumn("nd", nextD)
        .withColumn("v_filled", round(
          when(col("v_obs").isNotNull, col("v_obs"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              ((col("dnum") - col("pd")).cast("double") /
                (col("nd") - col("pd")).cast("double"))), 6))
        .withColumn("was_gap", col("v_obs").isNull.cast("int"))
        .select(col("day_epoch"), col("v_filled"), col("was_gap"))
        .orderBy(col("day_epoch"))
    }),
        s"""WITH daily AS (
           |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
           |    ${dsumSql("value", 3)} AS v
           |  FROM events WHERE event_type = 'purchase' GROUP BY day_epoch),
           |sp AS (SELECT day_epoch, day_epoch // 86400 AS dnum,
           |         CASE WHEN (day_epoch // 86400) % 5 <> 2 THEN v END AS v_obs
           |       FROM daily),
           |c AS (SELECT day_epoch, dnum, v_obs,
           |    last_value(v_obs IGNORE NULLS) OVER wb AS pv,
           |    last_value(CASE WHEN v_obs IS NOT NULL THEN dnum END IGNORE NULLS) OVER wb AS pd,
           |    first_value(v_obs IGNORE NULLS) OVER wf AS nv,
           |    first_value(CASE WHEN v_obs IS NOT NULL THEN dnum END IGNORE NULLS) OVER wf AS nd
           |  FROM sp
           |  WINDOW wb AS (ORDER BY dnum ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |         wf AS (ORDER BY dnum ASC ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           |SELECT day_epoch,
           |  round(CASE WHEN v_obs IS NOT NULL THEN v_obs
           |             WHEN pv IS NULL THEN nv
           |             WHEN nv IS NULL THEN pv
           |             ELSE pv + (nv - pv) * (CAST(dnum - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)) END, 6) AS v_filled,
           |  CAST(CASE WHEN v_obs IS NULL THEN 1 ELSE 0 END AS INT) AS was_gap
           |FROM c ORDER BY day_epoch""".stripMargin)
  )
}
