package graft.queries

import graft.SparkEntry.prepareFixtures
import graft.core.{Fixtures, Tables}
import graft.operators.SaltedJoin
import graft.oracle.DuckSql
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Join, subquery, SQL-surface, set-operation and other relational queries:
  * each query's Spark plan is declared beside its DuckDB oracle SQL. */
object RelationalQueries {
  import Fixtures.Q64
  import Shared._

  private lazy val rangeJoinBandsSql: String =
    s"""SELECT band, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |JOIN (VALUES ('b0_lt50k', ${DuckSql.fmt(0.0)}, ${DuckSql.fmt(50000.0)}),
       |             ('b1_50k_100k', ${DuckSql.fmt(50000.0)}, ${DuckSql.fmt(100000.0)}),
       |             ('b2_100k_200k', ${DuckSql.fmt(100000.0)}, ${DuckSql.fmt(200000.0)}),
       |             ('b3_ge200k', ${DuckSql.fmt(200000.0)}, ${DuckSql.fmt(1e18)})) AS bands(band, lo, hi)
       |  ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY band ORDER BY band""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the SAME flagship query authored through the SQL surface: the
    // registered vec_sql2 folds its query literal into the identical
    // codegen'd VecMetricLit at plan time, so spark.sql text and the
    // Column API produce one plan — proven here under the driver's hash
    // gate (Double.toString round-trips bit-exactly through the CAST)
    QuerySpec("sql_knn_topk", ((s, d) => {
      graft.functions.GraftExtensions.install(s)
      emb(s, d).createOrReplaceTempView("graft_embeddings_v")
      val qlit = Q64.map(v => s"CAST('$v' AS DOUBLE)")
        .mkString("array(", ", ", ")")
      s.sql(s"""SELECT vec_id, label, vec_sql2(embedding, $qlit) AS dist
               |FROM graft_embeddings_v
               |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin)
    }),
      knnSql(sq, K)),
    QuerySpec("join_revenue_by_nation", ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("r_name"), col("n_name"))),
        s"""SELECT r_name, n_name, $revenue AS revenue, COUNT(*) AS n
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    // range join: orders against a tiny literal band table — broadcast
    // nested-loop on the range predicate, then aggregate per band. The
    // small side is O(bands); at 100 TB the big side streams map-side.
    QuerySpec("range_join_price_bands", ((s, d) => {
      import s.implicits._
      val bands = Seq(
        ("b0_lt50k", 0.0, 50000.0), ("b1_50k_100k", 50000.0, 100000.0),
        ("b2_100k_200k", 100000.0, 200000.0), ("b3_ge200k", 200000.0, 1e18))
        .toDF("band", "lo", "hi")
      Tables.orders(s, d)
        .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("band"))
    }),
      // range_join_binned is the equi-planned form of the SAME semantics —
      // one oracle serves both
      rangeJoinBandsSql),
    QuerySpec("set_intersect_custkeys", ((s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("custkey"))
        .intersect(Tables.customer(s, d).select(col("c_custkey").as("custkey")))
        .orderBy(col("custkey"))),
        "SELECT o_custkey AS custkey FROM orders INTERSECT SELECT c_custkey AS custkey FROM customer ORDER BY custkey"),
    // customers with a 200k+ order but no 300k+ order (non-empty difference)
    QuerySpec("set_except_custkeys", ((s, d) =>
      Tables.orders(s, d).filter(col("o_totalprice") > 200000.0)
        .select(col("o_custkey").as("custkey"))
        .except(Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))),
        s"""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > ${DuckSql.fmt(200000.0)}
           |EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > ${DuckSql.fmt(300000.0)}
           |ORDER BY custkey""".stripMargin),
    // MULTISET difference (EXCEPT ALL): per-customer order rows above the
    // low bar minus those above the high bar, duplicates preserved —
    // bag semantics the set-form except collapses. Summed per key so the
    // output order is total without exposing row multiplicity directly
    QuerySpec("set_except_all_orders", ((s, d) =>
      Tables.orders(s, d).filter(col("o_totalprice") > 200000.0)
        .select(col("o_custkey").as("custkey"))
        .exceptAll(Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("custkey")))
        .groupBy(col("custkey")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("custkey"))),
        s"""SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_kept FROM (
           |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > ${DuckSql.fmt(200000.0)}
           |  EXCEPT ALL
           |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > ${DuckSql.fmt(300000.0)})
           |GROUP BY custkey ORDER BY custkey""".stripMargin),
    // explicit null ordering UNDER A LIMIT: nullable derived key sorted
    // ASC NULLS FIRST — engines default differently (Spark asc = NULLS
    // FIRST, DuckDB asc = NULLS LAST), and the limit makes the choice
    // OBSERVABLE in the result set, so the contract must be spelled on
    // both sides of the gate. The null block (~210 rows) fills the head
    // of the 300-row window
    QuerySpec("sort_nulls_first", ((s, d) =>
      Tables.customer(s, d)
        .withColumn("seg_rank", nullif(col("c_nationkey") % 7, lit(3L)))
        .select(col("c_custkey"), col("seg_rank"))
        .orderBy(col("seg_rank").asc_nulls_first, col("c_custkey").asc)
        .limit(300)),
        """SELECT c_custkey, NULLIF(c_nationkey % 7, 3) AS seg_rank
          |FROM customer
          |ORDER BY seg_rank ASC NULLS FIRST, c_custkey ASC LIMIT 300""".stripMargin),
    // schema-evolution union: two projections with DIFFERENT columns
    // combined BY NAME, absent columns null-filled — the multi-vintage
    // read every long-lived dataset needs (yesterday's files lack the new
    // column). unionByName(allowMissingColumns) ≡ the oracle's explicit
    // NULL-padded UNION ALL
    QuerySpec("set_union_by_name", ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val b = Tables.orders(s, d).filter(col("o_orderkey") % 100 === 50)
        .select(col("o_orderkey"), col("o_orderpriority"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    }),
        """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
          |FROM orders WHERE o_orderkey % 100 = 0
          |UNION ALL
          |SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
          |FROM orders WHERE o_orderkey % 100 = 50
          |ORDER BY o_orderkey""".stripMargin),
    QuerySpec("anti_customers_without_orders", ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey"),
    QuerySpec("date_orders_by_month", ((s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("month"))),
        s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n,
           |  ${dsumSql("o_totalprice")} AS sum_price
           |FROM orders GROUP BY month ORDER BY month""".stripMargin),
    QuerySpec("json_events_by_type", ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast(LongType)).as("k_sum"),
          dsum(col("value"), 3).as("v_sum"))
        .orderBy(col("event_type"))),
        s"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           |  ${dsumSql("value", 3)} AS v_sum
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // MapType path: JSON object -> map -> explode to (key, value) rows
    QuerySpec("json_kv_explode", ((s, d) =>
      Tables.events(s, d)
        .select(explode(from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))).as(Seq("key", "value")))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v_sum"))
        .orderBy(col("key"))),
        """SELECT key, COUNT(*) AS n,
          |  CAST(SUM(CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS BIGINT) AS v_sum
          |FROM (SELECT unnest(json_keys(props)) AS key, props FROM events)
          |GROUP BY key ORDER BY key""".stripMargin),
    // TPC-H Q3 shape: selective filters on all three tables reach the scans
    // (PushedFilters), the small filtered customer side broadcasts, and the
    // final top-10 plans as TakeOrderedAndProject (no full sort).
    QuerySpec("join_q3_shipping", ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"))
        .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)),
        s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, $revenue AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE l_shipdate > TIMESTAMP '1998-01-01'
           |  AND o_orderdate < TIMESTAMP '1998-01-01'
           |  AND c_mktsegment = 'BUILDING'
           |GROUP BY l_orderkey, orderdate
           |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    // 3-way star join over the two previously-unused dims (part, supplier)
    QuerySpec("join_parts_by_brand", ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_brand"))
        .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n"),
          countDistinct(col("s_nationkey")).as("n_supp_nations"))
        .orderBy(col("p_brand"))),
        s"""SELECT p_brand, $revenue AS revenue, COUNT(*) AS n,
           |  COUNT(DISTINCT s_nationkey) AS n_supp_nations
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // salted shuffle join (skew pattern): bit-exact equal to the plain
    // join — the oracle IS the plain form
    QuerySpec("join_salted_events_customers", ((s, d) =>
      SaltedJoin.join(Tables.events(s, d), Tables.customer(s, d),
          "user_id", "c_custkey", salt = col("event_id"), saltBuckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 3).as("v_sum"))
        .orderBy(col("c_mktsegment"))),
        s"""SELECT c_mktsegment, COUNT(*) AS n, ${dsumSql("value", 3)} AS v_sum
           |FROM events JOIN customer ON user_id = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // left outer join: every customer appears, orderless customers with
    // zero counts (coalesce makes the aggregate null-free in both engines)
    QuerySpec("join_left_outer_customer_orders", ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_price"))
        .orderBy(col("c_custkey"))),
        s"""SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
           |  COALESCE(${dsumSql("o_totalprice")}, ${DuckSql.fmt(0.0)}) AS sum_price
           |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
           |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin),
    // full outer join over two aggregated event slices: keys exclusive to
    // either side survive with nulls coalesced to sentinels
    QuerySpec("join_full_outer_daily_types", ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_c"))
        .agg(count(lit(1)).as("n_clicks"))
      val purchases = ev.filter(col("event_type") === "purchase" && col("value") > 50.0)
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_p"))
        .agg(count(lit(1)).as("n_purchases"))
      clicks.join(purchases, col("day_c") === col("day_p"), "full_outer")
        .select(
          coalesce(col("day_c"), col("day_p")).as("day_epoch"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy(col("day_epoch"))
    }),
        s"""SELECT COALESCE(day_c, day_p) AS day_epoch,
           |  COALESCE(n_clicks, 0) AS n_clicks,
           |  COALESCE(n_purchases, 0) AS n_purchases
           |FROM (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_c, COUNT(*) AS n_clicks
           |      FROM events WHERE event_type = 'click' GROUP BY day_c) c
           |FULL OUTER JOIN (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_p, COUNT(*) AS n_purchases
           |      FROM events WHERE event_type = 'purchase' AND value > ${DuckSql.fmt(50.0)} GROUP BY day_p) p
           |  ON day_c = day_p
           |ORDER BY day_epoch""".stripMargin),
    // --- round-3: subquery shapes (scalar, correlated, EXISTS)
    // uncorrelated scalar subquery: orders above the global mean price.
    // Exact threshold algebra: price > sum/n ⇔ price·n > sum, kept in
    // decimal so no double-division drift between engines. The single-row
    // aggregate broadcasts (scalar subqueries plan the same way).
    QuerySpec("subquery_above_avg_orders", ((s, d) => {
      val o = Tables.orders(s, d)
      val tot = o.agg(
        sum(col("o_totalprice").cast(DecimalType(12, 2))).as("tot_sum"),
        count(lit(1)).as("tot_n"))
      o.crossJoin(broadcast(tot))
        .filter(col("o_totalprice").cast(DecimalType(12, 2)) * col("tot_n") > col("tot_sum"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_above"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),
        s"""SELECT o_orderpriority, COUNT(*) AS n_above, ${dsumSql("o_totalprice")} AS sum_price
           |FROM orders,
           |  (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS tot_sum, COUNT(*) AS tot_n FROM orders) t
           |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * tot_n > tot_sum
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // correlated scalar subquery (TPC-H Q2 shape): each customer's
    // max-price order(s), decorrelated into a grouped self-join — the
    // rewrite Catalyst itself applies to the SQL form
    QuerySpec("subquery_max_order_per_customer", ((s, d) => {
      val o = Tables.orders(s, d)
      val mx = o.groupBy(col("o_custkey").as("mk"))
        .agg(max(col("o_totalprice")).as("max_price"))
      o.join(mx, col("o_custkey") === col("mk") && col("o_totalprice") === col("max_price"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),
        """SELECT o_custkey, o_orderkey, o_totalprice FROM orders o1
          |WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)
          |ORDER BY o_custkey, o_orderkey""".stripMargin),
    // EXISTS subquery = left-semi join (the filter pushes into the
    // orders scan before the join)
    QuerySpec("subquery_exists_big_order", ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),
        s"""SELECT c_custkey, c_name FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > ${DuckSql.fmt(300000.0)})
           |ORDER BY c_custkey""".stripMargin),
    // bloom-prefiltered join ≡ plain join (false positives only cost
    // bytes; the oracle IS the plain form) — the explicit runtime-filter
    // operator for when Spark's InjectRuntimeFilter lacks stats
    QuerySpec("join_bloom_prefilter", ((s, d) =>
      graft.operators.Bloom.prefilterJoin(
        Tables.orders(s, d),
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"),
        "o_custkey", "c_custkey", numBits = 1 << 16)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))),
        s"""SELECT o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // malformed-record accounting on JSON ingest: rows with event_id
    // % 17 = 0 get a deterministically corrupted payload; the audit
    // counts parse failures and aggregates the surviving field per type —
    // the ingest-quality report a raw-crawl JSON reader ships. One
    // codegen pass, no shuffle beyond the |types| aggregation
    QuerySpec("json_corrupt_audit", ((s, d) => {
      val raw = when(col("event_id") % 17 === 0,
        concat(lit("{"), col("props"))).otherwise(col("props"))
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(raw, "$.k").cast(LongType).as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_corrupt"),
          sum(coalesce(col("k"), lit(0L))).as("k_sum"))
        .orderBy(col("event_type"))
    }),
        s"""SELECT event_type, COUNT(*) AS n_events,
           |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           |  CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS k_sum
           |FROM (
           |  SELECT event_type,
           |    CASE WHEN json_valid(raw)
           |      THEN CAST(json_extract_string(raw, '$$.k') AS BIGINT) END AS k
           |  FROM (
           |    SELECT event_type,
           |      CASE WHEN event_id % 17 = 0 THEN '{' || props ELSE props END AS raw
           |    FROM events)
           |) GROUP BY event_type ORDER BY event_type""".stripMargin),
    // NOT IN subquery → Spark's null-aware anti join (single-column NAAJ
    // compiles to a broadcast hash join, not a nested loop)
    QuerySpec("subquery_not_in_region", ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""SELECT s_suppkey, s_name, s_nationkey FROM supplier_v
              |WHERE s_nationkey NOT IN
              |  (SELECT n_nationkey FROM nation_v WHERE n_regionkey IN (0, 1))
              |ORDER BY s_suppkey""".stripMargin)
    }),
        """SELECT s_suppkey, s_name, s_nationkey FROM supplier
          |WHERE s_nationkey NOT IN
          |  (SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))
          |ORDER BY s_suppkey""".stripMargin),
    // aggregate-below-join (manual aggregate pushdown): collapse lineitem
    // to per-order partials BEFORE the orders join, so the join input
    // shrinks from |lineitem| to |orders| rows — at 100 TB this is the
    // difference between shuffling the fact table and shuffling its
    // rollup. Must equal the join-then-aggregate form (the oracle)
    QuerySpec("join_preagg_revenue", ((s, d) => {
      val perOrder = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1.0).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .as("order_rev"), count(lit(1)).as("n_lines"))
      Tables.orders(s, d)
        .join(perOrder, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("order_rev")).cast("double").as("revenue"),
          sum(col("n_lines")).as("n_lines"))
        .orderBy(col("o_orderpriority"))
    }),
        s"""SELECT o.o_orderpriority,
           |  ${drevenueSql("l.l_extendedprice", "l.l_discount")} AS revenue,
           |  COUNT(*) AS n_lines
           |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),
    // TPC-H Q19 shape: disjunctive mixed-side predicate — Catalyst
    // extracts the part-only OR branches and pushes them into the part
    // scan (CNF conversion), so the broadcast build side is pre-filtered
    QuerySpec("join_disjunctive_pricing", ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = broadcast(Tables.part(s, d))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
        .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))
    }),
        s"""SELECT ${drevenueSql("l_extendedprice", "l_discount")} AS revenue, COUNT(*) AS n
           |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           |WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
           |   OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
           |   OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)""".stripMargin),
    // TPC-H Q7 shape: the fact table resolves BOTH ends of a relationship
    // through different dimension paths (supplier nation vs customer
    // nation) — two broadcast nation joins, group by the pair
    QuerySpec("join_nation_volume", ((s, d) => {
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter(col("supp_nation").isin("NATION_1", "NATION_2") &&
          col("cust_nation").isin("NATION_1", "NATION_2") &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("o_year"))
    }),
        s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           |  ${drevenueSql("l.l_extendedprice", "l.l_discount")} AS revenue
           |FROM lineitem l
           |JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |JOIN orders o ON l.l_orderkey = o.o_orderkey
           |JOIN customer c ON o.o_custkey = c.c_custkey
           |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
           |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
           |WHERE n1.n_name IN ('NATION_1','NATION_2') AND n2.n_name IN ('NATION_1','NATION_2')
           |  AND n1.n_name <> n2.n_name
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // Q4-shape priority report: orders in a window with at least one LATE
    // line (shipped > 75 days after order) counted by priority — the
    // EXISTS-decorrelated-to-LEFT-SEMI composition UNDER an aggregation.
    // Equi orderkey carries the hash semi join; the lateness predicate is
    // the residual condition evaluated inside it (no cross product, no
    // second scan — the semi join emits each qualifying order once)
    QuerySpec("join_q4_late_orders", ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate").between(
          lit("1995-01-01").cast("timestamp"), lit("1995-06-30").cast("timestamp")))
      o.join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 75 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy(col("o_orderpriority"))
    }),
        """SELECT o_orderpriority, COUNT(*) AS n_late_orders
          |FROM orders o
          |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-06-30'
          |  AND EXISTS (SELECT 1 FROM lineitem l
          |    WHERE l.l_orderkey = o.o_orderkey
          |      AND l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // binned range join: the same price-band semantics as
    // range_join_price_bands (same oracle), but planned as an EQUI join —
    // intervals replicate to the integer bins they overlap and the join
    // hash-shuffles on the bin, the plan that survives when the interval
    // side outgrows broadcast-nested-loop (pinned in BinnedRangeJoinSpec)
    QuerySpec("range_join_binned", ((s, d) => {
      import s.implicits._
      val bands = Seq(
        ("b0_lt50k", 0.0, 50000.0), ("b1_50k_100k", 50000.0, 100000.0),
        ("b2_100k_200k", 100000.0, 200000.0), ("b3_ge200k", 200000.0, 1e18))
        .toDF("band", "lo", "hi")
      graft.operators.BinnedRangeJoin.join(
          Tables.orders(s, d), col("o_totalprice"), bands,
          "lo", "hi", binWidth = 50000.0, hiClamp = 1e6)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("band"))
    }),
      rangeJoinBandsSql),
    // skyline (Pareto frontier): orders no other order beats on BOTH
    // price (lower) and recency (later) — the preference-query operator;
    // banded scale form (per-band maxima broadcast prefilter + exact
    // window on the survivors), ≡ the brute NOT EXISTS oracle
    QuerySpec("skyline_orders", ((s, d) =>
      graft.operators.Skyline.pareto2dBanded(
          Tables.orders(s, d).filter(col("o_custkey") % 10 === 0)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
              round(col("o_totalprice") * 100).cast(LongType).as("xc"),
              col("o_orderdate").cast("timestamp").cast(LongType).as("ye")),
          col("xc"), col("ye"), bandWidth = 1000000L)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))),
        """WITH o AS (
          |  SELECT o_orderkey, o_totalprice, o_orderdate,
          |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xc,
          |    CAST(epoch(o_orderdate) AS BIGINT) AS ye
          |  FROM orders WHERE o_custkey % 10 = 0)
          |SELECT o_orderkey, o_totalprice, o_orderdate FROM o r
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM o s
          |  WHERE s.xc <= r.xc AND s.ye >= r.ye AND (s.xc < r.xc OR s.ye > r.ye))
          |ORDER BY o_orderkey""".stripMargin),
    // bucket-co-located join: both sides written bucketed on the join key,
    // then joined reading the buckets — at 100 TB the fact/fact join runs
    // with ZERO shuffle (plan pinned in BucketedJoinSpec; result oracle =
    // the plain join). The layout is produced by `prepareFixtures` (which
    // Verify/Bench call once up front), so this builder only READS; the
    // guard below self-prepares only when a standalone caller skipped the
    // prep — keeping the builder side-effect-free on every normal path.
    QuerySpec("join_bucketed_colocated", ((s, d) => {
      if (!s.catalog.tableExists("graft_orders_bk") ||
          !s.catalog.tableExists("graft_customer_bk"))
        prepareFixtures(s, d)
      s.table("graft_orders_bk")
        .join(s.table("graft_customer_bk"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    }),
        s"""SELECT c_mktsegment, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // null-safe equality join (<=>): NULL keys MATCH each other instead
    // of dropping — the semantic SQL's plain = cannot express (and a
    // dimension with "unknown" buckets needs). Nations in region 2 get a
    // NULL-ified key on both sides and still pair up
    QuerySpec("join_null_safe_eq", ((s, d) =>
      Tables.nation(s, d)
        .withColumn("nk", nullif(col("n_regionkey"), lit(2L)))
        .join(Tables.region(s, d)
            .withColumn("rk", nullif(col("r_regionkey"), lit(2L))),
          col("nk") <=> col("rk"))
        .select(col("n_name"), col("r_name"))
        .orderBy(col("n_name"), col("r_name"))),
        """SELECT n_name, r_name
          |FROM (SELECT n_name, NULLIF(n_regionkey, 2) AS nk FROM nation)
          |JOIN (SELECT r_name, NULLIF(r_regionkey, 2) AS rk FROM region)
          |  ON nk IS NOT DISTINCT FROM rk
          |ORDER BY n_name, r_name""".stripMargin),
    // LATERAL correlated derived table through the SQL FRONT DOOR: per
    // nation the top-2 customers by balance — the "top-n per group via
    // LATERAL" idiom Catalyst decorrelates into the same ranked-window
    // plan the DataFrame form builds. Proves the SQL surface handles
    // correlation + LIMIT, not just the Column API
    QuerySpec("sql_lateral_topk", ((s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("graft_nation_v")
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_v")
      s.sql("""SELECT n_name, c_name, c_acctbal
              |FROM graft_nation_v JOIN LATERAL (
              |  SELECT c_name, c_acctbal FROM graft_customer_v
              |  WHERE c_nationkey = n_nationkey
              |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2)
              |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)
    }),
        """SELECT n_name, c_name, c_acctbal
          |FROM nation JOIN LATERAL (
          |  SELECT c_name, c_acctbal FROM customer
          |  WHERE c_nationkey = n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) ON true
          |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)
  )
}
