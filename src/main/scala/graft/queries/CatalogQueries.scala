package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.meta.MetaQueries
import QuerySpec.{memoLayout, r2, r4, r6}

/** Catalog relations and orchestration: the reference controller's
  * relational shapes over the TPC-H-ish tables (filters, joins, windows,
  * grouping sets, pagination), activity planning, sync planning and the
  * event-stream analytics (sessions, funnels, SCD2, anomalies). */
object CatalogQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- §2.4 A1/A2-class aggregation (TPC-H Q1 shape) -------------------
    QuerySpec("q01_pricing_summary", (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(col("l_extendedprice"))).as("sum_base"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc"),
          r2(avg(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      Some("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc,
        |  round(avg(l_quantity),2) AS avg_qty,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    // ---- §2.2 P1 conjunctive dynamic filter (controller.py:86–110) -------
    QuerySpec("q02_conj_filter", (s, d) => {
      MetaQueries.conjunctiveFilter(Tables.lineitem(s, d), Seq(
        col("l_returnflag").isin("R"),
        col("l_quantity") >= 30,
        col("l_shipdate").between(lit("1996-01-01"), lit("1996-12-31"))))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_returnflag IN ('R') AND l_quantity >= 30
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    // ---- §2.3 J1 3-way join + top-k (controller.py:438–443 shape) --------
    // Filter-first: restrict orders by the selective customer-segment
    // semi-join, probe lineitem against that key set (AQE broadcasts it),
    // and only then aggregate — the aggregation input shrinks by the
    // segment selectivity (~5×). Measured 1.8× over aggregate-everything-
    // then-join at sf0.1; at cluster scale the semi-joined key set stops
    // broadcasting but the join+agg still shuffles a segment-filtered
    // subset instead of the whole fact table.
    QuerySpec("q03_top_revenue", (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val bo = o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = Tables.lineitem(s, d)
      l.join(bo, l("l_orderkey") === bo("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"),
          r2(col("rev")).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),
    // ---- §2.3 J6 semi-join EXISTS (controller.py:298–316) ----------------
    QuerySpec("q04_exists_semi", (s, d) => {
      val o = Tables.orders(s, d)
      val big = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
      Some("""SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // ---- §2.4 A1 count-by-status (controller.py:438–445) -----------------
    QuerySpec("q05_count_by_status", (s, d) =>
      MetaQueries.countBy(Tables.orders(s, d), Seq(col("o_orderstatus")))
        .orderBy(col("o_orderstatus")),
      Some("SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),
    // ---- §2.4 A2 count-by-(day,type) (controller.py:460–468) -------------
    QuerySpec("q06_count_by_day_type", (s, d) =>
      MetaQueries.countBy(Tables.events(s, d),
          Seq(col("ts").cast("date").as("day"), col("event_type")))
        .orderBy(col("day"), col("event_type")),
      Some("""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),
    // ---- §2.2 P3 anti-join not-yet-published (controller.py:298–337) -----
    QuerySpec("q07_anti_join", (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    // ---- §2.3 J5 / §2.6 O3 latest-per-group window (controller.py:479–495)
    QuerySpec("q08_latest_per_user", (s, d) =>
      MetaQueries.latestPerGroup(Tables.events(s, d),
          Seq(col("user_id")), col("ts"), Seq(col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id, event_type FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin)),
    // ---- §2.3 J5 latest-run-failed count (controller.py:479–495) ---------
    QuerySpec("q09_latest_failed_count", (s, d) =>
      MetaQueries.latestPerGroup(Tables.events(s, d),
          Seq(col("user_id")), col("ts"), Seq(col("event_id")))
        .filter(col("event_type") === "error")
        .agg(count(lit(1)).as("n_failed")),
      Some("""SELECT count(*) AS n_failed FROM (
        |  SELECT user_id, event_type FROM events
        |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
        |WHERE event_type = 'error'""".stripMargin)),
    // ---- §2.3 J3 / §2.4 A4 join + distinct (controller.py:683–690) -------
    QuerySpec("q10_distinct_join", (s, d) => {
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      sup.join(n, sup("s_nationkey") === n("n_nationkey"))
        .select(col("n_name")).distinct()
        .orderBy(col("n_name"))
    },
      Some("""SELECT DISTINCT n_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey ORDER BY n_name""".stripMargin)),
    // ---- §2.3 J4 / §2.6 O1 priority-ordered join (collect.py:108–120) ----
    QuerySpec("q11_priority_order", (s, d) => {
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name").startsWith("A"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    },
      Some("""SELECT n_nationkey, n_name, r_name FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name LIKE 'A%' ORDER BY n_nationkey""".stripMargin)),
    // ---- §2.1 S14 / §2.6 O4 pagination (views.py:37–49) ------------------
    QuerySpec("q12_pagination", (s, d) =>
      MetaQueries.paginate(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), r2(col("o_totalprice")).as("total")),
        Seq(col("o_orderkey")), page = 3, perPage = 10),
      Some("""SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS total
        |FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 20""".stripMargin)),
    // ---- §2.2 P5 interval-overlap (controller.py:571–575) ----------------
    QuerySpec("q13_interval_overlap", (s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("o_end", col("o_orderdate") + expr("interval 30 days"))
      o.filter(MetaQueries.intervalOverlap(col("o_orderdate"), col("o_end"),
          lit("1997-06-01").cast("timestamp"), lit("1997-07-15").cast("timestamp")))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
        .orderBy(col("o_orderkey"))
    },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date FROM orders
        |WHERE o_orderdate <= TIMESTAMP '1997-07-15'
        |  AND o_orderdate + INTERVAL 30 DAY >= TIMESTAMP '1997-06-01'
        |ORDER BY o_orderkey""".stripMargin)),
    // ---- §2.2 P4 bbox-overlap prefilter (controller.py:563–570) ----------
    QuerySpec("q14_bbox_filter", (s, d) => {
      val p = Tables.part(s, d)
      p.filter(MetaQueries.bboxOverlap(
          xmin = col("p_size"), ymin = col("p_retailprice"),
          xmax = col("p_size") + 3, ymax = col("p_retailprice") + 100,
          qxmin = 10, qymin = 1000, qxmax = 20, qymax = 1500))
        .select(col("p_partkey"), col("p_size"), r2(col("p_retailprice")).as("price"))
        .orderBy(col("p_partkey"))
    },
      Some("""SELECT p_partkey, p_size, round(p_retailprice,2) AS price FROM part
        |WHERE NOT (p_size + 3 < 10 OR p_size > 20
        |        OR p_retailprice + 100 < 1000 OR p_retailprice > 1500)
        |ORDER BY p_partkey""".stripMargin)),
    // ---- §2.7 SET2 union+distinct (controller.py:595–602) ----------------
    QuerySpec("q15_union_distinct", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy(col("nationkey")),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin)),
    // ---- §2.7 SET3 except (controller.py:607–616) ------------------------
    QuerySpec("q16_except", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin)),
    // ---- §2.4 A7 count-distinct per group (controller.py:604–618) --------
    QuerySpec("q17_count_distinct", (s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // ---- §2.4 A5 max-per-group (controller.py:481–486) -------------------
    QuerySpec("q18_max_per_group", (s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).cast("date").as("last_ship"), count(lit(1)).as("n_lines"))
        .orderBy(col("l_orderkey")),
      Some("""SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS last_ship, count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),
    // ---- §2.4 A6 scalar count (controller.py:494) ------------------------
    QuerySpec("q19_scalar_count", (s, d) =>
      Tables.lineitem(s, d).filter(col("l_discount") > 0.05)
        .agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05")),
    // ---- top-k aggregation over join (pre-agg before join, see q03) ------
    QuerySpec("q20_top_customers", (s, d) => {
      val c = Tables.customer(s, d)
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("tot"))
      c.join(perCust, c("c_custkey") === perCust("o_custkey"))
        .select(col("c_custkey"), col("c_name"), r2(col("tot")).as("total"))
        .orderBy(col("total").desc, col("c_custkey"))
        .limit(10)
    },
      Some("""SELECT c_custkey, c_name, round(sum(o_totalprice),2) AS total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY total DESC, c_custkey LIMIT 10""".stripMargin)),
    // ---- §2.9 JSON extraction (tasks.py:86–89 args JSON) -----------------
    QuerySpec("q30_json_extract", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin)),
    // ---- §2.11 ST9 calendar-month periods (controller.py:45–68) ----------
    QuerySpec("q31_monthly_counts", (s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("month")),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),
    // ---- §2.9 string parsing (tasks.py:283–289, publish.py:411) ----------
    QuerySpec("q32_string_parse", (s, d) =>
      Tables.part(s, d).select(col("p_partkey"),
          element_at(split(col("p_type"), " "), 1).as("type_head"),
          regexp_replace(col("p_brand"), "#", "_").as("brand"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, regexp_split_to_array(p_type, ' ')[1] AS type_head,
        |  regexp_replace(p_brand, '#', '_', 'g') AS brand
        |FROM part ORDER BY p_partkey""".stripMargin)),
    // ---- window running sum (O3 family) ----------------------------------
    QuerySpec("q33_running_sum", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), r2(sum(col("value")).over(w)).as("run"))
        .orderBy(col("user_id"), col("event_id"))
    },
      Some("""SELECT user_id, event_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING), 2) AS run
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    // ---- §3.3 check-scenes composite: periods × interval overlap ---------
    // Calendar-bucketed form of the range join (SURVEY §4's time-bucketing
    // trick): an interval overlaps month m iff trunc(start) ≤ m ≤
    // trunc(end), so each order explodes into the months it touches
    // (~2/order) and the non-equi nested-loop join disappears — 1.8× at
    // sf0.1, and O(rows·months-touched) instead of O(rows·periods) at any
    // scale. The broadcast interval-overlap JOIN form stays in
    // CheckScenes.report, where periods aren't calendar-aligned buckets.
    QuerySpec("q41_reconcile_periods", (s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("o_end", col("o_orderdate") + expr("interval 30 days"))
      o.select(explode(sequence(
          date_trunc("month", col("o_orderdate")),
          date_trunc("month", col("o_end")),
          expr("interval 1 month"))).as("month_ts"))
        .filter(col("month_ts").between(
          lit("1997-01-01").cast("timestamp"), lit("1997-12-01").cast("timestamp")))
        .groupBy(col("month_ts").cast("date").as("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("month"))
    },
      Some("""WITH p AS (SELECT unnest(generate_series(TIMESTAMP '1997-01-01',
        |    TIMESTAMP '1997-12-01', INTERVAL 1 MONTH)) AS period_start)
        |SELECT CAST(period_start AS DATE) AS month, count(*) AS n
        |FROM p JOIN orders
        |  ON o_orderdate <= period_start + INTERVAL 1 MONTH - INTERVAL 1 SECOND
        | AND o_orderdate + INTERVAL 30 DAY >= period_start
        |GROUP BY 1 ORDER BY month""".stripMargin)),
    // ---- §2.9 JSON bucket aggregation ------------------------------------
    QuerySpec("q46_json_buckets", (s, d) =>
      Tables.events(s, d)
        .select((floor(get_json_object(col("props"), "$.k").cast("int") / 10)).cast("int").as("k_bucket"),
          col("value"))
        .groupBy(col("k_bucket"))
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))
        .orderBy(col("k_bucket")),
      Some("""SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER) AS k_bucket,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin)),
    // ---- sessionization via lag/cumsum (gap = 10 minutes) ----------------
    // NTZ parity note: the oracle's epoch_us(ts) reads the naive value as-is;
    // Tables normalizes NTZ→LTZ under session-UTC, so unix_micros here is
    // bit-identical — asserted by TsFlavorSpec and hash-matched vs DuckDB
    // at sf0.01 (round 9), not assumed.
    QuerySpec("q48_sessionization", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val newSession = when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser) > 600000000L, 1)
        .otherwise(0)
      Tables.events(s, d)
        .withColumn("new_s", newSession)
        .withColumn("session_id", sum(col("new_s")).over(byUser).cast("int"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
      Some("""WITH g AS (SELECT user_id, event_id, value, ts,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, value,
        |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),
    // ---- correlated-aggregate shape (TPC-H Q17): below-avg-quantity ------
    QuerySpec("q49_small_qty_revenue", (s, d) => {
      val l = Tables.lineitem(s, d)
      val avgQty = l.groupBy(col("l_partkey").as("p_key"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg"))
      l.join(avgQty, l("l_partkey") === avgQty("p_key"))
        .filter(col("l_quantity") < col("half_avg"))
        .agg(r2(sum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    },
      Some("""SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l
        |JOIN (SELECT l_partkey AS p_key, avg(l_quantity) * 0.5 AS half_avg
        |      FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.p_key
        |WHERE l.l_quantity < a.half_avg""".stripMargin)),
    // ---- max-over-aggregate shape (TPC-H Q15): top supplier by revenue ---
    QuerySpec("q50_top_supplier", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(lit("1996-01-01"), lit("1996-03-31")))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_rev"))
      val maxRev = rev.agg(max(col("total_rev")).as("mx"))
      rev.join(broadcast(maxRev), rev("total_rev") === maxRev("mx"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), r2(col("total_rev")).as("total_rev"))
        .orderBy(col("s_suppkey"))
    },
      Some("""WITH rev AS (
        |  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, round(total_rev, 2) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    // ---- §2.7 set op: intersect (nations with both customers+suppliers) --
    QuerySpec("q57_intersect", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin)),
    // ---- window: top-N per group via dense_rank (O3 generalized) ---------
    QuerySpec("q64_top2_per_nation", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sup = Tables.supplier(s, d)
      val rev = Tables.lineitem(s, d).groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val w = Window.partitionBy(col("s_nationkey")).orderBy(col("rev").desc, col("s_suppkey"))
      sup.join(rev, sup("s_suppkey") === rev("l_suppkey"))
        .withColumn("rnk", dense_rank().over(w))
        .filter(col("rnk") <= 2)
        .select(col("s_nationkey"), col("rnk"), col("s_suppkey"), r2(col("rev")).as("rev"))
        .orderBy(col("s_nationkey"), col("rnk"), col("s_suppkey"))
    },
      Some("""WITH rev AS (
        |  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS r
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s_nationkey,
        |  dense_rank() OVER (PARTITION BY s_nationkey ORDER BY r DESC, s_suppkey) AS rnk,
        |  s_suppkey, round(r, 2) AS rev
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |QUALIFY rnk <= 2
        |ORDER BY s_nationkey, rnk, s_suppkey""".stripMargin)),
    // ---- conditional aggregation (CASE pivot over status) ----------------
    QuerySpec("q65_status_pivot", (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p"),
          r2(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(0.0))).as("f_total"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END), 2) AS f_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // ---- §2.6 O4 keyset pagination (deep-page scale path) ----------------
    QuerySpec("q56_keyset_page", (s, d) =>
      MetaQueries.paginateKeyset(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          r2(col("o_totalprice")).as("total")),
        col("o_orderkey"), lastSeen = 30L, perPage = 10),
      Some("""SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS total
        |FROM orders WHERE o_orderkey > 30 ORDER BY o_orderkey LIMIT 10""".stripMargin)),
    // ---- as-of join (union–window, no join node; see TemporalJoins) ------
    // For each purchase event: the user's most recent error event at or
    // before it. One shuffle on user_id; DuckDB ASOF JOIN is the oracle.
    QuerySpec("q67_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_type") === "purchase")
      val right = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("err_event_id"))
      graft.meta.TemporalJoins.asofJoin(left, right,
          Seq("user_id"), Seq("user_id"), "ts", "ts", Seq("err_event_id"))
        .select(col("event_id"), col("user_id"),
          // no-match → -1, not null: a nullable int column round-trips as
          // float NaN through the driver's pandas compare
          coalesce(col("err_event_id"), lit(-1L)).as("err_event_id"))
        .orderBy(col("event_id"))
    },
      Some("""WITH r AS (SELECT user_id, ts, max(event_id) AS err_event_id
        |           FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, coalesce(r.err_event_id, -1) AS err_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin)),
    // ---- as-of join, forward direction (next error after purchase) -------
    QuerySpec("q84_asof_forward", (s, d) => {
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_type") === "purchase")
      val right = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("next_err"))
      graft.meta.TemporalJoins.asofJoin(left, right,
          Seq("user_id"), Seq("user_id"), "ts", "ts", Seq("next_err"),
          direction = "forward")
        .select(col("event_id"), col("user_id"),
          coalesce(col("next_err"), lit(-1L)).as("next_err"))
        .orderBy(col("event_id"))
    },
      Some("""WITH r AS (SELECT user_id, ts, max(event_id) AS next_err
        |           FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, coalesce(r.next_err, -1) AS next_err
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin)),
    // ---- range join via time bucketing (no BNLJ; see TemporalJoins) ------
    // Low-priority orders placed within 2 days after an urgent order,
    // counted per month — the interval join the naive `between` condition
    // would plan as a broadcast nested loop.
    QuerySpec("q68_range_join", (s, d) => {
      val o = Tables.orders(s, d)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("u_key"), col("o_orderdate").as("u_start"),
          (col("o_orderdate") + expr("interval 2 days")).as("u_end"))
      val low = o.filter(col("o_orderpriority") === "5-LOW")
        .select(col("o_orderkey").as("l_key"), col("o_orderdate").as("l_ts"))
      graft.meta.TemporalJoins.rangeJoinBuckets(low, urgent,
          "l_ts", "u_start", "u_end", bucketSeconds = 2L * 86400)
        .groupBy(date_trunc("month", col("l_ts")).cast("date").as("month"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("month"))
    },
      Some("""SELECT CAST(date_trunc('month', l.o_orderdate) AS DATE) AS month,
        |  count(*) AS n_pairs
        |FROM (SELECT * FROM orders WHERE o_orderpriority = '5-LOW') l
        |JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') u
        |  ON l.o_orderdate BETWEEN u.o_orderdate AND u.o_orderdate + INTERVAL 2 DAY
        |GROUP BY 1 ORDER BY month""".stripMargin)),
    // ---- rollup (subtotal hierarchy over status × priority) --------------
    QuerySpec("q69_rollup", (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    // ---- skew-safe salted aggregation (ScaleOps) — oracle = plain GROUP BY
    QuerySpec("q70_salted_agg", (s, d) =>
      graft.meta.ScaleOps.saltedSumCount(Tables.lineitem(s, d),
          col("l_returnflag"), col("l_quantity"))
        .select(col("k"), r2(col("sum_v")).as("sum_v"), col("n"))
        .orderBy(col("k")),
      Some("""SELECT l_returnflag AS k, round(sum(l_quantity), 2) AS sum_v, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY k""".stripMargin)),
    // ---- window: ntile quartiles per nation ------------------------------
    QuerySpec("q71_ntile", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), ntile(4).over(w).as("quartile"))
        .orderBy(col("c_custkey"))
    },
      Some("""SELECT c_custkey, ntile(4) OVER
        |  (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // ---- window: lead (time-to-next-event per user) ----------------------
    QuerySpec("q72_lead_gap", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"),
          coalesce(unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")),
            lit(-1L)).as("gap_us"))
        .orderBy(col("event_id"))
    },
      Some("""SELECT event_id,
        |  coalesce(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |    - epoch_us(ts), -1) AS gap_us
        |FROM events ORDER BY event_id""".stripMargin)),
    // ---- grouping sets with grouping() indicators ------------------------
    QuerySpec("q82_grouping_sets", (s, d) => {
      val o = Tables.orders(s, d)
      o.groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).as("g_status"),
          grouping(col("o_orderpriority")).as("g_prio"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
      Some("""SELECT o_orderstatus, o_orderpriority,
        |  grouping(o_orderstatus) AS g_status,
        |  grouping(o_orderpriority) AS g_prio, count(*) AS n
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    // ---- ordered array aggregation (top-3 totals per priority) -----------
    // The array is serialized to a comma-joined string of DECIMAL(18,2)
    // renderings: the driver's pandas hash-compare cannot hash an
    // array-typed column, and decimal-cast strings render identically in
    // Spark and DuckDB (no thousands separators, fixed 2 decimals).
    QuerySpec("q83_top3_array", (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(concat_ws(",",
          transform(
            slice(sort_array(collect_list(r2(col("o_totalprice"))), asc = false),
              1, 3),
            x => x.cast("decimal(18,2)").cast("string"))).as("top3"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
        |  array_to_string(list_transform(
        |    (list_sort(list(round(o_totalprice, 2)), 'DESC'))[1:3],
        |    x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS top3
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // ---- statistical aggregates (corr / covar / stddev / linear fit) -----
    QuerySpec("q77_stats", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          r4(covar_samp(col("l_quantity"), col("l_discount"))).as("cov_qd"),
          r4(stddev_samp(col("l_quantity"))).as("sd_q"),
          r4(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
          r4(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("icept"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 4) AS cov_qd,
        |  round(stddev_samp(l_quantity), 4) AS sd_q,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // ---- §2.11 ST2/ST4 activity planning (fan-out × task tree) -----------
    QuerySpec("q40_plan_activities", (s, d) => {
      import graft.pipeline.Pipeline
      implicit val sp: SparkSession = s
      val scenes = Tables.supplier(s, d).select(col("s_name"))
      val tree = Pipeline.TaskNode("download",
        Seq(Pipeline.TaskNode("correction"), Pipeline.TaskNode("publish")))
      val (acts, _) = Pipeline.planActivities(scenes, "s_name", 1, tree)
      acts.groupBy(col("activity_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("activity_type"))
    },
      Some("""SELECT t.activity_type, (SELECT count(DISTINCT s_name) FROM supplier) AS n
        |FROM (VALUES ('download'), ('correction'), ('publish')) AS t(activity_type)
        |ORDER BY t.activity_type""".stripMargin)),
    // ---- cube (all 4 grouping combinations of status × priority) ---------
    QuerySpec("q94_cube", (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    // ---- z-order clustering: the 2-D range query runs against a
    // Morton-clustered rewrite of the events table (quantile buckets →
    // interleaved bits → range partition), so both pushed predicates skip
    // row groups; results are layout-invariant, which is exactly what the
    // raw-table oracle checks. The ≥75% row-group pruning itself is
    // asserted in ScaleOpsSpec ------------------------------------------
    QuerySpec("q98_zorder_skip", (s, d) => {
      // the clustered rewrite is a one-time layout job (memoized per table
      // dir); the timed query is the pruned READ, which is what every
      // later query against the layout pays
      val dir = memoLayout("q98_zorder", d) { tmp =>
        graft.meta.ScaleOps.zorderWrite(
          Tables.events(s, d), Seq("user_id", "ts"), tmp, numFiles = 16)
      }
      s.read.parquet(dir)
        .filter(col("user_id").between(40, 49) &&
          col("ts").between(
            lit("2024-01-10 00:00:00").cast("timestamp"),
            lit("2024-01-13 00:00:00").cast("timestamp")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("sum_value"))
        .orderBy(col("user_id"))
    },
      Some("""SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 40 AND 49
        |  AND ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |            AND TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY 1 ORDER BY user_id""".stripMargin)),
    // ---- unpivot (wide → long): measures melt into (measure, value) rows
    // scan-side, then one aggregation — the relational melt the reference
    // does row-by-row in Python dashboards -------------------------------
    QuerySpec("q126_unpivot", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"),
          r4(avg(col("value"))).as("mean"))
        .orderBy(col("measure")),
      Some("""WITH m AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
        |SELECT measure, count(*) AS n, round(sum(value), 2) AS total,
        |  round(avg(value), 4) AS mean
        |FROM m GROUP BY measure ORDER BY measure""".stripMargin)),
    // ---- data-quality audit: one scan-shaped aggregate per check,
    // referential integrity as a key-only anti-join ----------------------
    QuerySpec("q124_dq_report", (s, d) => {
      val Q = graft.meta.DataQuality
      val orders = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      Q.report(Seq(
        "orders_pk_unique" -> Q.uniqueViolations(orders, Seq("o_orderkey")),
        "orders_custkey_notnull" -> Q.notNullViolations(orders, "o_custkey"),
        "lineitem_fk_orders" -> Q.refIntegrityViolations(li, "l_orderkey", orders, "o_orderkey"),
        "orders_fk_customer" -> Q.refIntegrityViolations(orders, "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        "discount_in_range" -> Q.rangeViolations(li, "l_discount", 0.0, 0.06),
        "status_accepted" -> Q.acceptedValuesViolations(orders, "o_orderstatus",
          Seq("F", "O"))))
        .orderBy(col("check"))
    },
      Some("""SELECT 'discount_in_range' AS "check",
        |  count(CASE WHEN l_discount < 0 OR l_discount > 0.06 THEN 1 END) AS n_violations
        |FROM lineitem
        |UNION ALL SELECT 'lineitem_fk_orders', count(*) FROM lineitem
        |  WHERE l_orderkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL SELECT 'orders_custkey_notnull',
        |  count(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders
        |UNION ALL SELECT 'orders_fk_customer', count(*) FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |UNION ALL SELECT 'orders_pk_unique',
        |  count(*) - count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'status_accepted',
        |  count(CASE WHEN o_orderstatus IS NOT NULL
        |             AND o_orderstatus NOT IN ('F', 'O') THEN 1 END) FROM orders
        |ORDER BY "check"""".stripMargin)),
    // ---- event-flow analytics: first-order Markov transition matrix —
    // one lead() window per user (the inherent per-user ordering), then a
    // types²-sized aggregation with row-stochastic probabilities --------
    QuerySpec("q120_transitions", (s, d) =>
      graft.functions.EventAnalytics.transitionMatrix(Tables.events(s, d))
        .orderBy(col("event_type"), col("next")),
      Some("""WITH s AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
        |  FROM events)
        |SELECT event_type, next, count(*) AS n,
        |  round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type), 4) AS p
        |FROM s WHERE next IS NOT NULL
        |GROUP BY event_type, next ORDER BY event_type, next""".stripMargin)),
    // ---- SCD2: change log → validity intervals (consecutive identical
    // states collapse); one exchange per key, both windows ride one sort -
    QuerySpec("q121_scd2", (s, d) =>
      graft.meta.TemporalDim.scd2FromLog(
          Tables.events(s, d), "user_id", "ts", "event_type", "event_id")
        .groupBy(col("state"))
        .agg(count(lit(1)).as("n_versions"),
          count(when(col("valid_to").isNull, 1)).as("n_current"))
        .orderBy(col("state")),
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |  WHERE prev IS NULL OR event_type <> prev),
        |d AS (SELECT event_type AS state,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM c)
        |SELECT state, count(*) AS n_versions,
        |  count(CASE WHEN valid_to IS NULL THEN 1 END) AS n_current
        |FROM d GROUP BY state ORDER BY state""".stripMargin)),
    // ---- SCD2 point-in-time read: snapshot of every user's state as of a
    // timestamp — scan-side interval predicate, no join ------------------
    QuerySpec("q122_time_travel", (s, d) => {
      val dim = graft.meta.TemporalDim.scd2FromLog(
        Tables.events(s, d), "user_id", "ts", "event_type", "event_id")
      graft.meta.TemporalDim.snapshotAt(dim, lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy(col("state")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("state"))
    },
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |  WHERE prev IS NULL OR event_type <> prev),
        |d AS (SELECT user_id, event_type AS state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM c)
        |SELECT state, count(*) AS n_users FROM d
        |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
        |GROUP BY state ORDER BY state""".stripMargin)),
    // ---- event-flow analytics: ordered funnel (earliest-chain greedy is
    // exact for existence) — events reduce to per-user aggregates first,
    // so the expensive exchange carries users, not events ----------------
    QuerySpec("q116_funnel", (s, d) =>
      graft.functions.EventAnalytics.funnelStages(
        Tables.events(s, d), Seq("view", "click", "purchase")),
      Some("""WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS n_users
        |UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        |UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
        |ORDER BY stage_idx""".stripMargin)),
    // ---- event-flow analytics: cohort retention (first-activity cohorts,
    // distinct active days per user — same user-sized exchange shape) ----
    QuerySpec("q117_retention", (s, d) =>
      graft.functions.EventAnalytics.cohortRetention(
          Tables.events(s, d), Seq(0, 1, 7, 14))
        .orderBy(col("cohort_day"), col("day_offset")),
      Some("""WITH c AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT c.cohort_day, datediff('day', c.cohort_day, a.day) AS day_offset,
        |  count(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |WHERE datediff('day', c.cohort_day, a.day) IN (0, 1, 7, 14)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)),
    // ---- Incremental aggregate maintenance (ScaleOps.aggState/merge) —
    // the O(delta) rollup: state built from the pre-cut slice, delta from
    // the post-cut slice, merged algebraically. Oracle aggregates the RAW
    // union, so the hash match proves merge(state, delta) ≡ full recompute
    QuerySpec("q114_incr_agg", (s, d) => {
      val S = graft.meta.ScaleOps
      val ev = Tables.events(s, d)
        .withColumn("day", col("ts").cast("date"))
      val cut = lit("2024-01-20").cast("date")
      val keys = Seq(col("event_type"), col("day"))
      val state = S.aggState(ev.filter(col("day") < cut), keys, col("value"))
      val delta = S.aggState(ev.filter(col("day") >= cut), keys, col("value"))
      S.mergeAggState(Seq(state, delta), Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n"),
          r2(col("sum_v")).as("sum_v"), col("min_v"), col("max_v"),
          r4(col("sum_v") / col("n")).as("avg_v"))
        .orderBy(col("event_type"), col("day"))
    },
      Some("""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  round(sum(value), 2) AS sum_v, min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value) / count(*), 4) AS avg_v
        |FROM events GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin)),
    // ---- windowed frequent items: the Misra-Gries summary in its exact
    // regime (k ≥ distinct event types), exploded back to rows — the
    // oracle checks it against plain per-window counts, proving the
    // bounded-state path loses nothing when state suffices; the sublinear
    // small-k guarantee is property-tested in SketchesSpec ---------------
    QuerySpec("q99_heavy_hitters", (s, d) => {
      graft.streaming.EventAggregates.windowedHeavyHitters(
          Tables.events(s, d), col("event_type"), k = 64, windowLen = "60 minutes")
        .select(col("window_start"), explode(col("top")).as("e"))
        .select(col("window_start"), col("e.k").as("event_type"), col("e.n").as("n"))
        .orderBy(col("window_start"), col("event_type"))
    },
      // Exactness proof for the hash match below: Misra-Gries with k counters
      // only ever decrements when a (k+1)-th DISTINCT key arrives while all k
      // counters are occupied; the events table has d = 5 distinct event_type
      // values (every SF — asserted in SketchesSpec "q99 exact-regime
      // precondition") and d ≤ k = 64 per window, so no decrement can fire and
      // the summary IS the per-window count map. A data change that pushes
      // d beyond 64 fails that spec before it can silently break this oracle.
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    // ---- mergeable quantile sketch (KLL compactor hierarchy) in its
    // exact regime (k ≥ group size — same contract as q99's Misra-Gries):
    // per-source length percentiles from ≤ k·H doubles of state per
    // partial, never a per-group sort.
    // ORACLE-PARITY CEILING: hash-parity vs DuckDB's exact quantile_disc
    // holds only while every group fits the k=65536 buffer (largest
    // source ≈ n_docs/3: sf ≤ ~3; documents sf0.01 = 500, sf1 = 50k —
    // both exact). Past that the sketch correctly approximates and the
    // gate would fail for SCALE reasons, not correctness — raise k or
    // switch the oracle to an error-band check before benching there.
    // q140 sketches the whole corpus as one group, so its ceiling is
    // n_docs ≤ 65536, i.e. sf ≤ ~1.3. --------------------------------
    QuerySpec("q128_quantile_sketch", (s, d) => {
      val kll = udaf(new graft.functions.Sketches.KllAggregator(
        65536, Array(0.25, 0.5, 0.75)))
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(kll(col("n_chars").cast("double")).as("qs"))
        .select(col("source"),
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75"))
        .orderBy(col("source"))
    },
      Some("""SELECT source,
        |  CAST(quantile_disc(n_chars, 0.25) AS DOUBLE) AS p25,
        |  CAST(quantile_disc(n_chars, 0.50) AS DOUBLE) AS p50,
        |  CAST(quantile_disc(n_chars, 0.75) AS DOUBLE) AS p75
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    // ---- event-volume anomalies: hourly buckets z-scored against each
    // type's own distribution — bucket counts cross the exchange, events
    // never do -----------------------------------------------------------
    QuerySpec("q134_event_anomaly", (s, d) =>
      graft.functions.EventAnalytics.volumeAnomalies(
          Tables.events(s, d), "event_type", "ts",
          bucket = "1 hour", threshold = 2.0)
        .select(col("event_type"), col("bucket_start"), col("n"),
          r4(col("z")).as("z"))
        .orderBy(col("event_type"), col("bucket_start")),
      Some("""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS bucket_start,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT *, avg(n) OVER (PARTITION BY event_type) AS mu,
        |    stddev_samp(n) OVER (PARTITION BY event_type) AS sigma FROM c)
        |SELECT event_type, bucket_start, n, round((n - mu) / sigma, 4) AS z
        |FROM s
        |WHERE sigma IS NOT NULL AND sigma > 0
        |  AND abs((n - mu) / sigma) >= 2.0
        |ORDER BY event_type, bucket_start""".stripMargin)),
    // ---- grouped feature correlation: Pearson r + covariance per group,
    // pure map-side-partial aggregates (codegen'd built-ins) -------------
    QuerySpec("q136_corr", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(r6(corr(col("l_quantity"), col("l_extendedprice"))).as("r"),
          r2(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("cov"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS r,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // ---- volume trend per event type: least-squares slope/fit of hourly
    // counts over time — one bucket aggregate, then regr_* over the
    // bounded bucket table ----------------------------------------------
    QuerySpec("q137_trend", (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600).as("h"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy(col("event_type"))
        .agg(r6(regr_slope(col("n"), col("h"))).as("slope"),
          r6(regr_r2(col("n"), col("h"))).as("r2"),
          count(lit(1)).as("n_buckets"))
        .orderBy(col("event_type"))
    },
      Some("""WITH hourly AS (SELECT event_type,
        |    epoch(date_trunc('hour', ts)) / 3600 AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  round(regr_slope(n, h), 6) AS slope,
        |  round(regr_r2(n, h), 6) AS r2,
        |  count(*) AS n_buckets
        |FROM hourly GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ---- quantile transform: decile boundaries from ONE KLL sketch pass
    // (exact regime), broadcast back as literals, assignment scan-side —
    // the calibration pattern for percentile-normalized scores at scale
    // (a global percent_rank would be a single-partition sort) ----------
    QuerySpec("q140_quantile_transform", (s, d) => {
      val docs = Tables.documents(s, d)
      val qs = (1 to 9).map(_ / 10.0).toArray
      val kll = udaf(new graft.functions.Sketches.KllAggregator(65536, qs))
      // driver-side collect bounded: ONE row of 9 boundary doubles
      val bounds = docs.agg(kll(col("n_chars").cast("double")).as("b"))
        .head().getSeq[Double](0)
      val decile = size(filter(
        lit(bounds.toArray), b => b <= col("n_chars"))).cast("long")
      docs.select(col("doc_id"), col("n_chars"), decile.as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("mn"),
          max(col("n_chars")).as("mx"))
        .orderBy(col("decile"))
    },
      Some("""WITH b AS (SELECT quantile_disc(n_chars,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM documents),
        |a AS (SELECT doc_id, n_chars,
        |    len(list_filter((SELECT qs FROM b), q -> q <= n_chars)) AS decile
        |  FROM documents)
        |SELECT decile, count(*) AS n, min(n_chars) AS mn, max(n_chars) AS mx
        |FROM a GROUP BY decile ORDER BY decile""".stripMargin)),
    // ---- funnel latency: exact per-user first-view→first-purchase gap,
    // aggregated by first-view cohort day — events reduce to one row per
    // user before anything heavy (the q116/q117 exchange shape) ----------
    QuerySpec("q143_funnel_latency", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("fv"),
          min(when(col("event_type") === "purchase", col("ts"))).as("fp"))
        .filter(col("fv").isNotNull && col("fp").isNotNull && col("fp") >= col("fv"))
        .select(col("fv").cast("date").as("cohort_day"),
          ((unix_micros(col("fp")) - unix_micros(col("fv"))) / lit(1000000L)).as("lat_s"))
        .groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("n_users"),
          r2(avg(col("lat_s"))).as("avg_s"),
          max(col("lat_s")).as("max_s"))
        .orderBy(col("cohort_day")),
      Some("""WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |  FROM events GROUP BY user_id)
        |SELECT CAST(fv AS DATE) AS cohort_day, count(*) AS n_users,
        |  round(avg((epoch_us(fp) - epoch_us(fv)) / 1000000), 2) AS avg_s,
        |  max((epoch_us(fp) - epoch_us(fv)) / 1000000) AS max_s
        |FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
        |GROUP BY cohort_day ORDER BY cohort_day""".stripMargin)),
    // ---- EWMA spike detection over hourly event volume: the sequential
    // exponential smoother q134's batch z-score cannot express (state
    // depends on arrival order). Buckets collapse per type first (bounded:
    // hours × types), then ONE sequential fold per type via the aggregate
    // HOF — bit-identical to the oracle's recursive CTE because both run
    // the same IEEE ops in the same order (0.3·x + 0.7·e), no pow() -----
    QuerySpec("q145_ewma_anomaly", (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).cast("double").as("x"))
      val series = hourly.groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("bucket"), col("x")))),
          e => e.getField("x")).as("xs"))
      val xs = col("xs")
      val folded = aggregate(
        slice(xs, lit(2), greatest(size(xs) - 1, lit(0))),
        struct(element_at(xs, 1).as("e"), lit(0L).as("k")),
        (acc, x) => struct(
          (lit(0.3) * x + lit(0.7) * acc.getField("e")).as("e"),
          (acc.getField("k") +
            when(x > lit(2.0) * acc.getField("e"), 1L).otherwise(0L)).as("k")))
      series.select(col("event_type"), size(xs).cast("long").as("n_buckets"),
          r4(folded.getField("e")).as("ewma"),
          folded.getField("k").as("n_spikes"))
        .orderBy(col("event_type"))
    },
      Some("""WITH RECURSIVE hourly AS (SELECT event_type,
        |    date_trunc('hour', ts) AS bucket, CAST(count(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |ord AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY bucket) AS t FROM hourly),
        |rec AS (
        |  SELECT event_type, t, x AS e, CAST(0 AS BIGINT) AS k
        |  FROM ord WHERE t = 1
        |  UNION ALL
        |  SELECT o.event_type, o.t,
        |    CAST(0.3 AS DOUBLE) * o.x + CAST(0.7 AS DOUBLE) * r.e,
        |    r.k + CASE WHEN o.x > CAST(2.0 AS DOUBLE) * r.e THEN 1 ELSE 0 END
        |  FROM rec r JOIN ord o
        |    ON o.event_type = r.event_type AND o.t = r.t + 1)
        |SELECT event_type, t AS n_buckets, round(e, 4) AS ewma, k AS n_spikes
        |FROM rec
        |QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY t DESC) = 1
        |ORDER BY event_type""".stripMargin)),
    // ---- S11 sync planning (DataSynchronizer check/copy/remove,
    // sync.py:44–164): both listings join once on the path; the plan is
    // relational, the byte moves are driven from it -----------------------
    QuerySpec("q146_sync_plan", (s, d) => {
      val docs = Tables.documents(s, d)
      val src = docs.select(
        concat(lit("docs/"), col("doc_id"), lit(".txt")).as("path"),
        col("n_chars").cast("long").as("size"))
      // dest drift: a third of the files missing, every 7th size-drifted,
      // plus stale files the source no longer has
      val dst = docs.filter(col("doc_id") % 3 =!= 0)
        .select(concat(lit("docs/"), col("doc_id"), lit(".txt")).as("path"),
          when(col("doc_id") % 7 === 0, col("n_chars") + 1)
            .otherwise(col("n_chars")).cast("long").as("size"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select(concat(lit("stale/"), col("doc_id")).as("path"),
            col("n_chars").cast("long").as("size")))
      graft.meta.DataSync.planSummary(
        graft.meta.DataSync.plan(src, dst, "path", "size"))
    },
      Some("""WITH src AS (SELECT 'docs/' || doc_id || '.txt' AS path,
        |    CAST(n_chars AS BIGINT) AS src_size FROM documents),
        |dst AS (
        |  SELECT 'docs/' || doc_id || '.txt' AS path,
        |    CAST(CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END
        |      AS BIGINT) AS dst_size
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT 'stale/' || doc_id, CAST(n_chars AS BIGINT)
        |  FROM documents WHERE doc_id % 11 = 0),
        |p AS (SELECT COALESCE(src.path, dst.path) AS path, src_size, dst_size,
        |    CASE WHEN src_size IS NULL THEN 'REMOVE'
        |         WHEN dst_size IS NULL THEN 'COPY'
        |         WHEN src_size <> dst_size THEN 'COPY'
        |         ELSE 'SKIP' END AS action
        |  FROM src FULL OUTER JOIN dst ON src.path = dst.path)
        |SELECT action, count(*) AS n_files,
        |  CAST(sum(COALESCE(src_size, 0)) AS BIGINT) AS src_bytes
        |FROM p GROUP BY action ORDER BY action""".stripMargin)),
    // ---- robust (median/MAD) volume anomalies — the hardening the
    // z-score monitor's self-poisoning note promises; medians from two
    // exact-regime KLL passes, quantile_disc parity -----------------
    QuerySpec("q151_robust_anomaly", (s, d) =>
      graft.functions.EventAnalytics.robustVolumeAnomalies(
          Tables.events(s, d), "event_type", "ts", "1 hour", threshold = 3.5)
        .select(col("event_type"), col("bucket_start"), col("n"),
          col("med"), col("mad"), r4(col("rz")).as("rz"))
        .orderBy(col("event_type"), col("bucket_start")),
      Some("""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS bucket_start,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_disc(CAST(n AS DOUBLE), 0.5) AS med
        |  FROM c GROUP BY 1),
        |c2 AS (SELECT c.*, med FROM c JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_disc(abs(n - med), 0.5) AS mad
        |  FROM c2 GROUP BY 1)
        |SELECT event_type, bucket_start, n, med, mad,
        |  round((n - med) / (1.4826 * mad), 4) AS rz
        |FROM c2 JOIN md USING (event_type)
        |WHERE mad > 0 AND abs((n - med) / (1.4826 * mad)) >= 3.5
        |ORDER BY event_type, bucket_start""".stripMargin)),
    // ---- the event-side composed walk: sessionization (q48's exact
    // semantics) feeding an IN-SESSION funnel — conversion = a purchase
    // at-or-after the session's first view, rates by session size; one
    // exchange keyed by user carries both stages -------------------------
    QuerySpec("q153_session_funnel", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val newSession = when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
          > 600000000L, 1).otherwise(0)
      Tables.events(s, d)
        .withColumn("new_s", newSession)
        .withColumn("session_id", sum(col("new_s")).over(byUser).cast("int"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(when(col("event_type") === "view", col("ts"))).as("fv"),
          max(when(col("event_type") === "purchase", col("ts"))).as("lp"))
        .withColumn("conv",
          (col("fv").isNotNull && col("lp").isNotNull && col("lp") >= col("fv"))
            .cast("long"))
        .withColumn("size_bucket", least(col("n_events"), lit(5L)))
        .groupBy(col("size_bucket"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("conv")).as("n_converted"),
          r6(sum(col("conv")).cast("double") / count(lit(1))).as("conv_rate"))
        .orderBy(col("size_bucket"))
    },
      Some("""WITH g AS (SELECT user_id, event_id, event_type, ts,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_type, ts,
        |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
        |  FROM g),
        |p AS (SELECT user_id, session_id, count(*) AS n_events,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS lp
        |  FROM s GROUP BY 1, 2),
        |f AS (SELECT *, CASE WHEN fv IS NOT NULL AND lp IS NOT NULL
        |    AND lp >= fv THEN 1 ELSE 0 END AS conv FROM p)
        |SELECT least(n_events, 5) AS size_bucket, count(*) AS n_sessions,
        |  CAST(sum(conv) AS BIGINT) AS n_converted,
        |  round(CAST(sum(conv) AS DOUBLE) / count(*), 6) AS conv_rate
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
