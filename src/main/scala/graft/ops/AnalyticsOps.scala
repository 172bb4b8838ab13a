package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classic OLAP shapes over the TPC-H-ish tables: grouped aggregation,
  * multi-way join + top-k, and set operations — the remaining §2.11-empty
  * categories as first-class, oracle-backed queries.
  */
object AnalyticsOps {

  /** TPC-H Q1-shaped pricing summary: one shuffle (partial aggregation
    * map-side), grouped on low-cardinality flags.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_extendedprice), 4) AS avg_price,
      |       round(avg(l_discount), 6) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-shaped shipping priority: filter-pushdown on both join sides,
    * broadcast of the (filtered, small) customer dimension, top-10 revenue.
    * Revenue is rounded BEFORE ranking so the ordering itself is oracle-
    * deterministic across double-summation orders.
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val orders = Tables(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
    Tables(s, dir, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |       o_orderpriority,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Set operations (union / intersect / except) over customer key sets:
    * one labelled count per op. Key sets are distinct custkeys — the set ops
    * shuffle once on the key.
    */
  def setOpsCustomers(s: SparkSession, dir: String): DataFrame = {
    val withOrders = Tables(s, dir, "orders").select(col("o_custkey").as("k")).distinct()
    val building = Tables(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k")).distinct()
    val mk = (name: String, df: DataFrame) =>
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    mk("union", withOrders.union(building).distinct())
      .unionAll(mk("intersect", withOrders.intersect(building)))
      .unionAll(mk("except", withOrders.except(building)))
      .orderBy("op")
  }

  val setOpsOracle: String =
    """WITH wo AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |     b AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT op, n FROM (
      |  SELECT 'union' AS op, (SELECT count(*) FROM (SELECT k FROM wo UNION SELECT k FROM b)) AS n
      |  UNION ALL
      |  SELECT 'intersect', (SELECT count(*) FROM (SELECT k FROM wo INTERSECT SELECT k FROM b))
      |  UNION ALL
      |  SELECT 'except', (SELECT count(*) FROM (SELECT k FROM wo EXCEPT SELECT k FROM b)))
      |ORDER BY op""".stripMargin

  /** Salted skew join on the driver-verified surface: events joined to a
    * per-type dimension on `event_type` — 5 distinct keys over 10k+ rows,
    * the hottest-key shape that melts one reducer in a plain shuffle
    * join. [[SkewOps.saltedJoin]] (factor 8) spreads each hot key across
    * 8 sub-partitions (dimension side exploded ×8); the oracle is the
    * PLAIN SQL join, so the gate proves the salted plan is
    * row-for-row equivalent — the SkewOpsSpec row-identity property,
    * promoted to the oracle gate.
    */
  def saltedJoinCheck(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir, "events").select(col("event_type"), col("value"))
    val dim = events.groupBy(col("event_type")).agg(count(lit(1)).as("type_total"))
      .select(col("event_type").as("et2"), col("type_total"))
    SkewOps.saltedJoin(events, dim, "event_type", "et2", factor = 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value") * col("type_total")), 2).as("weighted_sum"))
      .orderBy("event_type")
  }

  val saltedJoinCheckOracle: String =
    """WITH dim AS (SELECT event_type AS et2, count(*) AS type_total
      |             FROM events GROUP BY event_type)
      |SELECT event_type, count(*) AS n,
      |       round(sum(value * type_total), 2) AS weighted_sum
      |FROM events JOIN dim ON event_type = et2
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ANALYZE-style table profile — per column: row count, null count,
    * exact distinct count — the stats pass every warehouse runs before
    * query planning / data-quality gates. One union branch per column,
    * each a single-DISTINCT aggregate over JUST that column: the parquet
    * scan in every branch is pruned to one column, so the total bytes
    * read equal one full-table scan while nothing ever carries the full
    * row width. (The previous single-Aggregate form planned the 10
    * DISTINCTs as one Expand — an 11× row multiplication of FULL-WIDTH
    * rows through a single hash aggregate; measured 2.2× slower at sf0.1
    * and strictly worse at 100 TB, where the expand multiplies the
    * widest table in the warehouse.) Branches run concurrently in one
    * job; the oracle re-scans per column the same way.
    */
  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir, "lineitem")
    val branches = t.columns.toSeq.map { c =>
      t.select(col(c))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col(c).isNull, 1)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"))
    }
    branches.reduce(_ unionAll _).orderBy("column")
  }

  val tableProfileOracle: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    cols.map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |       count(*) FILTER ($c IS NULL) AS n_nulls,
         |       count(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Multiset set operations — INTERSECT ALL / EXCEPT ALL over the order-
    * priority BAGS of two customer segments ([[setOpsCustomers]] covers
    * the distinct forms). Bag semantics count multiplicities, so the ops
    * plan as a single count-per-value aggregation + min/subtract rather
    * than a distinct exchange.
    */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    def seg(name: String) = {
      val keys = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === name).select("c_custkey")
      Tables(s, dir, "orders")
        .join(broadcast(keys), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderpriority").as("p"))
    }
    val a = seg("BUILDING"); val b = seg("MACHINERY")
    val mk = (name: String, df: DataFrame) =>
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    mk("except_all", a.exceptAll(b))
      .unionAll(mk("intersect_all", a.intersectAll(b)))
      .orderBy("op")
  }

  val setOpsAllOracle: String =
    """WITH a AS (SELECT o_orderpriority AS p FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                      WHERE c_mktsegment = 'BUILDING')),
      |b AS (SELECT o_orderpriority AS p FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                      WHERE c_mktsegment = 'MACHINERY'))
      |SELECT op, n FROM (
      |  SELECT 'except_all' AS op,
      |         (SELECT count(*) FROM (SELECT p FROM a EXCEPT ALL SELECT p FROM b)) AS n
      |  UNION ALL
      |  SELECT 'intersect_all',
      |         (SELECT count(*) FROM (SELECT p FROM a INTERSECT ALL SELECT p FROM b)))
      |ORDER BY op""".stripMargin

  /** Correlated LATERAL subquery on the portable-SQL surface (same
    * literal text on Spark and DuckDB, like [[sqlQ3]]): top-2 orders per
    * customer — the per-row dependent subquery Catalyst decorrelates into
    * a ranked window join, with no hand-written window in the query text.
    */
  val sqlLateralText: String =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c_custkey <= 100
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  def sqlLateral(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach(t =>
      Tables(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlLateralText)
  }

  /** Rollup (grouping-sets family): per-flag, per-flag-status, and grand
    * totals in one pass — Spark plans a single Expand + aggregation.
    */
  def q1Rollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  val q1RollupOracle: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Statistical aggregates per event_type: exact interpolated median
    * (percentile == DuckDB quantile_cont), sample stddev, extremes.
    */
  def eventsValueStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("value")), 4).as("min_v"),
        round(max(col("value")), 4).as("max_v"),
        round(avg(col("value")), 4).as("avg_v"),
        round(stddev_samp(col("value")), 4).as("stddev_v"),
        round(median(col("value")), 4).as("median_v"))
      .orderBy("event_type")

  /** As-of join (composition per SURVEY.md §7.4 preference (a)): attribute
    * each purchase event to the user's latest prior view within 7 days —
    * equi-join on the user + bounded range predicate, then a per-purchase
    * row_number keeps the newest. The TOLERANCE bound is what keeps an
    * as-of join linear-ish at scale: candidates per probe are bounded by
    * events-per-user-per-window, not the full history. Timestamps compare
    * at second granularity (the events table is nanosecond parquet; µs/ns
    * truncation must not decide pair membership — Tables scaladoc).
    */
  def asofJoinAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts_s"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_s").as("p_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts_s").as("v_ts"))
    val joined = purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_id"))
      .orderBy(col("v_ts").desc, col("view_id").desc)
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("purchase_id"), col("user_id"),
        col("view_id").as("attributed_view_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts")))
          .as("gap_sec"))
      .orderBy("purchase_id")
  }

  val asofJoinOracle: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |                   date_trunc('second', ts) AS ts_s FROM events)
      |SELECT purchase_id, user_id, attributed_view_id, gap_sec FROM (
      |  SELECT p.event_id AS purchase_id, p.user_id,
      |         v.event_id AS attributed_view_id,
      |         CAST(floor(epoch(p.ts_s)) AS BIGINT)
      |           - CAST(floor(epoch(v.ts_s)) AS BIGINT) AS gap_sec,
      |         row_number() OVER (PARTITION BY p.event_id
      |           ORDER BY v.ts_s DESC, v.event_id DESC) AS rn
      |  FROM ev p JOIN ev v
      |    ON p.event_type = 'purchase' AND v.event_type = 'view'
      |   AND p.user_id = v.user_id
      |   AND v.ts_s <= p.ts_s
      |   AND v.ts_s > p.ts_s - INTERVAL 7 DAY)
      |WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  /** Running (cumulative) totals: per-customer order history with ordinal
    * and cumulative spend — frame-spec window aggregation.
    */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir, "orders")
      .withColumn("order_seq", row_number().over(w))
      .withColumn("running_spend", round(sum(col("o_totalprice")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)), 2))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("order_seq"), col("running_spend"))
      .orderBy("o_custkey", "order_seq")
  }

  val runningTotalOracle: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |       row_number() OVER w AS order_seq,
      |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  /** Anti join: customers with no URGENT order (`left_anti` == NOT EXISTS).
    * The complement of J1's semi-join; same broadcast-the-small-side shape.
    * (Plain "never ordered" is empty in the test data — every customer has
    * orders — so the predicate restricts the right side instead.)
    */
  def antiJoinCustomers(s: SparkSession, dir: String): DataFrame = {
    val urgentKeys = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    Tables(s, dir, "customer")
      .join(broadcast(urgentKeys), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val antiJoinOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Scalar subquery: orders above the global average price; the aggregate
    * is a one-row broadcast, the comparison a narrow filter.
    */
  def scalarSubqueryOrders(s: SparkSession, dir: String): DataFrame = {
    val avgPrice = Tables(s, dir, "orders")
      .agg(avg(col("o_totalprice")).as("avg_price"))
    Tables(s, dir, "orders")
      .crossJoin(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_totalprice"),
        round(col("avg_price"), 4).as("avg_price"))
      .orderBy("o_orderkey")
  }

  val scalarSubqueryOracle: String =
    """SELECT o_orderkey, o_totalprice,
      |       round((SELECT avg(o_totalprice) FROM orders), 4) AS avg_price
      |FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** The engine-portable SQL surface: ONE literal SQL text executed by BOTH
    * `spark.sql` (over temp views of the test tables) and DuckDB as its own
    * oracle — the "Spark SQL for transformations" contract, character for
    * character.
    */
  val sqlQ3Text: String =
    """SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  def sqlQ3(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer").foreach(t =>
      Tables(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlQ3Text)
  }

  /** Recursive CTE on the portable-SQL surface (Spark 4's WITH RECURSIVE
    * — same literal text on both engines, like [[sqlQ3]]): a generated
    * 91-day calendar spine LEFT-JOINed to daily order stats, so days with
    * ZERO orders appear as explicit zero rows — the gap-free time series
    * every dashboard needs, and the canonical recursive-CTE use (the
    * spine recursion is 91 single-row steps; the corpus-sized work stays
    * one grouped aggregate).
    */
  val sqlDateSpineText: String =
    """WITH RECURSIVE spine(d) AS (
      |  SELECT CAST('1996-01-01' AS DATE)
      |  UNION ALL
      |  SELECT CAST(d + INTERVAL '1' DAY AS DATE) FROM spine
      |  WHERE d < CAST('1996-03-31' AS DATE)
      |),
      |daily AS (
      |  SELECT o_orderdate AS d, count(*) AS n_orders,
      |         round(sum(o_totalprice), 2) AS total
      |  FROM orders
      |  WHERE o_orderdate BETWEEN CAST('1996-01-01' AS DATE)
      |                        AND CAST('1996-03-31' AS DATE)
      |  GROUP BY o_orderdate)
      |SELECT CAST(spine.d AS STRING) AS day,
      |       coalesce(n_orders, 0) AS n_orders,
      |       coalesce(total, 0.0) AS total
      |FROM spine LEFT JOIN daily ON spine.d = daily.d
      |ORDER BY day""".stripMargin

  def sqlDateSpine(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(sqlDateSpineText)
  }

  /** Explicit GROUPING SETS + `grouping()` markers on the portable-SQL
    * surface (same literal text on Spark and DuckDB, like [[sqlQ3]]) —
    * per-lang totals, per-source totals, and the grand total in ONE pass
    * (Spark plans a single Expand + aggregation; `GROUPING()` tells an
    * 'ALL' coalesced from a real NULL group apart from a rollup row).
    */
  val groupingSetsText: String =
    """SELECT coalesce(lang, 'ALL') AS lang,
      |       coalesce(source, 'ALL') AS source,
      |       CAST(grouping(lang) AS INT) AS g_lang,
      |       CAST(grouping(source) AS INT) AS g_source,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang), (source), ())
      |ORDER BY g_lang, g_source, lang, source""".stripMargin

  def docGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents").createOrReplaceTempView("documents")
    s.sql(groupingSetsText)
  }

  /** Sketch aggregates — the approximate forms that replace exact
    * distinct/quantiles at 100 TB (single pass, bounded memory, mergeable
    * partial states). Rows-only: HLL/KLL sketch values are
    * implementation-specific, so DuckDB can't oracle them; AnalyticsOpsSpec
    * bounds them against the exact answers instead (HLL ±5%,
    * approx-median within the 1% relative-error contract).
    */
  def cardinalitySketches(s: SparkSession, dir: String): DataFrame = {
    // the exact countDistinct rides its OWN two-phase aggregate: mixing it
    // into the sketch aggregate makes Spark's single-distinct rewrite key
    // the first phase by (event_type, user_id) and carry EVERY other
    // buffer — the 52-word HLL sketch and both percentile heaps — per
    // (type, user) pair through the shuffle (r18 plan audit: 57-column
    // ObjectHashAggregate intermediate; sf0.1 warm 4.4 s → 1.3 s split).
    // Sketch/percentile merges are multiset-associative, so both shapes
    // produce identical values; the join is a ≤|event_type|-row broadcast.
    val ev = Tables(s, dir, "events")
    val sketches = ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        round(median(col("value")), 4).as("exact_median"),
        round(percentile_approx(col("value"), lit(0.5), lit(10000)), 4)
          .as("approx_median"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    sketches.join(broadcast(exact), "event_type")
      .select(col("event_type"), col("n"), col("exact_users"),
        col("approx_users"), col("exact_median"), col("approx_median"))
      .orderBy("event_type")
  }

  /** TPC-H Q5-shaped 6-way join (region→nation→customer ⋈ orders ⋈ lineitem
    * ⋈ supplier): every dimension chain is broadcast; only the two fact
    * tables shuffle, on their join keys. The classic join-tree shape a
    * 1000-executor cluster runs all day.
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val nations = Tables(s, dir, "nation")
      .join(broadcast(Tables(s, dir, "region")
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"), "left_semi")
    val cust = Tables(s, dir, "customer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val ord = Tables(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
    val supp = Tables(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey")) // "local" supplier
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  val q5Oracle: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Keep-latest-record dedup (window row_number = 1): the SCD-style "most
    * recent event per user" pattern — one shuffle on the dedup key, partial
    * top-1 per key via WindowGroupLimit before the exchange.
    */
  def windowDedupLatest(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("latest_event_id"),
        col("event_type").as("latest_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("latest_ts"))
      .orderBy("user_id")
  }

  val windowDedupOracle: String =
    """SELECT user_id, event_id AS latest_event_id, event_type AS latest_type,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts
      |FROM (
      |  SELECT user_id, event_id, event_type, date_trunc('microsecond', ts) AS ts,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY date_trunc('microsecond', ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Equal-width histogram of document lengths — the distribution scan run
    * before picking length filters. Deliberately NOT a global-window ntile
    * (a single-partition sort dies at 100 TB): bucket edges come from one
    * min/max aggregate (a scalar broadcast via cross join), bucket
    * assignment is a narrow map, and the histogram is one keyed shuffle of
    * ≤ 10 partial rows per task. Bucket math stays in exact-for-integers
    * double arithmetic so Spark and DuckDB floor identically; the max value
    * clamps into the last bucket.
    */
  def charHistogram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val edges = docs.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    docs.crossJoin(broadcast(edges))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(9L), floor((col("n_chars") - col("lo")).cast("double") *
            10.0 / (col("hi") - col("lo")).cast("double")))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy("bucket")
  }

  val charHistogramOracle: String =
    """WITH edges AS (
      |  SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents)
      |SELECT CASE WHEN hi = lo THEN 0 ELSE
      |         least(9, CAST(floor(CAST(n_chars - lo AS DOUBLE) * 10.0 /
      |                             CAST(hi - lo AS DOUBLE)) AS BIGINT))
      |       END AS bucket,
      |       count(*) AS n_docs,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       round(avg(n_chars), 4) AS avg_chars
      |FROM documents, edges
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** TPC-H Q6-shaped forecast revenue: a pure filter-aggregate whose whole
    * point at scale is PREDICATE PUSHDOWN — all three filters (shipdate
    * range, discount band, quantity cap) reach the parquet scan as
    * PushedFilters, so row groups outside the year are never read; one
    * map-side partial aggregation, one 1-row exchange.
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  val q6Oracle: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Per-source top-5 TF-IDF terms — the "what characterizes each source"
    * diagnostic. Ordering is on the ROUNDED score (both engines round
    * before ranking) with a lexicographic tiebreak, so the cut is
    * engine-deterministic.
    *
    * Scale shape: term frequencies are ONE keyed shuffle with map-side
    * combine; document frequency is an aggregation over the (source, term)
    * table (already orders of magnitude smaller); the source count attaches
    * as a 1-row broadcast; ranking windows over per-source partitions.
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables(s, dir, "documents")
      .select(col("source"),
        explode(split(DedupOps.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 3)
    val tf = words.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nSources = Tables(s, dir, "documents")
      .agg(countDistinct(col("source")).as("n_sources"))
    val scored = tf.join(df, "w").crossJoin(broadcast(nSources))
      .withColumn("score", round(col("tf") *
        log(col("n_sources").cast("double") / col("df")), 4))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("w"))))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("w").as("term"),
        col("tf"), col("score"))
      .orderBy("source", "rank")
  }

  val tfidfOracle: String =
    s"""WITH words AS (
       |  SELECT source, unnest(string_split(${DedupOps.normTextOracle("text")}, ' ')) AS w
       |  FROM documents),
       |w2 AS (SELECT source, w FROM words WHERE len(w) >= 3),
       |tf AS (SELECT source, w, count(*) AS tf FROM w2 GROUP BY 1, 2),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
       |scored AS (
       |  SELECT source, w, tf,
       |         round(tf * ln(CAST(n_sources AS DOUBLE) / df), 4) AS score
       |  FROM tf JOIN df USING (w), ns),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY source ORDER BY score DESC, w) AS INT) AS rank
       |  FROM scored)
       |SELECT source, rank, w AS term, tf, score
       |FROM ranked WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  /** Sparse lexical similarity: TF-IDF-weighted cosine between documents
    * over an INVERTED INDEX of 5-token shingles — the classic IR
    * retrieval modality, complementing dense-embedding ANN (different
    * signal: exact phrase overlap weighted by rarity) and the set-overlap
    * dedup family (weighted, not binary). Shingles are the term unit
    * because they are the discriminative one: this corpus has only ~30
    * distinct words, each in ~80% of documents (probed in DuckDB), so
    * unigram tf-idf is degenerate — while its ~24k distinct 5-shingles
    * have df ≈ 1-3. Real pipelines hit the same wall with boilerplate-
    * heavy corpora; shingle terms are the standard fix.
    *
    * Exactness of the pruning: stop-shingles (df > 50) are EXCLUDED from
    * the similarity definition (the subspace is documented, both engines
    * agree), which bounds every posting-list join bucket at df² ≤ 2500 —
    * the LSH-band cap discipline. Posting lists for df = 1 shingles are
    * skipped in the JOIN only — a df-1 term cannot produce a pair — but
    * their mass STAYS in the norms, so unique content correctly dilutes
    * the cosine; the skip is an exact optimization, not an approximation.
    *
    * Scale shape: ONE (doc, shingle) tf shuffle (map-side combined,
    * generator input hashed once per row — the WinnowOps lesson); df and
    * norms re-aggregate that table; candidates come ONLY from shared
    * pairable postings (ids + weights ride the join, never arrays);
    * per-pair scoring is one keyed aggregate with doc norms carried as
    * functional grouping keys. Weights round to 6 before any product,
    * cosine to 4 before the threshold.
    */
  def sparseCosinePairs(s: SparkSession, dir: String): DataFrame = {
    val dfCap = 50
    // tf feeds df/total/weights subtrees; the SparseIndex seam serves the
    // materialized table (r13 — shared inverted-index base with
    // bm25_search)
    val tf = SparseIndex.shingleTf(s, dir)
    val dfT = tf.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val weights = tf.join(dfT.filter(col("df") <= dfCap), "s")
      .crossJoin(broadcast(nDocs))
      .withColumn("wt", round(col("tf") *
        log(col("n_docs").cast("double") / col("df")), 6))
    val norms = weights.groupBy(col("doc_id"))
      .agg(round(sqrt(sum(col("wt") * col("wt"))), 6).as("nrm"))
    val rows = weights.filter(col("df") >= 2).join(norms, "doc_id")
      .select(col("s"), col("doc_id"), col("wt"), col("nrm"))
    val a = rows.select(col("s"), col("doc_id").as("doc_a"),
      col("wt").as("wa"), col("nrm").as("na"))
    val b = rows.select(col("s"), col("doc_id").as("doc_b"),
      col("wt").as("wb"), col("nrm").as("nb"))
    a.join(b, Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("wa") * col("wb")).as("dot"))
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= 0.5 && col("n_terms") >= 2)
      .select(col("doc_a"), col("doc_b"), col("n_terms"), col("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  val sparseCosinePairsOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(${DedupOps.normTextOracle("text")}, ' ') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
       |  FROM toks, LATERAL unnest(generate_series(1,
       |         greatest(len(t) - 4, 0))) u(i)
       |  WHERE len(t) >= 5),
       |tf AS (SELECT doc_id, s, count(*) AS tf FROM sh GROUP BY 1, 2),
       |dft AS (SELECT s, count(*) AS df FROM tf GROUP BY s),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
       |wts AS (
       |  SELECT t.doc_id, t.s, d.df,
       |         round(t.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS wt
       |  FROM tf t JOIN dft d USING (s), nd
       |  WHERE d.df <= 50),
       |nrm AS (
       |  SELECT doc_id, round(sqrt(sum(wt * wt)), 6) AS nrm
       |  FROM wts GROUP BY doc_id),
       |rows_ AS (
       |  SELECT w.s, w.doc_id, w.wt, n.nrm
       |  FROM wts w JOIN nrm n USING (doc_id)
       |  WHERE w.df >= 2),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nrm AS na,
       |         b.nrm AS nb, count(*) AS n_terms,
       |         sum(a.wt * b.wt) AS dot
       |  FROM rows_ a JOIN rows_ b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, n_terms,
       |       round(dot / (na * nb), 4) AS cosine
       |FROM pairs
       |WHERE round(dot / (na * nb), 4) >= 0.5 AND n_terms >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** BM25 query-by-example retrieval — the RANKING half of sparse
    * retrieval ([[sparseCosinePairs]] is the pair-MINING half): the
    * pairable shingles of the best-connected document (most df∈[2,50]
    * shingles, min id on ties) form the query, and
    * every other document scores by Robertson/Spärck-Jones BM25
    * (k1 = 1.2, b = 0.75, the smoothed ln(1 + (N−df+0.5)/(df+0.5)) idf)
    * with shingle counts as term frequencies and per-doc shingle counts
    * as document length. The serving shape of every lexical search
    * engine, query-anchored instead of all-pairs. On THIS synthetic
    * corpus the result set is thin by construction — shared-shingle
    * structure is strictly near-dup pairs/triples (probed: max distinct
    * lexical neighbors = 2), so the ranking degenerates to "find my
    * near-duplicate"; on a natural corpus the same plan ranks hundreds.
    * The oracle pins the exact BM25 arithmetic either way.
    *
    * Scale shape: the query term list (one doc's pairable shingles ×
    * idf) and the avgdl scalar are broadcast-sized by construction;
    * candidates come ONLY from postings matching a query term (inverted
    * lookup — the corpus never self-joins); scoring is one doc-keyed
    * aggregate with dl carried as a functional grouping key; the top-20
    * compiles to TakeOrderedAndProject (per-partition top-k, no global
    * sort). Per-term contributions round to 6 before the sum, scores to
    * 4 before the cut (cross-engine ranking determinism).
    */
  def bm25Search(s: SparkSession, dir: String): DataFrame = {
    val dfCap = 50; val k1 = 1.2; val b = 0.75
    // tf feeds SIX subtrees (df, stats, corpus, qsel, qterms, scoring);
    // the SparseIndex seam serves the materialized table (r13 — the
    // shared inverted-index base with sparse_cosine_pairs)
    val tf = SparseIndex.shingleTf(s, dir)
    val dfT = tf.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val stats = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val corpus = stats.agg(countDistinct(col("doc_id")).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // query doc = the one with the MOST pairable shingles (min id on
    // ties): deterministic, and guaranteed to have query terms — the
    // lowest id can be a fully-unique document with zero pairable terms
    val pairable = tf
      .join(dfT.filter(col("df") >= 2 && col("df") <= dfCap), "s")
    val qsel = pairable.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("np"))
      .agg(max(struct(col("np"), (-col("doc_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("qdoc"))
    val qterms = pairable.crossJoin(broadcast(qsel))
      .filter(col("doc_id") === col("qdoc"))
      .crossJoin(broadcast(corpus))
      .select(col("s"),
        round(log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)), 6).as("idf"),
        col("qdoc"), col("avgdl"))
    val scored = tf.join(broadcast(qterms), "s")
      .filter(col("doc_id") =!= col("qdoc"))
      .join(stats, "doc_id")
      .withColumn("contrib", round(col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("contrib")), 4).as("score"))
    scored
      .select(col("doc_id"), col("dl"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val bm25SearchOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(${DedupOps.normTextOracle("text")}, ' ') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
       |  FROM toks, LATERAL unnest(generate_series(1,
       |         greatest(len(t) - 4, 0))) u(i)
       |  WHERE len(t) >= 5),
       |tf AS (SELECT doc_id, s, count(*) AS tf FROM sh GROUP BY 1, 2),
       |dft AS (SELECT s, count(*) AS df FROM tf GROUP BY s),
       |stats AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
       |          GROUP BY doc_id),
       |corpus AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs, avg(dl) AS avgdl
       |  FROM stats),
       |pairable AS (
       |  SELECT t.doc_id, t.s, t.tf, d.df
       |  FROM tf t JOIN dft d USING (s) WHERE d.df BETWEEN 2 AND 50),
       |qsel AS (
       |  SELECT doc_id AS qdoc FROM (
       |    SELECT doc_id, count(*) AS np FROM pairable GROUP BY 1)
       |  ORDER BY np DESC, doc_id LIMIT 1),
       |qterms AS (
       |  SELECT p.s,
       |         round(ln(1.0 + (c.n_docs - p.df + 0.5) / (p.df + 0.5)), 6)
       |           AS idf,
       |         q.qdoc, c.avgdl
       |  FROM pairable p, qsel q, corpus c
       |  WHERE p.doc_id = q.qdoc),
       |scored AS (
       |  SELECT t.doc_id, st.dl, count(*) AS n_terms,
       |         round(sum(round(q.idf * t.tf * 2.2 /
       |           (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * st.dl / q.avgdl)),
       |           6)), 4) AS score
       |  FROM tf t JOIN qterms q USING (s)
       |  JOIN stats st ON st.doc_id = t.doc_id
       |  WHERE t.doc_id <> q.qdoc
       |  GROUP BY t.doc_id, st.dl)
       |SELECT doc_id, dl, n_terms, score
       |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Incremental inverted-index maintenance (r14 — VERDICT r13 #2, the
    * `incremental_ivf`/`incremental_hnsw` maintenance ≡ rebuild
    * convention applied to sparse retrieval): a production search stack
    * persists its postings ([[SparseIndex.save]]) and MERGES arriving
    * document batches in; it never re-scans the corpus per batch.
    * Postings rows are keyed by (doc_id, s) and eras are doc-disjoint, so
    * the postings merge is a union ([[SparseIndex.insert]]) — the
    * non-trivial maintained state is the per-TERM serving stats BM25
    * ranks with (df → idf, tf mass), which this query maintains by the
    * additive era merge: base stats + delta stats, full-outer joined,
    * coalesce-added. The oracle recomputes everything from one full
    * corpus scan; hash equality is the maintenance ≡ rebuild proof.
    * Base = `doc_id % 10 ≠ 9`, delta = the rest (the family convention).
    *
    * Beyond the proof it reports what an index operator watches per
    * batch: `n_new_terms` (vocabulary growth — new-term rate spiking
    * means the delta's domain has drifted) vs `n_grown_terms` (mass
    * landing in existing postings).
    *
    * Scale shape: both eras are narrow filters of the ONE audited
    * [[SparseIndex.shingleTf]] table (seam-served); each
    * era's stats is one term-keyed map-side-combined aggregate; the merge
    * is a term-keyed full-outer join of two term-sized frames; the digest
    * is a single map-side-combined global aggregate. The corpus is never
    * rescanned and never self-joined. Checksums are Σ (md5(s) mod 10⁶)·df
    * and ·tf — order-independent, term-assignment-sensitive (the
    * `incremental_ivf` checksum discipline).
    */
  def incrementalSparse(s: SparkSession, dir: String): DataFrame = {
    val tf = SparseIndex.shingleTf(s, dir)
    val isDelta = pmod(col("doc_id"), lit(10)) === 9
    val base = SparseIndex.termStats(tf.filter(!isDelta))
      .select(col("s"), col("df").as("bdf"), col("tf_sum").as("btf"))
    val delta = SparseIndex.termStats(tf.filter(isDelta))
      .select(col("s"), col("df").as("ddf"), col("tf_sum").as("dtf"))
    val termMd5 = conv(substring(md5(col("s")), 1, 15), 16, 10)
      .cast("long") % 1000000L
    base.join(delta, Seq("s"), "full_outer")
      .select(col("s"), col("bdf"), col("ddf"),
        (coalesce(col("bdf"), lit(0L)) + coalesce(col("ddf"), lit(0L)))
          .as("df"),
        (coalesce(col("btf"), lit(0L)) + coalesce(col("dtf"), lit(0L)))
          .as("tfs"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("ddf").isNotNull && col("bdf").isNull, 1L)
          .otherwise(0L)).as("n_new_terms"),
        sum(when(col("ddf").isNotNull && col("bdf").isNotNull, 1L)
          .otherwise(0L)).as("n_grown_terms"),
        sum(col("tfs")).as("total_tf"),
        max(col("df")).as("max_df"),
        sum(termMd5 * col("df")).as("df_checksum"),
        sum(termMd5 * col("tfs")).as("tf_checksum"))
  }

  /** Single full-corpus rebuild of the postings and term stats — totals,
    * era flags, and checksums recomputed from scratch; equality with the
    * query's merged maintenance path is the proof.
    */
  val incrementalSparseOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(${DedupOps.normTextOracle("text")}, ' ') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
       |  FROM toks, LATERAL unnest(generate_series(1,
       |         greatest(len(t) - 4, 0))) u(i)
       |  WHERE len(t) >= 5),
       |tf AS (SELECT doc_id, s, count(*) AS tf FROM sh GROUP BY 1, 2),
       |st AS (
       |  SELECT s, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tfs,
       |         count(*) FILTER (doc_id % 10 <> 9) AS bdf,
       |         count(*) FILTER (doc_id % 10 = 9) AS ddf
       |  FROM tf GROUP BY s)
       |SELECT count(*) AS n_terms,
       |       CAST(count(*) FILTER (ddf > 0 AND bdf = 0) AS BIGINT)
       |         AS n_new_terms,
       |       CAST(count(*) FILTER (ddf > 0 AND bdf > 0) AS BIGINT)
       |         AS n_grown_terms,
       |       CAST(sum(tfs) AS BIGINT) AS total_tf,
       |       CAST(max(df) AS BIGINT) AS max_df,
       |       CAST(sum(((('0x' || substr(md5(s), 1, 15))::BIGINT) % 1000000)
       |              * df) AS BIGINT) AS df_checksum,
       |       CAST(sum(((('0x' || substr(md5(s), 1, 15))::BIGINT) % 1000000)
       |              * tfs) AS BIGINT) AS tf_checksum
       |FROM st""".stripMargin

  /** TPC-H Q10-shaped returned-item report: which customers returned the
    * most revenue. Fact-to-fact join (lineitem ⋈ orders) shuffles on the
    * order key; the customer dimension attaches AQE-decided (broadcast at
    * test scale, shuffled-hash when customers outgrow memory at 100×);
    * nation is a true broadcast. Revenue is rounded BEFORE the top-20 cut
    * so ranking is engine-deterministic.
    */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val returned = Tables(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val nat = Tables(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    returned.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Oracle: String =
    """SELECT c_custkey, c_name, n_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q14-shaped promo-revenue ratio: conditional aggregation (the
    * CASE-WHEN-inside-sum pattern) over a date-bounded quarter. The
    * shipdate range pushes to the parquet scan; the part dimension attaches
    * AQE-decided on l_partkey; output is one row — ratio arithmetic happens
    * on the two full-precision sums, rounded only at emission.
    */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val part = Tables(s, dir, "part").select(col("p_partkey"), col("p_type"))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .agg(
        round(lit(100.0) * sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("promo_pct"),
        round(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)), 2)
          .as("promo_revenue"),
        count(lit(1)).as("n_items"))
  }

  val q14Oracle: String =
    """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
      |         THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
      |         sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
      |       round(sum(CASE WHEN p_type = 'PROMO'
      |         THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** TPC-H Q18-shaped large-volume orders: aggregate-then-filter (HAVING)
    * on a fact table, then join the survivors back to their order/customer
    * rows. The HAVING survivor set is ~1-2% of orders — small at test
    * scale but LINEAR in the corpus, so no fixed broadcast hint: AQE
    * decides at runtime (broadcast while it fits, shuffled-hash at scale),
    * the same attach discipline as [[q10ReturnedItems]]. Sort keys are
    * raw stored columns (no float arithmetic), so the top-100 cut is
    * engine-deterministic without rounding tricks.
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    val ord = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"))
    val cust = Tables(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    ord.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18Oracle: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |       o_totalprice, sum_qty
      |FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING round(sum(l_quantity), 2) > 250) big
      |JOIN orders ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q19-shaped disjunctive-predicate revenue: an OR-of-ANDs over
    * join-side columns (brand × quantity band × size band). Catalyst
    * extracts the common `l_partkey = p_partkey` equi-condition so this
    * still plans as a hash join (NOT a nested-loop), with the disjunction
    * evaluated as a post-join filter; per-side conjuncts (quantity caps,
    * size floor) are pushed below the join by constraint propagation.
    */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val part = Tables(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val cases =
      (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
        col("p_size").between(1, 5)) ||
      (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
        col("p_size").between(1, 10)) ||
      (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) &&
        col("p_size").between(1, 15))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(cases)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19Oracle: String =
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
      |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
      |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin

  /** Relational PIVOT: order counts by year × priority, priorities as
    * columns. Spark's `pivot` with an EXPLICIT value list compiles to a
    * single aggregation with one conditional-count per pivot value (same
    * plan as hand-written CASE WHENs — no second pass to discover values,
    * which at 100 TB would be an extra distinct scan). Missing combinations
    * surface as nulls → coalesced to 0 so both engines agree.
    */
  def pivotPriorityYear(s: SparkSession, dir: String): DataFrame = {
    val priorities = Seq(
      "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val p = Tables(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
    val aliases = Seq("n_urgent", "n_high", "n_medium", "n_notspec", "n_low")
    p.select(col("order_year") +:
        priorities.zip(aliases).map { case (v, a) =>
          coalesce(p(v), lit(0L)).as(a)
        }: _*)
      .orderBy("order_year")
  }

  // count(*) FILTER, not sum(CASE …): DuckDB's sum over integers widens to
  // HUGEINT and the driver hash is type-width-sensitive (the round-1 failure
  // mode scripts/dev_check.py documents); FILTER counts are BIGINT, matching
  // Spark's pivot count.
  val pivotPriorityYearOracle: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
      |       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
      |       count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
      |       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
      |       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
      |       count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
      |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin

  /** MERGE/UPSERT relational core — the modern replacement for the
    * reference's TRUNCATE + full reload (`CSVtoSQLimport.ps1:198-200`): a
    * base table full-outer-joined with a changes feed on the key;
    * matched → updated, unmatched-right → inserted, unmatched-left →
    * unchanged. The changes feed here is derived deterministically (every
    * 10th order re-priced +5%, every 100th re-keyed as a new row).
    *
    * Scale shape: ONE co-partitioned shuffle join on the merge key — with
    * bucketed/partitioned storage (PartitionedSink) the exchange disappears
    * entirely; a lakehouse MERGE INTO plans exactly this join. The summary
    * is a 3-row map-side-combined aggregate over the merged result.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    // changed prices stay full-precision: HALF_UP-vs-HALF_EVEN per-row
    // rounding drift would accumulate over the summed result; only the
    // final aggregate is rounded (the usual engine-parity discipline)
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("u_orderkey"),
        (col("o_totalprice") * 1.05).as("u_totalprice"))
    // new-row keys map to the strictly-negative space (-key - 1; orderkeys
    // are >= 0 at every SF), so the synthetic keys cannot collide with real
    // keys at any scale — an additive offset would collide once
    // max(o_orderkey) crossed it
    val inserts = base.filter(col("o_orderkey") % 100 === 0)
      .select((-col("o_orderkey") - 1).as("u_orderkey"),
        (col("o_totalprice") * 0.5).as("u_totalprice"))
    val changes = updates.unionAll(inserts)
    val merged = base.join(changes,
        col("o_orderkey") === col("u_orderkey"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("u_orderkey")).as("key"),
        coalesce(col("u_totalprice"), col("o_totalprice")).as("price"),
        when(col("o_orderkey").isNull, "inserted")
          .when(col("u_orderkey").isNull, "unchanged")
          .otherwise("updated").as("action"))
    merged.groupBy(col("action"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("price")), 2).as("sum_price"))
      .orderBy("action")
  }

  val mergeUpsertOracle: String =
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
      |changes AS (
      |  SELECT o_orderkey AS u_orderkey,
      |         o_totalprice * 1.05 AS u_totalprice
      |  FROM base WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT -o_orderkey - 1 AS u_orderkey,
      |         o_totalprice * 0.5 AS u_totalprice
      |  FROM base WHERE o_orderkey % 100 = 0),
      |merged AS (
      |  SELECT coalesce(o_orderkey, u_orderkey) AS key,
      |         coalesce(u_totalprice, o_totalprice) AS price,
      |         CASE WHEN o_orderkey IS NULL THEN 'inserted'
      |              WHEN u_orderkey IS NULL THEN 'unchanged'
      |              ELSE 'updated' END AS action
      |  FROM base FULL OUTER JOIN changes ON o_orderkey = u_orderkey)
      |SELECT action, count(*) AS n_rows, round(sum(price), 2) AS sum_price
      |FROM merged GROUP BY action ORDER BY action""".stripMargin

  /** Full CUBE over order status × priority — the remaining grouping-sets
    * family member ([[q1Rollup]] covers ROLLUP, `doc_grouping_sets` covers
    * explicit GROUPING SETS): all four marginal combinations in one Expand
    * + single aggregation pass, no per-subtotal re-scan.
    */
  def cubeOrderStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n_orders"), col("sum_price"))
      .orderBy("orderstatus", "orderpriority")

  val cubeOrderStatsOracle: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
      |       coalesce(o_orderpriority, 'ALL') AS orderpriority,
      |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin

  /** RANGE-interval window frame — trailing 30-day spend per customer
    * order ([[runningTotal]] covers the ROWS frame; this is the
    * value-based frame whose peers are determined by the ORDER BY value,
    * not row position). The frame key is the epoch day number, so
    * `rangeBetween(-30, 0)` spans exactly the preceding 30 days and
    * same-day peers aggregate identically in both engines regardless of
    * tie order. One customer-keyed shuffle.
    */
  def trailing30dSpend(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-30, 0)
    Tables(s, dir, "orders")
      .withColumn("day",
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")))
      .withColumn("trailing_spend",
        round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("trailing_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val trailing30dSpendOracle: String =
    """SELECT o_custkey, o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |       round(sum(o_totalprice) OVER (
      |         PARTITION BY o_custkey
      |         ORDER BY datediff('day', DATE '1995-01-01', o_orderdate)
      |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
      |         AS trailing_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** SCD Type-2 dimension versioning — the warehouse-standard history-
    * keeping MERGE the reference's truncate+reload destroys
    * (`CSVtoSQLimport.ps1:198-200` keeps no history at all): a changes
    * feed against the customer dimension emits, per key, the closed prior
    * version (is_current = false) plus the new current version, while
    * untouched and inserted keys stay single-version current. The changes
    * feed is derived deterministically (every 10th customer re-priced,
    * every 100th key inserted into the negative key space, as in
    * [[mergeUpsert]]).
    *
    * Scale shape: ONE full-outer co-partitioned shuffle join on the
    * dimension key. Both version rows come out of the SAME joined row via
    * an explode over an array of version structs — a union of two
    * filtered projections would NOT keep that shape: Catalyst pushes the
    * per-branch isNotNull filters through the union and splits the plan
    * into two separate outer joins with duplicate scans (observed: 5
    * scans of customer, 2 joins). The explode is opaque to that rewrite,
    * so the join — and at scale its one co-partitioned shuffle — is paid
    * exactly once. Per-row arithmetic only — no cross-row sums — so no
    * rounding is needed for engine parity.
    */
  def scd2Customer(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("u_key"),
        (col("c_acctbal") * 1.1).as("u_acctbal"),
        col("c_mktsegment").as("u_segment"))
    val inserts = base.filter(col("c_custkey") % 100 === 0)
      .select((-col("c_custkey") - 1).as("u_key"),
        (col("c_acctbal") * 0.5).as("u_acctbal"),
        lit("NEW").as("u_segment"))
    val joined = base.join(updates.unionAll(inserts),
      col("c_custkey") === col("u_key"), "full_outer")
    val v1 = when(col("c_custkey").isNotNull, struct(
      col("c_custkey").as("key"), lit(1).as("version"),
      col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"),
      col("u_key").isNull.as("is_current")))
    val v2 = when(col("u_key").isNotNull, struct(
      coalesce(col("c_custkey"), col("u_key")).as("key"),
      when(col("c_custkey").isNotNull, 2).otherwise(1).as("version"),
      col("u_acctbal").as("acctbal"), col("u_segment").as("segment"),
      lit(true).as("is_current")))
    joined
      .select(explode(array(v1, v2)).as("v"))
      .filter(col("v").isNotNull)
      .select(col("v.key").as("key"), col("v.version").as("version"),
        col("v.acctbal").as("acctbal"), col("v.segment").as("segment"),
        col("v.is_current").as("is_current"))
      .orderBy("key", "version")
  }

  val scd2CustomerOracle: String =
    """WITH base AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      |changes AS (
      |  SELECT c_custkey AS u_key, c_acctbal * 1.1 AS u_acctbal,
      |         c_mktsegment AS u_segment
      |  FROM base WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT -c_custkey - 1, c_acctbal * 0.5, 'NEW'
      |  FROM base WHERE c_custkey % 100 = 0),
      |j AS (SELECT * FROM base
      |      FULL OUTER JOIN changes ON c_custkey = u_key)
      |SELECT key, version, acctbal, segment, is_current FROM (
      |  SELECT c_custkey AS key, 1 AS version, c_acctbal AS acctbal,
      |         c_mktsegment AS segment, u_key IS NULL AS is_current
      |  FROM j WHERE c_custkey IS NOT NULL
      |  UNION ALL
      |  SELECT coalesce(c_custkey, u_key),
      |         CASE WHEN c_custkey IS NOT NULL THEN 2 ELSE 1 END,
      |         u_acctbal, u_segment, TRUE
      |  FROM j WHERE u_key IS NOT NULL)
      |ORDER BY key, version""".stripMargin

  /** One PageRank iteration over the part co-purchase graph (parts sharing
    * an order are neighbors): rank¹ = 0.15/N + 0.85·Σ_in rank⁰/outdeg from
    * the uniform start. Top-20 by rounded rank.
    *
    * Scale shape: the self-join fanout is bounded by ITEMS-PER-ORDER (~4ish
    * per TPC-H order, independent of corpus size), so the edge list is
    * linear in lineitem — NOT an all-pairs over parts; dedup, out-degrees,
    * and the contribution sum are each one keyed shuffle. A full PageRank
    * is this step iterated with the node-sized rank vector re-joined per
    * round (the [[ClusterOps]] hook-compress-contract loop shows the
    * iteration pattern at scale).
    */
  def pagerankStep(s: SparkSession, dir: String): DataFrame =
    // ONE audited shape serves every PageRank entry: rounds=1 of the
    // checkpointed canonical-pair loop below (review r7 — the bespoke
    // single-step query had drifted slower than the two-round loop;
    // sharing [[pagerankIterate]] makes that impossible by construction)
    pagerankIterate(s, dir, rounds = 1)

  /** N=1 unroll of [[pagerank2StepOracle]]'s CTE chain: every part keeps a
    * row (the teleport floor), matching the loop's left-join+coalesce. */
  val pagerankStepOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |np AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM part),
      |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |r0 AS (SELECT p_partkey, 1.0 / n AS rank FROM part, np),
      |c1 AS (
      |  SELECT e.dst, sum(r0.rank / o.outdeg) AS in_sum
      |  FROM edges e JOIN outdeg o ON e.src = o.src
      |  JOIN r0 ON r0.p_partkey = e.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT p.p_partkey,
      |         round(0.15 / n + 0.85 * coalesce(c1.in_sum, 0), 10) AS rank
      |  FROM part p LEFT JOIN c1 ON c1.dst = p.p_partkey, np)
      |SELECT p_partkey, round(rank, 8) AS rank FROM r1
      |ORDER BY rank DESC, p_partkey LIMIT 20""".stripMargin

  /** Multi-iteration PageRank over the part co-purchase graph —
    * [[pagerankStep]] driven to N rounds with the FULL rank vector
    * (coalesce(in_sum, 0) keeps sink-only parts at the teleport floor so
    * their out-contributions are correct in the next round; the one-step
    * query could ignore them because it never re-reads ranks).
    *
    * Scale shape: the edge list and out-degree table are built ONCE and
    * `localCheckpoint`ed (the loop re-reads both every round — the
    * [[ClusterOps]] discipline); each round is one edge-keyed shuffle for
    * the contribution sum plus a node-sized left join, and the node-sized
    * rank vector is checkpointed per round so lineage stays flat. No
    * driver-side ranks.
    *
    * Engine parity: intermediate ranks rounded to 10 (pins the engines to
    * identical round-N inputs; values sit ≥ 1e-5 so 10 decimals is damping,
    * not information loss), final ranks to 8 as in [[pagerankStep]].
    */
  def pagerankIterate(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // canonical u<v + mirror via the session materialization seam
    // (GraphEdges — the distinct shuffles half the pair volume, measured
    // 1.75× over the naive ≠-join when introduced in r7; the bench session
    // builds the list once for the whole graph family)
    val canonical = GraphEdges.canonical(s, dir)
      .select(col("u").as("src"), col("v").as("dst"))
    val edges = canonical.unionAll(
      canonical.select(col("dst").as("src"), col("src").as("dst")))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nParts = Tables(s, dir, "part")
      .agg(count(lit(1)).cast("double").as("n"))
    val parts = Tables(s, dir, "part").select(col("p_partkey"))
    var ranks = parts.crossJoin(broadcast(nParts))
      .select(col("p_partkey"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to rounds) {
      // pre-join ranks with out-degrees into a NODE-sized weight table so
      // the edge list is probed ONCE per round instead of twice (guide
      // §2.3 — shuffle/probe the small proxy, not the big side twice);
      // rank/outdeg is the same single IEEE division either way, and the
      // dst-sum tolerates partial-order changes by the same margin the
      // cross-engine oracle already proves (ranks re-round to 10)
      val w = outdeg
        .join(ranks.select(col("p_partkey").as("src"), col("rank")), "src")
        .select(col("src"), (col("rank") / col("outdeg")).as("w"))
      val contrib = edges
        .join(w, "src")
        .groupBy(col("dst"))
        .agg(sum(col("w")).as("in_sum"))
      ranks = parts
        .join(contrib, col("p_partkey") === col("dst"), "left")
        .crossJoin(broadcast(nParts))
        .select(col("p_partkey"),
          round(lit(0.15) / col("n") +
            lit(0.85) * coalesce(col("in_sum"), lit(0.0)), 10).as("rank"))
        .localCheckpoint()
    }
    ranks.select(col("p_partkey"), round(col("rank"), 8).as("rank"))
      .orderBy(col("rank").desc, col("p_partkey"))
      .limit(20)
  }

  def pagerank2Step(s: SparkSession, dir: String): DataFrame =
    pagerankIterate(s, dir, rounds = 2)

  /** N=2 unrolled: contribution → damped update → contribution → update. */
  val pagerank2StepOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |np AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM part),
      |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |r0 AS (SELECT p_partkey, 1.0 / n AS rank FROM part, np),
      |c1 AS (
      |  SELECT e.dst, sum(r0.rank / o.outdeg) AS in_sum
      |  FROM edges e JOIN outdeg o ON e.src = o.src
      |  JOIN r0 ON r0.p_partkey = e.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT p.p_partkey,
      |         round(0.15 / n + 0.85 * coalesce(c1.in_sum, 0), 10) AS rank
      |  FROM part p LEFT JOIN c1 ON c1.dst = p.p_partkey, np),
      |c2 AS (
      |  SELECT e.dst, sum(r1.rank / o.outdeg) AS in_sum
      |  FROM edges e JOIN outdeg o ON e.src = o.src
      |  JOIN r1 ON r1.p_partkey = e.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT p.p_partkey,
      |         round(0.15 / n + 0.85 * coalesce(c2.in_sum, 0), 10) AS rank
      |  FROM part p LEFT JOIN c2 ON c2.dst = p.p_partkey, np)
      |SELECT p_partkey, round(rank, 8) AS rank FROM r2
      |ORDER BY rank DESC, p_partkey LIMIT 20""".stripMargin

  /** Personalized PageRank, 2 rounds — [[pagerankIterate]] with the
    * teleport mass CONCENTRATED on a seed set (the parts of the lowest
    * order, the [[GraphOps.bfsFrom]] seed convention) instead of uniform:
    * rank = 0.15·1[v∈S]/|S| + 0.85·Σ contributions. THE
    * recommendation/affinity primitive ("parts related to THIS basket"):
    * global PageRank measures centrality, PPR measures proximity to the
    * seeds, and the two-round unroll keeps the same CTE oracle shape as
    * [[pagerank2Step]].
    *
    * Scale shape identical to [[pagerankIterate]]: canonical-pair+mirror
    * edge build and out-degrees checkpointed once, one edge-keyed
    * contribution shuffle + one node-sized left join per round, the seed
    * flag riding the node-sized rank vector, per-round localCheckpoint.
    * Intermediate ranks round to 10, final to 8 (engine parity).
    */
  def pprIterate(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val canonical = GraphEdges.canonical(s, dir)
      .select(col("u").as("src"), col("v").as("dst"))
    val edges = canonical.unionAll(
      canonical.select(col("dst").as("src"), col("src").as("dst")))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val minOrd = li.agg(min(col("l_orderkey")).as("mo"))
    val seeds = li.join(broadcast(minOrd), col("l_orderkey") === col("mo"))
      .select(col("l_partkey").as("p_partkey")).distinct()
      .withColumn("sd", lit(1.0))
    val nSeeds = seeds.agg(count(lit(1)).cast("double").as("ns"))
    val parts = Tables(s, dir, "part").select(col("p_partkey"))
      .join(broadcast(seeds), Seq("p_partkey"), "left")
      .crossJoin(broadcast(nSeeds))
      .select(col("p_partkey"),
        (coalesce(col("sd"), lit(0.0)) / col("ns")).as("tele"))
      .localCheckpoint()
    var ranks = parts.select(col("p_partkey"), col("tele").as("rank"))
    for (_ <- 1 to rounds) {
      // node-sized weight pre-join — one edge-list probe per round
      // instead of two (the pagerankIterate note)
      val w = outdeg
        .join(ranks.select(col("p_partkey").as("src"), col("rank")), "src")
        .select(col("src"), (col("rank") / col("outdeg")).as("w"))
      val contrib = edges
        .join(w, "src")
        .groupBy(col("dst"))
        .agg(sum(col("w")).as("in_sum"))
      ranks = parts
        .join(contrib, col("p_partkey") === col("dst"), "left")
        .select(col("p_partkey"),
          round(lit(0.15) * col("tele") +
            lit(0.85) * coalesce(col("in_sum"), lit(0.0)), 10).as("rank"))
        .localCheckpoint()
    }
    ranks.filter(col("rank") > 0)
      .select(col("p_partkey"), round(col("rank"), 8).as("rank"))
      .orderBy(col("rank").desc, col("p_partkey"))
      .limit(20)
  }

  def ppr2Step(s: SparkSession, dir: String): DataFrame =
    pprIterate(s, dir, rounds = 2)

  val ppr2StepOracle: String =
    """WITH edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |seeds AS (
      |  SELECT DISTINCT l_partkey AS p_partkey FROM lineitem
      |  WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)),
      |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM seeds),
      |tele AS (
      |  SELECT p.p_partkey,
      |         CASE WHEN s.p_partkey IS NULL THEN 0.0 ELSE 1.0 / n.ns END
      |           AS tele
      |  FROM part p LEFT JOIN seeds s USING (p_partkey), ns n),
      |r0 AS (SELECT p_partkey, tele AS rank FROM tele),
      |c1 AS (
      |  SELECT e.dst, sum(r0.rank / o.outdeg) AS in_sum
      |  FROM edges e JOIN outdeg o ON e.src = o.src
      |  JOIN r0 ON r0.p_partkey = e.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT t.p_partkey,
      |         round(0.15 * t.tele + 0.85 * coalesce(c1.in_sum, 0), 10)
      |           AS rank
      |  FROM tele t LEFT JOIN c1 ON c1.dst = t.p_partkey),
      |c2 AS (
      |  SELECT e.dst, sum(r1.rank / o.outdeg) AS in_sum
      |  FROM edges e JOIN outdeg o ON e.src = o.src
      |  JOIN r1 ON r1.p_partkey = e.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT t.p_partkey,
      |         round(0.15 * t.tele + 0.85 * coalesce(c2.in_sum, 0), 10)
      |           AS rank
      |  FROM tele t LEFT JOIN c2 ON c2.dst = t.p_partkey)
      |SELECT p_partkey, round(rank, 8) AS rank FROM r2
      |WHERE rank > 0
      |ORDER BY rank DESC, p_partkey LIMIT 20""".stripMargin

  /** KMV distinct sketch per event_type via the typed
    * [[graft.functions.KmvSmallest]] Aggregator — deterministic (md5, no
    * seeds), so unlike HLL the DuckDB oracle reproduces the EXACT sketch
    * content. The k smallest distinct hashes ride partial aggregation as
    * an O(k) mergeable buffer; `KmvSketchSpec`-style accuracy of the
    * derived estimator is pinned in AnalyticsOpsSpec.
    */
  def kmvUserSketch(s: SparkSession, dir: String): DataFrame = {
    val hashed = Tables(s, dir, "events")
      .select(col("event_type"),
        md5(col("user_id").cast("string").cast("binary")).as("h"))
    hashed.groupBy(col("event_type"))
      .agg(countDistinct(col("h")).as("exact_users"),
        graft.functions.KmvSketch.kmvSmallest(col("h"), 8).as("kmv"))
      .orderBy("event_type")
  }

  val kmvUserSketchOracle: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |                  md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      |ex AS (SELECT event_type, count(*) AS exact_users FROM h GROUP BY event_type),
      |r AS (SELECT event_type, h,
      |             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |      FROM h),
      |kmv AS (SELECT event_type, string_agg(h, ',' ORDER BY h) AS kmv
      |        FROM r WHERE rn <= 8 GROUP BY event_type)
      |SELECT event_type, exact_users, kmv
      |FROM ex JOIN kmv USING (event_type) ORDER BY event_type""".stripMargin

  /** KMV sketch-based set-overlap estimation between event types — the
    * mergeable-sketch payoff: once per-type KMV sketches exist
    * ([[kmvUserSketch]]'s shape), ANY pairwise intersection estimates
    * come from the k-row sketches alone, never re-scanning the events.
    * Estimator: over the union's k-min sketch U, ρ = |U ∩ A ∩ B| / |U|
    * and |A∪B| ≈ (|U|−1)/u_max (Beyer et al., SIGMOD'07), giving
    * |A∩B| ≈ ρ·|A∪B|. md5-deterministic, so the DuckDB oracle reproduces
    * the EXACT estimate; the exact overlap rides alongside for the error
    * audit.
    *
    * Scale shape: one keyed aggregation builds the sketches (O(k)
    * mergeable buffers); the pair join is sketch×sketch (T² rows for T
    * types — tiny); exact overlap is one distinct + one self-join on
    * user_id, present only as the audit column.
    */
  def kmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val K = 32
    val sketches = Tables(s, dir, "events")
      .select(col("event_type"),
        md5(col("user_id").cast("string").cast("binary")).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvSketch.kmvSmallest(col("h"), K).as("sk"))
    val a = sketches.select(col("event_type").as("type_a"),
      split(col("sk"), ",").as("ha"))
    val b = sketches.select(col("event_type").as("type_b"),
      split(col("sk"), ",").as("hb"))
    val ut = Tables(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val exact = ut.as("x").join(ut.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    a.crossJoin(broadcast(b)).filter(col("type_a") < col("type_b"))
      .withColumn("u",
        slice(array_sort(array_distinct(concat(col("ha"), col("hb")))), 1, K))
      .withColumn("mk", size(col("u")))
      .withColumn("umax",
        graft.functions.KmvSketch.hexPrefixUniform(
          element_at(col("u"), size(col("u")))))
      .withColumn("common", size(filter(col("u"),
        x => array_contains(col("ha"), x) && array_contains(col("hb"), x))))
      .withColumn("est_overlap",
        round((col("common").cast("double") / col("mk").cast("double")) *
          ((col("mk").cast("double") - 1.0) / col("umax")), 2))
      .join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"),
        col("est_overlap"))
      .orderBy("type_a", "type_b")
  }

  val kmvOverlapOracle: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
      |                  md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      |r AS (SELECT event_type, h,
      |             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |      FROM h),
      |sk AS (SELECT event_type, list(h ORDER BY h) AS sk
      |       FROM r WHERE rn <= 32 GROUP BY event_type),
      |ut AS (SELECT DISTINCT event_type, user_id FROM events),
      |exact AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |         count(*) AS exact_overlap
      |  FROM ut x JOIN ut y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         a.sk AS ha, b.sk AS hb,
      |         list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:32] AS u
      |  FROM sk a, sk b WHERE a.event_type < b.event_type),
      |est AS (
      |  SELECT type_a, type_b,
      |         len(u) AS mk,
      |         ${graft.functions.KmvSketch.hexPrefixUniformSql("u[len(u)]")}
      |           AS umax,
      |         len(list_filter(u, x -> list_contains(ha, x)
      |           AND list_contains(hb, x))) AS common
      |  FROM pairs)
      |SELECT e.type_a, e.type_b,
      |       coalesce(x.exact_overlap, 0) AS exact_overlap,
      |       round((CAST(common AS DOUBLE) / CAST(mk AS DOUBLE)) *
      |             ((CAST(mk AS DOUBLE) - 1.0) / umax), 2) AS est_overlap
      |FROM est e LEFT JOIN exact x USING (type_a, type_b)
      |ORDER BY type_a, type_b""".stripMargin

  /** Weekly cohort retention: users grouped by the week of their first
    * signup, tracked by distinct-active weeks after it — the
    * product-analytics retention matrix. Every stage is user- or
    * (cohort, offset)-keyed; cohort sizes attach as a small broadcast-able
    * aggregate. Week arithmetic stays integral (epoch seconds / 604800)
    * so both engines bucket identically.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("week", col("ts")).as("wk"))
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohorts.groupBy(col("cohort_wk"))
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    val active = ev.select(col("user_id"), col("wk")).distinct()
    active.join(cohorts, "user_id")
      .filter(col("wk") >= col("cohort_wk"))
      .withColumn("week_offset",
        ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort_wk")))
          / 604800L).cast("long"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort_wk")
      .select(
        date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("cohort_size"), col("n_active"),
        round(col("n_active") / col("cohort_size"), 4).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  val cohortRetentionOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, date_trunc('week', ts) AS wk FROM events),
      |cohorts AS (
      |  SELECT user_id, min(wk) AS cohort_wk FROM ev
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_wk, count(DISTINCT user_id) AS cohort_size
      |  FROM cohorts GROUP BY cohort_wk),
      |active AS (SELECT DISTINCT user_id, wk FROM ev),
      |cells AS (
      |  SELECT cohort_wk,
      |         CAST((floor(epoch(wk)) - floor(epoch(cohort_wk))) // 604800
      |           AS BIGINT) AS week_offset,
      |         count(DISTINCT user_id) AS n_active
      |  FROM active JOIN cohorts USING (user_id)
      |  WHERE wk >= cohort_wk
      |  GROUP BY 1, 2)
      |SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week, week_offset,
      |       cohort_size, n_active,
      |       round(n_active / cohort_size, 4) AS retention
      |FROM cells JOIN sizes USING (cohort_wk)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Market-basket brand affinity: lift between brand pairs co-occurring
    * in an order — the association-rule shape (support / lift). The pair
    * fanout is bounded by brands-per-order (≈ items-per-order), so the
    * basket self-join is linear in lineitem like [[pagerankStep]]'s edge
    * build; supports and the basket count are keyed aggregates; lift
    * ranks on the ROUNDED value with a lexicographic tiebreak.
    */
  def brandAffinity(s: SparkSession, dir: String): DataFrame = {
    // the distinct (order, brand) basket table comes from the GraphEdges
    // seam (materialized once per session — VERDICT r9 #3): the
    // lineitem⋈part scan + distinct is shared work, only the brand-level
    // pair join and the three aggregates stay query-local
    val baskets = GraphEdges.brandBaskets(s, dir)
    val nOrders = Tables(s, dir, "orders")
      .agg(count(lit(1)).cast("double").as("n"))
    val brandCount = baskets.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_brand"))
    val a = baskets.as("a"); val b = baskets.as("b")
    val pairs = a.join(b, col("a.okey") === col("b.okey") &&
        col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(brandCount.select(col("p_brand").as("brand_a"),
        col("n_brand").as("n_a")), "brand_a")
      .join(brandCount.select(col("p_brand").as("brand_b"),
        col("n_brand").as("n_b")), "brand_b")
      .crossJoin(broadcast(nOrders))
      .filter(col("n_both") >= 20)
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        round(col("n_both") * col("n") / (col("n_a") * col("n_b")), 4)
          .as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(20)
  }

  val brandAffinityOracle: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS okey, p_brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM orders),
      |bc AS (SELECT p_brand, count(*) AS n_brand FROM baskets GROUP BY p_brand),
      |pairs AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_both
      |  FROM baskets a JOIN baskets b
      |    ON a.okey = b.okey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, n_both,
      |       round(n_both * n / (ca.n_brand * cb.n_brand), 4) AS lift
      |FROM pairs
      |JOIN bc ca ON ca.p_brand = brand_a
      |JOIN bc cb ON cb.p_brand = brand_b, n
      |WHERE n_both >= 20
      |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin

  /** Pairwise Pearson correlation matrix of lineitem's measure columns —
    * the feature-screening pass before any modeling. ONE scan: all six
    * pair aggregates ride a single Aggregate (corr is a plain
    * one-pass co-moment, no distinct/Expand), then the 1-row wide result
    * melts to pair rows with a narrow explode. Rounded to 4 — the
    * co-moment accumulation order differs across engines in the last
    * ulps.
    */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 4).as(s"${a}__$b")
    }
    val wide = Tables(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col(s"${a}__$b").as("pearson_r"))
      }: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.pearson_r"))
      .orderBy("col_a", "col_b")
  }

  val corrMatrixOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |       round(corr($a, $b), 4) AS pearson_r FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
  }

  /** Equi-DEPTH histogram of order totals (the ANALYZE histogram the
    * optimizer's selectivity estimates come from — [[charHistogram]] is
    * the equal-WIDTH sibling): nine exact-percentile cutpoints from ONE
    * aggregate (`percentile` with a percentage array), attached as a
    * 1-row broadcast, then bucket = 1 + Σ(value > cut_i) as nine STATIC
    * codegen'd comparisons (generated by the same loop that emits the
    * oracle SQL — no interpreted HOF, no global-window ntile over the
    * corpus), and one keyed aggregate for the per-bucket stats.
    */
  /** The equidepth bucket id `1 + Σ (v > cuts[i])` over an
    * (n−1)-cutpoint array — ONE definition of the boundary semantics
    * (strict `>`: a value equal to a cutpoint stays in the lower
    * bucket), shared by [[equidepthHistogram]] and
    * [[CurationOps.curriculumPhases]] so the two instantiations cannot
    * diverge (r15 s3 review).
    */
  private[graft] def equidepthBucket(v: org.apache.spark.sql.Column,
      cuts: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    (1 until n).foldLeft(lit(1)) { (acc, i) =>
      acc + when(v > element_at(cuts, i), 1).otherwise(0)
    }

  /** The same bucket id as a DuckDB expression (1-based list index). */
  private[graft] def equidepthBucketOracle(v: String, cuts: String,
      n: Int): String =
    "1 + " + (1 until n)
      .map(i => s"(CASE WHEN $v > $cuts[$i] THEN 1 ELSE 0 END)")
      .mkString(" + ")

  def equidepthHistogram(s: SparkSession, dir: String): DataFrame = {
    val ps = (1 to 9).map(_ / 10.0)
    val cuts = Tables(s, dir, "orders")
      .agg(percentile(col("o_totalprice"),
        array(ps.map(lit): _*)).as("cuts"))
    val bucket = equidepthBucket(col("o_totalprice"), col("cuts"), 10)
    Tables(s, dir, "orders").select(col("o_totalprice"))
      .crossJoin(broadcast(cuts))
      .select(bucket.as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy("bucket")
  }

  val equidepthHistogramOracle: String = {
    val bucket = equidepthBucketOracle("o_totalprice", "cuts", 10)
    s"""WITH c AS (
       |  SELECT quantile_cont(o_totalprice,
       |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
       |  FROM orders)
       |SELECT bucket, count(*) AS n_orders,
       |       round(min(o_totalprice), 2) AS lo,
       |       round(max(o_totalprice), 2) AS hi
       |FROM (SELECT $bucket AS bucket, o_totalprice FROM orders, c)
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Time-hierarchy sketch rollup — the lambda-architecture pattern: 720
    * HOURLY KMV distinct-user sketches merge into 30 DAILY cardinality
    * estimates WITHOUT re-reading events. Sketch merge is pure array
    * algebra (flatten → distinct → sort → keep k smallest — the KMV union
    * is closed under exactly this), and the Beyer et al. estimate
    * (k−1)/u_k applies to the merged sketch as if it had been built from
    * the raw day. Hours with < k distinct users contribute their entire
    * (exact) hash set, so the merged estimate degrades nowhere. The exact
    * daily distinct rides alongside as the error audit.
    *
    * Scale: this is how a 100 TB event lake serves "distinct users for
    * ANY date range" — O(k) state per grain cell, merges proportional to
    * cells (not events), md5-deterministic so the estimate itself is
    * oracle-EXACT. One events scan for the hourly partials (the daily
    * level touches only the 720-row sketch table), one for the audit.
    */
  def kmvRollup(s: SparkSession, dir: String): DataFrame = {
    val K = 32
    val hashed = Tables(s, dir, "events").select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
      md5(col("user_id").cast("string").cast("binary")).as("h"),
      col("user_id"))
    val hourly = hashed.groupBy(col("day"), col("hour"))
      .agg(graft.functions.KmvSketch.kmvSmallest(col("h"), K).as("sk"))
    // array_remove guards the all-null-users hour: an empty sketch string
    // splits to [""], which would sort before every md5 hash and displace
    // a real one from the day's k-smallest (latent on this fixture — no
    // null user_ids — but real on a nullable lake)
    val daily = hourly.groupBy(col("day"))
      .agg(count(lit(1)).as("n_hours"),
        slice(array_sort(array_distinct(array_remove(
          flatten(collect_list(split(col("sk"), ","))), ""))), 1, K).as("u"))
      .withColumn("m", size(col("u")))
      .withColumn("est_users",
        round(when(col("m") < K, col("m").cast("double"))
          .otherwise(lit((K - 1).toDouble) /
            graft.functions.KmvSketch.hexPrefixUniform(
              element_at(col("u"), K))), 2))
    val exact = hashed.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    daily.join(exact, "day")
      .select(col("day"), col("n_hours"), col("est_users"),
        col("exact_users"))
      .orderBy("day")
  }

  val kmvRollupOracle: String = {
    val umax = graft.functions.KmvSketch.hexPrefixUniformSql("u[len(u)]")
    s"""WITH e AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day,
       |         strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       |         md5(CAST(user_id AS VARCHAR)) AS h, user_id
       |  FROM events),
       |hh AS (SELECT DISTINCT day, hour, h FROM e),
       |r AS (SELECT day, hour, h,
       |             row_number() OVER (PARTITION BY day, hour ORDER BY h)
       |               AS rn
       |      FROM hh),
       |hourly AS (SELECT day, hour, list(h ORDER BY h) AS sk
       |           FROM r WHERE rn <= 32 GROUP BY day, hour),
       |flat AS (SELECT DISTINCT day, unnest(sk) AS h FROM hourly),
       |r2 AS (SELECT day, h,
       |              row_number() OVER (PARTITION BY day ORDER BY h) AS rn
       |       FROM flat),
       |u AS (SELECT day, list(h ORDER BY h) AS u
       |      FROM r2 WHERE rn <= 32 GROUP BY day),
       |nh AS (SELECT day, count(*) AS n_hours FROM hourly GROUP BY day),
       |ex AS (SELECT day, count(DISTINCT user_id) AS exact_users
       |       FROM e GROUP BY day)
       |SELECT day, n_hours,
       |       round(CASE WHEN len(u) < 32 THEN CAST(len(u) AS DOUBLE)
       |                  ELSE 31.0 / ($umax) END, 2) AS est_users,
       |       exact_users
       |FROM u JOIN nh USING (day) JOIN ex USING (day)
       |ORDER BY day""".stripMargin
  }

  /** Population-stability drift (PSI) between the first and second half of
    * the event stream — the feature-drift monitor every deployed model
    * pipeline runs: decile cutpoints learned on the REFERENCE period bin
    * both periods (the [[equidepthHistogram]] static-comparison pass —
    * binning is nine codegen'd comparisons against a 1-row broadcast, no
    * corpus window), then PSI_i = (p_a − p_b)·ln(p_a/p_b) per bin with the
    * standard 1e-6 floor so an emptied bin reads as a large finite term
    * instead of ∞. Σ PSI > 0.2 is the conventional retrain trigger; the
    * per-bin terms localize WHERE the distribution moved.
    */
  def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val ps = (1 to 9).map(_ / 10.0)
    val ev = Tables(s, dir, "events")
      .select(col("value"), (dayofmonth(col("ts")) <= 15).as("is_a"))
    val cuts = ev.filter(col("is_a"))
      .agg(percentile(col("value"), array(ps.map(lit): _*)).as("cuts"))
    val bucket = (1 to 9).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("value") > element_at(col("cuts"), i), 1).otherwise(0)
    }
    val counts = ev.crossJoin(broadcast(cuts))
      .select(col("is_a"), bucket.as("bin"))
      .groupBy(col("bin"))
      .agg(count(when(col("is_a"), 1)).as("n_a"),
        count(when(!col("is_a"), 1)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).cast("double").as("ta"),
      sum(col("n_b")).cast("double").as("tb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("pa", greatest(col("n_a").cast("double") / col("ta"),
        lit(1e-6)))
      .withColumn("pb", greatest(col("n_b").cast("double") / col("tb"),
        lit(1e-6)))
      .select(col("bin"), col("n_a"), col("n_b"),
        round(col("pa"), 4).as("pa"), round(col("pb"), 4).as("pb"),
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6)
          .as("psi_term"))
      .orderBy("bin")
  }

  val driftPsiOracle: String = {
    val terms = (1 to 9).map { i =>
      s"(CASE WHEN value > cuts[$i] THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ev AS (
       |  SELECT value, date_part('day', ts) <= 15 AS is_a FROM events),
       |c AS (
       |  SELECT quantile_cont(value,
       |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
       |  FROM ev WHERE is_a),
       |counts AS (
       |  SELECT bin, count(*) FILTER (is_a) AS n_a,
       |         count(*) FILTER (NOT is_a) AS n_b
       |  FROM (SELECT is_a, 1 + $terms AS bin FROM ev, c)
       |  GROUP BY bin),
       |tot AS (
       |  SELECT CAST(sum(n_a) AS DOUBLE) AS ta,
       |         CAST(sum(n_b) AS DOUBLE) AS tb FROM counts),
       |p AS (
       |  SELECT bin, n_a, n_b,
       |         greatest(CAST(n_a AS DOUBLE) / ta, 1e-6) AS pa,
       |         greatest(CAST(n_b AS DOUBLE) / tb, 1e-6) AS pb
       |  FROM counts, tot)
       |SELECT bin, n_a, n_b, round(pa, 4) AS pa, round(pb, 4) AS pb,
       |       round((pa - pb) * ln(pa / pb), 6) AS psi_term
       |FROM p ORDER BY bin""".stripMargin
  }

  /** Foreign-key discovery — schema profiling by CONTAINMENT: for each
    * candidate (child.column → parent.column) pair, the fraction of the
    * child's distinct values found in the parent. True FK edges score
    * 1.0; the deliberately wrong pair (o_custkey → s_suppkey) scores the
    * accidental overlap — the separation a profiler needs to PROPOSE
    * keys on an undocumented 100 TB lake.
    *
    * Scale shape: each side reduces to its DISTINCT key set FIRST (one
    * pruned-scan keyed aggregate per column — never a row-level join),
    * then a left-semi join between the two key sets counts the
    * intersection; parents are key-sized, so AQE broadcasts them. Four
    * candidate pairs = four independent subtrees in one union — at
    * production scale each pair's distinct sets would come from the
    * ANALYZE pass ([[tableProfile]]) instead of re-scanning.
    */
  def fkDiscovery(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childCol: String,
        parent: DataFrame, parentCol: String): DataFrame = {
      val ckeys = child.select(col(childCol).as("k"))
        // r13 ckpt audit: key-sized set feeds the semi-join AND its
        // own count; A/B at sf0.1 warm: 1.29 s with / 1.37 s without — keep
        .filter(col("k").isNotNull).distinct().localCheckpoint()
      val pkeys = parent.select(col(parentCol).as("k")).distinct()
      val contained = ckeys.join(pkeys, Seq("k"), "left_semi")
        .agg(count(lit(1)).as("n_contained"))
      ckeys.agg(count(lit(1)).as("n_child_keys"))
        .crossJoin(broadcast(contained))
        .select(lit(name).as("candidate"), col("n_child_keys"),
          col("n_contained"),
          round(col("n_contained").cast("double") /
            col("n_child_keys"), 4).as("containment"))
    }
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val sup = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    edge("lineitem.l_orderkey->orders.o_orderkey", li, "l_orderkey", o, "o_orderkey")
      .unionByName(edge("orders.o_custkey->customer.c_custkey", o, "o_custkey", c, "c_custkey"))
      .unionByName(edge("customer.c_nationkey->nation.n_nationkey", c, "c_nationkey", n, "n_nationkey"))
      .unionByName(edge("orders.o_custkey->supplier.s_suppkey", o, "o_custkey", sup, "s_suppkey"))
      .orderBy("candidate")
  }

  val fkDiscoveryOracle: String = {
    def e(name: String, ct: String, cc: String, pt: String, pc: String) =
      s"""SELECT '$name' AS candidate,
         |       CAST(count(*) AS BIGINT) AS n_child_keys,
         |       CAST(count(*) FILTER (k IN (SELECT $pc FROM $pt))
         |         AS BIGINT) AS n_contained,
         |       round(CAST(count(*) FILTER (k IN (SELECT $pc FROM $pt))
         |         AS DOUBLE) / count(*), 4) AS containment
         |FROM (SELECT DISTINCT $cc AS k FROM $ct WHERE $cc IS NOT NULL)""".stripMargin
    Seq(
      e("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      e("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      e("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      e("orders.o_custkey->supplier.s_suppkey", "orders", "o_custkey", "supplier", "s_suppkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
  }

  /** Contiguous global ranking WITHOUT a single-partition window — the
    * scale answer to `row_number() OVER (ORDER BY …)`: exact decile
    * cutpoints (one aggregate, the [[equidepthHistogram]] pass) split the
    * data into value buckets; ranks are bucket offset + LOCAL rank, where
    * the local window partitions by bucket (a keyed shuffle, never one
    * task) and the ≤10-row offset table (running sum over bucket counts)
    * broadcasts. Emits every 50th rank as the verification sample. The
    * oracle is the definitional global window — same ranks, different
    * plan, which is the point.
    */
  def globalRank(s: SparkSession, dir: String): DataFrame = {
    val ps = (1 to 9).map(_ / 10.0)
    val cuts = Tables(s, dir, "documents")
      .agg(percentile(col("n_chars"), array(ps.map(lit): _*)).as("cuts"))
    val bucket = (1 to 9).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("n_chars") > element_at(col("cuts"), i), 1)
        .otherwise(0)
    }
    val bucketed = Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_chars"), bucket.as("bucket"))
      // r13 ckpt audit: offsets + final ranks both walk the bucketed
      // table; A/B at sf0.1 warm: 0.65 s with / 0.78 s without — keep
      .localCheckpoint()
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("offset"))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col("n_chars"), col("doc_id"))
    bucketed
      .withColumn("local_rank", row_number().over(localW))
      .join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("n_chars"),
        (col("offset") + col("local_rank")).as("global_rank"))
      .filter((col("global_rank") % 50) === 0)
      .orderBy("global_rank")
  }

  val globalRankOracle: String =
    """SELECT doc_id, n_chars, global_rank FROM (
      |  SELECT doc_id, n_chars,
      |         row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank
      |  FROM documents)
      |WHERE global_rank % 50 = 0 ORDER BY global_rank""".stripMargin

  /** Join-key skew diagnostic — the profiling pass that decides between a
    * plain shuffle join, AQE's runtime skew split, and the deterministic
    * [[graft.ops.SkewOps.saltedJoin]] fallback. Per-key frequencies of
    * `l_suppkey` (a real join key) in one keyed aggregate, then the
    * distribution summary: key/row totals, mean/p99/max rows per key,
    * max/mean skew ratio, and the number of keys above 4× the mean (the
    * salting candidates). The per-key count frame is key-sized, not
    * corpus-sized, and is localCheckpointed because both the summary and
    * the hot-key count read it — one corpus scan total. The hot-key
    * threshold uses the DEFINITIONAL mean (n_rows/n_keys, both exact
    * longs) so the boundary arithmetic is identical on both engines.
    */
  def skewStats(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir, "lineitem")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      // r13 ckpt audit: A/B at sf0.1 warm read 0.32 s with / 0.28 s
      // without — a local wash, but WITHOUT it both consumers re-pay the
      // corpus-wide groupBy shuffle (PlanLint budget caught 3→6
      // exchanges), which is the wrong 100× shape — keep
      .localCheckpoint()
    val summary = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"),
      round(avg(col("cnt")), 4).as("mean_rows_per_key"),
      round(percentile(col("cnt").cast("double"), lit(0.99)), 4)
        .as("p99_rows_per_key"),
      max(col("cnt")).as("max_rows_per_key"),
      round(max(col("cnt")) / avg(col("cnt")), 4).as("skew_ratio"))
    val hot = counts.crossJoin(broadcast(
        counts.agg((sum(col("cnt")).cast("double") /
          count(lit(1))).as("mean"))))
      .filter(col("cnt") > lit(4.0) * col("mean"))
      .agg(count(lit(1)).as("n_hot_keys"))
    summary.crossJoin(broadcast(hot))
  }

  val skewStatsOracle: String =
    """WITH c AS (
      |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |         CAST(sum(cnt) AS BIGINT) AS n_rows,
      |         round(avg(cnt), 4) AS mean_rows_per_key,
      |         round(quantile_cont(CAST(cnt AS DOUBLE), 0.99), 4)
      |           AS p99_rows_per_key,
      |         max(cnt) AS max_rows_per_key,
      |         round(max(cnt) / avg(cnt), 4) AS skew_ratio
      |  FROM c),
      |h AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_hot_keys
      |  FROM c, m WHERE cnt > 4.0 * (CAST(n_rows AS DOUBLE) / n_keys))
      |SELECT * FROM m, h""".stripMargin

  /** The quantiles [[quantileSketch]] estimates — ONE schedule generates
    * both the Spark select and the oracle SQL (the [[graft.ops.LayoutOps]]
    * single-source discipline), so est-column parity is definitional.
    */
  private val sketchQs: Seq[(String, Double)] =
    Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9)

  /** Single-pass quantile ESTIMATES per event type from the
    * [[graft.functions.SampleQuantile]] hash-sample sketch (k = 512
    * smallest-md5 rows per group — a uniform, merge-order-independent
    * sample; rank error O(1/√k)), with the exact interpolated median
    * computed alongside so the sketch's error is visible in the output.
    * Scale shape: the sketch is an O(k) mergeable buffer with map-side
    * partial aggregation — k pairs per partition per group on the wire —
    * where [[equidepthHistogram]]'s exact `percentile` ships every value
    * to its group's reducer; at 100 TB the sketch is the affordable
    * first pass and the exact form the per-bucket refinement. Estimates
    * are SELECTED raw data values (no interpolation), so the oracle's
    * rank-over-hash window reproduces them bit-for-bit.
    */
  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    val k = 512
    val smp = col("smp")
    val ests = sketchQs.map { case (name, q) =>
      element_at(smp,
        ceil(lit(q) * size(smp)).cast("int")).as(s"${name}_est")
    }
    Tables(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        md5(col("event_id").cast("string")).as("h"), col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.SampleQuantile.hashSample(col("h"), col("value"), k)
          .as("smp"),
        round(percentile(col("value"), lit(0.5)), 4).as("p50_exact"))
      .select(Seq(col("event_type"), col("n_rows"),
        size(smp).cast("long").as("n_sample")) ++ ests :+ col("p50_exact"): _*)
      .withColumn("p50_err", round(abs(col("p50_est") - col("p50_exact")), 4))
      .orderBy("event_type")
  }

  val quantileSketchOracle: String = {
    val estTerms = sketchQs.map { case (name, q) =>
      s"max(CASE WHEN vr = CAST(ceil($q * m) AS BIGINT) THEN value END) AS ${name}_est"
    }.mkString(",\n         ")
    val estCols = sketchQs.map { case (name, _) => s"${name}_est" }.mkString(", ")
    s"""WITH h AS (
       |  SELECT event_type, value, md5(CAST(event_id AS VARCHAR)) AS hh
       |  FROM events WHERE value IS NOT NULL),
       |r AS (
       |  SELECT event_type, value,
       |         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rk
       |  FROM h),
       |o AS (
       |  SELECT event_type, value,
       |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
       |         count(*) OVER (PARTITION BY event_type) AS m
       |  FROM r WHERE rk <= 512),
       |est AS (
       |  SELECT event_type, max(m) AS n_sample,
       |         $estTerms
       |  FROM o GROUP BY event_type),
       |ex AS (
       |  SELECT event_type, count(*) AS n_rows,
       |         round(quantile_cont(value, 0.5), 4) AS p50_exact
       |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
       |SELECT est.event_type, n_rows, n_sample, $estCols, p50_exact,
       |       round(abs(p50_est - p50_exact), 4) AS p50_err
       |FROM est JOIN ex USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  /** Sample autocorrelation of the daily order-revenue series at calendar
    * lags 1–7 days — the seasonality probe behind [[EventOps]]'
    * seasonal profile. Deliberately NOT the window-function formulation
    * (`lag(x, k) OVER (ORDER BY d)` funnels the whole series through one
    * task): lagged pairs come from a DATE-KEYED equi-join of the daily
    * aggregate against itself shifted by k days (missing calendar days
    * simply produce no pair), with the 7-row lag dimension broadcast. The
    * series is a date-domain-bounded aggregate (~2.4k rows at any SF —
    * same boundedness argument as `pareto_frontier`), so even the
    * self-join is manifest-sized; `corr` is Spark's/DuckDB's shared
    * sample-Pearson, rounded past summation-order noise.
    */
  def autocorrLag(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(col("o_totalprice")).as("x"))
    val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
    val prev = daily.select(col("d").as("d_prev"), col("x").as("x_prev"))
    daily.join(broadcast(lags))
      .withColumn("d_prev", date_sub(col("d"), col("lag")))
      .join(prev, "d_prev")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("x"), col("x_prev")), 6).as("acf"))
      .orderBy("lag")
  }

  val autocorrLagOracle: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
      |  FROM orders GROUP BY 1),
      |ks AS (SELECT unnest(generate_series(1, 7)) AS lag)
      |SELECT CAST(k.lag AS INTEGER) AS lag, count(*) AS n_pairs,
      |       round(corr(a.x, b.x), 6) AS acf
      |FROM ks k
      |JOIN daily a ON true
      |JOIN daily b ON b.d = a.d - CAST(k.lag || ' days' AS INTERVAL)
      |GROUP BY k.lag ORDER BY lag""".stripMargin

  /** Kaplan–Meier survival estimator (JASA 1958) over TIME-TO-REPEAT-
    * PURCHASE: for each customer the subject interval runs from their
    * first order date to their second DISTINCT order date (the event);
    * customers who never reorder are RIGHT-CENSORED at the study end
    * (max order date) — the administrative-censoring design every
    * retention/churn analysis uses. S(t) = Π_{u≤t} (1 − d_u/n_u) with
    * the standard tie convention (subjects censored at t stay in the
    * risk set at t).
    *
    * Numerics: d_t, c_t and the risk set are exact BIGINTs — n_t is the
    * REVERSE cumulative subject count (Σ from current row to the end),
    * so no total-minus-lag subtraction chain; the only floats are the
    * per-row 1 − d/n factors, multiplied as exp∘Σ∘ln in identical row
    * order on both engines (the [[driftPsi]] ln/exp cross-engine
    * precedent), with an exhausted risk set (d = n on the final day)
    * clamped to −1e9 so S underflows to exactly 0.0 rather than ln(0).
    *
    * Scale shape: two keyed aggregates on o_custkey + one keyed
    * aggregate on duration; the two cumulative windows are unpartitioned
    * BUT sit on the duration-day aggregate — cardinality ≤ the ~2,500-day
    * TPC-H order calendar by construction (PlanLint whitelist), and both
    * share one WindowExec sort. Study end is a 1-row scalar broadcast.
    */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Tables(s, dir, "orders")
      .select(col("o_custkey").as("c"), col("o_orderdate").cast("date").as("d"))
    val studyEnd = ord.agg(max(col("d")).as("study_end"))
    val first = ord.groupBy(col("c")).agg(min(col("d")).as("d1"))
    val second = ord.join(first, "c").filter(col("d") > col("d1"))
      .groupBy(col("c")).agg(min(col("d")).as("d2"))
    val subjects = first.join(second, Seq("c"), "left")
      .crossJoin(broadcast(studyEnd))
      .select(
        when(col("d2").isNotNull, datediff(col("d2"), col("d1")))
          .otherwise(datediff(col("study_end"), col("d1")))
          .cast("long").as("duration"),
        col("d2").isNotNull.cast("long").as("observed"))
    val byDur = subjects.groupBy(col("duration"))
      .agg(count(lit(1)).as("n_subjects"), sum(col("observed")).as("events"))
      .withColumn("censored", col("n_subjects") - col("events"))
    val byT = Window.orderBy(col("duration"))
    val atRisk = sum(col("n_subjects"))
      .over(byT.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val lnFactor = when(col("events") < col("at_risk"),
      log(lit(1.0) - col("events").cast("double") / col("at_risk")))
      .otherwise(lit(-1e9))
    byDur.withColumn("at_risk", atRisk)
      .withColumn("survival", round(exp(sum(lnFactor)
        .over(byT.rowsBetween(Window.unboundedPreceding, Window.currentRow))), 6))
      .select(col("duration"), col("at_risk"), col("events"), col("censored"),
        col("survival"))
      .orderBy(col("duration"))
  }

  val kaplanMeierOracle: String =
    """WITH se AS (SELECT max(CAST(o_orderdate AS DATE)) AS study_end FROM orders),
      |f AS (SELECT o_custkey AS c, min(CAST(o_orderdate AS DATE)) AS d1
      |      FROM orders GROUP BY 1),
      |snd AS (SELECT o.o_custkey AS c, min(CAST(o.o_orderdate AS DATE)) AS d2
      |        FROM orders o JOIN f ON o.o_custkey = f.c
      |          AND CAST(o.o_orderdate AS DATE) > f.d1
      |        GROUP BY 1),
      |subj AS (
      |  SELECT CASE WHEN snd.d2 IS NOT NULL
      |           THEN date_diff('day', f.d1, snd.d2)
      |           ELSE date_diff('day', f.d1, (SELECT study_end FROM se)) END
      |           AS duration,
      |         CASE WHEN snd.d2 IS NOT NULL THEN 1 ELSE 0 END AS observed
      |  FROM f LEFT JOIN snd ON f.c = snd.c),
      |g AS (SELECT CAST(duration AS BIGINT) AS duration,
      |             count(*) AS n_subjects,
      |             CAST(sum(observed) AS BIGINT) AS events
      |      FROM subj GROUP BY 1),
      |r AS (SELECT duration, n_subjects, events,
      |             n_subjects - events AS censored,
      |             CAST(sum(n_subjects) OVER (ORDER BY duration
      |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |               AS BIGINT) AS at_risk
      |      FROM g)
      |SELECT duration, at_risk, events, censored,
      |       round(exp(sum(CASE WHEN events < at_risk
      |           THEN ln(1 - CAST(events AS DOUBLE) / at_risk)
      |           ELSE -1e9 END)
      |         OVER (ORDER BY duration
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
      |         AS survival
      |FROM r ORDER BY duration""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kaplan_meier" -> (kaplanMeier _),
    "autocorr_lag" -> (autocorrLag _),
    "fk_discovery" -> (fkDiscovery _),
    "global_rank" -> (globalRank _),
    "kmv_rollup" -> (kmvRollup _),
    "sql_date_spine" -> (sqlDateSpine _),
    "drift_psi" -> (driftPsi _),
    "skew_stats" -> (skewStats _),
    "quantile_sketch" -> (quantileSketch _),
    "equidepth_histogram" -> (equidepthHistogram _),
    "corr_matrix" -> (corrMatrix _),
    "cohort_retention" -> (cohortRetention _),
    "brand_affinity" -> (brandAffinity _),
    "kmv_user_sketch" -> (kmvUserSketch _),
    "doc_grouping_sets" -> (docGroupingSets _),
    "merge_upsert" -> (mergeUpsert _),
    "pagerank_step" -> (pagerankStep _),
    "pagerank_2step" -> (pagerank2Step _),
    "ppr_2step" -> (ppr2Step _),
    "scd2_customer" -> (scd2Customer _),
    "cube_order_stats" -> (cubeOrderStats _),
    "kmv_overlap" -> (kmvOverlap _),
    "set_ops_all" -> (setOpsAll _),
    "table_profile" -> (tableProfile _),
    "salted_join_check" -> (saltedJoinCheck _),
    "sql_lateral" -> (sqlLateral _),
    "trailing_30d_spend" -> (trailing30dSpend _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "pivot_priority_year" -> (pivotPriorityYear _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "sparse_cosine_pairs" -> (sparseCosinePairs _),
    "bm25_search" -> (bm25Search _),
    "incremental_sparse" -> (incrementalSparse _),
    "char_histogram" -> (charHistogram _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "window_dedup_latest" -> (windowDedupLatest _),
    "cardinality_sketches" -> (cardinalitySketches _),
    "anti_join_customers" -> (antiJoinCustomers _),
    "scalar_subquery_orders" -> (scalarSubqueryOrders _),
    "sql_q3" -> (sqlQ3 _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "set_ops_customers" -> (setOpsCustomers _),
    "q1_rollup" -> (q1Rollup _),
    "events_value_stats" -> (eventsValueStats _),
    "asof_join_attribution" -> (asofJoinAttribution _),
    "running_total" -> (runningTotal _))

  val oracles: Map[String, String] = Map(
    "kaplan_meier" -> kaplanMeierOracle,
    "autocorr_lag" -> autocorrLagOracle,
    "fk_discovery" -> fkDiscoveryOracle,
    "global_rank" -> globalRankOracle,
    "kmv_rollup" -> kmvRollupOracle,
    "sql_date_spine" -> sqlDateSpineText,
    "drift_psi" -> driftPsiOracle,
    "skew_stats" -> skewStatsOracle,
    "quantile_sketch" -> quantileSketchOracle,
    "equidepth_histogram" -> equidepthHistogramOracle,
    "corr_matrix" -> corrMatrixOracle,
    "cohort_retention" -> cohortRetentionOracle,
    "brand_affinity" -> brandAffinityOracle,
    "kmv_user_sketch" -> kmvUserSketchOracle,
    "doc_grouping_sets" -> groupingSetsText,
    "merge_upsert" -> mergeUpsertOracle,
    "pagerank_step" -> pagerankStepOracle,
    "pagerank_2step" -> pagerank2StepOracle,
    "ppr_2step" -> ppr2StepOracle,
    "scd2_customer" -> scd2CustomerOracle,
    "cube_order_stats" -> cubeOrderStatsOracle,
    "kmv_overlap" -> kmvOverlapOracle,
    "set_ops_all" -> setOpsAllOracle,
    "table_profile" -> tableProfileOracle,
    "salted_join_check" -> saltedJoinCheckOracle,
    "sql_lateral" -> sqlLateralText,
    "trailing_30d_spend" -> trailing30dSpendOracle,
    "q10_returned_items" -> q10Oracle,
    "q14_promo_revenue" -> q14Oracle,
    "q18_large_orders" -> q18Oracle,
    "q19_disjunctive" -> q19Oracle,
    "pivot_priority_year" -> pivotPriorityYearOracle,
    "q6_forecast_revenue" -> q6Oracle,
    "tfidf_top_terms" -> tfidfOracle,
    "sparse_cosine_pairs" -> sparseCosinePairsOracle,
    "bm25_search" -> bm25SearchOracle,
    "incremental_sparse" -> incrementalSparseOracle,
    "char_histogram" -> charHistogramOracle,
    "q5_local_supplier" -> q5Oracle,
    "window_dedup_latest" -> windowDedupOracle,
    "anti_join_customers" -> antiJoinOracle,
    "scalar_subquery_orders" -> scalarSubqueryOracle,
    "sql_q3" -> sqlQ3Text,
    "q1_pricing_summary" -> q1Oracle,
    "q3_shipping_priority" -> q3Oracle,
    "set_ops_customers" -> setOpsOracle,
    "q1_rollup" -> q1RollupOracle,
    "events_value_stats" ->
      """SELECT event_type, count(*) AS n,
        |       round(min(value), 4) AS min_v, round(max(value), 4) AS max_v,
        |       round(avg(value), 4) AS avg_v,
        |       round(stddev_samp(value), 4) AS stddev_v,
        |       round(quantile_cont(value, 0.5), 4) AS median_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "asof_join_attribution" -> asofJoinOracle,
    "running_total" -> runningTotalOracle)
}
