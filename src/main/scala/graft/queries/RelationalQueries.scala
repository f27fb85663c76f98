package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Query._

/** Relational / bench-surface queries, each declared with its oracle. */
private[graft] object RelationalQueries {

  /**
   * Exact order-independent money sum surfaced as DOUBLE, value-identical
   * to the oracle's `CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)` but
   * ~3x faster: 4-decimal fixed-point values sum as codegen'd longs with
   * no per-row BigDecimal. Safe because the inputs are money columns
   * (<= 4 true decimal digits, so round(x*1e4) is unambiguous — verified
   * max scaled residual 1.2e-7 across the testdata) and the scaled total
   * stays under 2^53 (exact long->double) through sf1.
   *
   * Guarded, not assumed: a value with >4 true decimal digits (residual
   * after scaling > 1e-3) or one whose scaled magnitude exceeds 2^53
   * (inexact double->long) raises instead of silently hash-diverging from
   * the decimal oracle. The guard is two codegen'd comparisons per row.
   * NOT guarded (documented ceiling): the summed total wrapping past 2^63
   * — at 4-decimal scale that needs >9.2e14 in absolute sum, far beyond
   * any TPC-H sf this runs at; switch to sum(CAST(x AS DECIMAL(18,4)))
   * if a column can exceed it.
   */
  private def moneyScaled(c: Column): Column = {
    val scaled = c * 10000
    val r = round(scaled)
    when(abs(scaled - r) > 1e-3 || abs(r) > 9.007199254740992e15,
      raise_error(concat(lit("moneyScaled: value outside exact 4-decimal fixed-point range: "),
        c.cast("string"))))
      .otherwise(r)
      .cast("long")
  }
  private def moneySum(c: Column): Column =
    sum(moneyScaled(c)).cast("double") / 10000.0

  val entries: Seq[Query] = Seq(
    sql("tpch_q1", (s, dir) => {
      val li = GraftSession.table(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    })(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    sql("tpch_q6", (s, dir) => {
      // Scan-shaped forecast-revenue query: every predicate reaches the
      // parquet scan as a pushed filter; the sum is one partial-agg
      // shuffle of a single row per partition.
      val li = GraftSession.table(s, dir, "lineitem")
      li.filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    })(
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),
    sql("tpch_q3", (s, dir) => {
      // Shipping-priority shape (adapted: this schema carries
      // o_orderpriority, not o_shippriority): filtered customer dim
      // broadcasts; orders join lineitem on the fact key once.
      val cust = GraftSession.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = GraftSession.table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      val li = GraftSession.table(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    })(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),
    sql("topk_parts", (s, dir) => {
      val li = GraftSession.table(s, dir, "lineitem")
      val part = GraftSession.table(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("p_partkey"))
        .limit(10)
    })(
      """SELECT p_partkey, p_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey, p_name
        |ORDER BY revenue DESC, p_partkey LIMIT 10""".stripMargin),
    sql("window_running", (s, dir) => {
      val li = GraftSession.table(s, dir, "lineitem").filter(col("l_suppkey") <= 3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      li.select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          (sum(moneyScaled(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .over(w).cast("double") / 10000.0).as("running_rev"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    })(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |    OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    sql("sql_surface", (s, dir) => {
      // The SQL-parser face of the engine (reference has none, SURVEY
      // §2.6): temp views + spark.sql, with the oracle running the same
      // statement modulo table names.
      GraftSession.table(s, dir, "orders").createOrReplaceTempView("orders_v")
      GraftSession.table(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_mktsegment AS segment, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)
    })(
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin),
    sql("salted_join", (s, dir) => {
      // Skew-resilient join: result-identical to the plain join (which is
      // exactly what the oracle runs), so the gate proves the salting
      // rewrite is semantics-preserving.
      val li = GraftSession.table(s, dir, "lineitem")
      val ord = GraftSession.table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.SkewJoin.saltedJoin(li, ord, Seq("l_orderkey"), salts = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          moneySum(col("l_extendedprice")).as("total_price"))
        .orderBy("o_orderpriority")
    })(
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    sql("set_ops", (s, dir) => {
      val cust = GraftSession.table(s, dir, "customer")
      val ord = GraftSession.table(s, dir, "orders")
      val building = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val bigSpenders = ord.filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("c_custkey"))
      building.intersect(bigSpenders).withColumn("tag", lit("both"))
        .unionAll(
          building.except(bigSpenders).withColumn("tag", lit("building_only")))
        .orderBy("tag", "c_custkey")
    })(
      """SELECT c_custkey, 'both' AS tag FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |UNION ALL
        |SELECT c_custkey, 'building_only' AS tag FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY tag, c_custkey""".stripMargin),
    sql("pivot_events", (s, dir) => {
      val ev = GraftSession.table(s, dir, "events")
      ev.withColumn("bucket", col("user_id") % 10)
        .groupBy("bucket")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("bucket")
    })(
      """SELECT user_id % 10 AS bucket,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    sql("range_join", (s, dir) => {
      // Interval join with an equi-key: hash join on user_id + range
      // residual, not a BNL — the shape that survives scale-out.
      val ev = GraftSession.table(s, dir, "events")
      val base = ev.select(col("event_id"), col("user_id"),
        GraftSession.tsMillis("ts").as("ms"), col("event_type"))
      val p = base.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ms"))
      val c = base.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ms").as("click_ms"))
      p.join(c, col("user_id") === col("cu")
          && col("click_ms") >= col("ms") - 300000L && col("click_ms") < col("ms"),
          "left")
        .groupBy("event_id", "user_id", "ms")
        .agg(count(col("click_ms")).as("n_clicks_5m"))
        .orderBy("event_id")
    })(
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type FROM events),
        |p AS (SELECT event_id, user_id, ms FROM base WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS cu, ms AS click_ms FROM base WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ms, count(c.click_ms) AS n_clicks_5m
        |FROM p LEFT JOIN c ON p.user_id = c.cu
        |  AND c.click_ms >= p.ms - 300000 AND c.click_ms < p.ms
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    sql("topn_per_group", (s, dir) => {
      // Two-phase top-N (graft.ops.TopN): c_mktsegment has 5 values, so a
      // plain row_number window would sort the FULL orders table in <= 5
      // reducer tasks. Phase 1 keeps a bounded per-partition heap of the
      // top 3 per segment (no shuffle), phase 2 broadcast-joins the tiny
      // survivor key set back and ranks it — the window now sees
      // <= 3 * 5 * partitions rows instead of every order.
      import s.implicits._
      val ord = GraftSession.table(s, dir, "orders")
      val cust = GraftSession.table(s, dir, "customer")
      val base = ord.join(broadcast(cust.select(col("c_custkey"), col("c_mktsegment"))),
          ord("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("o_orderkey"), col("o_totalprice"))
      val keyed = base.select(col("segment"), col("o_orderkey").cast("long"),
          col("o_totalprice").cast("double"))
        .as[(String, Long, Double)]
      implicit val byPriceDescKeyAsc: Ordering[(String, Long, Double)] =
        Ordering.by(t => (-t._3, t._2))
      val surv = graft.ops.TopN.partitionTopN(keyed, 3)(_._1)
        .toDF("segment", "o_orderkey", "price")
        .select("o_orderkey")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("segment")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      base.join(broadcast(surv), "o_orderkey")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("segment"), col("rnk").cast("long").as("rnk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("segment", "rnk")
    })(
      """SELECT c_mktsegment AS segment, CAST(rnk AS BIGINT) AS rnk,
        |       o_orderkey, o_totalprice
        |FROM (SELECT o_orderkey, o_totalprice, c_mktsegment,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rnk <= 3 ORDER BY segment, rnk""".stripMargin),
    sql("sliding_window", (s, dir) => {
      val ev = GraftSession.table(s, dir, "events")
      ev.select(timestamp_millis(GraftSession.tsMillis("ts")).as("t"), col("value"))
        .groupBy(window(col("t"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("value")).as("total_value"))
        .select(unix_millis(col("window.start")).as("win_start_ms"),
          col("n"), col("total_value"))
        .orderBy("win_start_ms")
    })(
      """SELECT ((epoch_ms(ts) // 3600000) - r.off) * 3600000 AS win_start_ms,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events, range(0, 2) AS r(off)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    sql("semi_anti", (s, dir) => {
      val cust = GraftSession.table(s, dir, "customer")
      val ord = GraftSession.table(s, dir, "orders")
      val withO = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("with_orders").as("status"))
      val noO = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      withO.unionAll(noO).orderBy("c_custkey")
    })(
      """SELECT c_custkey, 'with_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    sql("grouping_sets", (s, dir) => {
      val cust = GraftSession.table(s, dir, "customer")
      val nat = GraftSession.table(s, dir, "nation")
      cust.join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          moneySum(col("c_acctbal")).as("total_bal"))
        .select(
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n_customers"), col("total_bal"))
        .orderBy("nation", "segment")
    })(
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |       coalesce(c_mktsegment, 'ALL') AS segment,
        |       count(*) AS n_customers,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, c_mktsegment)
        |ORDER BY nation, segment""".stripMargin),
    sql("json_extract", (s, dir) => {
      val ev = GraftSession.table(s, dir, "events")
      ev.select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("value"))
        .withColumn("k_bucket", col("k") % 10)
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("n"),
          moneySum(col("value")).as("total_value"))
        .orderBy("k_bucket")
    })(
      """SELECT (CAST(json_extract_string(props, '$.k') AS BIGINT)) % 10 AS k_bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    sql("scalar_funcs", (s, dir) => {
      val li = GraftSession.table(s, dir, "lineitem").filter(col("l_orderkey") < 500)
      li.select(
          col("l_orderkey"), col("l_linenumber"),
          year(col("l_shipdate")).cast("long").as("ship_year"),
          month(col("l_shipdate")).cast("long").as("ship_month"),
          dayofmonth(col("l_shipdate")).cast("long").as("ship_day"),
          datediff(col("l_shipdate"), lit("1995-01-01")).cast("long").as("days_since_95"),
          upper(col("l_returnflag")).as("flag_upper"),
          concat_ws("-", col("l_returnflag"), col("l_linestatus")).as("flag_status"),
          substring(col("l_returnflag"), 1, 1).as("flag_first"),
          length(concat(col("l_returnflag"), col("l_linestatus"))).cast("long").as("flag_len"),
          ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
          floor(col("l_extendedprice")).cast("long").as("price_floor"),
          (col("l_orderkey") % 7).as("key_mod7"),
          element_at(map(lit("A"), lit(1L), lit("N"), lit(2L), lit("R"), lit(3L)),
            col("l_returnflag")).as("flag_code"),
          abs(col("l_discount") - 0.05).as("disc_dev"),
          sqrt(col("l_extendedprice")).as("price_sqrt"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"))
        .orderBy("l_orderkey", "l_linenumber")
    })(
      """SELECT l_orderkey, l_linenumber,
        |  year(l_shipdate) AS ship_year,
        |  month(l_shipdate) AS ship_month,
        |  day(l_shipdate) AS ship_day,
        |  date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS days_since_95,
        |  upper(l_returnflag) AS flag_upper,
        |  concat_ws('-', l_returnflag, l_linestatus) AS flag_status,
        |  substring(l_returnflag, 1, 1) AS flag_first,
        |  CAST(length(concat(l_returnflag, l_linestatus)) AS BIGINT) AS flag_len,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  l_orderkey % 7 AS key_mod7,
        |  CAST(CASE l_returnflag WHEN 'A' THEN 1 WHEN 'N' THEN 2
        |       WHEN 'R' THEN 3 END AS BIGINT) AS flag_code,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  sqrt(l_extendedprice) AS price_sqrt,
        |  greatest(l_tax, l_discount) AS max_rate
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    sql("asof_join", (s, dir) => {
      val ev = GraftSession.table(s, dir, "events")
      val base = ev.select(col("event_id"), col("user_id"),
        expr("CAST(ts DIV 1000000 AS BIGINT)").as("ms"),
        col("event_type"), col("value"))
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms"), col("event_id"), col("value"))
      val clicks = base.filter(col("event_type") === "click")
        .select(col("user_id"), col("ms").as("click_ms"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.ops.AsOfJoin.asOfJoin(purchases, clicks,
          keyCols = Seq("user_id"), leftTs = "ms", rightTs = "click_ms", strict = true)
        .select("event_id", "user_id", "ms", "click_id", "click_ms")
        .orderBy("event_id")
    })(
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type, value FROM events),
        |purchases AS (SELECT user_id, ms, event_id, value FROM base WHERE event_type = 'purchase'),
        |clicks AS (SELECT user_id, ms AS click_ms, event_id AS click_id, value AS click_value
        |           FROM base WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ms, c.click_id, c.click_ms
        |FROM purchases p
        |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ms > c.click_ms
        |ORDER BY p.event_id""".stripMargin),
    sql("quantiles", (s, dir) => {
      val ev = GraftSession.table(s, dir, "events")
      ev.groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          min(col("value")).as("min_v"),
          max(col("value")).as("max_v"))
        .orderBy("event_type")
    })(
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    sql("approx_distinct", (s, dir) => {
      // HLL count surfaced as an oracle-checkable error-bound invariant:
      // the sketch value itself is engine-specific, but |approx - exact|
      // within the configured rsd's practical envelope is the contract.
      val ev = GraftSession.table(s, dir, "events")
      ev.groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users"))
            <= col("exact_users") * 0.1).as("approx_ok"))
        .orderBy("event_type")
    })(
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       true AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    sql("tumbling_window", (s, dir) => {
      val ev = GraftSession.table(s, dir, "events")
      ev.select(expr("CAST((ts DIV 1000000) DIV 3600000 AS BIGINT)").as("hour_bucket"),
          col("event_type"), col("value"))
        .groupBy("hour_bucket", "event_type")
        .agg(count(lit(1)).as("n"),
          moneySum(col("value")).as("total_value"))
        .orderBy("hour_bucket", "event_type")
    })(
      """SELECT epoch_ms(ts) // 3600000 AS hour_bucket, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    sql("sessionize", (s, dir) => {
      val ev = GraftSession.table(s, dir, "events")
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("user_id").orderBy("ms", "event_id")
      val withGap = ev
        .select(col("user_id"), col("event_id"), GraftSession.tsMillis("ts").as("ms"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_session",
          (col("prev_ms").isNull || (col("ms") - col("prev_ms")) > 1800000L).cast("int"))
      withGap
        .withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ms")).as("start_ms"),
          (max(col("ms")) - min(col("ms"))).as("duration_ms"))
        .orderBy("user_id", "session_id")
    })(
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
        |n AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session FROM g),
        |s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_id FROM n)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |       min(ms) AS start_ms, max(ms) - min(ms) AS duration_ms
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin))
}
