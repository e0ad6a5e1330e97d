package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.cents

/** The generalized relational operator inventory (SURVEY §2) exercised over
  * the driver testdata, each with a DuckDB oracle.
  *
  * Numeric discipline (cross-engine exactness): money columns are exact
  * 2-decimal doubles in the testdata, so all aggregation arithmetic runs in
  * integer cents/percent (`Tables.cents`) and converts to double only at the
  * final, deterministic division — identical bits in Spark and DuckDB, no
  * float-summation-order hazards. Oracle sums are CAST to BIGINT because
  * DuckDB's SUM(BIGINT) is HUGEINT.
  *
  * Scale notes: filters sit directly on the scanned columns (parquet
  * pushdown + column pruning), aggregations are partial+final hash
  * aggregates, the one dimension join under broadcast threshold is
  * explicitly `broadcast()`, and window functions partition on high-
  * cardinality keys.
  */
object RelationalQueries {

  private def pct(c: Column): Column = round(c * 100).cast("long")

  // q01 — SURVEY A1 generalization: multi-aggregate grouped scan (TPC-H Q1 shape).
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))).cast("double") / 100.0).as("sum_base_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
          .cast("double") / 10000.0).as("sum_disc_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount")))
            * (lit(100L) + pct(col("l_tax"))))
          .cast("double") / 1000000.0).as("sum_charge"),
        (sum(round(col("l_quantity")).cast("long")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(cents(col("l_extendedprice"))).cast("double") / 100.0 / count(lit(1))).as("avg_price"),
        (sum(pct(col("l_discount"))).cast("double") / 100.0 / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q02 — selective filter + single global aggregate (TPC-H Q6 shape);
  // every predicate reaches the parquet scan as a pushed filter.
  def q02RevenueFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1999-01-01").cast("timestamp") &&
              col("l_quantity") < 24)
      .filter(pct(col("l_discount")).between(5, 7))
      .agg(
        (sum(cents(col("l_extendedprice")) * pct(col("l_discount")))
          .cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q02Oracle: String =
    """SELECT
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      |  AND l_quantity < 24
      |  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7""".stripMargin

  // q03 — 3-way join + grouped agg + deterministic top-k (TPC-H Q3 shape).
  // customer scales with SF, so its join is left to AQE (auto-broadcast when
  // under threshold, shuffle join at scale); ordering key is the exact cents
  // sum.
  def q03TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li   = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
        .as("revenue_c4"))
      .orderBy(col("revenue_c4").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("revenue_c4").cast("double") / 10000.0).as("revenue"))
  }

  val q03Oracle: String =
    """SELECT o_orderkey, o_orderdate, CAST(revenue_c4 AS DOUBLE)/10000.0 AS revenue FROM (
      |  SELECT o_orderkey, o_orderdate,
      |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4
      |  FROM customer, orders, lineitem
      |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |    AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
      |  GROUP BY o_orderkey, o_orderdate
      |  ORDER BY revenue_c4 DESC, o_orderkey
      |  LIMIT 10
      |)""".stripMargin

  // q04 — left-semi join (EXISTS) + grouped count (TPC-H Q4 shape).
  def q04OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-10-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q04Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // q05 — 6-way snowflake join with co-located customer/supplier nation
  // (TPC-H Q5 shape). Fixed-size dims (nation 25, region 5) are explicitly
  // broadcast; SF-proportional sides (customer, supplier) are left to
  // AQE — broadcast at test scale, shuffle at 100 TB.
  def q05RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
                  col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
        .as("revenue_c4"))
      .select(col("n_name"),
        (col("revenue_c4").cast("double") / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q05Oracle: String =
    """SELECT n_name, CAST(CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS DOUBLE)/10000.0 AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // q06 — fact⋈dimension join + grouped stats (part scales with SF → AQE
  // picks broadcast vs shuffle from runtime stats).
  def q06BrandStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("long")).as("total_qty"),
        (sum(cents(col("l_extendedprice"))).cast("double") / 100.0).as("total_price"),
        (sum(round(col("l_quantity")).cast("long")).cast("double") / count(lit(1))).as("avg_qty"))
      .orderBy("p_brand")

  val q06Oracle: String =
    """SELECT p_brand, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_price,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q07 — left-anti join (NOT EXISTS): customers with no 1998+ orders
  // (every customer has *some* order in this testdata, so the anti side is
  // filtered to keep the result non-trivial).
  def q07CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        (sum(cents(col("c_acctbal"))).cast("double") / 100.0).as("total_acctbal"))
      .orderBy("c_mktsegment")

  val q07Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '1998-01-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // q08 — full-outer join with presence accounting (the CDC comparator's
  // join shape, SURVEY §2.5, over relational data).
  def q08NationAccounting(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_suppliers"))
    val c = Tables.customer(spark, dir).groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_customers"))
    s.join(c, col("sk") === col("ck"), "full_outer")
      .select(
        coalesce(col("sk"), col("ck")).as("nationkey"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        when(col("sk").isNotNull && col("ck").isNotNull, "BOTH")
          .when(col("sk").isNotNull, "SUPPLIER_ONLY")
          .otherwise("CUSTOMER_ONLY").as("status"))
      .orderBy("nationkey")
  }

  val q08Oracle: String =
    """SELECT COALESCE(sk, ck) AS nationkey,
      |  COALESCE(n_suppliers, 0) AS n_suppliers,
      |  COALESCE(n_customers, 0) AS n_customers,
      |  CASE WHEN sk IS NOT NULL AND ck IS NOT NULL THEN 'BOTH'
      |       WHEN sk IS NOT NULL THEN 'SUPPLIER_ONLY'
      |       ELSE 'CUSTOMER_ONLY' END AS status
      |FROM (SELECT s_nationkey AS sk, CAST(COUNT(*) AS BIGINT) AS n_suppliers FROM supplier GROUP BY 1) s
      |FULL OUTER JOIN (SELECT c_nationkey AS ck, CAST(COUNT(*) AS BIGINT) AS n_customers FROM customer GROUP BY 1) c
      |ON sk = ck
      |ORDER BY nationkey""".stripMargin

  // q09 — ranking window: top-3 orders per customer, exact-cents ordering.
  def q09TopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(cents(col("o_totalprice")).desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .orderBy("o_custkey", "rn")
  }

  val q09Oracle: String =
    """SELECT o_custkey, rn, o_orderkey, price_cents FROM (
      |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
      |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS INT) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // q10 — analytic window (lag) over the event stream: inter-event gap per
  // user. `ts` is epoch-nanos (Tables.events) but DuckDB reads the same
  // parquet as µs-truncated TIMESTAMP, so both sides (value AND window
  // ordering key) work at µs resolution.
  def q10UserEventGaps(spark: SparkSession, dir: String): DataFrame = {
    // integer div — `/` on longs is double division and loses precision
    // above 2^53 epoch-nanos
    val tsUs = expr("ts div 1000")
    val w = Window.partitionBy("user_id").orderBy(tsUs, col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_us", tsUs - lag(tsUs, 1).over(w))
      .select("user_id", "event_id", "gap_us")
      .orderBy("user_id", "event_id")
  }

  val q10Oracle: String =
    """SELECT user_id, event_id,
      |  CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS BIGINT) AS gap_us
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // q29 — correlated scalar subquery through the spark.sql surface (the
  // engine exposes its tables as temp views "for free", SURVEY §2.11):
  // orders at their customer's maximum price, ties included. Catalyst
  // decorrelates this into an aggregate + join — no per-row re-execution.
  def q29MaxOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
        |FROM orders_v o
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) = (
        |  SELECT MAX(CAST(round(o2.o_totalprice * 100) AS BIGINT))
        |  FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  val q29Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
      |FROM orders o
      |WHERE CAST(round(o_totalprice * 100) AS BIGINT) = (
      |  SELECT MAX(CAST(round(o2.o_totalprice * 100) AS BIGINT))
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // q30 — scalar subquery in HAVING (TPC-H Q11 shape): nations holding
  // more than 1/30 of total customer account balance. The subquery is a
  // one-row broadcast, the outer plan a plain partial+final agg.
  def q30NationBalanceShare(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_v")
    spark.sql(
      """SELECT n.n_name,
        |  CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer_v c JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |HAVING SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) >
        |  (SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) FROM customer_v) / 30
        |ORDER BY bal_cents DESC, n_name""".stripMargin)
  }

  val q30Oracle: String =
    """SELECT n.n_name,
      |  CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name
      |HAVING SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) >
      |  (SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) FROM customer) / 30
      |ORDER BY bal_cents DESC, n_name""".stripMargin

  // q31 — TPC-H Q22 pattern: above-average-balance customers with no 1997
  // orders, by market segment — scalar AVG subquery (one-row broadcast) +
  // left-anti join against a pushed-down date slice + grouped aggregate,
  // all in cents discipline. (Integer cents sum exactly in double below
  // 2^53, so the AVG threshold is bit-identical across engines regardless
  // of fold order.)
  def q31DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .withColumn("bal_cents", cents(col("c_acctbal")))
    val avgPos = cust.filter(col("bal_cents") > 0)
      .agg(avg(col("bal_cents")).as("avg_bal"))
    val orders1997 = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val dormant = cust
      .join(orders1997, col("c_custkey") === col("o_custkey"), "left_anti")
    dormant.crossJoin(broadcast(avgPos))
      .filter(col("bal_cents") > col("avg_bal"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        (sum(col("bal_cents")).cast("double") / 100.0).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val q31Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  CAST(SUM(bal_cents) AS DOUBLE)/100.0 AS total_bal
      |FROM (
      |  SELECT c_mktsegment,
      |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents, c_custkey
      |  FROM customer) c
      |WHERE bal_cents > (
      |    SELECT AVG(CAST(round(c_acctbal*100) AS BIGINT)) FROM customer
      |    WHERE CAST(round(c_acctbal*100) AS BIGINT) > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // q32 — TPC-H Q14 pattern: promo revenue share — conditional aggregate
  // ratio over a lineitem-part equi-join, one shuffle, cents-exact with
  // one final division.
  def q32PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-02-01").cast("timestamp"))
      .withColumn("rev_c4",
        cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
    li.join(Tables.part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"), col("rev_c4")).otherwise(0L))
          .as("promo_c4"),
        sum(col("rev_c4")).as("total_c4"))
      .select(
        // integer division: `/` on longs is double in Spark SQL; DIV is
        // the exact (and DuckDB `//`-matching) form
        expr("promo_c4 * 10000 DIV total_c4").as("promo_bps"),
        (col("total_c4").cast("double") / 10000.0).as("total_revenue"))
  }

  val q32Oracle: String =
    """SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev_c4 ELSE 0 END) * 10000
      |    // SUM(rev_c4) AS BIGINT) AS promo_bps,
      |  CAST(SUM(rev_c4) AS DOUBLE)/10000.0 AS total_revenue
      |FROM (
      |  SELECT CAST(round(l_extendedprice*100) AS BIGINT)
      |    * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_c4, l_partkey
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-02-01') l
      |JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin

  // q33 — co-purchase part pairs (frequent-itemset counting, the
  // market-basket staple): distinct (order, part) pairs self-joined on
  // the order key with part_a < part_b, counted per pair, global top-10
  // with full deterministic tie-break. Scale shape: the self-join is an
  // equi-join on l_orderkey whose per-key expansion is bounded by TPC-H's
  // ≤7 lineitems/order (k·(k−1)/2 ≤ 21 pairs) — the same bounded-posting
  // discipline as d02's shingle index; a long-tailed basket table would
  // take the same ≤L cap. The top-10 is a TakeOrdered (per-partition
  // top-n), never a global sort.
  def q33CopurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(10)
  }

  val q33Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |)
      |SELECT part_a, part_b, COUNT(*) AS n_orders
      |FROM pairs GROUP BY part_a, part_b
      |ORDER BY n_orders DESC, part_a, part_b LIMIT 10""".stripMargin

  // q34 — distributed histogram-quantile SKETCH: the approximate-quantile
  // operator a 100 TB pipeline uses where q28's exact median (full sort /
  // exact partition) is unaffordable. Two corpus passes, both plain
  // aggregations that partial-combine map-side: pass 1 finds exact
  // integer bounds (min/max cents), pass 2 folds every row into one of
  // 64 fixed bins; everything after is constant-size (64-row cumsum,
  // 4-row quantile pick) and runs broadcast. The answer is the BIN
  // holding the p-th value — its index, its exact integer bounds, and
  // the cumulative count — so the gate is pure integers; the bin
  // arithmetic `(c - lo) * 64 DIV (hi - lo + 1)` is exact in both
  // engines (no double division, no boundary jitter). The standard
  // error-bound story applies: bin width bounds the value error, and
  // refining is re-running pass 2 on one bin's range. Contrast with
  // t-digest/GK sketches: those trade determinism for one pass; this
  // form is deterministic and mergeable (histograms add), which is what
  // the oracle gate — and a reproducible pipeline — needs.
  def q34QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.lineitem(spark, dir)
      .select(cents(col("l_extendedprice")).as("c"))
    val stats = c.agg(min(col("c")).as("lo"), max(col("c")).as("hi"),
      count(lit(1)).as("n_rows"))
    val hist = c.crossJoin(broadcast(stats))
      .select(expr("((c - lo) * 64) DIV (hi - lo + 1)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val cum = hist // 64 rows: the single-partition window is fine forever
      .withColumn("cum", sum(col("n")).over(Window.orderBy("bin")))
    val quants = spark.range(1)
      .select(explode(array(lit(50L), lit(90L), lit(95L), lit(99L))).as("p"))
      .crossJoin(broadcast(stats))
      .withColumn("target", expr("(p * n_rows + 99) DIV 100"))
    quants.join(broadcast(cum), col("cum") >= col("target"))
      .groupBy("p", "target", "lo", "hi")
      .agg(min(col("bin")).as("bin"))
      .join(broadcast(cum), Seq("bin"))
      .select(col("p"), col("target"), col("bin"),
        expr("lo + (bin * (hi - lo + 1)) DIV 64").as("bin_lo_cents"),
        expr("lo + ((bin + 1) * (hi - lo + 1)) DIV 64").as("bin_hi_cents"),
        col("cum").as("cum_count"))
      .orderBy("p")
  }

  // q67 — the HISTOGRAM MERGE LAW gated as data (q34 claims "histograms
  // add"; this proves it the way q61/q62/q65 prove their sketches'
  // merge laws): the corpus shards on l_orderkey % 4, each shard folds
  // its own 64-bin histogram against the SHARED global bounds (the
  // frozen-quantizer discipline — merging histograms built on different
  // bounds is the classic silent error), the shard histograms merge by
  // summing bin counts, and every output row carries the direct count
  // NEXT TO the merged count plus the merged cumulative — bin-exact
  // equality is what the oracle hashes. This is the distributed
  // quantile story at 100 TB: shards sketch locally, the coordinator
  // sums 64-row tables, q34's read-off runs on the merge.
  def q67HistMerge(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.lineitem(spark, dir)
      .select(cents(col("l_extendedprice")).as("c"),
        pmod(col("l_orderkey"), lit(4)).as("shard"))
    val stats = c.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    val binned = c.crossJoin(broadcast(stats))
      .select(col("shard"), expr("((c - lo) * 64) DIV (hi - lo + 1)").as("bin"))
    val direct = binned.groupBy("bin").agg(count(lit(1)).as("n_direct"))
    val merged = binned.groupBy("shard", "bin").agg(count(lit(1)).as("n"))
      .groupBy("bin").agg(sum(col("n")).as("n_merged"))
    direct.join(merged, "bin")
      .withColumn("cum_merged", // 64 rows: single-partition window is fine
        sum(col("n_merged")).over(Window.orderBy("bin")))
      .select(col("bin"), col("n_direct"), col("n_merged"), col("cum_merged"))
      .orderBy("bin")
  }

  val q67Oracle: String =
    """WITH c AS (
      |  SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS c,
      |    l_orderkey % 4 AS shard
      |  FROM lineitem
      |), b AS (
      |  SELECT MIN(c) AS lo, MAX(c) AS hi FROM c
      |), binned AS (
      |  SELECT shard, ((c.c - b.lo) * 64) // (b.hi - b.lo + 1) AS bin
      |  FROM c, b
      |), direct AS (
      |  SELECT bin, COUNT(*) AS n_direct FROM binned GROUP BY bin
      |), shards AS (
      |  SELECT shard, bin, COUNT(*) AS n FROM binned GROUP BY shard, bin
      |), merged AS (
      |  SELECT bin, CAST(SUM(n) AS BIGINT) AS n_merged FROM shards GROUP BY bin
      |)
      |SELECT bin, n_direct, n_merged,
      |  CAST(SUM(n_merged) OVER (ORDER BY bin) AS BIGINT) AS cum_merged
      |FROM direct JOIN merged USING (bin)
      |ORDER BY bin""".stripMargin

  val q34Oracle: String =
    """WITH c AS (
      |  SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS c FROM lineitem
      |), b AS (
      |  SELECT MIN(c) AS lo, MAX(c) AS hi, COUNT(*) AS n_rows FROM c
      |), hist AS (
      |  SELECT ((c.c - b.lo) * 64) // (b.hi - b.lo + 1) AS bin, COUNT(*) AS n
      |  FROM c, b GROUP BY 1
      |), cum AS (
      |  SELECT bin, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM hist
      |), t AS (
      |  SELECT CAST(p AS BIGINT) AS p, (CAST(p AS BIGINT) * n_rows + 99) // 100 AS target
      |  FROM (SELECT unnest([50, 90, 95, 99]) AS p), b
      |), pick AS (
      |  SELECT t.p, t.target, MIN(c.bin) AS bin
      |  FROM t JOIN cum c ON c.cum >= t.target GROUP BY t.p, t.target
      |)
      |SELECT p.p, p.target, p.bin,
      |  b.lo + (p.bin * (b.hi - b.lo + 1)) // 64 AS bin_lo_cents,
      |  b.lo + ((p.bin + 1) * (b.hi - b.lo + 1)) // 64 AS bin_hi_cents,
      |  c.cum AS cum_count
      |FROM pick p JOIN cum c ON c.bin = p.bin, b
      |ORDER BY p.p""".stripMargin

  // q35 — ordered FUNNEL analysis over the event stream: how many users
  // progressed view → click → purchase with each stage STRICTLY AFTER
  // the previous one — the product-analytics operator class (sequence
  // matching) the sessionize/as-of family (q20/q21) doesn't cover.
  // Stage timestamps are the classic iterated-min form: t_view =
  // min(ts | view), t_click = min(ts | click ∧ ts > t_view), t_purchase
  // likewise — each stage is a filter + hash aggregate + equi-join, ALL
  // keyed on user_id, so at 100 TB the whole funnel is one shuffle key
  // end to end (stages 2/3 co-locate with stage 1's partitioning; AQE
  // sees shrinking stage cardinalities and broadcasts the survivor
  // sets). `ts` is the epoch-nanos Long (Tables.events), so the strict
  // `>` comparisons are exact integers in both engines; per-stage
  // user counts and id-sums pin WHICH users survived, not just how many.
  def q35Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("user_id_sum"))
        .select(lit(name).as("stage"), col("n_users"), col("user_id_sum"))
    stage(v, "1_view").unionByName(stage(c, "2_click"))
      .unionByName(stage(p, "3_purchase"))
      .orderBy("stage")
  }

  val q35Oracle: String =
    """WITH v AS (
      |  SELECT user_id, MIN(epoch_ns(ts)) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t_view GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t_click GROUP BY 1
      |)
      |SELECT '1_view' AS stage, COUNT(*) AS n_users,
      |  CAST(SUM(user_id) AS BIGINT) AS user_id_sum FROM v
      |UNION ALL SELECT '2_click', COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM c
      |UNION ALL SELECT '3_purchase', COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM p
      |ORDER BY stage""".stripMargin

  // q38 — PARTITIONED NTILE deciles: per-region order-value decile table
  // (decile boundaries + mass), the distribution summary BI layers build
  // band pricing / outlier panels from. ntile(10) is the one ranking
  // window family the inventory lacked (row_number/rank/dense_rank are
  // q09/q10's); its ANSI fill rule (first n mod 10 deciles get the extra
  // row) is deterministic here because the order key (cents, o_orderkey)
  // is unique. Plan: broadcast the 3-row dim chain (region→nation) onto
  // customers, one (region) window shuffle — five partitions of
  // corpus-proportional width, range-partitionable at scale — then the
  // tiny (region, decile) agg.
  def q38RegionDeciles(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val w = Window.partitionBy("r_name").orderBy(col("cents"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("cents"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy("r_name", "decile")
      .agg(count(lit(1)).as("n_orders"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"), sum(col("cents")).as("sum_cents"))
      .orderBy("r_name", "decile")
  }

  // q39 — ORDERED STRING AGGREGATION (listagg family): nations per
  // region as a deterministic comma-joined sorted list. The one
  // aggregate family (collect → order → serialize) the inventory
  // lacked; determinism comes from the explicit array_sort — a bare
  // collect_list order is partitioning-dependent and ungateable, which
  // is itself the lesson this query pins (the oracle's string_agg
  // carries the same explicit ORDER BY). Broadcast-size dims; one tiny
  // hash agg.
  def q39RegionNations(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
      .orderBy("r_name")

  val q39Oracle: String =
    """SELECT r_name, COUNT(*) AS n_nations,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // q40 — NULL-AWARE ANTI-JOIN SEMANTICS, pinned cross-engine: the ANSI
  // `NOT IN` trap. Three formulations of "customers with no order since
  // 1998-06-01" in one output: NOT EXISTS (the correct anti-join — 8
  // rows at sf0.01), NOT IN against a probe set CONTAINING A NULL
  // (injected — returns ZERO rows, because `x NOT IN (..., NULL)` is
  // never true under three-valued logic), and NOT IN with the standard
  // IS NOT NULL remediation (equals NOT EXISTS again). Every engine
  // migration hits this; gating all three branches pins that Spark's
  // null-aware anti-join planning (the NOT IN path) and its left-anti
  // (the NOT EXISTS path) both implement the same ANSI semantics DuckDB
  // does. Expressed through the SQL surface (spark.sql over temp views)
  // because `NOT IN <subquery>` has no DataFrame-API equivalent — the
  // null-aware anti-join is a planner feature, not a join type the API
  // exposes.
  def q40AntiJoinSemantics(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_q40_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q40_orders")
    spark.sql(
      """WITH recent AS (
        |  SELECT o_custkey FROM graft_q40_orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-06-01'
        |), ne AS (
        |  SELECT c_custkey FROM graft_q40_customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
        |), ni_null AS (
        |  SELECT c_custkey FROM graft_q40_customer
        |  WHERE c_custkey NOT IN
        |    (SELECT o_custkey FROM recent UNION ALL SELECT CAST(NULL AS BIGINT))
        |), ni_clean AS (
        |  SELECT c_custkey FROM graft_q40_customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM recent
        |                          WHERE o_custkey IS NOT NULL)
        |)
        |SELECT 'a_not_exists' AS method, COUNT(*) AS n_rows,
        |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS key_checksum FROM ne
        |UNION ALL
        |SELECT 'b_not_in_with_null', COUNT(*),
        |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) FROM ni_null
        |UNION ALL
        |SELECT 'c_not_in_clean', COUNT(*),
        |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) FROM ni_clean
        |ORDER BY method""".stripMargin)
  }

  val q40Oracle: String =
    """WITH recent AS (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1998-06-01'
      |), ne AS (
      |  SELECT c_custkey FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
      |), ni_null AS (
      |  SELECT c_custkey FROM customer
      |  WHERE c_custkey NOT IN
      |    (SELECT o_custkey FROM recent UNION ALL SELECT CAST(NULL AS BIGINT))
      |), ni_clean AS (
      |  SELECT c_custkey FROM customer
      |  WHERE c_custkey NOT IN (SELECT o_custkey FROM recent
      |                          WHERE o_custkey IS NOT NULL)
      |)
      |SELECT 'a_not_exists' AS method, COUNT(*) AS n_rows,
      |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS key_checksum FROM ne
      |UNION ALL
      |SELECT 'b_not_in_with_null', COUNT(*),
      |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) FROM ni_null
      |UNION ALL
      |SELECT 'c_not_in_clean', COUNT(*),
      |  CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) FROM ni_clean
      |ORDER BY method""".stripMargin

  // q41 — EXACT-INTEGER REGRESSION MOMENTS (the regr_*/corr aggregate
  // family): per return flag, does order quantity drift over ship time?
  // Spark's regr_slope/corr run Welford-style streaming updates whose
  // float rounding is merge-order-dependent — ungateable cross-engine
  // and nondeterministic run-to-run at scale. The production-grade
  // alternative this query pins: accumulate the five raw moments (Σx,
  // Σy, Σxy, Σx², Σy²) as exact integers over integer-valued inputs
  // (quantity; ship day centered on a FIXED epoch 1995-01-01 so Σy²
  // stays small), then combine once per group. The combination runs in
  // decimal(38,0) on Spark and HUGEINT on DuckDB — the 128-bit-exact
  // path that survives any group size the 64-bit moments allow (the
  // long moments themselves bound the envelope: n·max(y²) ≲ 9.2e18 →
  // n ≲ 1.4e12 rows/group at this date range — comfortably past 100 TB).
  // The final slope/corr/intercept are each a fixed dag of IEEE ops on
  // exactly-cast integers (casts, one product, sqrt, divisions — all
  // correctly rounded), so the doubles are bit-identical cross-engine.
  // Plan: one partial+final hash agg over the pushed two-column scan —
  // the cheapest possible distributed regression.
  def q41RegrMoments(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = round(col("l_quantity")).cast("long")
    val y = datediff(col("l_shipdate").cast("date"),
      lit("1995-01-01").cast("date")).cast("long")
    val m = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast(dec)
    val num = (nD * col("sxy").cast(dec) - col("sx").cast(dec) * col("sy").cast(dec))
      .cast("double")
    val denx = (nD * col("sxx").cast(dec) - col("sx").cast(dec) * col("sx").cast(dec))
      .cast("double")
    val deny = (nD * col("syy").cast(dec) - col("sy").cast(dec) * col("sy").cast(dec))
      .cast("double")
    // NULLIF guards: a degenerate group (n = 1, or constant x or y) has a
    // zero variance denominator — slope/corr are undefined there, and the
    // ANSI engines disagree on bare x/0.0 (Spark raises, DuckDB returns
    // inf), so both sides share the explicit null convention.
    m.withColumn("slope", num / nullif(denx, lit(0.0)))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double"))
      .withColumn("corr", num / nullif(sqrt(denx * deny), lit(0.0)))
      .select("l_returnflag", "n", "sx", "sy", "sxy", "sxx", "syy",
        "slope", "intercept", "corr")
      .orderBy("l_returnflag")
  }

  val q41Oracle: String =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM (
      |    SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS x,
      |      CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS y
      |    FROM lineitem)
      |  GROUP BY l_returnflag
      |), c AS (
      |  SELECT *,
      |    CAST(CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
      |         - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS num,
      |    CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
      |         - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS denx,
      |    CAST(CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
      |         - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS deny
      |  FROM m
      |)
      |SELECT l_returnflag, n, sx, sy, sxy, sxx, syy,
      |  num / NULLIF(denx, 0) AS slope,
      |  (CAST(sy AS DOUBLE) - (num / NULLIF(denx, 0)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
      |  num / NULLIF(sqrt(denx * deny), 0) AS corr
      |FROM c ORDER BY l_returnflag""".stripMargin

  // q42 — RELATIVE-RANK WINDOWS (percent_rank / cume_dist): each
  // customer's account-balance standing within its market segment —
  // the normalized-score families that survive where ntile's bucket
  // fill rule (q38) is too coarse. Both are exact rational functions
  // of integer window ranks ((rank−1)/(n−1) and peers_through/n), so
  // the doubles are one integer-to-integer IEEE division in each
  // engine — bit-identical, no float-ordering hazard even with tied
  // balances (ties share a value by definition). The order key is
  // exact integer cents. Plan: one (segment) window shuffle over the
  // pushed 3-column scan; segments are few but each partition is
  // range-sortable at scale — the same distribution ntile survives.
  def q42RelativeRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("bal_cents"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        cents(col("c_acctbal")).as("bal_cents"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy("c_custkey")
  }

  val q42Oracle: String =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY CAST(round(c_acctbal * 100) AS BIGINT))
      |ORDER BY c_custkey""".stripMargin

  // q45 — GROUPING_ID over rollup: the ANSI disambiguation column that
  // separates "the NULL group" from "the rolled-up subtotal" — without
  // it a rollup over nullable keys is unreadable, which is why every
  // BI extract carries it. Gates that Spark's grouping_id() bit order
  // (leftmost grouping column = most significant bit, the ANSI rule)
  // matches the oracle engine's GROUPING(). Same partial+final hash
  // agg over grouping sets as q13 — the expand operator replicates
  // rows per set, map-side partials absorb the blow-up.
  def q45GroupingId(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  val q45Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  // q46 — CO-BUCKETED JOIN, gated end-to-end: both join sides are
  // WRITTEN as bucketed tables (16 buckets on the order key, sorted
  // within buckets — the physical layout that answers "this join
  // shuffles every run" at 100 TB), read back through the catalog, and
  // joined with a merge hint so the bucket layout — not a broadcast —
  // is what eliminates the exchange (BucketedJoinSpec pins the
  // mechanism; this query pushes real testdata through it under the
  // oracle). The write cost is paid once and amortized over every
  // subsequent co-located join — the nightly-build pattern. Oracle is
  // the plain join: bucketing must change NOTHING but the plan.
  def q46BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = graft.streaming.Drains.fixtureTag(dir)
    val base = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_q46_$tag").getPath
    val li = s"graft_q46_li_$tag"
    val od = s"graft_q46_od_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $li")
    spark.sql(s"DROP TABLE IF EXISTS $od")
    // repartition by the bucket key FIRST: Spark's bucket assignment is
    // the same Murmur3-mod-16 as HashPartitioning, so each write task
    // then owns exactly one bucket → 16 files per table instead of
    // (tasks × buckets) small files — the layout hygiene a 100 TB
    // nightly bucketed build cannot skip.
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("price_cents"))
      .repartition(16, col("l_orderkey"))
      .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$base/li").mode("overwrite").saveAsTable(li)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(16, col("o_orderkey"))
      .write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$base/od").mode("overwrite").saveAsTable(od)
    spark.table(li)
      .join(spark.table(od).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), sum(col("price_cents")).as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  val q46Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // q49 — CORRELATED LATERAL JOIN (top-N-per-group as the optimizer
  // sees it): each customer's two largest orders via a correlated
  // LATERAL subquery with ORDER BY + LIMIT — the SQL shape analysts
  // write, distinct from the window formulation (q29/q38 family)
  // because it exercises Spark's lateral-join planner (correlated
  // subquery decorrelation into a ranked join), reachable only
  // through the SQL surface. Deterministic: the lateral orders by
  // (cents DESC, o_orderkey). At scale the decorrelated plan is the
  // same one shuffle + per-key rank the window form pays — gating
  // both shapes pins that equivalence.
  def q49LateralTopN(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_q49_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q49_orders")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.cents
        |FROM graft_q49_customer c, LATERAL (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM graft_q49_orders o WHERE o.o_custkey = c.c_custkey
        |  ORDER BY cents DESC, o_orderkey LIMIT 2
        |) t
        |ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey""".stripMargin)
  }

  val q49Oracle: String =
    """SELECT c.c_custkey, t.o_orderkey, t.cents
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o WHERE o.o_custkey = c.c_custkey
      |  ORDER BY cents DESC, o_orderkey LIMIT 2
      |) t
      |ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey""".stripMargin

  // q54 — CORRELATED SCALAR-AGGREGATE subqueries (the decorrelation
  // planner's core case): customers above their own nation's average
  // balance, written as two correlated scalar subqueries against the
  // same derived table — exactly the shape Catalyst must rewrite into
  // aggregate + join (RewriteCorrelatedScalarSubquery); the window/join
  // formulations elsewhere (q29/q30) are the contrast family, this one
  // gates the SQL-surface rewrite itself. The above-average predicate is
  // kept in pure integers (cents·count > sum-of-cents) so no float mean
  // ever materializes — the cross-engine-exact form of `bal > AVG(bal)`.
  def q54CorrelatedAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_q54_customer")
    Tables.nation(spark, dir).createOrReplaceTempView("graft_q54_nation")
    spark.sql(
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM graft_q54_customer
        |)
        |SELECT n.n_name, COUNT(*) AS n_above,
        |  CAST(SUM(c.c_custkey) AS BIGINT) AS key_sum
        |FROM c JOIN graft_q54_nation n ON n.n_nationkey = c.c_nationkey
        |WHERE c.cents * (SELECT COUNT(*) FROM c c2
        |                 WHERE c2.c_nationkey = c.c_nationkey)
        |    > (SELECT SUM(c3.cents) FROM c c3
        |       WHERE c3.c_nationkey = c.c_nationkey)
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
  }

  val q54Oracle: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT n.n_name, COUNT(*) AS n_above,
      |  CAST(SUM(c.c_custkey) AS BIGINT) AS key_sum
      |FROM c JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE c.cents * (SELECT COUNT(*) FROM c c2
      |                 WHERE c2.c_nationkey = c.c_nationkey)
      |    > (SELECT SUM(c3.cents) FROM c c3
      |       WHERE c3.c_nationkey = c.c_nationkey)
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  // q50 — RANGE-frame windows (value-based frames): each order's
  // trailing-30-day count and revenue within its customer — the
  // rolling-metric family where the frame is defined by the ORDER
  // VALUE (days), not row offsets; a ROWS frame silently miscounts
  // whenever a customer has gap days or same-day orders, which is
  // exactly the bug gating both engines' RANGE semantics pins. Order
  // key is the integer epoch-day (ties allowed: ANSI RANGE makes
  // same-day peers share the frame). One (customer) window shuffle;
  // all integers.
  def q50RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("day"))
      .rangeBetween(-29, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("long").as("day"),
        cents(col("o_totalprice")).as("cents"))
      .withColumn("n_trailing_30d", count(lit(1)).over(w))
      .withColumn("cents_trailing_30d", sum(col("cents")).over(w))
      .select("o_custkey", "o_orderkey", "day",
        "n_trailing_30d", "cents_trailing_30d")
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  val q50Oracle: String =
    """SELECT o_custkey, o_orderkey, day,
      |  COUNT(*) OVER w AS n_trailing_30d,
      |  CAST(SUM(cents) OVER w AS BIGINT) AS cents_trailing_30d
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  val q38Oracle: String =
    """SELECT r_name, decile, COUNT(*) AS n_orders,
      |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM (
      |  SELECT r.r_name, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
      |    o.o_orderkey,
      |    ntile(10) OVER (PARTITION BY r.r_name
      |      ORDER BY CAST(round(o.o_totalprice * 100) AS BIGINT), o.o_orderkey) AS decile
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey)
      |GROUP BY r_name, decile ORDER BY r_name, decile""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q01_pricing_summary", q01PricingSummary, q01Oracle),
    Gate("q02_revenue_filter", q02RevenueFilter, q02Oracle),
    Gate("q03_top_orders", q03TopOrders, q03Oracle),
    Gate("q04_order_priority", q04OrderPriority, q04Oracle),
    Gate("q05_region_revenue", q05RegionRevenue, q05Oracle),
    Gate("q06_brand_stats", q06BrandStats, q06Oracle),
    Gate("q07_customers_without_orders", q07CustomersWithoutOrders, q07Oracle),
    Gate("q08_nation_accounting", q08NationAccounting, q08Oracle),
    Gate("q09_top_orders_per_customer", q09TopOrdersPerCustomer, q09Oracle),
    Gate("q10_user_event_gaps", q10UserEventGaps, q10Oracle),
    Gate("q29_max_order_per_customer", q29MaxOrderPerCustomer, q29Oracle),
    Gate("q30_nation_balance_share", q30NationBalanceShare, q30Oracle),
    Gate("q31_dormant_customers", q31DormantCustomers, q31Oracle),
    Gate("q32_promo_share", q32PromoShare, q32Oracle),
    Gate("q33_copurchase_pairs", q33CopurchasePairs, q33Oracle),
    Gate("q34_quantile_sketch", q34QuantileSketch, q34Oracle),
    Gate("q35_funnel", q35Funnel, q35Oracle),
    Gate("q38_region_deciles", q38RegionDeciles, q38Oracle),
    Gate("q39_region_nations", q39RegionNations, q39Oracle),
    Gate("q40_antijoin_semantics", q40AntiJoinSemantics, q40Oracle),
    Gate("q41_regr_moments", q41RegrMoments, q41Oracle),
    Gate("q42_relative_rank", q42RelativeRank, q42Oracle),
    Gate("q45_grouping_id", q45GroupingId, q45Oracle),
    Gate("q46_bucketed_join", q46BucketedJoin, q46Oracle),
    Gate("q49_lateral_topn", q49LateralTopN, q49Oracle),
    Gate("q50_range_frame", q50RangeFrame, q50Oracle),
    Gate("q54_correlated_agg", q54CorrelatedAgg, q54Oracle),
    Gate("q67_hist_merge", q67HistMerge, q67Oracle),
  )
}
