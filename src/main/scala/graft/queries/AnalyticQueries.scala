package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.cents

/** Second relational batch: dedup, distinct aggregation, grouping sets,
  * set operations, scalar/regex/JSON expressions, correlated aggregation,
  * sessionization, and as-of-style windows (SURVEY §2.3/§2.4/§2.7/§2.8 and
  * the §2.11 "absent category" decisions, implemented anyway as engine
  * generalizations).
  *
  * `ts` from `events` is epoch-nanos; all uses go through µs (integer div)
  * because DuckDB's parquet reader truncates nanos to µs — see q10.
  */
object AnalyticQueries {

  private val tsUs: Column = expr("ts div 1000")

  // q11 — last-wins dedup as a max_by aggregate, the scale-friendly form of
  // the CDC build-side dedup (SURVEY §2.5): one shuffle, map-side partial
  // agg, no window sort. Its struct buffer makes it a sort aggregate.
  def q11DedupLastWins(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(max_by(
          struct(col("event_id"), cents(col("value")).as("value_cents")),
          struct(tsUs.as("t"), col("event_id"))).as("w"))
      .select(col("user_id"), col("event_type"),
        col("w.event_id").as("event_id"), col("w.value_cents").as("value_cents"))
      .orderBy("user_id", "event_type")

  val q11Oracle: String =
    """SELECT user_id, event_type, event_id, value_cents FROM (
      |  SELECT user_id, event_type, event_id,
      |    CAST(round(value*100) AS BIGINT) AS value_cents,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // q12 — distinct aggregation alongside plain aggregates.
  def q12DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        (sum(cents(col("value"))).cast("double") / 100.0).as("total_value"))
      .orderBy("event_type")

  val q12Oracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q13 — ROLLUP grouping sets.
  def q13Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q13Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // q14 — CUBE grouping sets over a derived column.
  def q14Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("user_bucket", col("user_id") % 10)
      .cube("event_type", "user_bucket")
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc_nulls_first, col("user_bucket").asc_nulls_first)

  val q14Oracle: String =
    """SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n_events
      |FROM events GROUP BY CUBE (event_type, user_id % 10)
      |ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""".stripMargin

  // q15 — set operations (UNION / INTERSECT / EXCEPT, all distinct semantics).
  def q15SetOps(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val building = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val rich = cust.filter(cents(col("c_acctbal")) > 500000L).select("c_custkey")
    val active98 = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(rich).union(building.except(active98)).distinct()
      .orderBy("c_custkey")
  }

  val q15Oracle: String =
    """SELECT c_custkey FROM (
      |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |   INTERSECT
      |   SELECT c_custkey FROM customer WHERE CAST(round(c_acctbal*100) AS BIGINT) > 500000)
      |  UNION
      |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |   EXCEPT
      |   SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |) ORDER BY c_custkey""".stripMargin

  // q47 — BAG-SEMANTICS set ops (INTERSECT ALL / EXCEPT ALL): the
  // multiset algebra q15's distinct forms don't reach — ANSI
  // min-multiplicity intersection and multiplicity subtraction, the
  // semantics dedup-aware reconciliation ("how many line-level
  // occurrences survive in both feeds") actually needs. Inputs are
  // genuine multisets (supplier keys repeat across lineitems); the
  // distinct-form row is included as the contrast that catches an
  // implementation quietly deduping. Counts and key checksums only —
  // all integer. Spark plans these as aggregate-count + generate
  // (replicate min(c1,c2) / max(c1−c2,0)) — one shuffle per side.
  def q47BagSetOps(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = li.filter(round(col("l_quantity")).cast("long") >= 45)
      .select(col("l_suppkey"))
    val b = li.filter(round(col("l_discount") * 100).cast("long") >= 8)
      .select(col("l_suppkey"))
    def stats(tag: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("l_suppkey")), lit(0L)).as("key_checksum"))
        .select(lit(tag).as("op"), col("n_rows"), col("key_checksum"))
    stats("1_intersect_all", a.intersectAll(b))
      .unionByName(stats("2_except_all", a.exceptAll(b)))
      .unionByName(stats("3_intersect_distinct", a.intersect(b)))
      .orderBy("op")
  }

  val q47Oracle: String =
    """WITH a AS (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE CAST(round(l_quantity) AS BIGINT) >= 45
      |), b AS (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE CAST(round(l_discount * 100) AS BIGINT) >= 8
      |)
      |SELECT '1_intersect_all' AS op, COUNT(*) AS n_rows,
      |  CAST(COALESCE(SUM(l_suppkey), 0) AS BIGINT) AS key_checksum
      |FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b)
      |UNION ALL
      |SELECT '2_except_all', COUNT(*),
      |  CAST(COALESCE(SUM(l_suppkey), 0) AS BIGINT)
      |FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
      |UNION ALL
      |SELECT '3_intersect_distinct', COUNT(*),
      |  CAST(COALESCE(SUM(l_suppkey), 0) AS BIGINT)
      |FROM (SELECT l_suppkey FROM a INTERSECT SELECT l_suppkey FROM b)
      |ORDER BY op""".stripMargin

  // q48 — DECIMAL MONEY AGGREGATION: the engine's cents-integer
  // discipline (Tables.cents) is one answer to float money; fixed-point
  // DECIMAL is the other, and a warehouse migration needs BOTH gated.
  // Cast-to-decimal(18,2) rounds each double to the nearest cent
  // identically in both engines (round-to-nearest at scale 2), sums
  // are exact fixed-point (no order dependence), and the discounted
  // product runs at scale 4 under both engines' ANSI scale rules —
  // so every digit is exact. The decimal math runs under test, but the
  // OUTPUT is re-scaled to integers (cents / 1e-4 units as BIGINT):
  // round 9 proved the values byte-identical under local replication
  // yet the driver's DECIMAL cell canonicalization (trailing-zero /
  // scale repr) still hash-mismatched — integers make the gate
  // representation-proof. avg() is deliberately absent: its result
  // scale diverges cross-engine (Spark widens the scale, DuckDB
  // returns DOUBLE) — derive means from sum/n downstream.
  def q48DecimalMoney(spark: SparkSession, dir: String): DataFrame = {
    val p = col("l_extendedprice").cast("decimal(18,2)")
    val d = col("l_discount").cast("decimal(18,2)")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), p.as("p"), d.as("d"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        // ×100 / ×10000 lift the exact fixed-point sums to integers;
        // the cast-to-long is lossless because the scale is cleared
        (sum(col("p")) * lit(100)).cast("long").as("sum_price_cents"),
        (min(col("p")) * lit(100)).cast("long").as("min_price_cents"),
        (max(col("p")) * lit(100)).cast("long").as("max_price_cents"),
        (sum(col("p") * (lit(1).cast("decimal(18,2)") - col("d"))) * lit(10000))
          .cast("long").as("sum_disc_e4"))
      .orderBy("l_returnflag")
  }

  val q48Oracle: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(p) * 100 AS BIGINT) AS sum_price_cents,
      |  CAST(MIN(p) * 100 AS BIGINT) AS min_price_cents,
      |  CAST(MAX(p) * 100 AS BIGINT) AS max_price_cents,
      |  CAST(SUM(p * (CAST(1 AS DECIMAL(18,2)) - d)) * 10000 AS BIGINT) AS sum_disc_e4
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
      |    CAST(l_discount AS DECIMAL(18,2)) AS d
      |  FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q51 — SALTED SKEW JOIN: q22's two-stage trick applied to the JOIN
  // (the other operator a hot key melts at 100 TB): the fact side
  // carries a deterministic salt (l_orderkey mod 16), the dimension
  // side replicates 16× with every salt value, and the join keys on
  // (suppkey, salt) — so one hot supplier's rows spread over 16
  // reducers instead of one. A shuffle-hash hint forces the exchange
  // the technique exists to reshape (broadcast would bypass it and
  // prove nothing). The oracle is the PLAIN join: salting must change
  // the distribution, never the result — which is the whole gate.
  def q51SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val salts = 16
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), cents(col("l_extendedprice")).as("cents"),
        pmod(col("l_orderkey"), lit(salts)).as("salt"))
    val dim = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    fact.join(dim.hint("shuffle_hash"),
        fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("revenue_cents"))
      .orderBy("s_nationkey")
  }

  val q51Oracle: String =
    """SELECT s_nationkey, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // q16 — scalar expression battery: date parts, CASE buckets, string ops.
  def q16ScalarExprs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        year(col("o_orderdate")).as("o_year"),
        quarter(col("o_orderdate")).as("o_quarter"),
        when(cents(col("o_totalprice")) < 5000000L, "SMALL")
          .when(cents(col("o_totalprice")) < 20000000L, "MEDIUM")
          .otherwise("LARGE").as("bucket"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        concat(lower(col("o_orderstatus")), lit("-"),
          substring(col("o_orderpriority"), 3, 100)).as("status_tag"),
        cents(col("o_totalprice")).as("price_cents"))
      .groupBy("o_year", "o_quarter", "bucket", "prio_code", "status_tag")
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("price_cents")).cast("double") / 100.0).as("total_price"))
      .orderBy("o_year", "o_quarter", "bucket", "prio_code", "status_tag")

  val q16Oracle: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(quarter(o_orderdate) AS INT) AS o_quarter,
      |  CASE WHEN CAST(round(o_totalprice*100) AS BIGINT) < 5000000 THEN 'SMALL'
      |       WHEN CAST(round(o_totalprice*100) AS BIGINT) < 20000000 THEN 'MEDIUM'
      |       ELSE 'LARGE' END AS bucket,
      |  substring(o_orderpriority, 1, 1) AS prio_code,
      |  lower(o_orderstatus) || '-' || substring(o_orderpriority, 3, 100) AS status_tag,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_price
      |FROM orders
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  // q17 — regex extraction over the JSON-ish props column (SURVEY E1/E2
  // generalization) + grouped agg on the extracted key.
  def q17RegexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))).cast("double") / 100.0).as("total_value"))
      .orderBy("k")

  val q17Oracle: String =
    """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // q18 — string splitting / tokens over part descriptors.
  def q18PartTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        size(split(col("p_type"), " ")).as("n_type_tokens"),
        regexp_extract(col("p_brand"), "(\\d+)$", 1).cast("int").as("brand_num"),
        col("p_size"))
      .groupBy("type_head", "n_type_tokens", "brand_num")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_size").cast("long")).as("total_size"))
      .orderBy("type_head", "n_type_tokens", "brand_num")

  val q18Oracle: String =
    """SELECT string_split(p_type, ' ')[1] AS type_head,
      |  CAST(len(string_split(p_type, ' ')) AS INT) AS n_type_tokens,
      |  CAST(regexp_extract(p_brand, '(\d+)$', 1) AS INT) AS brand_num,
      |  COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size
      |FROM part GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // q19 — correlated aggregation (TPC-H Q17 shape): lineitems under 20% of
  // their part's average quantity. The avg comparison is exact integer
  // cross-multiplication (qty*5*cnt < sum), no float division.
  def q19SmallQuantityOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), round(col("l_quantity")).cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_cents"))
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
      .agg((sum(col("price_cents")).cast("double") / 100.0).as("total_price"),
        count(lit(1)).as("n_rows"))
  }

  val q19Oracle: String =
    """SELECT
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem l
      |JOIN (SELECT l_partkey AS pk, CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |             COUNT(*) AS cnt
      |      FROM lineitem GROUP BY 1) p
      |  ON l.l_partkey = p.pk
      |WHERE CAST(round(l.l_quantity) AS BIGINT) * 5 * p.cnt < p.sum_qty""".stripMargin

  // q20 — sessionization: 30-min-gap session boundaries via lag + running
  // sum, then per-user session stats.
  def q20Sessionize(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.sessionize(
        Tables.events(spark, dir).withColumn("t_us", tsUs),
        "user_id", "t_us", "event_id", 1800L * 1000000L)
      .groupBy("user_id")
      .agg(max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        (count(lit(1)).cast("double") / max(col("session_id"))).as("events_per_session"))
      .orderBy("user_id")

  val q20Oracle: String =
    """SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events,
      |  CAST(COUNT(*) AS DOUBLE)/MAX(session_id) AS events_per_session
      |FROM (
      |  SELECT user_id,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, epoch_us(ts) AS t,
      |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |                IS NULL THEN 1
      |           WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |                > 1800000000 THEN 1
      |           ELSE 0 END AS is_new
      |    FROM events))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // q21 — as-of-style window: for each purchase, the most recent prior
  // click by the same user (SURVEY §2.11's as-of decision, expressed as
  // last-ignore-nulls over an explicit ROWS frame — no sort-merge as-of
  // operator needed; one window over the user partition).
  def q21LastClickBeforePurchase(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.lastBefore(
        Tables.events(spark, dir).withColumn("t_us", tsUs),
        "user_id", "t_us", "event_id",
        isTarget = col("event_type") === "purchase",
        isSource = col("event_type") === "click",
        sourceCols = Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("asof_event_id").as("last_click_id"))
      .orderBy("user_id", "event_id")

  val q21Oracle: String =
    """SELECT user_id, event_id, last_click_id FROM (
      |  SELECT user_id, event_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
      |  FROM events)
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, event_id""".stripMargin

  // q36 — PEAK-CONCURRENCY SWEEP over session intervals: sessionize (the
  // gated q20 definition), reduce each session to its [start, end] µs
  // interval, then the classic +1/−1 boundary sweep — per distinct
  // boundary instant, active = (starts ≤ t) − (ends < t), so a session
  // ending exactly when another starts still overlaps it, and the value
  // is order-independent within a tied instant (no tie-break needed).
  // Reported per hour of the boundary instant: peak concurrent sessions
  // + boundary counts — the capacity-planning table for any stateful
  // stream consumer (peak live sessions bounds mapGroupsWithState state).
  // Plan shape: the q20 per-user window shuffle, a per-instant hash agg,
  // then the TWO-PHASE prefix sum over the distinct-boundary table
  // (per-hour partitioned running sums + a broadcast carry over the
  // per-hour totals — ops.Prefix; no single-partition window over
  // data-sized input), then an hour hash agg. Peak is defined
  // at boundary instants (concurrency is constant between boundaries,
  // so each hour's true max is at a boundary in that hour or is the
  // carried-in value at its first boundary).
  def q36PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Sessions.sessionize(
        Tables.events(spark, dir).withColumn("t_us", tsUs),
        "user_id", "t_us", "event_id", 1800L * 1000000L)
      .groupBy("user_id", "session_id")
      .agg(min(col("t_us")).as("s_us"), max(col("t_us")).as("e_us"))
    val bounds = sess.select(col("s_us").as("t"), lit(1L).as("st"), lit(0L).as("en"))
      .unionByName(
        sess.select(col("e_us").as("t"), lit(0L).as("st"), lit(1L).as("en")))
      .groupBy("t")
      .agg(sum(col("st")).as("n_starts"), sum(col("en")).as("n_ends"))
    // two-phase prefix sums bucketed by hour (monotone in t, and the
    // report grain): per-hour windows run partitioned, only the per-hour
    // totals see a global order — see ops.Prefix for the scale argument.
    // active at t = (starts ≤ t) − (ends < t) = run_starts − (run_ends −
    // ends_at_t), all from the two INCLUSIVE running sums.
    graft.ops.Prefix.runningSumsInclusive(bounds, Seq("t"),
        expr("t div 3600000000"),
        Seq("n_starts" -> "run_starts", "n_ends" -> "run_ends"))
      .withColumn("active",
        col("run_starts") - (col("run_ends") - col("n_ends")))
      .groupBy((expr("t div 3600000000") * 3600L).as("hour_s"))
      .agg(max(col("active")).as("peak_concurrent"),
        sum(col("n_starts")).as("n_starts"), sum(col("n_ends")).as("n_ends"))
      .orderBy("hour_s")
  }

  val q36Oracle: String =
    """WITH sess AS (
      |  SELECT user_id, session_id, MIN(t) AS s_us, MAX(t) AS e_us FROM (
      |    SELECT user_id, t,
      |      SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |    FROM (
      |      SELECT user_id, event_id, epoch_us(ts) AS t,
      |        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |                  IS NULL THEN 1
      |             WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |                  > 1800000000 THEN 1
      |             ELSE 0 END AS is_new
      |      FROM events))
      |  GROUP BY user_id, session_id
      |), bounds AS (
      |  SELECT t, SUM(st) AS n_starts, SUM(en) AS n_ends FROM (
      |    SELECT s_us AS t, 1 AS st, 0 AS en FROM sess
      |    UNION ALL
      |    SELECT e_us, 0, 1 FROM sess)
      |  GROUP BY t
      |), active AS (
      |  SELECT t, n_starts, n_ends,
      |    SUM(n_starts) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - COALESCE(SUM(n_ends) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS active
      |  FROM bounds
      |)
      |SELECT (t // 3600000000) * 3600 AS hour_s,
      |  CAST(MAX(active) AS BIGINT) AS peak_concurrent,
      |  CAST(SUM(n_starts) AS BIGINT) AS n_starts,
      |  CAST(SUM(n_ends) AS BIGINT) AS n_ends
      |FROM active GROUP BY 1 ORDER BY hour_s""".stripMargin

  // q37 — COHORT RETENTION MATRIX: users grouped by their first-activity
  // epoch-week (the cohort), then for each later week the count of
  // cohort members still active — the (cohort_week, week_offset) →
  // n_users triangle every product-analytics stack computes. Weeks are
  // exact integer epoch-week indices (µs div week-µs), so the gate is
  // exact. Plan shape: one (user) shuffle for the first-week fold, one
  // (user, week) distinct (map-side partial), a broadcast-able join of
  // the per-user cohort back to the activity set, and the final
  // (cohort, offset) hash agg — no window, no self-join; every shuffle
  // key has corpus-proportional cardinality (no skew funnel).
  def q37CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("week"))
    val cohort = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.distinct()
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("user_id_sum"))
      .orderBy("cohort_week", "week_offset")
  }

  val q37Oracle: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events
      |), cohort AS (
      |  SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
      |)
      |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
      |  COUNT(*) AS n_users, CAST(SUM(e.user_id) AS BIGINT) AS user_id_sum
      |FROM ev e JOIN cohort c ON e.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  // q43 — TIME-SERIES GAP-FILL + FORWARD FILL: densify each user's
  // sparse daily activity onto the corpus-wide day grid (sequence +
  // explode — Spark's generate_series), zero/forward-fill, and report
  // per-user gap structure (active days, total/max gap) plus a
  // checksum of the forward-filled daily close. The densify/ffill pair
  // is the feature-engineering operator every training-data
  // timeseries pipeline runs before windowed featurization; `last(...,
  // ignoreNulls)` over a running frame is its Spark form (DuckDB:
  // last_value IGNORE NULLS). Determinism: the daily close is max_by
  // over the (µs, event_id) total order; gaps are integer day
  // arithmetic; the grid span is a 1-row broadcast. Plan: one (user,
  // day) agg shuffle, the grid generated narrow per user (days are
  // bounded — users × days rows, never a shuffle of the raw feed),
  // one (user) window for the fill. At 100 TB the grid mass is
  // |users|·|days| — orders below the event mass it summarizes.
  def q43GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"),
        col("event_id"), cents(col("value")).as("v_cents"),
        expr("ts div 1000").as("us"))
    val daily = ev.groupBy("user_id", "day")
      .agg(max_by(col("v_cents"),
        struct(col("us"), col("event_id"))).as("close_cents"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = daily.select("user_id").distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("close_ff",
        last(col("close_cents"), ignoreNulls = true).over(wf))
    val wl = Window.partitionBy("user_id").orderBy("day")
    val gapAgg = daily.select("user_id", "day")
      .withColumn("gap", col("day") - lag(col("day"), 1).over(wl) - 1)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_active_days"),
        sum(coalesce(col("gap"), lit(0L))).as("n_gap_days"),
        max(coalesce(col("gap"), lit(0L))).as("max_gap"))
    filled.filter(col("close_ff").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_filled_days"),
        sum(col("close_ff")).as("ff_checksum"))
      .join(gapAgg, Seq("user_id"))
      .select(col("user_id"), col("n_active_days"), col("n_gap_days"),
        col("max_gap"), col("n_filled_days"), col("ff_checksum"))
      .orderBy("user_id")
  }

  val q43Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS v_cents, epoch_us(ts) AS us
      |  FROM events
      |), daily AS (
      |  SELECT user_id, day, v_cents AS close_cents FROM (
      |    SELECT user_id, day, v_cents,
      |      row_number() OVER (PARTITION BY user_id, day
      |                         ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1
      |), span AS (
      |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
      |), grid AS (
      |  SELECT u.user_id, unnest(generate_series(s.d0, s.d1)) AS day
      |  FROM (SELECT DISTINCT user_id FROM daily) u, span s
      |), filled AS (
      |  SELECT g.user_id, g.day,
      |    last_value(d.close_cents IGNORE NULLS) OVER (
      |      PARTITION BY g.user_id ORDER BY g.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff
      |  FROM grid g LEFT JOIN daily d
      |    ON d.user_id = g.user_id AND d.day = g.day
      |), ga AS (
      |  SELECT user_id, COUNT(*) AS n_active_days,
      |    CAST(SUM(COALESCE(gap, 0)) AS BIGINT) AS n_gap_days,
      |    MAX(COALESCE(gap, 0)) AS max_gap
      |  FROM (
      |    SELECT user_id,
      |      day - lag(day) OVER (PARTITION BY user_id ORDER BY day) - 1 AS gap
      |    FROM daily)
      |  GROUP BY user_id
      |), fa AS (
      |  SELECT user_id, COUNT(*) AS n_filled_days,
      |    CAST(SUM(close_ff) AS BIGINT) AS ff_checksum
      |  FROM filled WHERE close_ff IS NOT NULL GROUP BY user_id
      |)
      |SELECT user_id, n_active_days, n_gap_days, max_gap,
      |  n_filled_days, ff_checksum
      |FROM fa JOIN ga USING (user_id) ORDER BY user_id""".stripMargin

  // q44 — BITWISE + BOOLEAN aggregate families (bit_and/or/xor,
  // bool_and/bool_or): the flag-mask folds (permission masks, feature
  // flags, shard-coverage bitmaps) and guard predicates (every/any)
  // relational engines ship and this inventory hadn't pinned. All are
  // commutative-associative integer/boolean monoids — map-side partial
  // merge, exact cross-engine by construction, skew-immune. One hash
  // aggregate over the pushed 3-column scan.
  def q44BitBoolAggs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        bit_and(col("user_id")).as("uid_and"),
        bit_or(col("user_id")).as("uid_or"),
        bit_xor(col("user_id")).as("uid_xor"),
        bool_and(col("value") < 100.0).as("all_small"),
        bool_or(col("value") > 400.0).as("any_large"),
        bool_and(col("value") > 0.0).as("all_positive"))
      .orderBy("event_type")

  val q44Oracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(bit_and(user_id) AS BIGINT) AS uid_and,
      |  CAST(bit_or(user_id) AS BIGINT) AS uid_or,
      |  CAST(bit_xor(user_id) AS BIGINT) AS uid_xor,
      |  bool_and(value < 100.0) AS all_small,
      |  bool_or(value > 400.0) AS any_large,
      |  bool_and(value > 0.0) AS all_positive
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q22 — two-stage salted aggregation: the skew pattern for hot grouping
  // keys (event_type has 5 values; at 100 TB a single-stage groupBy would
  // funnel each key through one reducer). Stage 1 spreads each key over 16
  // salts (shuffle keyed on (key, salt)), stage 2 combines the 16 partials.
  // Result is identical to the plain aggregate — which is the oracle.
  def q22SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pc"), sum(cents(col("value"))).as("pv"))
      .groupBy("event_type")
      .agg(sum(col("pc")).as("n_events"),
        (sum(col("pv")).cast("double") / 100.0).as("total_value"))
      .orderBy("event_type")

  val q22Oracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q23 — approximate distinct (HyperLogLog++) validated against the exact
  // count: HLL sketches differ across engines, so the oracle checks the
  // exact count plus the (deterministic-for-fixed-data) bounded-error flag.
  def q23ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") < 0.15).as("approx_ok"))
      .orderBy("event_type")

  val q23Oracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q24 — JSON → typed map → explode (map functions over the props column).
  def q24JsonMap(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(explode(from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
        .as(Seq("key", "val")))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("val").cast("long")).as("total"),
        countDistinct(col("val")).as("n_distinct_vals"))
      .orderBy("key")

  val q24Oracle: String =
    """SELECT 'k' AS key, COUNT(*) AS n,
      |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS total,
      |  COUNT(DISTINCT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS n_distinct_vals
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // q25 — range join: clicks within ±5 min of each purchase by the same
  // user. Executes as an equi-join on user_id (the shuffle key) with the
  // band predicate as a post-join filter — linear in the per-user group
  // sizes, no cross join.
  def q25RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("t_us", expr("ts div 1000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("t_us").as("pt"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("t_us").as("ct"))
    p.join(c, col("user_id") === col("c_user") &&
        col("ct") >= col("pt") - 300000000L && col("ct") <= col("pt") + 300000000L,
        "left_outer")
      .groupBy("purchase_id", "user_id")
      .agg(count(col("c_user")).as("n_clicks_5min"))
      .orderBy("purchase_id")
  }

  val q25Oracle: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_5min
      |FROM events p
      |LEFT JOIN events c ON c.event_type = 'click' AND c.user_id = p.user_id
      |  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 300000000 AND epoch_us(p.ts) + 300000000
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin

  // q26 — pivot: per-user event-type counts as columns (explicit value
  // list, so the plan is a single pass — no distinct-values pre-query).
  def q26Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  val q26Oracle: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // q27 — unpivot (melt): wide metric columns to (metric, value) rows,
  // in exact cents, re-aggregated per metric.
  def q27Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_discount") * 100).cast("long").as("disc_pct"),
        round(col("l_tax") * 100).cast("long").as("tax_pct"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("qty"), col("disc_pct"), col("tax_pct")),
        "metric", "value")
      .groupBy("metric")
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
      .orderBy("metric")

  val q27Oracle: String =
    """SELECT metric, CAST(SUM(value) AS BIGINT) AS total, COUNT(*) AS n FROM (
      |  SELECT 'qty' AS metric, CAST(round(l_quantity) AS BIGINT) AS value FROM lineitem
      |  UNION ALL
      |  SELECT 'disc_pct', CAST(round(l_discount*100) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'tax_pct', CAST(round(l_tax*100) AS BIGINT) FROM lineitem)
      |GROUP BY metric ORDER BY metric""".stripMargin

  // q28 — exact percentiles (median) over integer cents: interpolation at
  // p=0.5 is (a+b)/2 of longs, exact in double on both engines.
  def q28Median(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("value_cents", cents(col("value")))
      .groupBy("event_type")
      .agg(
        expr("percentile(value_cents, 0.5)").as("median_cents"),
        min(col("value_cents")).as("min_cents"),
        max(col("value_cents")).as("max_cents"))
      .orderBy("event_type")

  val q28Oracle: String =
    """SELECT event_type,
      |  quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) AS median_cents,
      |  CAST(MIN(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS min_cents,
      |  CAST(MAX(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q52 — IGNORE NULLS window family: forward-fill (last_value), previous
  // non-null (lag), first and second non-null seen so far (first_value /
  // nth_value) — the null-skipping navigation functions every gap-carrying
  // time series (sensor feeds, sparse CDC columns, sessionized metrics)
  // leans on, and a distinct evaluation path in both engines (the frame
  // must SKIP null rows, not just null out — a plain `last_value` over the
  // same frame returns a different column). `value` has no nulls in the
  // testdata, so nulls are INJECTED deterministically (view/error rows) to
  // keep every skip path live; the surviving doubles are carried through
  // untouched (no arithmetic), so the gate is byte-exact. Deterministic
  // user sample keeps the row-level output gate-sized at any SF. One
  // shuffle on user_id; all four functions share one window spec.
  def q52IgnoreNulls(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .filter(col("user_id") % 97 === 0)
      .select(col("user_id"), col("event_id"), tsUs.as("t"),
        when(col("event_type").isin("view", "error"), lit(null))
          .otherwise(col("value")).as("v"))
    val wOrd = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("ffill", last(col("v"), ignoreNulls = true).over(wCum))
      .withColumn("prev_nn", lag(col("v"), 1, null, ignoreNulls = true).over(wOrd))
      .withColumn("second_nn", nth_value(col("v"), 2, ignoreNulls = true).over(wCum))
      .withColumn("first_nn", first(col("v"), ignoreNulls = true).over(wCum))
      .orderBy("user_id", "t", "event_id")
  }

  val q52Oracle: String =
    """WITH base AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    CASE WHEN event_type IN ('view', 'error') THEN NULL
      |         ELSE value END AS v
      |  FROM events WHERE user_id % 97 = 0
      |)
      |SELECT user_id, event_id, t, v,
      |  last_value(v IGNORE NULLS) OVER w AS ffill,
      |  lag(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY t, event_id) AS prev_nn,
      |  nth_value(v, 2 IGNORE NULLS) OVER w AS second_nn,
      |  first_value(v IGNORE NULLS) OVER w AS first_nn
      |FROM base
      |WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, t, event_id""".stripMargin

  // q53 — EXACT SLIDING-WINDOW DISTINCT COUNT (trailing-7-day active
  // users per event type): the one windowed metric a plain window frame
  // CANNOT express efficiently — COUNT(DISTINCT) over a moving frame
  // either isn't supported (Spark) or holds a per-row distinct state.
  // The scalable exact formulation: reduce to distinct (type, day, user)
  // granules, EXPAND each granule to the ≤ 7 window days it covers (a
  // 7× row multiplier — constant, not data-dependent), dedup, and count
  // with plain hash aggregates. Every step is a bounded shuffle on its
  // group key; no collect_set state, no per-row set union. Cover days
  // are restricted to days present in the data (a trailing window needs
  // no future grid). All integers — day = epoch-µs div 86 400 000 000 —
  // so the gate is exact at every SF.
  def q53SlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
      .distinct()
    val days = du.select("day").distinct()
    val daily = du.groupBy("event_type", "day").agg(count(lit(1)).as("dau"))
    val u7d = du
      .select(col("event_type"), col("user_id"),
        explode(expr("sequence(day, day + 6)")).as("day"))
      .join(days, Seq("day"), "left_semi")
      .distinct()
      .groupBy("event_type", "day").agg(count(lit(1)).as("u7d"))
    daily.join(u7d, Seq("event_type", "day"))
      .select("event_type", "day", "dau", "u7d")
      .orderBy("event_type", "day")
  }

  val q53Oracle: String =
    """WITH du AS (
      |  SELECT DISTINCT event_type,
      |    epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events
      |), days AS (
      |  SELECT DISTINCT day FROM du
      |), daily AS (
      |  SELECT event_type, day, COUNT(*) AS dau FROM du GROUP BY 1, 2
      |), cov AS (
      |  SELECT DISTINCT event_type, user_id, du.day + r.range AS day
      |  FROM du CROSS JOIN range(7) r
      |), u7d AS (
      |  SELECT event_type, day, COUNT(*) AS u7d
      |  FROM cov WHERE day IN (SELECT day FROM days)
      |  GROUP BY 1, 2
      |)
      |SELECT d.event_type, d.day, d.dau, u.u7d
      |FROM daily d JOIN u7d u ON d.event_type = u.event_type AND d.day = u.day
      |ORDER BY d.event_type, d.day""".stripMargin

  // q55 — CROSS-TABLE AS-OF JOIN (the rate-lookup / point-in-time join):
  // price every click at the user's most recent purchase value at-or-
  // before the click instant. q21 gated the same-table last-before
  // window; this gates the general two-relation operator — and the
  // oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so the tagged-union
  // single-window formulation in [[graft.ops.Sessions.asOfJoin]] is
  // checked against a dedicated as-of implementation, not against its
  // own window translation. The right side pre-aggregates to one row
  // per (user, instant) (asOfJoin's uniqueness contract); plan is one
  // window shuffle on user_id — no inequality-join range expansion.
  def q55AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("t", tsUs)
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "t").agg(max(col("value")).as("pval"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "t", "event_id")
    graft.ops.Sessions.asOfJoin(clicks, purchases, "user_id", "t", Seq("pval"))
      .select(col("user_id"), col("event_id"),
        col("asof_pval").as("last_purchase_value"))
      .orderBy("user_id", "event_id")
  }

  val q55Oracle: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS t, MAX(value) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), c AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT c.user_id, c.event_id, p.pval AS last_purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t >= p.t
      |ORDER BY c.user_id, c.event_id""".stripMargin

  // q56 — NATIVE RECURSIVE CTE (SQL:1999 recursion, Spark 4's UnionLoop
  // operator): level-by-level walk of the implicit binary-heap hierarchy
  // over supplier keys (parent(k) = (k−1) DIV 2, root 0), aggregated per
  // depth. Each recursion step is an ordinary keyed equi-join of the
  // previous level against the base table — at scale the loop body plans
  // exactly like g06's hand-rolled BFS rounds (vertex-keyed shuffle per
  // level, level width bounded by the branching factor), but here the
  // iteration is declared in SQL and driven by the engine, which gates
  // Spark's recursion machinery itself against DuckDB's WITH RECURSIVE.
  // Depth grows O(log n) with the supplier count, so the gate stays live
  // and cheap at every SF. All-integer output.
  def q56RecursiveTree(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_supplier_q56")
    spark.sql(
      """WITH RECURSIVE r AS (
        |  SELECT CAST(0 AS BIGINT) AS key, 0 AS depth
        |  UNION ALL
        |  SELECT s.s_suppkey, r.depth + 1
        |  FROM graft_supplier_q56 s JOIN r ON (s.s_suppkey - 1) DIV 2 = r.key
        |  WHERE s.s_suppkey >= 1
        |)
        |SELECT depth, COUNT(*) AS n_nodes, CAST(SUM(key) AS BIGINT) AS sum_key
        |FROM r GROUP BY depth ORDER BY depth""".stripMargin)
  }

  val q56Oracle: String =
    """WITH RECURSIVE r AS (
      |  SELECT CAST(0 AS BIGINT) AS key, 0 AS depth
      |  UNION ALL
      |  SELECT s.s_suppkey, r.depth + 1
      |  FROM supplier s JOIN r ON (s.s_suppkey - 1) // 2 = r.key
      |  WHERE s.s_suppkey >= 1
      |)
      |SELECT depth, COUNT(*) AS n_nodes, CAST(SUM(key) AS BIGINT) AS sum_key
      |FROM r GROUP BY depth ORDER BY depth""".stripMargin

  // q57 — KMV / THETA DISTINCT-COUNT SKETCH (Bar-Yossef et al. 2002; the
  // DataSketches theta family): per group keep the k=32 smallest 60-bit
  // md5 hashes of the key; estimate = (k−1)·2^60 / kth-smallest-hash, or
  // the exact kept count when fewer than k distinct values exist. Unlike
  // HyperLogLog it needs NO small-range correction branch (no libm log —
  // the one float op is a single division of exactly-representable
  // values, bit-identical cross-engine), and it MERGES: the `__ALL__`
  // row's sketch is built from the per-group k-min sets, never from the
  // raw data — k smallest of a union of k-min sets equals k smallest of
  // the union — which is exactly how per-partition sketches combine on a
  // 1000-executor rollup. Exact distinct counts ride along so the gate
  // (and the reader) sees the real error. Scale shape: one (grp, hash)
  // distinct shuffle, then a rank-limited window Spark rewrites to
  // map-side WindowGroupLimit; the merged arm reads ≤ k rows per group
  // and folds them in ONE bounded sort_array aggregate (≤ k·|groups|
  // elements by construction) — no constant-partition window, so the
  // "single partition" WindowExec class never appears.
  def q57KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val h = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"),
        conv(substring(md5(col("o_custkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct()
    val perGroup = h
      .withColumn("rn",
        row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rn") <= k)
      .localCheckpoint(true)
    val perGroupSketch = perGroup.groupBy("grp")
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === k, col("h"))).as("kth"))
    val mergedSketch = perGroup.select("h").distinct()
      .agg(sort_array(collect_list(col("h"))).as("hs"))
      .select(lit("__ALL__").as("grp"),
        least(size(col("hs")), lit(k)).cast("long").as("n_kept"),
        when(size(col("hs")) >= k, element_at(col("hs"), k)).as("kth"))
    val sketches = perGroupSketch.unionByName(mergedSketch)
    val exact = h.groupBy("grp").agg(count(lit(1)).as("n_exact"))
      .unionByName(h.select("h").distinct()
        .agg(count(lit(1)).as("n_exact"))
        .select(lit("__ALL__").as("grp"), col("n_exact")))
    sketches.join(exact, Seq("grp"))
      .select(col("grp"), col("n_exact"), col("n_kept"),
        coalesce(col("kth"), lit(-1L)).as("kth_hash"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(31.0) * lit(1152921504606846976.0)
            / col("kth").cast("double")).as("est"))
      .orderBy("grp")
  }

  val q57Oracle: String =
    """WITH h AS (
      |  SELECT DISTINCT o_orderpriority AS grp,
      |    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM orders
      |), kept AS (
      |  SELECT * FROM (
      |    SELECT grp, h,
      |      row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
      |    FROM h) WHERE rn <= 32
      |), keptall AS (
      |  SELECT * FROM (
      |    SELECT '__ALL__' AS grp, h, row_number() OVER (ORDER BY h) AS rn
      |    FROM (SELECT DISTINCT h FROM kept)) WHERE rn <= 32
      |), sk AS (
      |  SELECT grp, COUNT(*) AS n_kept,
      |    MAX(CASE WHEN rn = 32 THEN h END) AS kth
      |  FROM (SELECT * FROM kept UNION ALL SELECT * FROM keptall)
      |  GROUP BY grp
      |), ex AS (
      |  SELECT grp, COUNT(*) AS n_exact FROM h GROUP BY grp
      |  UNION ALL
      |  SELECT '__ALL__', COUNT(DISTINCT h) FROM h
      |)
      |SELECT s.grp, e.n_exact, s.n_kept,
      |  COALESCE(s.kth, -1) AS kth_hash,
      |  CASE WHEN s.n_kept < 32 THEN CAST(s.n_kept AS DOUBLE)
      |       ELSE CAST(31 AS DOUBLE) * 1152921504606846976.0
      |            / CAST(s.kth AS DOUBLE) END AS est
      |FROM sk s JOIN ex e USING (grp) ORDER BY s.grp""".stripMargin

  // q58 — COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan 2005):
  // a d=4 × w=64 integer counter matrix; each term adds its count to one
  // slot per row (md5-derived slot index), estimate = min over the 4
  // slots. Everything is INTEGER — counters, estimates, errors — so the
  // gate is exact cross-engine with zero float hazard, and the sketch
  // MERGES by plain element-wise sum: per-partition (i, slot) partial
  // counts combine in one ≤256-row shuffle, exactly how 1000 executors
  // (or 1000 daily corpus shards) would fold their sketches into one.
  // The CMS guarantee rides along in the output: `overest ≥ 0` always
  // (one-sided error), and the exact counts sit next to the estimates so
  // the gate measures the real collision error at this tiny w. Scale
  // shape: one term-keyed count shuffle (the natural partial the corpus
  // needs anyway), a ×4 slot expansion of the TERM-COUNT table (not the
  // token stream), a ≤256-row counter aggregate that is broadcast back
  // at probe time; the probe set is the exact top-10, orderBy().limit()
  // over the aggregated term table.
  def q58CountMin(spark: SparkSession, dir: String): DataFrame = {
    val w = 64L
    val rows = array((0 until 4).map(lit(_)): _*)
    def slot(i: Column, term: Column): Column =
      pmod(conv(substring(md5(concat_ws(":", i, term)), 1, 8), 16, 10)
        .cast("long"), lit(w))
    val tc = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val counters = tc
      .select(explode(rows).as("i"), col("term"), col("cnt"))
      .select(col("i"), slot(col("i"), col("term")).as("c"), col("cnt"))
      .groupBy("i", "c").agg(sum("cnt").as("bucket_cnt"))
    val probe = tc.orderBy(col("cnt").desc, col("term")).limit(10)
    probe
      .select(explode(rows).as("i"), col("term"), col("cnt"))
      .select(col("i"), slot(col("i"), col("term")).as("c"),
        col("term"), col("cnt"))
      .join(broadcast(counters), Seq("i", "c"))
      .groupBy("term", "cnt").agg(min("bucket_cnt").as("cms_est"))
      .select(col("term"), col("cnt").as("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("cnt")).as("overest"))
      .orderBy("term")
  }

  val q58Oracle: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
      |), tc AS (
      |  SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
      |), ex AS (
      |  SELECT i, term, cnt,
      |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || term), 1, 8))
      |      AS BIGINT) % 64 AS c
      |  FROM tc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
      |), counters AS (
      |  SELECT i, c, SUM(cnt) AS bucket_cnt FROM ex GROUP BY i, c
      |), probe AS (
      |  SELECT term, cnt FROM tc ORDER BY cnt DESC, term LIMIT 10
      |), pex AS (
      |  SELECT i, term, cnt,
      |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || term), 1, 8))
      |      AS BIGINT) % 64 AS c
      |  FROM probe CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
      |)
      |SELECT p.term, CAST(p.cnt AS BIGINT) AS exact_cnt,
      |  CAST(MIN(co.bucket_cnt) AS BIGINT) AS cms_est,
      |  CAST(MIN(co.bucket_cnt) - p.cnt AS BIGINT) AS overest
      |FROM pex p JOIN counters co ON co.i = p.i AND co.c = p.c
      |GROUP BY p.term, p.cnt ORDER BY p.term""".stripMargin

  // q59 — SEQUENTIAL FUNNEL (view → click → purchase) with per-step
  // time-gap constraints, by weekly first-touch cohort: the product-
  // analytics / MATCH_RECOGNIZE-lite shape. Semantics: a user's funnel
  // anchors at their FIRST view; step k+1 is the first qualifying event
  // STRICTLY after step k and within 48 h of it — each step's timestamp
  // conditions on the previous step's, which is what makes this a
  // sequence match and not three independent aggregates. Scale shape:
  // entirely user-keyed — one per-type filtered aggregate and two
  // user-keyed equi-joins (no windows, no per-user sort, no
  // re-partitioning between steps: every shuffle is on user_id, so AQE
  // reuses the co-location); the cohort rollup at the end is a
  // handful-of-rows aggregate. Timestamps stay in the table's epoch-nanos
  // Long contract end-to-end (q37's integer epoch-week idiom for the
  // cohort key; latency in integer seconds via `div`) — no float, no
  // timestamp-repr hazard, exact gate.
  def q59Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val gapNs = lit(172800000000000L) // 48 h in nanos
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("v_ts") && col("ts") <= col("v_ts") + gapNs)
      .groupBy("user_id").agg(min("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("c_ts") && col("ts") <= col("c_ts") + gapNs)
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .groupBy(expr("(v_ts div 1000) div 604800000000").as("cohort_week"))
      .agg(count(lit(1)).as("n_view"),
        count(col("c_ts")).as("n_click"),
        count(col("p_ts")).as("n_purchase"),
        coalesce(sum(expr("(p_ts - v_ts) div 1000000000")), lit(0L))
          .as("sum_convert_secs"))
      .orderBy("cohort_week")
  }

  val q59Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events
      |), v AS (
      |  SELECT user_id, MIN(ts) AS v_ts FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(e.ts) AS c_ts
      |  FROM ev e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
      |    AND e.ts <= v.v_ts + 172800000000000
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(e.ts) AS p_ts
      |  FROM ev e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      |    AND e.ts <= c.c_ts + 172800000000000
      |  GROUP BY e.user_id
      |)
      |SELECT (v.v_ts // 1000) // 604800000000 AS cohort_week,
      |  COUNT(*) AS n_view, COUNT(c.c_ts) AS n_click,
      |  COUNT(p.p_ts) AS n_purchase,
      |  CAST(COALESCE(SUM((p.p_ts - v.v_ts) // 1000000000), 0) AS BIGINT)
      |    AS sum_convert_secs
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q60 — BLOOM-FILTER PRE-FILTERED SEMI-JOIN: the shuffle-mass reducer
  // for big-probe joins (Spark's own runtime row-group filtering plays
  // this trick below the plan; here it is a first-class, auditable op).
  // Build: a 128 Ki-bit bloom bitmap (3 md5-derived positions per key,
  // 32-bit words in BIGINT slots — 4096 words, codebook-sized for
  // broadcast; production sizing is ~10-16 bits/key and the audit
  // columns below measure exactly what an undersized bitmap costs)
  // over the urgent-order keys, aggregated
  // with `bit_or` — associative, so per-partition partial bitmaps merge
  // exactly like 1000 executors would fold theirs. Probe: each lineitem
  // row tests its 3 bits via three BROADCAST joins on slot (≤128 rows
  // broadcast; zero probe-side shuffle — the test runs inside the scan
  // stage), and only bloom-passed rows reach the exact left-semi join
  // that removes false positives. The result is bloom-INDEPENDENT
  // (no false negatives), so the oracle's plain semi-join gates the
  // exact arm, while n_bloom_pass / n_false_pos are themselves
  // deterministic integers that gate the bitmap construction
  // cross-engine. At 100 TB the win is the probe rows dropped BEFORE
  // the join shuffle: here 5/6 of the probe never leaves the scan.
  def q60BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val m = 131072L
    def posOf(i: Column, key: Column): Column =
      pmod(conv(substring(md5(concat_ws(":", i, key)), 1, 8), 16, 10)
        .cast("long"), lit(m))
    val keys = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey")).distinct()
      .localCheckpoint(true)
    val bits = keys
      .select(explode(array((0 until 3).map(lit(_)): _*)).as("i"), col("o_orderkey"))
      .select(posOf(col("i"), col("o_orderkey")).as("p"))
      .select(expr("p div 32").as("slot"),
        expr("shiftleft(1L, cast(p % 32 as int))").as("w"))
      .groupBy("slot").agg(expr("bit_or(w)").as("word"))
    var probe = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
    for (i <- 0 until 3) {
      probe = probe
        .withColumn(s"p$i", posOf(lit(i), col("l_orderkey")))
        .withColumn(s"slot$i", expr(s"p$i div 32"))
        .withColumn(s"mask$i", expr(s"shiftleft(1L, cast(p$i % 32 as int))"))
        .join(broadcast(bits.withColumnRenamed("slot", s"slot$i")
          .withColumnRenamed("word", s"word$i")), Seq(s"slot$i"), "left")
    }
    val tested = probe.withColumn("bloom_pass",
      (0 until 3).map(i => coalesce(col(s"word$i"), lit(0L))
        .bitwiseAND(col(s"mask$i")) =!= lit(0L)).reduce(_ && _))
      .localCheckpoint(true)
    val trueM = tested.filter(col("bloom_pass"))
      .join(keys.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
    val passes = tested.agg(count(lit(1)).as("n_probe"),
      sum(col("bloom_pass").cast("long")).as("n_bloom_pass"))
    val exact = trueM.agg(count(lit(1)).as("n_true_rows"),
      sum(col("l_quantity").cast("long")).as("sum_qty_true"))
    passes.crossJoin(exact)
      .select(col("n_probe"), col("n_bloom_pass"), col("n_true_rows"),
        (col("n_bloom_pass") - col("n_true_rows")).as("n_false_pos"),
        col("sum_qty_true"))
  }

  val q60Oracle: String =
    """WITH keys AS (
      |  SELECT DISTINCT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      |), pos AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
      |      CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 131072 AS p
      |  FROM keys CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
      |), bits AS (
      |  SELECT p // 32 AS slot,
      |    bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS word
      |  FROM pos GROUP BY 1
      |), probe AS (
      |  SELECT l_orderkey, l_quantity,
      |    CAST(('0x' || substr(md5('0:' || CAST(l_orderkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 131072 AS p0,
      |    CAST(('0x' || substr(md5('1:' || CAST(l_orderkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 131072 AS p1,
      |    CAST(('0x' || substr(md5('2:' || CAST(l_orderkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 131072 AS p2
      |  FROM lineitem
      |), tested AS (
      |  SELECT pr.l_orderkey, pr.l_quantity,
      |    (COALESCE(b0.word, 0) & (1::BIGINT << CAST(p0 % 32 AS INT))) != 0
      |    AND (COALESCE(b1.word, 0) & (1::BIGINT << CAST(p1 % 32 AS INT))) != 0
      |    AND (COALESCE(b2.word, 0) & (1::BIGINT << CAST(p2 % 32 AS INT))) != 0
      |      AS bloom_pass
      |  FROM probe pr
      |  LEFT JOIN bits b0 ON b0.slot = pr.p0 // 32
      |  LEFT JOIN bits b1 ON b1.slot = pr.p1 // 32
      |  LEFT JOIN bits b2 ON b2.slot = pr.p2 // 32
      |), passes AS (
      |  SELECT COUNT(*) AS n_probe,
      |    CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_bloom_pass
      |  FROM tested
      |), ex AS (
      |  SELECT COUNT(*) AS n_true_rows,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_true
      |  FROM tested t
      |  WHERE t.bloom_pass AND EXISTS (
      |    SELECT 1 FROM keys k WHERE k.o_orderkey = t.l_orderkey)
      |)
      |SELECT p.n_probe, p.n_bloom_pass, e.n_true_rows,
      |  p.n_bloom_pass - e.n_true_rows AS n_false_pos, e.sum_qty_true
      |FROM passes p CROSS JOIN ex e""".stripMargin

  // q61 — HYPERLOGLOG REGISTER SKETCH (Flajolet et al. 2007), built from
  // integer primitives and gated on its MERGE law — completing the
  // mergeable-sketch family next to q57 (KMV), q58 (count-min) and q60
  // (Bloom): distinct parts per returnflag, m = 64 registers, the
  // 60-bit md5 value split as register = h >> 54 and rank
  // ρ = (leading zeros of the remaining 54 bits) + 1 via the engines'
  // shared `length(bin(x))` = ⌊log2 x⌋+1 identity (the cdc29 trick) —
  // no floats anywhere. The gate carries the sketch BOTH ways: direct
  // per-flag register maxima, and per-shard partial sketches (orderkey
  // mod 4 — the "independent executors" stand-in) merged by register
  // max; `sum48` and `sum48_merged` must agree, which is exactly the
  // 100-TB property that matters (partial sketches from any partitioning
  // combine losslessly — the property approx_count_distinct relies on,
  // here exposed as data). The harmonic-mean estimate keeps the integer
  // discipline: Σ 2^(48-ρ) is an exact BIGINT (absent registers
  // contribute 2^48), est = α·m²·2^48/sum via two integer divisions
  // computed identically cross-engine, err_ppm audits it against the
  // exact distinct count. Scale shape: NO distinct before the sketch —
  // ρ flows from every row and partial-aggregates map-side into ≤
  // flags×shards×64 rows; only the audit column pays the exact-distinct
  // shuffle (drop it in production and nothing data-sized remains
  // after the scan).
  def q61HllSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Hll
    val base = Hll.withRegRho(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"),
          pmod(col("l_orderkey"), lit(4)).as("shard"), col("l_partkey")),
      col("l_partkey"))
    // direct sketch: per-flag register maxima
    val direct = base.groupBy("l_returnflag", "reg")
      .agg(max(col("rho")).as("r"))
    // sharded partials merged by register max — the merge law under test
    val merged = base.groupBy("l_returnflag", "shard", "reg")
      .agg(max(col("rho")).as("r"))
      .groupBy("l_returnflag", "reg").agg(max(col("r")).as("r"))
    def sumCol(df: DataFrame, out: String): DataFrame =
      df.groupBy("l_returnflag")
        .agg(Hll.sum48OverR.as(out), count(lit(1)).as(out + "_present"))
    val dSum = sumCol(direct, "sum48")
    val mSum = sumCol(merged, "sum48_merged").drop("sum48_merged_present")
    val exact = Tables.lineitem(spark, dir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    dSum.join(mSum, "l_returnflag").join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        col("sum48_present").as("n_regs_hit"),
        col("sum48"), col("sum48_merged"),
        Hll.estExpr("sum48").as("est"),
        expr(s"abs(${Hll.estSql("sum48")} - n_exact) * 1000000L div n_exact")
          .as("err_ppm"))
      .orderBy("l_returnflag")
  }

  val q61Oracle: String =
    """WITH base AS (
      |  SELECT l_returnflag, l_orderkey % 4 AS shard,
      |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM lineitem
      |), rho AS (
      |  SELECT l_returnflag, shard, h >> 54 AS reg,
      |    CASE WHEN h % 18014398509481984 = 0 THEN 55
      |         ELSE 55 - length(bin(h % 18014398509481984)) END AS rho
      |  FROM base
      |), direct AS (
      |  SELECT l_returnflag, reg, MAX(rho) AS r
      |  FROM rho GROUP BY l_returnflag, reg
      |), partials AS (
      |  SELECT l_returnflag, shard, reg, MAX(rho) AS r
      |  FROM rho GROUP BY l_returnflag, shard, reg
      |), merged AS (
      |  SELECT l_returnflag, reg, MAX(r) AS r
      |  FROM partials GROUP BY l_returnflag, reg
      |), dsum AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(281474976710656 >> CAST(r AS INT)) +
      |      (64 - COUNT(*)) * 281474976710656 AS BIGINT) AS sum48,
      |    COUNT(*) AS n_regs_hit
      |  FROM direct GROUP BY l_returnflag
      |), msum AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(281474976710656 >> CAST(r AS INT)) +
      |      (64 - COUNT(*)) * 281474976710656 AS BIGINT) AS sum48_merged
      |  FROM merged GROUP BY l_returnflag
      |), exact AS (
      |  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_exact
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT d.l_returnflag, e.n_exact, d.n_regs_hit, d.sum48,
      |  m.sum48_merged,
      |  CAST(((281474976710656 * 4096 // d.sum48) * 709) // 1000 AS BIGINT)
      |    AS est,
      |  CAST(abs(((281474976710656 * 4096 // d.sum48) * 709) // 1000
      |    - e.n_exact) * 1000000 // e.n_exact AS BIGINT) AS err_ppm
      |FROM dsum d JOIN msum m USING (l_returnflag)
      |JOIN exact e USING (l_returnflag)
      |ORDER BY d.l_returnflag""".stripMargin

  // q62 — THETA-SKETCH SET INTERSECTION (the DataSketches/Druid
  // "audience overlap" estimator; Dasgupta et al. 2016): q57 keeps the
  // k smallest hashes per group and estimates each group's distinct
  // count — q62 composes two such sketches to estimate the
  // INTERSECTION, the operation raw distinct-counts cannot answer
  // (|A∩B| from a pairwise join is exactly what a 1000-executor rollup
  // wants to avoid). The theta rule: θ = min(θ_A, θ_B) (a group with
  // fewer than k distinct keys keeps everything and is exact — θ = 2^60),
  // the retained intersection is the common kept hashes below θ, and
  // est = common · 2^60 / θ — the one float op a single division of
  // identically-derived operands, q57's bit-identical discipline. The
  // exact pairwise intersection rides along as the audit (affordable at
  // test SF; dropped at 100 TB, which is the point of the sketch).
  // Scale shape: one (grp, hash) distinct shuffle + the map-side
  // WindowGroupLimit k-min rank; every pair computation reads ≤ k rows
  // per group, the 10-row pair table broadcasts, and only the audit
  // column pays the full A⋈B join.
  def q62ThetaIntersect(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val p60 = 1152921504606846976L // 2^60
    val h = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"),
        conv(substring(md5(col("o_custkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct().localCheckpoint(true)
    // derives from the checkpointed `h` — left un-checkpointed so the
    // map-side WindowGroupLimit stays visible in the audited plan
    val kmin = h
      .withColumn("rn",
        row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rn") <= k)
    val meta = kmin.groupBy("grp")
      .agg(count(lit(1)).as("n_kept"),
        coalesce(max(when(col("rn") === k, col("h"))), lit(p60)).as("theta"))
    val pairs = meta.select(col("grp").as("grp_a"), col("theta").as("th_a"))
      .join(meta.select(col("grp").as("grp_b"), col("theta").as("th_b")),
        col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        least(col("th_a"), col("th_b")).as("theta"))
    val common = kmin.select(col("grp").as("grp_a"), col("h"))
      .join(kmin.select(col("grp").as("grp_b"), col("h")), Seq("h"))
      .filter(col("grp_a") < col("grp_b"))
      .join(broadcast(pairs), Seq("grp_a", "grp_b"))
      .filter(col("h") < col("theta"))
      .groupBy("grp_a", "grp_b", "theta")
      .agg(count(lit(1)).as("n_common_kept"))
    val exactInter = h.select(col("grp").as("grp_a"), col("h"))
      .join(h.select(col("grp").as("grp_b"), col("h")), Seq("h"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b")
      .agg(count(lit(1)).as("n_exact_inter"))
    pairs
      .join(common.drop("theta"), Seq("grp_a", "grp_b"), "left")
      .join(exactInter, Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"), col("theta"),
        coalesce(col("n_common_kept"), lit(0L)).as("n_common_kept"),
        (coalesce(col("n_common_kept"), lit(0L)).cast("double") *
          lit(p60.toDouble) / col("theta").cast("double")).as("est_inter"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"))
      .orderBy("grp_a", "grp_b")
  }

  val q62Oracle: String =
    """WITH h AS (
      |  SELECT DISTINCT o_orderpriority AS grp,
      |    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM orders
      |), kmin AS (
      |  SELECT * FROM (
      |    SELECT grp, h,
      |      row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
      |    FROM h)
      |  WHERE rn <= 64
      |), meta AS (
      |  SELECT grp, COUNT(*) AS n_kept,
      |    COALESCE(MAX(CASE WHEN rn = 64 THEN h END), 1152921504606846976)
      |      AS theta
      |  FROM kmin GROUP BY grp
      |), pairs AS (
      |  SELECT a.grp AS grp_a, b.grp AS grp_b,
      |    least(a.theta, b.theta) AS theta
      |  FROM meta a JOIN meta b ON a.grp < b.grp
      |), common AS (
      |  SELECT a.grp AS grp_a, b.grp AS grp_b, COUNT(*) AS n_common_kept
      |  FROM kmin a JOIN kmin b ON a.h = b.h AND a.grp < b.grp
      |  JOIN pairs p ON p.grp_a = a.grp AND p.grp_b = b.grp
      |  WHERE a.h < p.theta
      |  GROUP BY 1, 2
      |), ex AS (
      |  SELECT a.grp AS grp_a, b.grp AS grp_b, COUNT(*) AS n_exact_inter
      |  FROM h a JOIN h b ON a.h = b.h AND a.grp < b.grp
      |  GROUP BY 1, 2
      |)
      |SELECT p.grp_a, p.grp_b, p.theta,
      |  CAST(COALESCE(c.n_common_kept, 0) AS BIGINT) AS n_common_kept,
      |  CAST(COALESCE(c.n_common_kept, 0) AS DOUBLE) * 1152921504606846976
      |    / CAST(p.theta AS DOUBLE) AS est_inter,
      |  CAST(COALESCE(e.n_exact_inter, 0) AS BIGINT) AS n_exact_inter
      |FROM pairs p
      |LEFT JOIN common c ON c.grp_a = p.grp_a AND c.grp_b = p.grp_b
      |LEFT JOIN ex e ON e.grp_a = p.grp_a AND e.grp_b = p.grp_b
      |ORDER BY p.grp_a, p.grp_b""".stripMargin

  // q63 — FORWARD AS-OF JOIN: q55 looks backward (last purchase at or
  // before each click — the point-in-time dimension lookup); q63 is the
  // other direction every attribution pipeline also needs — the NEXT
  // purchase at or after each click (did this click convert, and to
  // what?). Same single-window tagged-union plan with the sort reversed
  // (ops/Sessions.asOfJoin forward=true): ONE key shuffle, no range
  // expansion, right-before-left at ties so equal timestamps match
  // inclusively in both directions. Gated against DuckDB's native
  // `ASOF LEFT JOIN … ON l.ts <= r.ts`.
  def q63AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("t", tsUs)
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "t").agg(max(col("value")).as("pval"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "t", "event_id")
    graft.ops.Sessions.asOfJoin(clicks, purchases, "user_id", "t",
        Seq("pval"), forward = true)
      .select(col("user_id"), col("event_id"),
        col("asof_pval").as("next_purchase_value"))
      .orderBy("user_id", "event_id")
  }

  val q63Oracle: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS t, MAX(value) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), c AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT c.user_id, c.event_id, p.pval AS next_purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t <= p.t
      |ORDER BY c.user_id, c.event_id""".stripMargin

  // q64 — ARBITRARY GROUPING SETS: the grouping surface ROLLUP (q13) and
  // CUBE (q14) cannot express — a hand-picked, non-hierarchical,
  // non-exhaustive set list mixing overlapping dimensions
  // ((flag, status), (flag, shipmode), (shipmode), ()) — exercised
  // through the native `groupingSets` API (one Expand + one aggregate,
  // NOT a union of four scans: the Expand multiplies each input row by
  // the set count after partial aggregation, which is what makes a
  // 40-set report affordable at 100 TB). grouping_id disambiguates rows
  // where a NULL dimension value could collide with the "grouped out"
  // marker. Gated against DuckDB's GROUP BY GROUPING SETS.
  def q64GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("ship_month", month(col("l_shipdate")).cast("long"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag"), col("ship_month")),
          Seq(col("ship_month")),
          Seq.empty),
        col("l_returnflag"), col("l_linestatus"), col("ship_month"))
      .agg(grouping_id().as("gid"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first,
        col("ship_month").asc_nulls_first)

  val q64Oracle: String =
    """WITH li AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(month(l_shipdate) AS BIGINT) AS ship_month,
      |    l_quantity, l_extendedprice
      |  FROM lineitem
      |)
      |SELECT l_returnflag, l_linestatus, ship_month,
      |  CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2 +
      |       GROUPING(ship_month) AS BIGINT) AS gid,
      |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  COUNT(*) AS n_rows
      |FROM li
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag, ship_month), (ship_month), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST,
      |  l_linestatus ASC NULLS FIRST, ship_month ASC NULLS FIRST""".stripMargin

  // q65 — AMS F₂ SKETCH (Alon, Matias & Szegedy 1996): the second
  // frequency moment Σf² — the self-join size, the number a cost-based
  // optimizer wants before it picks a join strategy — estimated by 16
  // independent ±1-sign accumulators Z_j = Σ sign_j(key) over the raw
  // rows, est = mean of Z_j² (single-estimator σ is √2·F₂, so the
  // 16-mean lands within ~35%; the audit column shows the real draw,
  // and production raises k — the cost is linear). The sketch is LINEAR
  // (Z of a union is the sum of Zs), the strongest merge law in the
  // family — carried as data like q61: per-shard partials summed must
  // equal the direct accumulator on every row. The 16 signs are 16
  // BITS of ONE md5 per row (the engines' shared 60-bit hash) pulled
  // by shift-and-mask inside 16 aggregate columns — one hash per row,
  // no row explosion, everything partial-aggregates map-side to
  // ≤ shards rows of 16 counters; only the exact Σf² audit pays the
  // key shuffle. All quantities exact integers (|Z| ≤ rows).
  def q65AmsF2(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(pmod(col("l_orderkey"), lit(4)).as("shard"),
        conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
    def zAggs(prefix: String) = (0 until 16).map(j =>
      sum(expr(s"(shiftright(h, $j) % 2) * 2 - 1")).as(s"$prefix$j"))
    val z = zAggs("z")
    val p = zAggs("p")
    val m = (0 until 16).map(j => sum(col(s"p$j")).as(s"m$j"))
    val direct = base.agg(z.head, z.tail: _*)
    val merged = base.groupBy("shard")
      .agg(p.head, p.tail: _*)
      .agg(m.head, m.tail: _*)
    def unpivot(df: DataFrame, prefix: String, out: String) =
      df.select(explode(array((0 until 16).map(j =>
        struct(lit(j.toLong).as("j"), col(s"$prefix$j").as(out))): _*))
        .as("s")).select(col("s.j").as("j"), col(s"s.$out").as(out))
    val zd = unpivot(direct, "z", "z").localCheckpoint(true)
    val zm = unpivot(merged, "m", "z_merged")
    val est = zd.agg(expr("sum(z * z) div 16").as("f2_est"))
    val exact = Tables.lineitem(spark, dir)
      .groupBy("l_partkey").agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("f2_exact"))
    zd.join(zm, "j")
      .crossJoin(broadcast(est))
      .crossJoin(broadcast(exact))
      .select(col("j"), col("z"), col("z_merged"),
        (col("z") * col("z")).as("z2"), col("f2_est"), col("f2_exact"),
        expr("abs(f2_est - f2_exact) * 1000000L div f2_exact")
          .as("err_ppm"))
      .orderBy("j")
  }

  val q65Oracle: String =
    """WITH base AS (
      |  SELECT l_orderkey % 4 AS shard,
      |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM lineitem
      |), signs AS (
      |  SELECT shard, j.j,
      |    ((h >> CAST(j.j AS INT)) & 1) * 2 - 1 AS sign
      |  FROM base CROSS JOIN (SELECT unnest(range(0, 16)) AS j) j
      |), zd AS (
      |  SELECT j, CAST(SUM(sign) AS BIGINT) AS z FROM signs GROUP BY j
      |), zm AS (
      |  SELECT j, CAST(SUM(zp) AS BIGINT) AS z_merged FROM (
      |    SELECT j, shard, SUM(sign) AS zp FROM signs GROUP BY j, shard)
      |  GROUP BY j
      |), est AS (
      |  SELECT CAST(SUM(z * z) // 16 AS BIGINT) AS f2_est FROM zd
      |), ex AS (
      |  SELECT CAST(SUM(f * f) AS BIGINT) AS f2_exact FROM (
      |    SELECT l_partkey, COUNT(*) AS f FROM lineitem GROUP BY l_partkey)
      |)
      |SELECT CAST(zd.j AS BIGINT) AS j, zd.z, zm.z_merged,
      |  CAST(zd.z * zd.z AS BIGINT) AS z2, est.f2_est, ex.f2_exact,
      |  CAST(abs(est.f2_est - ex.f2_exact) * 1000000 // ex.f2_exact
      |    AS BIGINT) AS err_ppm
      |FROM zd JOIN zm USING (j) CROSS JOIN est CROSS JOIN ex
      |ORDER BY zd.j""".stripMargin

  // q66 — INCREMENTAL VIEW MAINTENANCE FOR JOINS (the delta rule
  // Δ(A⋈B) = ΔA⋈B' ∪ A⋈ΔB with B' = B∪ΔB): cdc20 gates incremental
  // maintenance of an AGGREGATE; q66 gates the JOIN case — the algebra
  // a materialized revenue view relies on when both fact sides receive
  // new rows. Both sides split into base + delta by key residue, and
  // the view (revenue cents per order priority) is computed TWICE: the
  // full recompute over the unioned tables, and the incremental form —
  // the old view's partial aggregates plus the two delta joins, summed.
  // The gate is the equality, carried as data on every row (the q61/q65
  // merge-law stance): full_cents = incr_cents and n_rows_full =
  // n_rows_incr, exact integers. Scale shape: the delta joins touch
  // |Δ|·(selectivity) rows, not the view — which is the entire point;
  // every join is keyed, aggregates combine by summing partials.
  def q66IvmJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val line = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("c"))
    val aBase = orders.filter(col("o_orderkey") % 5 =!= 0)
    val aDelta = orders.filter(col("o_orderkey") % 5 === 0)
    val bBase = line.filter(col("l_orderkey") % 7 =!= 0)
    val bDelta = line.filter(col("l_orderkey") % 7 === 0)
    def view(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("c")).as("cents"), count(lit(1)).as("n"))
    // full recompute reads the UNFILTERED frames (row-identical to the
    // base∪delta union, without scanning each table twice)
    val full = view(orders, line)
      .withColumnRenamed("cents", "full_cents")
      .withColumnRenamed("n", "n_rows_full")
    val incr = view(aBase, bBase)
      .unionByName(view(aDelta, bBase.unionByName(bDelta)))
      .unionByName(view(aBase, bDelta))
      .groupBy("o_orderpriority")
      .agg(sum(col("cents")).as("incr_cents"),
        sum(col("n")).as("n_rows_incr"))
    full.join(incr, "o_orderpriority")
      .select(col("o_orderpriority"), col("full_cents"), col("incr_cents"),
        col("n_rows_full"), col("n_rows_incr"))
      .orderBy("o_orderpriority")
  }

  val q66Oracle: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority FROM orders
      |), l AS (
      |  SELECT l_orderkey,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem
      |), ab AS (SELECT * FROM o WHERE o_orderkey % 5 <> 0),
      |ad AS (SELECT * FROM o WHERE o_orderkey % 5 = 0),
      |bb AS (SELECT * FROM l WHERE l_orderkey % 7 <> 0),
      |bd AS (SELECT * FROM l WHERE l_orderkey % 7 = 0),
      |full_v AS (
      |  SELECT o_orderpriority, CAST(SUM(c) AS BIGINT) AS full_cents,
      |    COUNT(*) AS n_rows_full
      |  FROM o JOIN l ON l_orderkey = o_orderkey
      |  GROUP BY o_orderpriority
      |), parts AS (
      |  SELECT o_orderpriority, SUM(c) AS cents, COUNT(*) AS n
      |  FROM ab JOIN bb ON l_orderkey = o_orderkey GROUP BY 1
      |  UNION ALL
      |  SELECT o_orderpriority, SUM(c), COUNT(*)
      |  FROM ad JOIN (SELECT * FROM bb UNION ALL SELECT * FROM bd) b
      |    ON b.l_orderkey = o_orderkey GROUP BY 1
      |  UNION ALL
      |  SELECT o_orderpriority, SUM(c), COUNT(*)
      |  FROM ab JOIN bd ON l_orderkey = o_orderkey GROUP BY 1
      |), incr_v AS (
      |  SELECT o_orderpriority, CAST(SUM(cents) AS BIGINT) AS incr_cents,
      |    CAST(SUM(n) AS BIGINT) AS n_rows_incr
      |  FROM parts GROUP BY o_orderpriority
      |)
      |SELECT o_orderpriority, f.full_cents, i.incr_cents,
      |  f.n_rows_full, i.n_rows_incr
      |FROM full_v f JOIN incr_v i USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q11_dedup_lastwins", q11DedupLastWins, q11Oracle),
    Gate("q12_distinct_agg", q12DistinctAgg, q12Oracle),
    Gate("q13_rollup", q13Rollup, q13Oracle),
    Gate("q14_cube", q14Cube, q14Oracle),
    Gate("q15_setops", q15SetOps, q15Oracle),
    Gate("q16_scalar_exprs", q16ScalarExprs, q16Oracle),
    Gate("q17_regex_extract", q17RegexExtract, q17Oracle),
    Gate("q18_part_tokens", q18PartTokens, q18Oracle),
    Gate("q19_small_qty_orders", q19SmallQuantityOrders, q19Oracle),
    Gate("q20_sessionize", q20Sessionize, q20Oracle),
    Gate("q21_last_click_before_purchase", q21LastClickBeforePurchase, q21Oracle),
    Gate("q22_salted_agg", q22SaltedAgg, q22Oracle),
    Gate("q23_approx_distinct", q23ApproxDistinct, q23Oracle),
    Gate("q24_json_map", q24JsonMap, q24Oracle),
    Gate("q25_range_join", q25RangeJoin, q25Oracle),
    Gate("q26_pivot", q26Pivot, q26Oracle),
    Gate("q27_unpivot", q27Unpivot, q27Oracle),
    Gate("q28_median", q28Median, q28Oracle),
    Gate("q36_peak_concurrency", q36PeakConcurrency, q36Oracle),
    Gate("q37_cohort_retention", q37CohortRetention, q37Oracle),
    Gate("q43_gap_fill", q43GapFill, q43Oracle),
    Gate("q44_bit_bool_aggs", q44BitBoolAggs, q44Oracle),
    Gate("q47_bag_setops", q47BagSetOps, q47Oracle),
    Gate("q48_decimal_money", q48DecimalMoney, q48Oracle),
    Gate("q51_salted_join", q51SaltedJoin, q51Oracle),
    Gate("q52_ignore_nulls", q52IgnoreNulls, q52Oracle),
    Gate("q53_sliding_distinct", q53SlidingDistinct, q53Oracle),
    Gate("q55_asof_join", q55AsofJoin, q55Oracle),
    Gate("q56_recursive_tree", q56RecursiveTree, q56Oracle),
    Gate("q57_kmv_distinct", q57KmvDistinct, q57Oracle),
    Gate("q58_countmin_heavy", q58CountMin, q58Oracle),
    Gate("q59_funnel_cohort", q59Funnel, q59Oracle),
    Gate("q60_bloom_join", q60BloomJoin, q60Oracle),
    Gate("q61_hll_sketch", q61HllSketch, q61Oracle),
    Gate("q62_theta_intersect", q62ThetaIntersect, q62Oracle),
    Gate("q63_asof_forward", q63AsofForward, q63Oracle),
    Gate("q64_grouping_sets", q64GroupingSets, q64Oracle),
    Gate("q65_ams_f2", q65AmsF2, q65Oracle),
    Gate("q66_ivm_join", q66IvmJoin, q66Oracle),
  )
}
