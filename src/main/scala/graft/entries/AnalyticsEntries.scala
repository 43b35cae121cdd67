package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import EntryHelpers._

/** The analytics entries: TPC-H-style joins and aggregates, window
  * functions, event analytics (sessions, funnels, as-of joins) and the
  * source-format round trips. */
object AnalyticsEntries {

  /** Shared builder for q1_agg: exact decimal sums per return status. */
  private def q1Rows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).as("sum_base"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Shared builder for q3_shipping: top-10 revenue, exact decimal agg;
    * ordering is decided on the decimal BEFORE any representation cast. */
  private def q3Rows(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    // small dimension side broadcast — no shuffle of lineitem for the join
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1.0d) - col("l_discount")).cast(DecimalType(18, 2))))
        .cast(DecimalType(38, 4)).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val all: Seq[Entry] = Seq(

    // ---- analytics (joins/aggs/windows — Spark built-ins over the engine's
    // tables; the reference has none of these, SURVEY §2.3-2.5) ----------
    Entry("q1_agg", (s, dir) =>
      q1Rows(s, dir).select(
        col("l_returnflag"), col("l_linestatus"),
        decAsDouble(col("sum_qty")).as("sum_qty"),
        decAsDouble(col("sum_base")).as("sum_base"),
        col("cnt")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |       AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sum_base,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Entry("q3_shipping", (s, dir) =>
      q3Rows(s, dir).select(
        col("l_orderkey"), decAsDouble(col("revenue")).as("revenue")),
      """SELECT l_orderkey, CAST(CAST(revenue AS VARCHAR) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10)
        |ORDER BY revenue DESC, l_orderkey""".stripMargin),

    Entry("q5_local_supplier", (s, dir) => {
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nat = t(s, dir, "nation")
      val sup = t(s, dir, "supplier")
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        // exact decimal sum internally; output is the string-rendered
        // double (decimal outputs hash-bomb on trailing zeros — r8)
        .agg(decAsDouble(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1.0d) - col("l_discount")).cast(DecimalType(18, 2))))
          .cast(DecimalType(38, 4))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
        |  CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
        |       AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    Entry("q8_market_share", (s, dir) => {
      // TPC-H Q8 shape: a supplier nation's yearly share of PROMO-part
      // revenue sold into ASIA — the classic many-dim star join. Fact
      // table shuffles ONCE (orders equi-join); every dimension side is
      // broadcast; exact decimal volume sums, share = one double
      // division of the string-rendered decimals
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val natC = t(s, dir, "nation")
      val natS = t(s, dir, "nation").select(
        col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val prt = t(s, dir, "part").filter(col("p_type") === "PROMO")
      val vol = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1.0d) - col("l_discount")).cast(DecimalType(18, 2)))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(natC), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(year(col("o_orderdate")).as("o_year"), vol.as("vol"),
          (col("supp_nation") === "NATION_1").as("is_n"))
        .groupBy("o_year")
        .agg(
          // exact decimal sums internally; the OUTPUT columns are the
          // string-rendered doubles (r8 finding: a decimal output column
          // is a hasher bomb — any value with a trailing zero in its
          // decimal rendering, e.g. 15832061.2200, string-compares
          // differently from the float64 repr 15832061.22 the oracle
          // side carries; render once via the exact decimal string and
          // both engines parse the identical double)
          decAsDouble(coalesce(sum(when(col("is_n"), col("vol"))),
              lit(0).cast(DecimalType(38, 4))).cast(DecimalType(38, 4)))
            .as("nation_volume"),
          decAsDouble(sum(col("vol")).cast(DecimalType(38, 4)))
            .as("total_volume"))
        .withColumn("mkt_share",
          col("nation_volume") / col("total_volume"))
        .orderBy("o_year")
    },
      // Q8 shape: same decimal volume algebra as q5, conditional numerator,
      // share = one double division of the string-rendered decimals;
      // year() is BIGINT in DuckDB — cast to match Spark's INT
      """WITH v AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l_discount AS DECIMAL(18,2)) AS vol,
        |         n2.n_name = 'NATION_1' AS is_n
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'),
        |a AS (
        |  SELECT o_year,
        |         CAST(CAST(CAST(COALESCE(SUM(CASE WHEN is_n THEN vol END), 0)
        |              AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
        |           AS nation_volume,
        |         CAST(CAST(CAST(SUM(vol) AS DECIMAL(38,4)) AS VARCHAR)
        |              AS DOUBLE) AS total_volume
        |  FROM v GROUP BY o_year)
        |SELECT o_year, nation_volume, total_volume,
        |       nation_volume / total_volume AS mkt_share
        |FROM a ORDER BY o_year""".stripMargin),

    Entry("w2_running_total", (s, dir) => {
      // per-customer order timeline: exact decimal running revenue +
      // days since the previous order — lag/cumsum window shapes over a
      // unique (date, key) ordering so RANGE vs ROWS framing can't
      // diverge; one shuffle on the partition key
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        // the running sum is EXACT decimal arithmetic; only the OUTPUT is
        // the string-rendered double (r8 finding: decimal output columns
        // are hasher bombs — 303981.10 vs the oracle float64's 303981.1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price_dec"))
        .withColumn("run_total",
          decAsDouble(sum(col("price_dec")).over(w).cast(DecimalType(38, 2))))
        .withColumn("gap_days",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)))
        .select(col("o_custkey"), col("o_orderkey"),
          decAsDouble(col("price_dec")).as("price"),
          col("run_total"), col("gap_days"))
        .orderBy("o_custkey", "o_orderkey")
    },
      // unique (date, orderkey) window ordering: RANGE-vs-ROWS default
      // framing cannot diverge; date_diff is BIGINT in DuckDB — cast to
      // Spark's INT
      """SELECT o_custkey, o_orderkey,
        |       CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
        |            AS DOUBLE) AS price,
        |       CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
        |            AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS run_total,
        |       CAST(date_diff('day', LAG(o_orderdate) OVER w, o_orderdate)
        |            AS INTEGER) AS gap_days
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    Entry("q4_order_priority", (s, dir) => {
      // EXISTS semi-join (TPC-H Q4 shape on this schema): orders in a
      // half-year window having at least one RETURNED lineitem, counted
      // per priority. LEFT SEMI keeps the probe side duplicate-free (a
      // multi-lineitem order counts once, no post-join distinct);
      // integer counts end-to-end
      val ret = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1996-07-01 00:00:00'"))
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Entry("q13_customer_distribution", (s, dir) => {
      // LEFT OUTER join + two-level aggregation (TPC-H Q13 shape):
      // orders-per-customer histogram, zero-order customers kept by the
      // outer join (the right side is pre-filtered, equivalent to the
      // ON-clause predicate and the better plan); integer counts only
      val ord = t(s, dir, "orders").filter(col("o_orderstatus") =!= "F")
      t(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus != 'F'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),

    Entry("w3_moving_avg", (s, dir) => {
      // frame-bounded sliding window (ROWS BETWEEN 6 PRECEDING AND
      // CURRENT ROW): 7-order moving revenue per customer. The frame sum
      // is EXACT decimal rendered once via the string→double cast
      // (decimal outputs are hasher bombs — r8); the average is ONE IEEE
      // division of that double by the exact frame row count. Unique
      // (date, key) ordering inside each partition, one shuffle
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, 0)
      t(s, dir, "orders").filter(pmod(col("o_custkey"), lit(10)) === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price_dec"))
        .withColumn("mov_sum",
          decAsDouble(sum(col("price_dec")).over(w).cast(DecimalType(38, 2))))
        .withColumn("n_win", count(lit(1)).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("mov_sum"),
          (col("mov_sum") / col("n_win")).as("mov_avg"), col("n_win"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |       CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
        |            AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS mov_sum,
        |       CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
        |            AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
        |         / COUNT(*) OVER w AS mov_avg,
        |       COUNT(*) OVER w AS n_win
        |FROM orders WHERE o_custkey % 10 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    Entry("w4_rank_family", (s, dir) => {
      // the remaining rank-function family in one gate: dense_rank,
      // percent_rank, ntile, cume_dist over a UNIQUE ordering (price
      // ties broken by key, so every rank is deterministic; with a
      // unique ordering percent_rank and cume_dist reduce to single
      // IEEE divisions of exact integer positions — engine-identical)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").filter(pmod(col("o_custkey"), lit(20)) === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("prank"),
          ntile(4).over(w).cast("long").as("ntile4"),
          cume_dist().over(w).as("cdist"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderpriority,
        |       DENSE_RANK() OVER w AS drnk,
        |       PERCENT_RANK() OVER w AS prank,
        |       NTILE(4) OVER w AS ntile4,
        |       CUME_DIST() OVER w AS cdist
        |FROM orders WHERE o_custkey % 20 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    Entry("e12_gap_fill", (s, dir) => {
      // calendar gap-fill: per-type daily event counts with missing days
      // zero-filled over each type's own [min, max] day span — the
      // scaffold every time-series model consumes (a bare groupBy emits
      // no row for an empty day). Day numbers are exact integer division
      // of epoch ms; the scaffold is a span-bounded per-type sequence()
      // explode, counts join back on (type, day)
      val ev = events(s, dir)
        .select(col("event_type"), expr("ts_ms div 86400000").as("day_no"))
      val counts = ev.groupBy("event_type", "day_no")
        .agg(count(lit(1)).as("c"))
      val spans = ev.groupBy("event_type")
        .agg(min("day_no").as("d0"), max("day_no").as("d1"))
      spans.select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day_no"))
        .join(counts, Seq("event_type", "day_no"), "left")
        .select(col("event_type"), col("day_no"),
          coalesce(col("c"), lit(0L)).as("cnt"))
        .orderBy("event_type", "day_no")
    },
      """WITH ev AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_no
        |  FROM events),
        |counts AS (SELECT event_type, day_no, COUNT(*) AS c
        |           FROM ev GROUP BY 1, 2),
        |spans AS (SELECT event_type, MIN(day_no) AS d0, MAX(day_no) AS d1
        |          FROM ev GROUP BY 1),
        |scaffold AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day_no
        |             FROM spans)
        |SELECT s.event_type, s.day_no,
        |       CAST(COALESCE(c.c, 0) AS BIGINT) AS cnt
        |FROM scaffold s LEFT JOIN counts c USING (event_type, day_no)
        |ORDER BY event_type, day_no""".stripMargin),

    Entry("q6_date_range", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        // exact decimal sum internally; output is the string-rendered
        // double (decimal outputs hash-bomb on trailing zeros — r8)
        .agg(count(lit(1)).as("cnt"),
          decAsDouble(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2))).as("total"))
        .orderBy("month")
    },
      """SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS cnt,
        |       CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY month""".stripMargin),

    Entry("q7_stats", (s, dir) => {
      // statistical aggregates (variance / stddev / correlation) derived
      // from EXACT decimal power sums, converted once via the string
      // rendering, then identical scalar IEEE formulas on both engines —
      // a direct stddev_samp/corr would differ in summation order and
      // fail the bit-exact hash
      val q = col("l_quantity").cast(DecimalType(18, 2))
      val p = col("l_extendedprice").cast(DecimalType(18, 2))
      def dsum(c: org.apache.spark.sql.Column, scale: Int) =
        decAsDouble(sum(c).cast(DecimalType(38, scale)))
      val a = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("cnt"),
        count(lit(1)).cast("double").as("nd"),
        dsum(q, 2).as("sq"), dsum(p, 2).as("sp"),
        dsum((q * q).cast(DecimalType(38, 4)), 4).as("sqq"),
        dsum((p * p).cast(DecimalType(38, 4)), 4).as("spp"),
        dsum((p * q).cast(DecimalType(38, 4)), 4).as("spq"))
      val vq = (col("sqq") - col("sq") * col("sq") / col("nd")) / (col("nd") - 1)
      val vp = (col("spp") - col("sp") * col("sp") / col("nd")) / (col("nd") - 1)
      val cov = (col("spq") - col("sp") * col("sq") / col("nd")) / (col("nd") - 1)
      a.select(col("l_returnflag"), col("cnt"),
          vq.as("var_qty"), sqrt(vp).as("sd_price"),
          (cov / (sqrt(vq) * sqrt(vp))).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },
      // same exact-decimal power sums, same string→double conversion, same
      // scalar formula text ⇒ bit-identical doubles on both engines
      """WITH a AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS cnt, CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |         AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sq,
        |    CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |         AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS sp,
        |    CAST(CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |                            CAST(l_quantity AS DECIMAL(18,2))
        |                       AS DECIMAL(38,4)))
        |         AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sqq,
        |    CAST(CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                            CAST(l_extendedprice AS DECIMAL(18,2))
        |                       AS DECIMAL(38,4)))
        |         AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS spp,
        |    CAST(CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                            CAST(l_quantity AS DECIMAL(18,2))
        |                       AS DECIMAL(38,4)))
        |         AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS spq
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, cnt,
        |  (sqq - sq * sq / nd) / (nd - 1) AS var_qty,
        |  sqrt((spp - sp * sp / nd) / (nd - 1)) AS sd_price,
        |  ((spq - sp * sq / nd) / (nd - 1)) /
        |    (sqrt((sqq - sq * sq / nd) / (nd - 1)) *
        |     sqrt((spp - sp * sp / nd) / (nd - 1))) AS corr_qty_price
        |FROM a ORDER BY l_returnflag""".stripMargin),

    Entry("w1_window_rank", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir).filter(col("user_id") < 20)
        .select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("event_id"), 1).over(w).as("prev_event_id"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
        |       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |       LAG(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         AS prev_event_id
        |FROM events WHERE user_id < 20 ORDER BY event_id""".stripMargin),

    Entry("e3_asof_attribution", (s, dir) => {
      // backward as-of join (purchase ← latest prior click per user):
      // union-tagged single-shuffle window plan, no range-join explosion
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.pipeline.AsOfJoin.asof(purchases, clicks, "user_id", "ts",
          rightCols = Seq("click_id", "click_value"), suffix = "")
        .select(col("event_id"), col("user_id"),
          col("click_id"), col("click_value"))
        .orderBy("event_id")
    },
      // right-side (user, ts) ties pre-collapsed to the GREATEST payload —
      // the Spark side's documented tie rule — because native ASOF leaves
      // tie choice unspecified; a no-op on tie-free data, deterministic if
      // a future generator ever emits ties
      """SELECT p.event_id, p.user_id,
        |       c.event_id AS click_id, c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT * FROM events WHERE event_type = 'click'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |            ORDER BY event_id DESC, value DESC) = 1) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    Entry("e8_asof_forward", (s, dir) => {
      // forward as-of: for each purchase, the NEXT view by the same user
      // (time-to-next-impression) — the time-mirrored single-shuffle
      // window plan, same cost shape as the backward e3
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      graft.pipeline.AsOfJoin.asof(purchases, views, "user_id", "ts",
          rightCols = Seq("view_id", "view_value"), suffix = "",
          forward = true)
        .select(col("event_id"), col("user_id"),
          col("view_id"), col("view_value"))
        .orderBy("event_id")
    },
      // same tie pre-collapse as e3 (see the comment there)
      """SELECT p.event_id, p.user_id,
        |       v.event_id AS view_id, v.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT * FROM events WHERE event_type = 'view'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |            ORDER BY event_id DESC, value DESC) = 1) v
        |  ON p.user_id = v.user_id AND p.ts <= v.ts
        |ORDER BY p.event_id""".stripMargin),

    Entry("e2_props_extract", (s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS sum_k,
        |       COUNT(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Entry("e1_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapped = events(s, dir).filter(col("user_id") < 50)
        .withColumn("prev_ts_ms", lag(col("ts_ms"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts_ms").isNull ||
            col("ts_ms") - col("prev_ts_ms") > 30 * 60 * 1000L, 1L)
          .otherwise(0L))
      gapped.groupBy("user_id")
        .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      """WITH g AS (
        |  SELECT user_id,
        |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                IS NULL
        |              OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id < 50)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |       COUNT(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

    Entry("src_json_roundtrip", (s, dir) => {
      // JSON-lines ingestion path (the reference's native document
      // format): corpus → gzip JSONL → read back under an EXPLICIT schema
      // (schema inference is a second full pass at 100 TB — never rely on
      // it) → byte-identical rows. The oracle is the identity SELECT, so
      // the gate proves the round trip preserves every value (unicode,
      // quotes, embedded newlines) through the codec
      val base = scratchDir(s, "srcjson", dir)
      val docs = t(s, dir, "documents")
      docs.write.option("compression", "gzip").json(s"$base/docs")
      s.read.schema(docs.schema).json(s"$base/docs")
        .select(docs.columns.map(col): _*).orderBy("doc_id")
    },
      // identity: the entries exist to prove the JSON/ORC round trip
      // changes nothing
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("src_orc_roundtrip", (s, dir) => {
      // same contract through the ORC reader/writer (columnar alternative
      // when the lake standard isn't parquet); explicit schema, identity
      // oracle
      val base = scratchDir(s, "srcorc", dir)
      val docs = t(s, dir, "documents")
      docs.write.orc(s"$base/docs")
      s.read.schema(docs.schema).orc(s"$base/docs")
        .select(docs.columns.map(col): _*).orderBy("doc_id")
    },
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("src_schema_evolution", (s, dir) => {
      // lake reality: a writer adds a column mid-corpus. Batch 1 lacks
      // `quality`, batch 2 carries it; a mergeSchema read presents ONE
      // unified schema with nulls for the old files — the contract that
      // lets a 100 TB corpus evolve without rewriting history
      val base = scratchDir(s, "srcevo", dir)
      val docs = t(s, dir, "documents")
      docs.select("doc_id", "text", "lang")
        .filter(col("doc_id") % 2 === 0).write.parquet(s"$base/b1")
      docs.select(col("doc_id"), col("text"), col("lang"),
          (col("n_chars").cast("double") / 100).as("quality"))
        .filter(col("doc_id") % 2 === 1).write.parquet(s"$base/b2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/b1", s"$base/b2")
        .select("doc_id", "lang", "quality").orderBy("doc_id")
    },
      """SELECT doc_id, lang, CAST(NULL AS DOUBLE) AS quality
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, CAST(n_chars AS DOUBLE) / 100 AS quality
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin),

    Entry("src_partitioned_layout", (s, dir) => {
      // Hive-style partitioned lake layout: one directory per lang, so a
      // lang predicate prunes to 1/5 of the files BEFORE any IO
      // (PartitionFilters — plan-pinned in LayoutSpec); the partition
      // column comes back from directory names, not file bytes
      val base = scratchDir(s, "srcpart", dir)
      t(s, dir, "documents").write.partitionBy("lang")
        .mode("overwrite").parquet(s"$base/docs")
      s.read.parquet(s"$base/docs").filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin),

    Entry("src_csv_roundtrip", (s, dir) => {
      // CSV ingestion path (the interchange format curation pipelines
      // still receive): RFC-style quoting (quote doubled as escape) so
      // commas/quotes in text survive; explicit schema on read (inference
      // is a second full pass at 100 TB), identity oracle proves the
      // round trip byte-exact
      val base = scratchDir(s, "srccsv", dir)
      val docs = t(s, dir, "documents")
      docs.write.option("header", "true").option("escape", "\"")
        .csv(s"$base/docs")
      s.read.schema(docs.schema).option("header", "true")
        .option("escape", "\"").csv(s"$base/docs")
        .select(docs.columns.map(col): _*).orderBy("doc_id")
    },
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("e5_funnel", (s, dir) => {
      // strictly-ordered first-completion funnel view → click → purchase:
      // each stage scans the log filtered to its own type and joins the
      // user-sized accumulator; strict > keeps simultaneous events out
      // identically on both engines
      // full-precision ts (ns long), NOT ts_ms: the oracle compares µs
      // timestamps, and ms truncation could merge a strictly-later event
      // into equality
      graft.pipeline.EventAnalytics.funnel(
          events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy("step_no")
    },
      // same strictly-ordered first-completion chain, stage CTE per step;
      // counts only, so timestamp representation never reaches the output
      """WITH s0 AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (
        |  SELECT e.user_id, s0.t0, MIN(e.ts) AS t1
        |  FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s0.t0
        |  GROUP BY e.user_id, s0.t0),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
        |  GROUP BY e.user_id, s1.t0, s1.t1)
        |SELECT * FROM (
        |  SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_no,
        |         (SELECT COUNT(*) FROM s0) AS users
        |  UNION ALL
        |  SELECT 'click', CAST(2 AS BIGINT), (SELECT COUNT(*) FROM s1)
        |  UNION ALL
        |  SELECT 'purchase', CAST(3 AS BIGINT), (SELECT COUNT(*) FROM s2))
        |ORDER BY step_no""".stripMargin),

    Entry("e6_retention", (s, dir) => {
      // weekly retention triangle: log collapses to distinct (user, week)
      // in one two-phase aggregate; cohort = first active week; all
      // integer arithmetic
      graft.pipeline.EventAnalytics.retentionCohorts(
          events(s, dir), "user_id", col("ts_ms"), bucket = 604800000L)
        .orderBy("cohort", "offset")
    },
      // weekly retention triangle from distinct (user, epoch-ms week);
      // integer arithmetic only
      """WITH up AS (
        |  SELECT DISTINCT user_id AS u, epoch_ms(ts) // 604800000 AS w
        |  FROM events),
        |c AS (SELECT u, MIN(w) AS cohort FROM up GROUP BY u)
        |SELECT c.cohort, up.w - c.cohort AS "offset", COUNT(*) AS users
        |FROM up JOIN c USING (u)
        |GROUP BY c.cohort, up.w - c.cohort
        |ORDER BY cohort, "offset"""".stripMargin),

    Entry("e7_count_anomaly", (s, dir) => {
      // rolling-rate anomaly: per event type, hourly counts vs 2× the
      // trailing-24-observed-buckets mean — integer cross-multiplied
      // flag, window over the compressed (type, bucket) table
      graft.pipeline.EventAnalytics.countAnomalies(
          events(s, dir), "event_type", col("ts_ms"),
          bucketMs = 3600000L, window = 24)
        .orderBy("event_type", "bucket")
    },
      // trailing-row-window anomaly replay; window SUM/COUNT cast from
      // HUGEINT, flag is the same integer cross-multiplication
      countAnomalyOracle),

    Entry("e11_markov_transitions", (s, dir) => {
      // the Markov-chain view of the event log: per-user consecutive
      // (from, to) type pairs, counts + row-normalized probabilities;
      // one user-key shuffle for adjacency, |types|² output
      graft.pipeline.EventAnalytics.transitionMatrix(
          events(s, dir), "user_id", "event_type",
          col("ts"), col("event_id"))
        .orderBy("from_type", "to_type")
    },
      // transition replay: same (ts, event_id) lag adjacency, integer
      // counts, one division per cell
      """WITH p AS (
        |  SELECT LAG(event_type) OVER w AS from_type,
        |         event_type AS to_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |       CAST(SUM(cnt) OVER (PARTITION BY from_type) AS BIGINT)
        |         AS row_total,
        |       CAST(cnt AS DOUBLE) /
        |         CAST(CAST(SUM(cnt) OVER (PARTITION BY from_type)
        |              AS BIGINT) AS DOUBLE) AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin),

    Entry("e10_user_paths", (s, dir) => {
      // top-20 first-5-event paths: one shuffle on the user key, ≤ depth
      // rows per user survive the rank filter, ordered reassembly via
      // GetArrayStructFields, two-phase path count + TakeOrdered
      graft.pipeline.EventAnalytics.topPaths(
        events(s, dir), "user_id", "event_type",
        col("ts"), col("event_id"), depth = 5, k = 20)
    },
      // path replay: same (ts, event_id) rank, ordered string_agg join
      """WITH r AS (
        |  SELECT user_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS users
        |FROM p GROUP BY path ORDER BY users DESC, path LIMIT 20""".stripMargin),

    Entry("e9_ewma_smooth", (s, dir) => {
      // EWMA-smoothed hourly event rates (α=1/4, dyadic): the codegen'd
      // SeriesKernels.ewma left fold over each type's observed buckets —
      // two IEEE roundings per step, replayed in the oracle by
      // list_reduce over the same prefix
      graft.pipeline.EventAnalytics.ewmaSmooth(
          events(s, dir), "event_type", col("ts_ms"),
          bucketMs = 3600000L, alpha = 0.25)
        .orderBy("event_type", "bucket")
    },
      // EWMA replay: same compressed (type, bucket) table, per-row prefix
      // fold via list_reduce — identical order, identical IEEE ops (0.25
      // and 0.75 are dyadic, so the DECIMAL→DOUBLE literal conversion is
      // exact); single-element prefix = the seed, matching out(0) = x(0)
      ewmaOracle),

    Entry("e4_interval_join", (s, dir) => {
      // banded range join: per event, how many same-type events follow
      // within 10 minutes (+ the first one's timestamp) — an equi join on
      // (event_type, time bucket), never a nested-loop range join
      val ev = events(s, dir).select("event_id", "event_type", "ts_ms")
      graft.pipeline.IntervalJoin.followWithin(ev, ev, "event_id", "ts_ms",
          spanMs = 600000L, equi = Seq("event_type"))
        .select(col("event_id"), col("matches"), col("next_ts_ms"))
        .orderBy("event_id")
    },
      """SELECT a.event_id,
        |       CAST(COUNT(b.ts) AS BIGINT) AS matches,
        |       MIN(epoch_ms(b.ts)) AS next_ts_ms
        |FROM events a LEFT JOIN events b
        |  ON b.event_type = a.event_type
        | AND epoch_ms(b.ts) > epoch_ms(a.ts)
        | AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 600000
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin),

    Entry("dedup_norm_survivor", (s, dir) => {
      // normalized-granularity dedup with a QUALITY survivor policy:
      // whitespace/punctuation variants (injected here so the operator
      // is exercised) collapse to one fingerprint group; the LONGEST raw
      // copy survives (tie → min id) — "keep the richest variant", one
      // two-phase max_by aggregate, no window. ASCII-only perturbation:
      // engine-specific unicode CASING rules never enter the key
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val pert = docs.filter(col("doc_id") % 3 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("  "), col("text"), lit(" !!")).as("text"))
      graft.pipeline.Dedup.normSurvivors(
          docs.unionByName(pert), "text", "doc_id")
        .orderBy("doc_id")
    },
      // survivor-policy replay: same injected ASCII perturbation, same
      // normalization fingerprint, longest-then-min-id via a window (the
      // Spark side rides max_by on (len, −id) — same total order)
      """WITH ad AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, '  ' || text || ' !!'
        |  FROM documents WHERE doc_id % 3 = 0),
        |f AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp,
        |         length(text) AS len
        |  FROM ad),
        |r AS (
        |  SELECT norm_fp, doc_id, len,
        |         ROW_NUMBER() OVER (PARTITION BY norm_fp
        |                            ORDER BY len DESC, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY norm_fp) AS copies,
        |         MAX(len) OVER (PARTITION BY norm_fp) AS max_len
        |  FROM f)
        |SELECT norm_fp, doc_id, CAST(copies AS BIGINT) AS copies,
        |       CAST(max_len AS BIGINT) AS max_len
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    Entry("dedup_cdc_chunks", (s, dir) => {
      // content-defined chunking: boundaries depend only on content, so
      // the injected PREFIX-SHIFTED copies (the case every fixed-stride
      // window scheme misses) still share every interior chunk with
      // their originals — the cross-doc repeated-chunk report proves the
      // shift-robustness the technique exists for
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val shifted = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("shiftedprefixtoken "), col("text")).as("text"))
      graft.pipeline.Dedup.cdcChunkDupCounts(
        docs.unionByName(shifted), "doc_id", col("text"), maskBits = 3)
    },
      // CDC replay: same injected shifted copies, same md5-boundary rule,
      // boundary-count window, ordered chunk reassembly, chunk-hash counts
      """WITH ad AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'shiftedprefixtoken ' || text
        |  FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM ad),
        |tk AS (
        |  SELECT doc_id,
        |         unnest([{'p': i, 'tok': t[i]}
        |                 FOR i IN range(1, len(t) + 1)]) AS u
        |  FROM toks),
        |t2 AS (SELECT doc_id, u.p AS pos, u.tok AS tok FROM tk
        |       WHERE u.tok != ''),
        |f AS (
        |  SELECT doc_id, pos, tok,
        |         CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 8 = 0
        |              THEN 1 ELSE 0 END AS b
        |  FROM t2),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS chunk
        |  FROM f),
        |ch AS (
        |  SELECT doc_id, chunk, string_agg(tok, ' ' ORDER BY pos)
        |           AS chunk_text
        |  FROM c GROUP BY 1, 2)
        |SELECT md5(chunk_text) AS chunk_hash,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash""".stripMargin),

    Entry("dedup_minhash_est", (s, dir) => {
      // the 100 TB verify: Jaccard ESTIMATED from signature agreement
      // (matches/k over the k longs both docs already carry) instead of
      // re-joining shingle sets; candidates from band collisions, corpus
      // doubled so exact duplicates exercise the est=1.0 ceiling
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val doubled = docs.unionByName(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      graft.pipeline.Dedup.minhashEstimates(doubled, "doc_id", col("text"),
          shingleN = 3, k = 8, bands = 4)
        .orderBy("id_a", "id_b")
    },
      // signature-agreement estimator replay: same doubled corpus, same
      // seeded md5 signature mins, candidates from band-key equality,
      // matches counted per seed, one division
      """WITH ad AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM ad),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hx AS (
        |  SELECT doc_id, i,
        |         MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || g),
        |                             1, 15))::BIGINT) AS m
        |  FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
        |  GROUP BY doc_id, i),
        |bk AS (
        |  SELECT doc_id, CAST(i // 2 AS INTEGER) AS band,
        |         list(m ORDER BY i) AS key
        |  FROM hx GROUP BY doc_id, band),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |ag AS (
        |  SELECT c.id_a, c.id_b,
        |         CAST(SUM(CASE WHEN ha.m = hb.m THEN 1 ELSE 0 END)
        |              AS BIGINT) AS matches
        |  FROM cand c
        |  JOIN hx ha ON ha.doc_id = c.id_a
        |  JOIN hx hb ON hb.doc_id = c.id_b AND hb.i = ha.i
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, matches,
        |       CAST(matches AS DOUBLE) / 8.0 AS est_jaccard
        |FROM ag ORDER BY id_a, id_b""".stripMargin)
  )
}
