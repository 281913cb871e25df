package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable

/** Batch analytical query pack over the driver's TPC-H-ish star schema.
  *
  * Design rules (these are what make the pack hold up at 100 TB):
  *  - All money arithmetic is done in DECIMAL so partial aggregation is
  *    exact and order-independent — the same plan gives bit-identical
  *    results on 32 partitions or 32,000, and matches the DuckDB oracle
  *    without any tolerance.
  *  - Dimension tables (region/nation) are broadcast unconditionally;
  *    fact-fact joins shuffle on their join keys and rely on AQE for
  *    skew handling.
  *  - Filters are expressed on raw columns (not wrapped in casts) so they
  *    push down to the parquet scan.
  *  - Top-k queries carry a total order (unique tie-break key) so the
  *    result set is deterministic under any parallelism.
  */
object Queries {

  /** exact decimal money: sum(cast(c as decimal(12,2))) cast back to double. */
  private def dsum(c: String, alias: String) =
    sum(col(c).cast("decimal(12,2)")).cast("double").as(alias)

  // ---------------------------------------------------------------- q1_agg
  /** TPC-H Q1-style pricing summary. Single shuffle on the 2 flag columns;
    * partial aggregation does virtually all the work map-side. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        sum(expr("cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(4,2))"))
          .cast("double").as("sum_disc_price"),
        sum(expr("cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(4,2)) * cast(1 + l_tax as decimal(4,2))"))
          .cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast("decimal(12,2)")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q6_filter
  /** TPC-H Q6-style selective scan-agg: every predicate pushes to parquet. */
  def q6Filter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1995-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(expr("cast(l_extendedprice as decimal(12,2)) * cast(l_discount as decimal(4,2))"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  val q6FilterSql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- q3_topk
  /** TPC-H Q3-style: fact-fact shuffle join + top-k with a unique
    * tie-break (o_orderkey) so the answer set is deterministic. */
  def q3TopK(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(expr("cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(4,2))"))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3TopKSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q5_join
  /** TPC-H Q5-style 6-way join. region/nation broadcast; customer/orders/
    * lineitem/supplier shuffle on their keys. */
  def q5Join(s: SparkSession, dir: String): DataFrame = {
    val reg = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(s, dir)
    val cust = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
                 col("c_nationkey") === col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(expr("cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(4,2))"))
        .cast("double").as("revenue"))
  }

  val q5JoinSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------- q_semi_anti
  /** Left-semi + left-anti in one result: per market segment, how many
    * customers have ≥1 order vs none. Semi/anti avoid materializing the
    * join — at scale this is one shuffle of keys only. */
  def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val ordKeys = Tables.orders(s, dir).select("o_custkey")
    val withO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
    val noO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
    withO.join(noO, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
  }

  // EXISTS / NOT EXISTS, not IN / NOT IN: 'x NOT IN (subquery)' is
  // three-valued — ONE NULL o_custkey makes it NULL for every customer
  // and wo returns zero rows, where Spark's left_anti (equality
  // semantics) still counts all order-less customers. NOT EXISTS is the
  // anti-join-faithful form; identical on NULL-free keys.
  val qSemiAntiSql: String =
    """WITH w AS (
      |  SELECT c_mktsegment, COUNT(*) AS n_with_orders FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY c_mktsegment),
      |wo AS (
      |  SELECT c_mktsegment, COUNT(*) AS n_without_orders FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY c_mktsegment)
      |SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
      |  COALESCE(n_with_orders, 0) AS n_with_orders,
      |  COALESCE(n_without_orders, 0) AS n_without_orders
      |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q_rollup
  /** ROLLUP over (returnflag, linestatus); NULL grouping columns become
    * 'ALL' so the oracle compare is null-safe. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum("l_extendedprice", "sum_price"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_price"), col("n_rows"))

  val qRollupSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // ---------------------------------------------------------------- q_cube
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(dsum("o_totalprice", "sum_total"), count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("sum_total"), col("n_orders"))

  val qCubeSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // ---------------------------------------------------------------- q_window_rank
  /** SQL window function: top-2 orders per customer by totalprice.
    * row_number (not rank) + unique key tie-break keeps it deterministic. */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("rn").cast("long").as("rn"))
  }

  val qWindowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t WHERE rn <= 2""".stripMargin

  // ---------------------------------------------------------------- q_window_running
  /** Running sum per customer over order dates — the batch analogue of the
    * reference's per-key running-state computation (alphabet votes). */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("running_total",
        sum(col("o_totalprice").cast("decimal(12,2)")).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "running_total")
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q_distinct
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
           count(lit(1)).as("n_orders"))

  val qDistinctSql: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q_setops
  /** UNION / INTERSECT / EXCEPT — the reference's `merge` is UNION ALL;
    * the others come free with Spark. Tagged rows make one comparable
    * result set. */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val buyers = Tables.orders(s, dir).select(col("o_custkey").as("custkey")).distinct()
    val machinery = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey").as("custkey"))
    val both = machinery.intersect(buyers).withColumn("tag", lit("machinery_buyer"))
    val onlySeg = machinery.except(buyers).withColumn("tag", lit("machinery_no_orders"))
    both.unionByName(onlySeg)
      .groupBy("tag").agg(count(lit(1)).as("n"))
  }

  val qSetOpsSql: String =
    """WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
      |machinery AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
      |tagged AS (
      |  SELECT custkey, 'machinery_buyer' AS tag FROM (SELECT * FROM machinery INTERSECT SELECT * FROM buyers)
      |  UNION ALL
      |  SELECT custkey, 'machinery_no_orders' AS tag FROM (SELECT * FROM machinery EXCEPT SELECT * FROM buyers))
      |SELECT tag, COUNT(*) AS n FROM tagged GROUP BY tag""".stripMargin

  // ---------------------------------------------------------------- q_events_tumbling
  /** Batch tumbling event-time window over the events stream table —
    * the batch twin of the streaming range-window operator (SURVEY §2.3
    * #19). window() start aligns with date_trunc('hour'). */
  def qEventsTumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  val qEventsTumblingSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------- q_events_topk_window
  /** Top-k event types per tumbling hour — the windowed leaderboard every
    * monitoring dashboard renders. Counts ride a hash shuffle on
    * (window, type) with map-side combine; the rank then re-partitions
    * on window alone — but that SECOND exchange carries the per-window
    * TYPE table (|types| rows per window), never the events, which is
    * what makes the leaderboard cheap at any event volume
    * (PlanShapeSpec pins both exchange counts). Tie-break on event_type
    * keeps the rank deterministic in both engines. */
  val TopKTypes = 3

  def qEventsTopkWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("window_start"))
          .orderBy(col("n_events").desc, col("event_type").asc)).cast("long"))
      .filter(col("rank") <= TopKTypes)
  }

  val qEventsTopkWindowSql: String =
    s"""WITH counts AS (
       |  SELECT date_trunc('hour', ts) AS window_start, event_type,
       |    COUNT(*) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT window_start, event_type, n_events,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY window_start
       |      ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rank
       |  FROM counts)
       |WHERE rank <= $TopKTypes""".stripMargin

  // ---------------------------------------------------------------- q_events_sessionize
  /** Batch sessionization per user: a new session starts after a >30 min
    * gap. lag + conditional cumulative sum — the batch analogue of the
    * reference's ephemeral windows.
    *
    * ORACLE-PINNED TWIN — the window-function form sorts every user's
    * full history in one batch shuffle with no partial aggregation and
    * cannot stream. It exists as the oracle-reproducible formulation;
    * production pipelines use [[qEventsSessionNative]] (registered as
    * `q_events_session_native`): Spark's built-in `session_window`, with
    * map-side session merging and a streaming-capable plan — same rows,
    * proven by both queries passing the same-shaped oracle. (README
    * "Oracle-pinned twins".)
    *
    * Gap arithmetic and session bounds are in integer MICROSECONDS on both
    * engines (unix_micros here, epoch_us in the oracle): the events parquet
    * column has shipped as both TIMESTAMP(NANOS) (Spark reads µs, DuckDB
    * ns) and TIMESTAMP(MICROS), so comparing raw timestamps (or fractional
    * epoch seconds vs floored whole seconds) can diverge. Integer µs is
    * exact in both regardless of the physical layout. Tie order within a
    * user at equal µs is pinned by event_id on both engines — with µs
    * source data ts_ns carries no sub-µs distinctness to rely on. */
  def qEventsSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    val sess = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             col("ts_us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(sess))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"), max(col("ts_us")).as("session_end_us"))
  }

  val qEventsSessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)),
      |s AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
      |FROM s GROUP BY user_id, session_id""".stripMargin

  // ------------------------------------------------------- q_events_session_native
  /** Sessionization on Spark's BUILT-IN `session_window` — the scale path
    * for [[qEventsSessionize]]: where the window-function form sorts every
    * user's history (one global sort-shuffle, no partial aggregation, and
    * batch-only), `session_window` is a hash aggregation with map-side
    * session merging, one shuffle on (user, overlapping-window), AND runs
    * unchanged under Structured Streaming with a watermark (merging
    * sessions across micro-batches in the state store) — at 100 TB this
    * is the difference between sorting 100 TB and streaming it.
    *
    * Boundary semantics: `session_window` opens a NEW session when the
    * gap is ≥ the 30 min threshold (an event at exactly start+gap falls
    * outside the half-open window); the window-function form used `>`.
    * The oracle mirrors the built-in exactly, so the two queries would
    * differ on an exact-30:00 gap (none exist in the testdata, but the
    * oracle would catch an engine divergence regardless). Session bounds
    * are reported as min/max EVENT time in integer µs (not window
    * start/end — `session_window.end` adds the gap). */
  def qEventsSessionNative(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"), max(col("ts_us")).as("session_end_us"))
      .select("user_id", "n_events", "session_start_us", "session_end_us")

  val qEventsSessionNativeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)),
      |s AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, COUNT(*) AS n_events,
      |  MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
      |FROM s GROUP BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q_asof_join
  /** AS-OF join — each purchase matched to the user's most recent view at
    * or before it (point-in-time attribution; the feature-store lookup
    * shape). Spark has no native as-of join; the scale-correct
    * composition is union + ordered carry-forward: tag both sides, ONE
    * shuffle on the key, ONE per-key sort on (ts, side), then
    * `last(view, ignoreNulls)` over the preceding frame — O(n log n)
    * total, no point-in-time row explosion, and the window sort spills.
    * (The naive range-join formulation explodes to pairs and re-ranks:
    * quadratic per hot key.) Ties: a view at exactly the purchase ts
    * sorts BEFORE it (side 0 < 1), matching the oracle's `v.ts <= p.ts`;
    * two views at the SAME (user, ts) are broken by `vid` ascending
    * (highest event_id wins the carry-forward), so the result is
    * deterministic run-to-run even on tie-heavy data — absent in the
    * testdata, real at scale (ADVICE r3).
    *
    * The oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — the two engines
    * reach the semantics by entirely different algorithms, which is the
    * strongest kind of cross-check; its view side pre-aggregates to one
    * (user, µs, max event_id) row so both engines share the exact tie
    * contract above rather than agreeing only on tie-free data. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("vid"), lit(0).as("side"),
        lit(null).cast("long").as("pid"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        lit(null).cast("long").as("vid"), lit(1).as("side"),
        col("event_id").as("pid"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("side").asc, col("vid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.union(purchases)
      .withColumn("view_event_id", last(col("vid"), ignoreNulls = true).over(w))
      .withColumn("view_ts_us",
        last(when(col("side") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("pid").as("event_id"), col("user_id"),
        col("ts_us").as("pts_us"), col("view_event_id"), col("view_ts_us"))
  }

  // The view side pre-aggregates to one row per (user, µs) keeping
  // MAX(event_id) — exactly the Spark side's tie contract (µs
  // truncation, then highest vid wins the carry-forward). Without it
  // the native ASOF picks an ARBITRARY row among equal-ts views (and at
  // nanosecond storage precision would tie-break at ns where Spark
  // compares at µs), so the oracle was deterministic only on tie-free
  // data. Identical output when (user, µs) is unique — the registered
  // corpora — and deterministic on tie-heavy data both engines agree on.
  val qAsofJoinSql: String =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS pts_us,
      |  v.event_id AS view_event_id, v.vts_us AS view_ts_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      |  SELECT user_id, epoch_us(ts) AS vts_us, MAX(event_id) AS event_id
      |  FROM events WHERE event_type = 'view'
      |  GROUP BY user_id, epoch_us(ts)) v
      |  ON p.user_id = v.user_id AND v.vts_us <= epoch_us(p.ts)""".stripMargin

  // ------------------------------------------------------- q_events_interval_join
  /** Interval (range) join — click→purchase conversions: every purchase
    * by the same user within 30 minutes AFTER a click. The predicate is
    * equality on user_id plus a time range, so Catalyst plans a
    * sort-merge join on the EQUI key with the range as a join condition
    * — never a cartesian (PlanGuard asserts this); output size is
    * bounded by true conversions, not the cross product. The same
    * pipeline runs as a Spark stream-stream interval join with
    * watermarks bounding both sides' state (StreamStreamJoinSpec). */
  def qEventsIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("cts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_us").as("pts_us"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("pts_us") >= col("cts_us") &&
        col("pts_us") < col("cts_us") + 1800L * 1000000L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (col("pts_us") - col("cts_us")).as("gap_us"))
  }

  val qEventsIntervalJoinSql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) < epoch_us(c.ts) + 1800 * 1000000""".stripMargin

  // ---------------------------------------------------------------- q_sketch_distinct
  /** KMV (k-minimum-values) distinct-count sketch — approximate
    * COUNT(DISTINCT) from the k smallest DISTINCT hash values per group
    * (Bar-Yossef et al. 2002; the theta-sketch family's core estimator):
    * if the k-th smallest of n uniform hashes in [0, M) is h_k, then
    * n ≈ (k−1)·M/h_k. The sketch runs as the BOUNDED typed
    * [[graft.functions.KmvSketch]] Aggregator — ≤ k longs per group in
    * every partial buffer, mergeable, so map-side partial aggregation
    * applies and the shuffle carries k longs per group instead of the
    * full (group, value) pair set an exact distinct moves. Spark's own
    * approx_count_distinct (HLL++) is the production choice but its bits
    * are engine-private; KMV over the PORTABLE hash is computable
    * bit-identically in DuckDB, so the whole estimate — not just its
    * error bound — sits behind the strict oracle gate. The exact count
    * rides along (for error visibility); drop it at scale — it is the
    * expensive half of this query. */
  val KmvK = 32

  def qSketchDistinct(s: SparkSession, dir: String): DataFrame = {
    val h = Portable.sparkHash("cast(user_id as string)", "kmv")
    val kmv = udaf(new graft.functions.KmvSketch(KmvK), Encoders.scalaLong)
    Tables.events(s, dir)
      .select(col("event_type"), expr(h).as("h"), col("user_id"))
      .groupBy("event_type")
      .agg(kmv(col("h")).as("sk"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("event_type"), col("exact_distinct"),
        col("sk._1").cast("long").as("k_actual"),
        // fewer than k distinct hashes → the sketch IS the exact set
        expr(s"""case when sk._1 < $KmvK then cast(sk._1 as double)
                 else (cast($KmvK as double) - 1.0) * cast(281474976710656 as double) / cast(sk._2 as double)
                 end""").as("kmv_estimate"))
  }

  val qSketchDistinctSql: String = {
    val h = Portable.duckHash("CAST(user_id AS VARCHAR)", "kmv")
    s"""WITH e AS (SELECT event_type, $h AS h, user_id FROM events),
       |g AS (
       |  SELECT event_type,
       |    list_sort(list(DISTINCT h))[1:$KmvK] AS kmin,
       |    COUNT(DISTINCT user_id) AS exact_distinct
       |  FROM e GROUP BY event_type)
       |SELECT event_type, exact_distinct,
       |  CAST(len(kmin) AS BIGINT) AS k_actual,
       |  CASE WHEN len(kmin) < $KmvK THEN CAST(len(kmin) AS DOUBLE)
       |       ELSE (CAST($KmvK AS DOUBLE) - 1.0) * CAST(281474976710656 AS DOUBLE) / CAST(kmin[$KmvK] AS DOUBLE)
       |  END AS kmv_estimate
       |FROM g""".stripMargin
  }

  // ---------------------------------------------------------------- q_strings_dates
  /** String + date function exercise: monthly order stats with string ops
    * on priority. */
  def qStringsDates(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        upper(substring(col("o_orderpriority"), 1, 1)).as("prio_initial"),
        col("o_totalprice"))
      .groupBy("yr", "mon", "prio_initial")
      .agg(count(lit(1)).as("n"), dsum("o_totalprice", "sum_total"))

  val qStringsDatesSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
      |  UPPER(SUBSTRING(o_orderpriority, 1, 1)) AS prio_initial,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q_merge_union
  /** The reference's `merge` combinator (SURVEY §2.1 #7) in batch form:
    * two differently-shaped inputs mapped to a common schema, UNION ALL,
    * then keyed aggregation downstream of the merge. */
  def qMergeUnion(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"), lit("order").as("kind"),
      col("o_totalprice").as("amount"))
    val b = Tables.customer(s, dir).select(
      col("c_custkey").as("custkey"), lit("balance").as("kind"),
      col("c_acctbal").as("amount"))
    a.unionByName(b)
      .groupBy("custkey", "kind")
      .agg(count(lit(1)).as("n"), dsum("amount", "sum_amount"))
  }

  val qMergeUnionSql: String =
    """WITH merged AS (
      |  SELECT o_custkey AS custkey, 'order' AS kind, o_totalprice AS amount FROM orders
      |  UNION ALL
      |  SELECT c_custkey AS custkey, 'balance' AS kind, c_acctbal AS amount FROM customer)
      |SELECT custkey, kind, COUNT(*) AS n,
      |  CAST(SUM(CAST(amount AS DECIMAL(12,2))) AS DOUBLE) AS sum_amount
      |FROM merged GROUP BY custkey, kind""".stripMargin

  // ---------------------------------------------------------------- q_skew_join
  /** [[Skew.saltedJoin]] under the driver's oracle gate (VERDICT r11 #4:
    * a capability claimed at 100 TB deserves a CORRECTNESS row). The
    * fixture manufactures the hot-key regime the operator exists for:
    * ~90% of lineitem rows collapse onto one join key (the viral-user /
    * empty-fingerprint shape), which unsalted would hash into ONE
    * shuffle task at any parallelism. The salted rewrite is physical,
    * never semantic, so the oracle is simply the PLAIN join — the gate
    * certifies output-invariance every round. QSkewBucketPlanSpec pins
    * the plan shape (the join key widened to (k, _salt), the hot key's
    * task share divided by the salt count) in the forced-SMJ regime
    * where salting matters; under the registered entry Catalyst is left
    * free to broadcast the 97-row dim — at 100 TB, with a dim too big
    * to broadcast, the same rewrite routes around the straggler. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir).select(
      expr("CASE WHEN l_orderkey % 10 = 0 THEN l_orderkey % 97 ELSE 0 END").as("k"),
      expr("l_orderkey * 8 + l_linenumber").as("row_id"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
    val dim = s.range(97).select(col("id").as("k"),
      expr("id * 37 + 11").as("dim_val"))
    Skew.saltedJoin(big, dim, "k", "row_id", 16)
      .groupBy("dim_val")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
  }

  val qSkewJoinSql: String =
    """WITH big AS (
      |  SELECT CASE WHEN l_orderkey % 10 = 0 THEN l_orderkey % 97 ELSE 0 END AS k,
      |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |dim AS (SELECT r AS k, r * 37 + 11 AS dim_val
      |        FROM (SELECT unnest(range(0, 97)) AS r))
      |SELECT dim_val, COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM big JOIN dim USING (k)
      |GROUP BY dim_val""".stripMargin

  // ---------------------------------------------------------------- q_bucket_join
  /** [[graft.sources.Bucketing]] under the oracle gate: write lineitem
    * and orders as bucketed tables on the orderkey (the pay-the-shuffle-
    * once-at-write-time layout), join them zero-exchange, and aggregate.
    * Bucketing is a storage layout, never semantics, so the oracle is
    * the plain join over the raw parquet. QSkewBucketPlanSpec pins the
    * zero-ShuffleExchange join subtree; this entry certifies the full
    * write→catalog→read→join round-trip produces bit-identical results.
    *
    * Staging lifecycle mirrors p_ann_search: per-call generation dirs
    * and table names under a per-(sfDir, pid) base with keep-2 cleanup,
    * so a repeat caller can never drop a table/dir a still-lazy previous
    * plan reads (ADVICE r7/r11 — counters are PER BASE). */
  def qBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val dirKey = Portable.md5Hex(dir)
    val base = s"${Staging.root}/graft_bucket_" +
      dirKey + "_" + ProcessHandle.current().pid()
    val gen = bucketStageGens
      .computeIfAbsent(dirKey, _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet()
    val liTable = s"graft_li_bucketed_${dirKey}_g$gen"
    val ordTable = s"graft_ord_bucketed_${dirKey}_g$gen"
    graft.sources.Bucketing.writeBucketed(
      Tables.lineitem(s, dir).select(col("l_orderkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents")),
      liTable, s"${base}_g$gen/li", "l_orderkey", 8)
    graft.sources.Bucketing.writeBucketed(
      Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
      ordTable, s"${base}_g$gen/ord", "o_orderkey", 8)
    if (gen >= 2) {
      s.sql(s"DROP TABLE IF EXISTS graft_li_bucketed_${dirKey}_g${gen - 2}")
      s.sql(s"DROP TABLE IF EXISTS graft_ord_bucketed_${dirKey}_g${gen - 2}")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"${base}_g${gen - 2}"))
    }
    s.table(liTable)
      .join(s.table(ordTable), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
  }

  private val bucketStageGens =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  val qBucketJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q17_small_qty
  /** TPC-H q17 shape: correlated scalar subquery (revenue from lineitems
    * under 20% of their part's average quantity) decorrelated into an
    * aggregate-then-join. The predicate `qty < 0.2·avg` is evaluated as
    * `5·qty·cnt < sum_qty` in exact DECIMAL/integer arithmetic so borderline
    * rows cannot flip between engines. Scale shape: both joins share the
    * l_partkey shuffle key, so lineitem is exchanged ONCE and reused;
    * the brand-filtered part side stays a plain shuffle join (part is
    * 10s of GB at 100 TB — deliberately not broadcast, Tables.scala). */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
      .select("p_partkey")
    val avgq = l.groupBy(col("l_partkey").as("a_partkey")).agg(
      sum(col("l_quantity").cast("decimal(12,2)")).as("sum_qty"),
      count(lit(1)).cast("decimal(10,0)").as("cnt_qty"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(avgq, col("l_partkey") === col("a_partkey"))
      .filter(expr("cast(l_quantity as decimal(12,2)) * 5 * cnt_qty < sum_qty"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"),
        count(lit(1)).as("n_rows"))
  }

  val q17SmallQtySql: String =
    """WITH avgq AS (
      |  SELECT l_partkey AS a_partkey,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
      |    CAST(COUNT(*) AS DECIMAL(10,0)) AS cnt_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
      |JOIN avgq ON l_partkey = a_partkey
      |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt_qty < sum_qty""".stripMargin

  // ---------------------------------------------------------------- q_pivot
  /** Pivot: order counts + exact money sums per status, one column pair
    * per priority (explicit value list keeps the output schema static —
    * the scale rule: a dynamic pivot would need a driver-side distinct
    * scan before planning). */
  private val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def prioCol(p: String) = p.substring(0, 1) // stable short names

  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val aggs = prios.flatMap { p =>
      Seq(
        sum(when(col("o_orderpriority") === p, 1L).otherwise(0L)).as(s"n_${prioCol(p)}"),
        sum(when(col("o_orderpriority") === p, col("o_totalprice").cast("decimal(12,2)"))
          .otherwise(expr("cast(0 as decimal(12,2))"))).cast("double").as(s"sum_${prioCol(p)}"))
    }
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(aggs.head, aggs.tail: _*)
  }

  val qPivotSql: String = {
    val cols = prios.flatMap { p =>
      Seq(
        s"CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n_${prioCol(p)}",
        s"CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_${prioCol(p)}")
    }.mkString(",\n  ")
    s"""SELECT o_orderstatus,
       |  $cols
       |FROM orders GROUP BY o_orderstatus""".stripMargin
  }

  // ---------------------------------------------------------------- q_events_funnel
  /** Ordered funnel over the event stream: how many users signed up, then
    * viewed AFTER signing up, then clicked after that view, then purchased
    * after that click. The ordering constraint (each step must follow a
    * completed previous step) is what distinguishes a funnel from four
    * count-distincts — mirroring the reference's sequence-detection
    * pattern (examples/pony/alphabet_popularity-style keyed sequences).
    *
    * Scale shape: ONE shuffle + sort per user (all four step markers are
    * window expressions over the SAME (user, ts) ordering, so Catalyst
    * plans a single Exchange + Sort with four chained Window operators),
    * then a final 4-way distinct aggregation. Per-user state is O(1) —
    * four running minima — so a user with 10^9 events costs a sort, not
    * memory. Time arithmetic in integer µs (see [[qEventsSessionize]]);
    * event_id breaks ts ties deterministically. A step event counts only
    * if a qualifying previous-step event is STRICTLY earlier in
    * (ts, event_id) order — the frame is UNBOUNDED PRECEDING..1 PRECEDING,
    * so same-row self-satisfaction is impossible. */
  private[operators] val funnelSteps = Seq("signup", "view", "click", "purchase")

  def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    // pN = earliest time a user completed step N, as seen by strictly-later
    // rows; hit(N) at a row = this row is a step-N event with step N-1
    // already complete. Chained: each pN's CASE reads the previous pN-1.
    val staged = funnelSteps.zipWithIndex.foldLeft(base) {
      case (df, (step, i)) =>
        val gate = if (i == 0) lit(true) else col(s"p${i - 1}").isNotNull
        df.withColumn(s"p$i",
          min(when(col("event_type") === step && gate, col("ts_us"))).over(prev))
    }
    val counts = funnelSteps.zipWithIndex.map { case (step, i) =>
      val gate = if (i == 0) lit(true) else col(s"p${i - 1}").isNotNull
      countDistinct(when(col("event_type") === step && gate, col("user_id")))
        .as(s"${step}_users")
    }
    staged.agg(counts.head, counts.tail: _*)
  }

  val qEventsFunnelSql: String = {
    val win = "PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    val ctes = funnelSteps.zipWithIndex.map { case (step, i) =>
      val gate = if (i == 0) "" else s" AND p${i - 1} IS NOT NULL"
      s"""w$i AS (
         |  SELECT *, MIN(CASE WHEN event_type = '$step'$gate THEN ts_us END)
         |    OVER ($win) AS p$i
         |  FROM ${if (i == 0) "base" else s"w${i - 1}"})"""
    }.mkString(",\n")
    val counts = funnelSteps.zipWithIndex.map { case (step, i) =>
      val gate = if (i == 0) "" else s" AND p${i - 1} IS NOT NULL"
      s"COUNT(DISTINCT CASE WHEN event_type = '$step'$gate THEN user_id END) AS ${step}_users"
    }.mkString(",\n  ")
    s"""WITH base AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |$ctes
       |SELECT
       |  $counts
       |FROM w${funnelSteps.size - 1}""".stripMargin
  }

  // ---------------------------------------------------------------- q_events_retention
  /** Cohort retention matrix: users grouped by first-active week, counted
    * in each later week they return. All time arithmetic is pure integer
    * (epoch-µs → epoch-day → epoch-week by `div`), sidestepping calendar
    * week-start semantics entirely — exact in both engines and immune to
    * session timezone.
    *
    * Scale shape: (user, week) distinct collapses with map-side combine
    * (shuffle carries one row per user-week, not per event); the cohort
    * week is a window min over the user partition (no second join against
    * a per-user aggregate — the window reuses the distinct output's
    * clustering); the final matrix aggregation is cohort×offset-sized,
    * tiny. No driver-side anything. */
  def qEventsRetention(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000 div 86400000000 div 7").as("week_idx"))
      .distinct()
      .withColumn("cohort_week", min(col("week_idx")).over(byUser))
      .groupBy(col("cohort_week"), (col("week_idx") - col("cohort_week")).as("week_offset"))
      // plain count, not countDistinct: the upstream (user, week)
      // distinct plus cohort_week being a pure function of user_id
      // already guarantee one row per user per (cohort, offset) group —
      // countDistinct would plan a second two-phase distinct aggregation
      // for an identical result
      .agg(count(lit(1)).as("n_users"))
  }

  val qEventsRetentionSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 // 7 AS week_idx
      |  FROM events),
      |c AS (
      |  SELECT *, MIN(week_idx) OVER (PARTITION BY user_id) AS cohort_week
      |  FROM uw)
      |SELECT cohort_week, week_idx - cohort_week AS week_offset,
      |  COUNT(*) AS n_users
      |FROM c GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q_events_anomaly
  /** Robust per-type anomaly flag — |value − median| > 3·MAD, the
    * median-absolute-deviation rule monitoring pipelines prefer over
    * z-scores (one spike inflates a stddev; it barely moves the MAD).
    *
    * Both statistics are EXACT nearest-rank order statistics (lower
    * median: rank (n+1) div 2 over (value, event_id)); there is no
    * mean/stddev float summation anywhere, so the result is independent
    * of partitioning and aggregation order — the property that makes the
    * oracle hash-exact where a naive avg/stddev_pop implementation would
    * drift by summation order at any real parallelism.
    *
    * Scale shape: both ranks ride ONE hash partitioning by event_type
    * (Catalyst plans a single Exchange; the second Window re-sorts
    * within partitions, no second shuffle); the two per-type statistics
    * tables are broadcast back. Rows shuffled carry (event_id, value) —
    * 16 bytes. A hot event_type turns the rank into one partition's
    * sort; the two-phase count-then-rank selection (t_length_percentiles)
    * is the standing fix if that ever binds. */
  def qEventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val byType = Window.partitionBy(col("event_type"))
    val med = e
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("rk", row_number().over(
        byType.orderBy(col("value").asc, col("event_id").asc)))
      .filter(col("rk").cast("long") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("value").as("med"))
    val d = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = d
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("rk", row_number().over(
        byType.orderBy(col("dev").asc, col("event_id").asc)))
      .filter(col("rk").cast("long") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad"))
    d.join(broadcast(mad), "event_type")
      .select(col("event_id"), col("event_type"), col("value"), col("dev"),
        (col("dev") > col("mad") * 3).as("is_anomaly"))
  }

  val qEventsAnomalySql: String =
    """WITH e AS (SELECT event_id, event_type, value FROM events),
      |m AS (
      |  SELECT event_type, value AS med FROM (
      |    SELECT event_type, value,
      |      ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY value ASC, event_id ASC) AS rk,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM e) x
      |  WHERE rk = (n + 1) // 2),
      |d AS (
      |  SELECT e.event_id, e.event_type, e.value, abs(e.value - m.med) AS dev
      |  FROM e JOIN m USING (event_type)),
      |md AS (
      |  SELECT event_type, dev AS mad FROM (
      |    SELECT event_type, dev, event_id,
      |      ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY dev ASC, event_id ASC) AS rk,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM d) y
      |  WHERE rk = (n + 1) // 2)
      |SELECT d.event_id, d.event_type, d.value, d.dev,
      |  d.dev > md.mad * 3 AS is_anomaly
      |FROM d JOIN md USING (event_type)""".stripMargin

  /** name → (query builder, oracle SQL) */
  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_events_anomaly" -> ((qEventsAnomaly _, Some(qEventsAnomalySql))),
    "q1_agg" -> ((q1Agg _, Some(q1AggSql))),
    "q6_filter" -> ((q6Filter _, Some(q6FilterSql))),
    "q3_topk" -> ((q3TopK _, Some(q3TopKSql))),
    "q5_join" -> ((q5Join _, Some(q5JoinSql))),
    "q_semi_anti" -> ((qSemiAnti _, Some(qSemiAntiSql))),
    "q_rollup" -> ((qRollup _, Some(qRollupSql))),
    "q_cube" -> ((qCube _, Some(qCubeSql))),
    "q_window_rank" -> ((qWindowRank _, Some(qWindowRankSql))),
    "q_window_running" -> ((qWindowRunning _, Some(qWindowRunningSql))),
    "q_distinct" -> ((qDistinct _, Some(qDistinctSql))),
    "q_setops" -> ((qSetOps _, Some(qSetOpsSql))),
    "q_events_tumbling" -> ((qEventsTumbling _, Some(qEventsTumblingSql))),
    "q_events_topk_window" -> ((qEventsTopkWindow _, Some(qEventsTopkWindowSql))),
    "q_events_sessionize" -> ((qEventsSessionize _, Some(qEventsSessionizeSql))),
    "q_events_session_native" -> ((qEventsSessionNative _, Some(qEventsSessionNativeSql))),
    "q_asof_join" -> ((qAsofJoin _, Some(qAsofJoinSql))),
    "q_events_interval_join" -> ((qEventsIntervalJoin _, Some(qEventsIntervalJoinSql))),
    "q_sketch_distinct" -> ((qSketchDistinct _, Some(qSketchDistinctSql))),
    "q_strings_dates" -> ((qStringsDates _, Some(qStringsDatesSql))),
    "q_merge_union" -> ((qMergeUnion _, Some(qMergeUnionSql))),
    "q17_small_qty" -> ((q17SmallQty _, Some(q17SmallQtySql))),
    "q_pivot" -> ((qPivot _, Some(qPivotSql))),
    "q_events_funnel" -> ((qEventsFunnel _, Some(qEventsFunnelSql))),
    "q_events_retention" -> ((qEventsRetention _, Some(qEventsRetentionSql))),
    "q_skew_join" -> ((qSkewJoin _, Some(qSkewJoinSql))),
    "q_bucket_join" -> ((qBucketJoin _, Some(qBucketJoinSql))))
}
