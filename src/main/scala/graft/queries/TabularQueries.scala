package graft.queries

import graft.Tables
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational and event-stream queries over the star schema: the
  * reference's profiling, scaling, histogram and lookup steps re-expressed
  * as aggregations, joins, windows, time series and OLAP reshapes. */
object TabularQueries {

  /** TPC-H Q1-shaped pricing summary: P1 projections + A-MSE-style sums. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).cast("long").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def q01Sql = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** A-MSE / A-MVar / A-MAE convergence metrics re-expressed relationally:
    * pred = discounted price, y = price → relative error = discount. */
  def q02ErrorMetrics(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      round(avg(pow(col("l_discount"), 2)), 8).as("mse_rel"),
      round(avg(abs(col("l_discount"))), 8).as("mae_rel"),
      round(var_pop(col("l_quantity")), 4).as("var_pop_qty"),
      round(avg(col("l_quantity")), 6).as("mean_qty"))

  def q02Sql = """
    SELECT round(avg(l_discount * l_discount), 8) AS mse_rel,
           round(avg(abs(l_discount)), 8) AS mae_rel,
           round(var_pop(l_quantity), 4) AS var_pop_qty,
           round(avg(l_quantity), 6) AS mean_qty
    FROM lineitem"""

  /** A-HIST: 32-bin equi-width histogram of l_extendedprice with density —
    * the reference's np.linspace + hist(density=True) profiling step. */
  def q03Histogram(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val stats = li.agg(min(col("l_extendedprice")).as("__mn"),
      max(col("l_extendedprice")).as("__mx"), count(lit(1)).as("__n"))
    val width = (col("__mx") - col("__mn")) / lit(32.0)
    li.crossJoin(broadcast(stats))
      .select(least(floor((col("l_extendedprice") - col("__mn")) / width), lit(31.0))
          .cast("long").as("bucket"),
        col("__n"), width.as("__w"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"),
        first("__n").as("__n"), first("__w").as("__w"))
      .select(col("bucket"), col("cnt"),
        round(col("cnt").cast("double") / col("__n") / col("__w"), 8).as("density"))
      .orderBy("bucket")
  }

  def q03Sql = """
    WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
                      count(*) AS n FROM lineitem)
    SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 32.0)), 31.0) AS BIGINT) AS bucket,
           count(*) AS cnt,
           round(count(*)::DOUBLE / any_value(n) / any_value((mx - mn) / 32.0), 8) AS density
    FROM lineitem, s
    GROUP BY 1 ORDER BY 1"""

  /** A-TRAPZ: trapezoidal integration of events.value over event_id —
    * the dense-index form (adjacent-pair equi-join), not the global-window
    * form, so the only single-partition step is the 1-row total. */
  def q04Trapz(s: SparkSession, d: String): DataFrame =
    Integrate.trapzByIndex(Tables.events(s, d),
        col("event_id"), col("event_id"), col("value"))
      .select(round(col("integral"), 4).as("integral"))

  def q04Sql = """
    SELECT round(sum(seg), 4) AS integral FROM (
      SELECT (value + lag(value) OVER (ORDER BY event_id)) / 2.0
             * (event_id - lag(event_id) OVER (ORDER BY event_id)) AS seg
      FROM events)"""

  /** P7 min-max scaling of o_totalprice to [0,1]. */
  def q05MinMaxScale(s: SparkSession, d: String): DataFrame =
    Integrate.minMaxScale(Tables.orders(s, d), col("o_totalprice"), "scaled")
      .select(col("o_orderkey"), round(col("scaled"), 6).as("scaled"))
      .orderBy("o_orderkey")

  def q05Sql = """
    SELECT o_orderkey,
           round(CASE WHEN max(o_totalprice) OVER () = min(o_totalprice) OVER () THEN 0.0
                 ELSE (o_totalprice - min(o_totalprice) OVER ())
                      / (max(o_totalprice) OVER () - min(o_totalprice) OVER ()) END, 6) AS scaled
    FROM orders ORDER BY o_orderkey"""

  /** P6 inverse-density weights (histogram-density form, SQL-expressible):
    * w ∝ 1 / bucket-count(o_totalprice), normalized to sum 1. The
    * normalizing total is a broadcast 1-row aggregate, NOT an unpartitioned
    * window (which would be a single task at scale); per-bucket counts stay
    * a partitioned window. */
  def q06InvDensityWeights(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val stats = o.agg(min(col("o_totalprice")).as("__mn"), max(col("o_totalprice")).as("__mx"))
    val width = (col("__mx") - col("__mn")) / lit(32.0)
    val withBucket = o.crossJoin(broadcast(stats))
      .withColumn("bucket",
        least(floor((col("o_totalprice") - col("__mn")) / width), lit(31.0)).cast("long"))
    val withRaw = withBucket
      .withColumn("__raw", lit(1.0) / count(lit(1)).over(Window.partitionBy("bucket")))
    val total = withRaw.agg(sum(col("__raw")).as("__total"))
    withRaw.crossJoin(broadcast(total))
      .withColumn("w", round(col("__raw") / col("__total"), 8))
      .select(col("o_orderkey"), col("bucket"), col("w"))
      .orderBy("o_orderkey")
  }

  def q06Sql = """
    WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
    b AS (SELECT o_orderkey,
                 CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 32.0)), 31.0) AS BIGINT) AS bucket
          FROM orders, s),
    r AS (SELECT o_orderkey, bucket,
                 1.0 / (count(*) OVER (PARTITION BY bucket)) AS raw
          FROM b)
    SELECT o_orderkey, bucket, round(raw / sum(raw) OVER (), 8) AS w
    FROM r ORDER BY o_orderkey"""

  /** P8/W3 middle-duplicate lookup: for each quantity value, the middle
    * matching row (reference tie-resolution semantics). */
  def q07MiddleLookup(s: SparkSession, d: String): DataFrame =
    Selection.middleByKey(
        Tables.lineitem(s, d).select("l_quantity", "l_orderkey", "l_linenumber"),
        col("l_quantity"), Seq(col("l_orderkey"), col("l_linenumber")))
      .orderBy("l_quantity")

  def q07Sql = """
    SELECT l_quantity, l_orderkey, l_linenumber FROM (
      SELECT l_quantity, l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_quantity ORDER BY l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_quantity) AS cnt
      FROM lineitem)
    WHERE rn = floor(cnt / 2) + 1
    ORDER BY l_quantity"""

  /** O-TOPK: top-20 rows by extended price, deterministic tie-break. */
  def q08TopK(s: SparkSession, d: String): DataFrame =
    Selection.topK(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice"),
        col("l_extendedprice"), 20, Seq(col("l_orderkey"), col("l_linenumber")))
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))

  def q08Sql = """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20"""

  /** J2 pool-deletion: anti-join out the top-100 priced rows, then profile
    * the remaining pool (the reference's np.delete + refit measurement). */
  def q09PoolDeletion(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val top = Selection.topK(li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
      col("l_extendedprice"), 100, Seq(col("l_orderkey"), col("l_linenumber")))
    li.join(broadcast(top.select("l_orderkey", "l_linenumber")),
        Seq("l_orderkey", "l_linenumber"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_remaining"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  def q09Sql = """
    WITH top AS (SELECT l_orderkey, l_linenumber FROM lineitem
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100)
    SELECT count(*) AS n_remaining,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM top t
                      WHERE t.l_orderkey = l.l_orderkey
                        AND t.l_linenumber = l.l_linenumber)"""

  /** JSON extraction from events.props. */
  def q18Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"), round(avg(col("k")), 4).as("avg_k"))
      .orderBy("event_type")

  def q18Sql = """
    SELECT event_type, count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Hourly tumbling aggregation over the event stream (batch form). */
  def q19Hourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"))
      .agg(count(lit(1)).cast("long").as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hour")

  def q19Sql = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1 ORDER BY 1"""

  /** Star-schema join: revenue per nation (broadcast dims). */
  def q20RevenueByNation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).cast("long").as("n_items"))
      .orderBy("n_name")
  }

  def q20Sql = """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""

  /** Per-column profile of orders (M9 / north-star profiling). Registered in
    * the exact-distinct mode so DuckDB's count(DISTINCT) replays it; exact
    * distincts run as per-column single-distinct aggregates (no Expand —
    * the q48 lesson). `approxDistinct = true` is the one-scan 100 TB path. */
  def q21ProfileOrders(s: SparkSession, d: String): DataFrame =
    Profiling.profile(Tables.orders(s, d),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority"),
      approxDistinct = false).orderBy("col_name")

  private def profileCol(c: String) = s"""
    SELECT '$c' AS col_name, count(*) AS n_rows,
           count(*) - count($c) AS n_nulls,
           round((count(*) - count($c))::DOUBLE / count(*), 6) AS null_rate,
           count(DISTINCT $c) AS n_distinct,
           CAST(min($c) AS VARCHAR) AS min_value,
           CAST(max($c) AS VARCHAR) AS max_value
    FROM orders"""

  def q21Sql = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
    .map(profileCol).mkString("", " UNION ALL ", " ORDER BY col_name")

  /** Validation rules over lineitem in one pass. */
  def q22Validate(s: SparkSession, d: String): DataFrame =
    Profiling.validate(Tables.lineitem(s, d), Seq(
      Profiling.inRange("l_quantity", 1, 50),
      Profiling.nonNegative("l_extendedprice"),
      Profiling.inRange("l_discount", 0.0, 0.1),
      Profiling.inRange("l_tax", 0.0, 0.08),
      Profiling.notNull("l_shipdate"))).orderBy("rule")

  private def ruleSql(name: String, pred: String) = s"""
    SELECT '$name' AS rule,
           count(CASE WHEN NOT coalesce($pred, false) THEN 1 END) AS violations,
           count(*) AS n_rows,
           round(count(CASE WHEN NOT coalesce($pred, false) THEN 1 END)::DOUBLE / count(*), 6) AS violation_rate
    FROM lineitem"""

  def q22Sql = Seq(
    ruleSql("range_l_quantity", "l_quantity IS NOT NULL AND l_quantity >= 1 AND l_quantity <= 50"),
    ruleSql("non_negative_l_extendedprice", "l_extendedprice IS NOT NULL AND l_extendedprice >= 0"),
    ruleSql("range_l_discount", "l_discount IS NOT NULL AND l_discount >= 0.0 AND l_discount <= 0.1"),
    ruleSql("range_l_tax", "l_tax IS NOT NULL AND l_tax >= 0.0 AND l_tax <= 0.08"),
    ruleSql("not_null_l_shipdate", "l_shipdate IS NOT NULL")
  ).mkString("", " UNION ALL ", " ORDER BY rule")

  /** Key-uniqueness violations (duplicate multiplicities) on lineitem. */
  def q23DupKeys(s: SparkSession, d: String): DataFrame =
    Profiling.duplicateKeys(Tables.lineitem(s, d), Seq("l_orderkey"))
      .orderBy("l_orderkey")

  def q23Sql = """
    SELECT l_orderkey, count(*) AS dups FROM lineitem
    GROUP BY l_orderkey HAVING count(*) > 1 ORDER BY l_orderkey"""

  /** W1 sliding-window featurization, scalar (sum) projection for the
    * oracle; the array-valued operator itself is q27. Built on the BLOCKED
    * featurizer (not a global unpartitioned window — that is a single task
    * at scale); sums are ordered left-folds over the window arrays so the
    * DuckDB oracle reproduces them bit-for-bit. */
  def q24WindowSums(s: SparkSession, d: String): DataFrame = {
    def fsum(arr: Column): Column =
      round(aggregate(arr, lit(0.0), (acc, x) => acc + x), 4)
    SlidingWindows.featurizeByIndex(Tables.events(s, d),
        col("event_id"), col("value"), history = 10, pred = 5)
      .withColumn("hist_sum", fsum(col("hist")))
      .withColumn("target_sum", fsum(col("target")))
      .select(col("win_id"), col("hist_sum"), col("target_sum"))
      .orderBy("win_id")
  }

  // Sums as ordered left-folds over the window lists (not window SUMs) so
  // doubles match Spark's aggregate() over the featurizer's arrays exactly.
  def q24Sql = """
    WITH w AS (
      SELECT event_id AS win_id,
             list(value) OVER (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS hist,
             list(value) OVER (ORDER BY event_id ROWS BETWEEN 10 FOLLOWING AND 14 FOLLOWING) AS target
      FROM events)
    SELECT win_id,
           round(list_reduce(list_prepend(0.0, hist), (a, b) -> a + b), 4) AS hist_sum,
           round(list_reduce(list_prepend(0.0, target), (a, b) -> a + b), 4) AS target_sum
    FROM w
    WHERE len(hist) = 10 AND len(target) = 5
    ORDER BY win_id"""

  /** W1 via the scalable blocked featurizer. The operator's output is
    * array-valued (hist[10], target[5]); the driver's checker can't hash
    * array cells, so the registered query projects a position-weighted
    * digest of each array — any misplaced/missing element changes the sum —
    * plus the endpoints. The digest is an ordered left-fold so the DuckDB
    * oracle (list_reduce over list_prepend) reproduces it bit-for-bit. */
  def q27SlidingWindows(s: SparkSession, d: String): DataFrame = {
    val wins = SlidingWindows.featurizeByIndex(Tables.events(s, d),
      col("event_id"), col("value"), history = 10, pred = 5)
    def wsum(arr: Column, n: Int): Column = {
      val weighted = zip_with(arr,
        sequence(lit(1), lit(n)).cast("array<double>"), (v, i) => v * i)
      round(aggregate(weighted, lit(0.0), (acc, x) => acc + x), 4)
    }
    wins
      // digests in their own projection (HOFs are interpreted; keep each
      // fold evaluated exactly once, not inlined into the final select)
      .withColumn("hist_wsum", wsum(col("hist"), 10))
      .withColumn("target_wsum", wsum(col("target"), 5))
      .select(col("win_id"),
        col("hist_wsum"), col("target_wsum"),
        round(element_at(col("hist"), 1), 4).as("hist_first"),
        round(element_at(col("hist"), 10), 4).as("hist_last"),
        round(element_at(col("target"), 1), 4).as("target_first"),
        round(element_at(col("target"), 5), 4).as("target_last"))
      .orderBy("win_id")
  }

  // Sliding windows as position-weighted digests: the fold is an ordered
  // left-fold (list_prepend 0.0) so doubles agree with Spark's aggregate().
  def q27Sql = """
    WITH w AS (
      SELECT event_id AS win_id,
             list(value) OVER (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS hist,
             list(value) OVER (ORDER BY event_id ROWS BETWEEN 10 FOLLOWING AND 14 FOLLOWING) AS target
      FROM events)
    SELECT win_id,
           round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 10), i -> hist[i] * CAST(i AS DOUBLE))), (a, b) -> a + b), 4) AS hist_wsum,
           round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 5), i -> target[i] * CAST(i AS DOUBLE))), (a, b) -> a + b), 4) AS target_wsum,
           round(hist[1], 4) AS hist_first,
           round(hist[10], 4) AS hist_last,
           round(target[1], 4) AS target_first,
           round(target[5], 4) AS target_last
    FROM w
    WHERE len(hist) = 10 AND len(target) = 5
    ORDER BY win_id"""

  /** As-of join (backward): each click event picks up the latest purchase
    * of the same user at or before its timestamp. */
  def q35AsOfJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    Joins.asOfBackward(clicks, purchases, Seq("user_id"),
        col("ts"), col("p_ts"),
        Map("p_event_id" -> "purchase_event_id", "p_value" -> "purchase_value"))
      .select(col("event_id"), col("user_id"),
        col("purchase_event_id"), round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy("event_id")
  }

  def q35Sql = """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts, value AS p_value
                  FROM events WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, p.p_event_id AS purchase_event_id,
           round(p.p_value, 2) AS purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.p_ts
    ORDER BY c.event_id"""

  /** Gap-based sessionization: 30-minute inactivity breaks a session.
    * Hash-robust output shape: session_start as unix micros (BIGINT — no
    * cross-engine timestamp formatting), sum_value summed as decimal so the
    * result is independent of partial-sum order, then rounded as double. */
  def q36Sessionize(s: SparkSession, d: String): DataFrame =
    Joins.sessionize(Tables.events(s, d), Seq("user_id"), col("ts"), gapSeconds = 1800)
      .groupBy("user_id", "session_id")
      .agg(unix_micros(min(col("ts"))).as("session_start"),
        count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2).as("sum_value"))
      .orderBy("user_id", "session_id")

  def q36Sql = """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                  ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           epoch_us(CAST(min(ts) AS TIMESTAMP)) AS session_start,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_id"""

  /** CUBE aggregation over returnflag x linestatus with grouping flags. */
  def q37Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"))
      .orderBy(col("g_flag"), col("g_status"),
        coalesce(col("l_returnflag"), lit("")), coalesce(col("l_linestatus"), lit("")))

  def q37Sql = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, coalesce(l_returnflag, ''), coalesce(l_linestatus, '')"""

  /** Window ranking surface: top-3 orders per customer with row_number /
    * rank / dense_rank (ties on price exercised by the rank variants) and a
    * global price quartile. The quartile is NOT a global `ntile(4)` window
    * (single-task sort at scale): Ranking.globalRowNumber range-partitions
    * the sort and ntileFromRank reproduces exact ntile remainder semantics
    * from the global rank — same numbers, fully parallel plan. */
  def q38Ranking(s: SparkSession, d: String): DataFrame = {
    val byPrice = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    val det = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice")
    val withRank = Ranking.globalRowNumber(o,
      Seq(desc("o_totalprice"), col("o_orderkey")), out = "__grn")
    withRank
      .crossJoin(broadcast(withRank.agg(count(lit(1)).as("__n"))))
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        row_number().over(det).cast("long").as("rn"),
        rank().over(byPrice).cast("long").as("rnk"),
        dense_rank().over(byPrice).cast("long").as("drnk"),
        Ranking.ntileFromRank(col("__grn"), col("__n"), 4).as("price_quartile"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  def q38Sql = """
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
             dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk,
             ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile
      FROM orders)
    SELECT o_custkey, o_orderkey, price, rn, rnk, drnk, price_quartile
    FROM ranked WHERE rn <= 3
    ORDER BY o_custkey, rn"""

  /** Exact interpolated percentiles of quantity per return flag — the
    * labeled EXACT-percentile oracle companion of q48's sketch path (the
    * q15/q16 labeling convention): at 100 TB the registered substitute is
    * `percentile_approx`, which q48 and q51 gate against exact values;
    * this query pins the exact `percentile` ↔ `quantile_cont` parity the
    * gates rely on. Small per-group value maps here (grouped by flag). */
  def q39Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("price_p90"))
      .orderBy("l_returnflag")

  def q39Sql = """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Left outer join with empty-group preservation: order stats per
    * customer including order-less customers. */
  def q40LeftJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).cast("long").as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spend"))
      .orderBy("c_custkey")

  def q40Sql = """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey"""

  /** Multi-distinct aggregation (Catalyst Expand path): several independent
    * COUNT(DISTINCT ...) in one statement. */
  def q41MultiDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      count_distinct(col("l_partkey")).as("d_parts"),
      count_distinct(col("l_suppkey")).as("d_supps"),
      count_distinct(col("l_returnflag"), col("l_linestatus")).as("d_flag_status"),
      count_distinct(col("l_quantity")).as("d_qty"),
      count(lit(1)).cast("long").as("n"))

  def q41Sql = """
    SELECT count(DISTINCT l_partkey) AS d_parts,
           count(DISTINCT l_suppkey) AS d_supps,
           count(DISTINCT (l_returnflag, l_linestatus)) AS d_flag_status,
           count(DISTINCT l_quantity) AS d_qty,
           count(*) AS n
    FROM lineitem"""

  /** Interval (range) join via Joins.rangeJoin: every click landing inside
    * a 30-minute attribution window that starts at a same-user purchase.
    * The bucketized equi-join (30-min cells) replaces the quadratic
    * per-user equi-join + range-filter plan Spark would pick by default. */
  def q47RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("p_ts"))
    Joins.rangeJoin(clicks, purchases, Seq("user_id"),
        col("ts"), col("p_ts"),
        col("p_ts") + expr("INTERVAL 30 MINUTES"), bucketSeconds = 1800L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("p_ts"))).as("dt_us"))
      .orderBy("click_id", "purchase_id")
  }

  // Range join: DuckDB's planner handles the BETWEEN predicate directly
  // (IEJoin); the Spark side gets the same rows from the bucketized cell
  // join. Window END is inclusive on both sides.
  def q47Sql = """
    WITH c AS (SELECT event_id AS click_id, user_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS p
               FROM events WHERE event_type = 'click'),
    pu AS (SELECT event_id AS purchase_id, user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS s
           FROM events WHERE event_type = 'purchase')
    SELECT c.click_id, pu.purchase_id, c.user_id, c.p - pu.s AS dt_us
    FROM c JOIN pu
      ON c.user_id = pu.user_id AND c.p BETWEEN pu.s AND pu.s + 1800000000
    ORDER BY c.click_id, pu.purchase_id"""

  /** Interpolation join (SURVEY J3 as a general operator): for every click,
    * linearly interpolate the same user's purchase `value` series at the
    * click's timestamp — np.interp semantics (clamp at the edges, NULL for
    * users with no purchases), one shuffle. Coordinates are epoch-µs
    * doubles (exact: µs < 2^53 until year ~2255). */
  def q49InterpJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    // knots pre-aggregated per (user, ts): duplicate-timestamp purchases
    // would otherwise make the ASOF-oracle tie-break undefined
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("p_ts"))
      .agg(avg("value").as("value"))
    Joins.interpolationJoin(clicks, purchases, Seq("user_id"),
        unix_micros(col("ts")), unix_micros(col("p_ts")), col("value"))
      .select(col("event_id"), col("user_id"),
        round(col("y_interp"), 6).as("v_interp"))
      .orderBy("event_id")
  }

  // Interpolation join: prev knot via backward ASOF, next knot via forward
  // ASOF (both inclusive on ties, matching the Spark window frames), then
  // the SAME lerp arithmetic op-for-op. Probes on a knot take the zero-
  // distance branch on both sides.
  def q49Sql = """
    WITH c AS (SELECT event_id, user_id,
                      epoch_us(CAST(ts AS TIMESTAMP))::DOUBLE AS x
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP))::DOUBLE AS kx,
                 avg(value) AS ky
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    prev AS (SELECT c.event_id, c.user_id, c.x, p.kx AS px, p.ky AS pv
             FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.x >= p.kx),
    nxt AS (SELECT c.event_id, p.kx AS nx, p.ky AS nv
            FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.x <= p.kx)
    SELECT prev.event_id, prev.user_id,
           round(CASE WHEN px IS NULL AND nx IS NULL THEN NULL
                      WHEN px IS NULL THEN nv
                      WHEN nx IS NULL THEN pv
                      WHEN nx = px THEN pv
                      ELSE pv + (nv - pv) * (x - px) / (nx - px) END, 6) AS v_interp
    FROM prev JOIN nxt USING (event_id)
    ORDER BY prev.event_id"""

  /** Robust per-column outlier profile of the lineitem measures:
    * median/MAD z-scores (outliers can't drag their own threshold the way
    * mean/stddev scoring lets them). q48-pattern gate query: the EXACT
    * stats are the hash anchor (per-column concurrent single-column
    * aggregates — the oracle-parity companion, like q39), and `apx_ok`
    * gates the bounded-memory `percentile_approx` path — the mode a 100 TB
    * run uses standalone (`Profiling.robustOutliers(approx = true)`) — by
    * rank-checking the sketch medians/MADs against the data. */
  def q51RobustOutliers(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(s, d)
    // the sketch gate's 3 passes and the exact anchor's 3 passes are
    // independent until the final flag column — run them as concurrent jobs
    // on the bounded PlanOps pool (each pass is internally sequential: MAD
    // needs the median first)
    val both = PlanOps.runJobs(Seq(
      () => Left(Profiling.approxOutlierGate(li, cols)),
      () => Right(Profiling.robustOutliers(li, cols, approx = false))),
      session = Some(s))
    val gate = both.collectFirst { case Left(g) => g }.get
    val exact = both.collectFirst { case Right(e) => e }.get
    val flag = cols.foldLeft(lit(null).cast("long")) { (acc, c) =>
      when(col("column") === lit(c), lit(gate(c))).otherwise(acc)
    }
    exact.withColumn("apx_ok", flag).orderBy("column")
  }

  // Robust outliers: per-column median/MAD replayed with quantile_cont
  // (exact interpolated percentile — the q39-proven twin of Spark's
  // `percentile`); the count compares against DuckDB's own median/MAD, so
  // both engines are self-consistent and the rounded stats hash-match.
  def q51Sql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS "column", round(m, 6) AS median, round(d, 6) AS mad,
                 CAST(n AS BIGINT) AS n_outliers, CAST(1 AS BIGINT) AS apx_ok
          FROM (SELECT quantile_cont($c, 0.5) AS m FROM lineitem) mm,
               LATERAL (SELECT quantile_cont(abs($c - mm.m), 0.5) AS d
                        FROM lineitem) dd,
               LATERAL (SELECT count(*) AS n FROM lineitem
                        WHERE abs($c - mm.m) > 3.5 * 1.4826 * dd.d) cc"""
    }.mkString("", "\n    UNION ALL\n    ", "\n    ORDER BY \"column\"")
  }

  /** Z-order layout cells: Morton-interleave two lineitem key coordinates
    * onto a 1024×1024 grid and histogram the 64 top-level z-cells (count +
    * z min/max per cell). The interleave is pure built-in bitwise
    * arithmetic ([[Layout.zValue]]), so the oracle replays it bit-for-bit;
    * the per-cell min/max columns are exactly the file statistics a
    * z-clustered table would expose to pruning ([[Layout.clusterByZ]] —
    * the pruning property itself is asserted in LayoutSpec). */
  def q63ZOrderCells(s: SparkSession, d: String): DataFrame = {
    val x = pmod(col("l_orderkey"), lit(1024L)).cast("long")
    val y = pmod(col("l_partkey"), lit(1024L)).cast("long")
    Tables.lineitem(s, d)
      .select(Layout.zValue(Seq(x, y), bits = 10).as("z"))
      .groupBy(shiftright(col("z"), 14).as("cell"))
      .agg(count(lit(1)).as("n"), min("z").as("z_min"), max("z").as("z_max"))
      .orderBy("cell")
  }

  // Z-order cells: replays the Morton interleave (bit i of column j →
  // output bit i*d + j) with the same bitwise arithmetic.
  def q63Sql = """
    WITH s AS (SELECT l_orderkey % 1024 AS x, l_partkey % 1024 AS y FROM lineitem),
    z AS (SELECT CAST(list_sum(list_transform(range(10),
                   i -> (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1))))
                 AS BIGINT) AS z
          FROM s)
    SELECT z >> 14 AS cell, CAST(count(*) AS BIGINT) AS n,
           min(z) AS z_min, max(z) AS z_max
    FROM z GROUP BY cell ORDER BY cell"""

  /** Join-key skew diagnostic over the events fan-in key: the top-5
    * hottest user_ids with exact counts and the global skew ratio — the
    * measurement that decides between a plain shuffle join, AQE skew
    * splitting, and the salted join. */
  def q67KeySkew(s: SparkSession, d: String): DataFrame =
    Profiling.keySkew(Tables.events(s, d), col("user_id"), topK = 5)

  // Key-skew diagnostic: exact top-5 hot keys + global ratio.
  def q67Sql = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
               FROM events GROUP BY 1),
    s AS (SELECT sum(cnt) AS total_rows, count(*) AS n_keys FROM c)
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
           CAST(total_rows AS BIGINT) AS total_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           round(cnt * n_keys / total_rows, 6) AS skew_ratio
    FROM c, s ORDER BY cnt DESC, key LIMIT 5"""

  /** Log compaction: the events change-stream compacts to the latest
    * event per (user_id, event_type) — versioned by (ts, event_id), the
    * unique id breaking same-timestamp ties — in one hash aggregate (no
    * per-key sort window). The oracle replays it with max_by-style
    * argmax over the same ordering. */
  def q69Compaction(s: SparkSession, d: String): DataFrame =
    Compaction.latestByKey(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"),
            round(col("value"), 6).as("value")),
        keys = Seq("user_id", "event_type"),
        version = Seq("ts_us", "event_id"),
        payload = Seq("value"))
      .orderBy("user_id", "event_type")

  // Log compaction: latest row per key under the (ts, event_id) total
  // order, replayed with a window argmax.
  def q69Sql = """
    WITH s AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
                      round(value, 6) AS value,
                      row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
                                                  event_id DESC) AS rn
               FROM events)
    SELECT user_id, event_type, CAST(ts_us AS BIGINT) AS ts_us,
           event_id, value
    FROM s WHERE rn = 1 ORDER BY user_id, event_type"""

  /** Equi-depth decile binning of lineitem prices (feature
    * discretization): exact ntile semantics through the range-partitioned
    * rank — no single-task window — then per-bucket count and price
    * bounds. The oracle replays with a plain ntile window, holding the
    * scale-safe construction to the exact SQL semantics (q61 precedent
    * for the cumsum; this is the rank twin). */
  def q70EquiDepthBins(s: SparkSession, d: String): DataFrame =
    Ranking.equiDepth(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        col("l_extendedprice"),
        Seq(col("l_orderkey"), col("l_linenumber")), k = 10)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 2).as("lo"),
        round(max("l_extendedprice"), 2).as("hi"))
      .orderBy("bucket")

  // Equi-depth binning: plain ntile replay of the range-partitioned form.
  def q70Sql = """
    WITH r AS (SELECT l_extendedprice,
                      ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                                      l_linenumber) AS bucket
               FROM lineitem)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM r GROUP BY bucket ORDER BY bucket"""

  /** Group-limit at scale: top-3 orders by price per customer via the
    * bounded [[TopKAggregator]] — the exchange carries ≤ 3 rows per
    * customer per map partition, where the `row_number()` window form
    * (q38's shape, right for small groups) sorts every customer's full
    * history. The oracle replays with the window form, so the two
    * formulations are proven equivalent. */
  def q71GroupLimit(s: SparkSession, d: String): DataFrame =
    Selection.topKPerGroup(Tables.orders(s, d), groups = Seq("o_custkey"),
        score = col("o_totalprice"), id = col("o_orderkey"), k = 3)
      .select(col("o_custkey"), col("rank"), col("id").as("o_orderkey"),
        round(col("score"), 2).as("price"))
      .orderBy("o_custkey", "rank")

  // Group-limit: window-form replay of the bounded-aggregator top-3.
  def q71Sql = """
    WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rank
               FROM orders)
    SELECT o_custkey, CAST(rank AS BIGINT) AS rank, o_orderkey,
           round(o_totalprice, 2) AS price
    FROM r WHERE rank <= 3 ORDER BY o_custkey, rank"""

  /** Ordered funnel ([[Funnel.funnel]] — view → click → purchase earliest
    * completion per user). Full replay: the oracle computes the k-pass
    * definition (min ts of each step strictly after the previous step's)
    * with sequential CTEs; the Spark side is the single-shuffle sorted
    * fold — the two formulations must agree on every user. */
  def q91Funnel(s: SparkSession, d: String): DataFrame =
    Funnel.funnel(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"))
      .orderBy("user_id")

  // Ordered funnel, FULL replay via the k-pass definition: t1 = min view,
  // t2 = min click strictly after t1, t3 = min purchase strictly after t2.
  // The Spark side computes the same times with a sorted per-user fold.
  def q91Sql = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
    u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (SELECT user_id, min(ts) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(ts) AS t2 FROM e
           JOIN s1 ON s1.user_id = e.user_id
           WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(ts) AS t3 FROM e
           JOIN s2 ON s2.user_id = e.user_id
           WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS steps_completed,
           coalesce(t1, -1) AS first_us,
           coalesce(t3, t2, t1, -1) AS last_us,
           CASE WHEN t3 IS NOT NULL THEN t3 - t1 ELSE -1 END AS convert_us
    FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
    LEFT JOIN s2 ON s2.user_id = u.user_id
    LEFT JOIN s3 ON s3.user_id = u.user_id
    ORDER BY u.user_id"""

  /** Retention cohorts ([[Funnel.retention]]): users cohorted by first-seen
    * UTC day, per-(cohort, day-offset) active counts and fractions. Full
    * replay: DuckDB recomputes cohort assignment, distinct (user, day)
    * activity, and the ratio at 6 dp. */
  def q92Retention(s: SparkSession, d: String): DataFrame =
    Funnel.retention(Tables.events(s, d), col("user_id"), col("ts"))
      .orderBy("cohort_day", "offset_days")

  // Retention cohorts, FULL replay: cohort day = min event date per user,
  // activity collapsed to distinct (user, day), ratio at 6 dp.
  def q92Sql = """
    WITH b AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    c AS (SELECT user_id, min(day) AS cohort_day FROM b GROUP BY user_id),
    s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
          FROM c GROUP BY cohort_day),
    a AS (SELECT c.cohort_day,
                 CAST(datediff('day', c.cohort_day, d.day) AS BIGINT) AS offset_days,
                 CAST(count(*) AS BIGINT) AS n_active
          FROM (SELECT DISTINCT user_id, day FROM b) d
          JOIN c ON c.user_id = d.user_id
          GROUP BY c.cohort_day, datediff('day', c.cohort_day, d.day))
    SELECT CAST(a.cohort_day AS VARCHAR) AS cohort_day, a.offset_days,
           a.n_active, s.n_cohort,
           round(CAST(a.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
    FROM a JOIN s ON s.cohort_day = a.cohort_day
    ORDER BY cohort_day, offset_days"""

  /** Trailing-bucket z-score anomalies ([[Profiling.anomalyZScores]]):
    * each event scored against its type's previous-hour mean/std — the
    * continuous monitoring rule, shaped as groupBy + join instead of a
    * low-cardinality-partitioned window (which would sort each key's whole
    * history in one task). Full replay: DuckDB recomputes buckets,
    * avg/var_pop baselines, the shifted join, z at 6 dp, and the flag. */
  def q94AnomalyZScores(s: SparkSession, d: String): DataFrame =
    Profiling.anomalyZScores(Tables.events(s, d), col("event_id"),
        col("event_type"), col("ts"), col("value"))
      .orderBy("event_id")

  // Trailing-bucket z-score anomalies, FULL replay: hour buckets, avg /
  // var_pop baselines, +1h shift join, z at 6 dp, threshold flag.
  def q94Sql = """
    WITH e AS (SELECT event_id, event_type AS key,
                      date_trunc('hour', ts) AS b, value FROM events),
    st AS (SELECT key, b + INTERVAL 1 HOUR AS b, avg(value) AS mu,
                  var_pop(value) AS v, CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY key, b)
    SELECT e.event_id, e.key, epoch_us(st.b) AS bucket_us, e.value,
           round(CASE WHEN st.v > 0 THEN (e.value - st.mu) / sqrt(st.v)
                 ELSE 0.0 END, 6) AS z,
           CAST(CASE WHEN st.v > 0 AND
                     abs((e.value - st.mu) / sqrt(st.v)) > 3.0
                THEN 1 ELSE 0 END AS BIGINT) AS is_anom,
           st.n AS baseline_n
    FROM e JOIN st ON st.key = e.key AND st.b = e.b
    ORDER BY e.event_id"""

  /** Windowed funnel ([[Funnel.funnel]] with a 6-hour conversion window):
    * later steps only count within windowUs of the first step — the
    * "converted same session" variant. Oracle adds the window bound to
    * each k-pass CTE. */
  def q96FunnelWindowed(s: SparkSession, d: String): DataFrame =
    Funnel.funnel(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"),
        windowUs = Some(6L * 3600 * 1000000))
      .orderBy("user_id")

  // Windowed funnel (6 h = 21_600_000_000 µs): the q91 k-pass replay with
  // the window bound t_i <= t1 + W on every later step.
  def q96Sql = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
    u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (SELECT user_id, min(ts) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(s1.t1) AS t1, min(ts) AS t2 FROM e
           JOIN s1 ON s1.user_id = e.user_id
           WHERE event_type = 'click' AND ts > t1
             AND ts <= t1 + 21600000000 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(ts) AS t3 FROM e
           JOIN s2 ON s2.user_id = e.user_id
           WHERE event_type = 'purchase' AND ts > t2
             AND ts <= t1 + 21600000000 GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS steps_completed,
           coalesce(s1.t1, -1) AS first_us,
           coalesce(t3, t2, s1.t1, -1) AS last_us,
           CASE WHEN t3 IS NOT NULL THEN t3 - s1.t1 ELSE -1 END AS convert_us
    FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
    LEFT JOIN s2 ON s2.user_id = u.user_id
    LEFT JOIN s3 ON s3.user_id = u.user_id
    ORDER BY u.user_id"""

  /** Salted skew-join gate ([[Joins.saltedJoin]] — the explicit escape
    * hatch for shapes AQE can't split): lineitem ⋈ supplier with 8-way
    * salting, aggregated to revenue per nation. The oracle is the PLAIN
    * SQL join — salting must be row-for-row invisible in the result. */
  def q99SaltedJoin(s: SparkSession, d: String): DataFrame =
    Joins.saltedJoin(
        Tables.lineitem(s, d).select(col("l_suppkey").as("suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")),
        Tables.supplier(s, d).select(col("s_suppkey").as("suppkey"),
          col("s_nationkey")),
        Seq("suppkey"), salt = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("rev"), 2).as("revenue"))
      .orderBy("s_nationkey")

  // Salted-join gate: the oracle is the PLAIN join — salting must be
  // invisible in the aggregated result.
  def q99Sql = """
    SELECT s.s_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey ORDER BY s.s_nationkey"""

  /** Per-group percent-rank normalization ([[Ranking.groupedRowNumber]] —
    * the grouped form of the scale-safe global rank): each doc's length
    * percentile WITHIN its language, with no per-group window sort (a
    * 5-value partition key would sort whole languages in single tasks).
    * Full replay: DuckDB's plain window is the semantic oracle the
    * range-partitioned construction must reproduce exactly. */
  def q102GroupPercentRank(s: SparkSession, d: String): DataFrame = {
    val ranked = Ranking.groupedRowNumber(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
      col("lang"), Seq(col("n_chars"), col("doc_id")))
    val sizes = Tables.documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("__ng"))
    ranked.join(broadcast(sizes), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("rn"),
        round(when(col("__ng") > 1,
          (col("rn") - 1).cast("double") / (col("__ng") - 1).cast("double"))
          .otherwise(lit(0.0)), 6).as("pct_rank"))
      .orderBy("doc_id")
  }

  // Per-group percent-rank via the range-partitioned grouped rank: the
  // plain window is the semantic oracle.
  def q102Sql = """
    WITH r AS (SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS ng
               FROM documents)
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rn AS BIGINT) AS rn,
           round(CASE WHEN ng > 1 THEN (rn - 1.0) / (ng - 1.0)
                 ELSE 0.0 END, 6) AS pct_rank
    FROM r ORDER BY doc_id"""

  /** Retrieval-evaluation metrics ([[graft.ml.RankingMetrics]]): treat
    * each user as a query — their events ranked by value (the stand-in
    * retrieval scoring), purchases as the graded judgments (grade
    * 1 + event_id mod 3) — and compute nDCG@10, MRR, recall@10,
    * precision@10 per query. The oracle replays every gain term, the
    * ideal-DCG ordering, and the full-ranking MRR from the raw table.
    * The operator is the TREC-shaped harness that scores the engine's own
    * retrieval stacks (BM25 q85/q89, ANN q64, RRF q105) offline. */
  def q109RankingMetrics(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val w = Window.partitionBy("qid").orderBy(col("value").desc, col("doc_id"))
    val ranked = ev.select(col("user_id").as("qid"), col("event_id").as("doc_id"),
        col("value"))
      .withColumn("rank", row_number().over(w))
      .drop("value")
    val judgments = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("qid"), col("event_id").as("doc_id"),
        (lit(1.0) + (col("event_id") % 3).cast("double")).as("grade"))
    graft.ml.RankingMetrics.evalAtK(ranked, judgments, 10).orderBy("qid")
  }

  // Ranking-metrics replay (q109): per-user value ranking, purchase
  // judgments, every DCG gain term / ideal ordering / full-ranking MRR
  // recomputed from the raw table.
  def q109Sql = """
    WITH rk AS (SELECT user_id AS qid, event_id AS doc_id,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY value DESC, event_id) AS rank
                FROM events),
    j AS (SELECT user_id AS qid, event_id AS doc_id,
                 1.0 + (event_id % 3) AS grade
          FROM events WHERE event_type = 'purchase'),
    h AS (SELECT rk.qid, rk.doc_id, rk.rank, coalesce(j.grade, 0.0) AS grade
          FROM rk LEFT JOIN j ON j.qid = rk.qid AND j.doc_id = rk.doc_id),
    realized AS (SELECT qid,
                   sum(CASE WHEN grade > 0
                       THEN (pow(2.0, grade) - 1) / (ln(rank + 1) / ln(2.0))
                       ELSE 0.0 END) AS dcg,
                   sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS hits_k
                 FROM h WHERE rank <= 10 GROUP BY qid),
    m AS (SELECT qid, 1.0 / min(rank) AS mrr FROM h WHERE grade > 0 GROUP BY qid),
    iw AS (SELECT qid, grade,
             row_number() OVER (PARTITION BY qid ORDER BY grade DESC, doc_id) AS ipos
           FROM j WHERE grade > 0),
    ideal AS (SELECT qid,
                sum(CASE WHEN ipos <= 10
                    THEN (pow(2.0, grade) - 1) / (ln(ipos + 1) / ln(2.0))
                    ELSE 0.0 END) AS idcg,
                count(*) AS n_rel
              FROM iw GROUP BY qid),
    q AS (SELECT DISTINCT qid FROM rk)
    SELECT q.qid,
           round(CASE WHEN coalesce(ideal.idcg, 0.0) > 0
                 THEN coalesce(realized.dcg, 0.0) / ideal.idcg ELSE 0.0 END, 6) AS ndcg,
           round(coalesce(m.mrr, 0.0), 6) AS mrr,
           round(CASE WHEN coalesce(ideal.n_rel, 0) > 0
                 THEN CAST(coalesce(realized.hits_k, 0) AS DOUBLE) / ideal.n_rel
                 ELSE 0.0 END, 6) AS recall_k,
           round(CAST(coalesce(realized.hits_k, 0) AS DOUBLE) / 10, 6) AS precision_k,
           CAST(coalesce(ideal.n_rel, 0) AS BIGINT) AS n_rel
    FROM q LEFT JOIN realized ON realized.qid = q.qid
           LEFT JOIN m ON m.qid = q.qid
           LEFT JOIN ideal ON ideal.qid = q.qid
    ORDER BY q.qid"""

  /** q124: hourly gap fill with forward fill over the events stream
    * ([[TimeSeries.gapFill]]) — irregular events densified onto each
    * user's hourly grid, missing hours materialized with `filled = 1` and
    * the last observed hourly sum carried forward. On the user_id % 10
    * sample to bound the output grid (the q17/q121 convention). The
    * oracle replays bucket arithmetic, per-bucket aggregates, the
    * generate_series grid, and the IGNORE NULLS forward-fill window. */
  def q124GapFill(s: SparkSession, d: String): DataFrame =
    TimeSeries.gapFill(
        Tables.events(s, d).filter(col("user_id") % 10 === 0),
        col("user_id"), col("ts"), col("value"), bucketSeconds = 3600L)
      .withColumnRenamed("series_id", "user_id")
      .orderBy("user_id", "bucket")

  // q124/q126 shared grid: floor-of-epoch bucket arithmetic, per-bucket
  // rounded sums, generate_series grid per series span, IGNORE NULLS
  // forward-fill window — exactly TimeSeries.gapFill.
  private def gapGridCtes = """
    e AS (
      SELECT user_id,
             CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS bucket, value
      FROM events WHERE user_id % 10 = 0),
    obs AS (SELECT user_id, bucket, count(*) AS n_events,
                   round(sum(value), 2) AS vs
            FROM e GROUP BY 1, 2),
    spans AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
              FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
             FROM spans),
    j AS (SELECT g.user_id, g.bucket,
                 coalesce(o.n_events, 0) AS n_events,
                 CAST(CASE WHEN o.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled,
                 o.vs
          FROM grid g LEFT JOIN obs o
            ON o.user_id = g.user_id AND o.bucket = g.bucket),
    f AS MATERIALIZED (
      SELECT user_id, bucket, n_events, filled,
             last_value(vs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum
      FROM j)"""

  def q124Sql: String = "WITH " + gapGridCtes + """
    SELECT user_id, bucket, n_events, filled, value_sum
    FROM f ORDER BY user_id, bucket"""

  /** q126: EWMA smoothing over the q124 gap-filled grid
    * ([[TimeSeries.ewma]]) — the trailing baseline smoother, well-defined
    * exactly BECAUSE the fill densified the grid. α = 0.5 makes the
    * per-step fold exactly representable, so the DuckDB recursive-CTE
    * replay matches bit-for-bit with no rounding fence. */
  def q126Ewma(s: SparkSession, d: String): DataFrame =
    TimeSeries.ewma(
        TimeSeries.gapFill(
          Tables.events(s, d).filter(col("user_id") % 10 === 0),
          col("user_id"), col("ts"), col("value"), bucketSeconds = 3600L),
        alpha = 0.5)
      .withColumnRenamed("series_id", "user_id")
      .orderBy("user_id", "bucket")

  // q126: the EWMA recurrence over the dense gap-filled grid — the fill is
  // what makes "bucket + 1" a total per-series chain the recursive CTE can
  // walk. alpha = 0.5 is exactly representable, so 0.5*x + 0.5*y replays
  // the Spark fold bit-for-bit with no rounding fence.
  def q126Sql: String = "WITH RECURSIVE " + gapGridCtes + """,
    base AS (SELECT user_id, min(bucket) AS b0 FROM f GROUP BY 1),
    r AS (
      SELECT f.user_id, f.bucket, f.value_sum, f.value_sum AS ewma
      FROM f JOIN base ON f.user_id = base.user_id AND f.bucket = base.b0
      UNION ALL
      SELECT f.user_id, f.bucket, f.value_sum,
             0.5 * f.value_sum + 0.5 * r.ewma AS ewma
      FROM f JOIN r ON f.user_id = r.user_id AND f.bucket = r.bucket + 1)
    SELECT user_id, bucket, value_sum, ewma FROM r ORDER BY user_id, bucket"""

  /** q131: exact edit-distance-1 fuzzy self-join over customer names
    * ([[SimilarityJoin.editNeighborPairs]]) — the typo-tolerant entity
    * resolution / spell-correction-candidate primitive, COMPLETE (every
    * lev ≤ 1 pair emitted) without an all-pairs product: candidates come
    * from the SymSpell deletion-key equi-join, the exact codegen
    * `levenshtein` verifies. The DuckDB oracle is the brute-force
    * all-pairs levenshtein join — a single pair missed by the blocking
    * (a deletion-key defect) breaks the hash. */
  def q131FuzzyNamePairs(s: SparkSession, d: String): DataFrame =
    SimilarityJoin.editNeighborPairs(Tables.customer(s, d), col("c_name"))
      .orderBy("word_a", "word_b")

  // q131: brute-force all-pairs levenshtein ≤ 1 over customer names — the
  // exactness oracle for the deletion-key-blocked fuzzy join (the q121
  // brute-force convention: completeness is the claim, so the oracle must
  // not share the blocking).
  def q131Sql = """
    WITH w AS (SELECT DISTINCT c_name AS word FROM customer)
    SELECT a.word AS word_a, b.word AS word_b
    FROM w a JOIN w b ON a.word < b.word
    WHERE levenshtein(a.word, b.word) <= 1
    ORDER BY word_a, word_b"""

  /** q132: SCD2 dimension build ([[Compaction.scd2Intervals]]) — the
    * history twin of q69's latest-per-key compaction: each user's
    * event_type change log becomes validity intervals
    * [valid_from, valid_to) with a NULL-closed current row and a 1..n
    * version chain, the standard warehouse dimension shape every as-of
    * question then range-joins against. Same user_id % 10 sample as
    * q124 (output is change-log-sized). The oracle replays the second
    * clamp, the (t, attr) total order, the consecutive-equal collapse,
    * and both interval windows. */
  def q132Scd2Intervals(s: SparkSession, d: String): DataFrame =
    Compaction.scd2Intervals(
        Tables.events(s, d).filter(col("user_id") % 10 === 0),
        col("user_id"), col("ts"), col("event_type"))
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id", "version")

  // q132: SCD2 intervals — the second clamp, the (t, attr) total order,
  // the consecutive-equal collapse, and the lead/row_number interval
  // windows, replayed term for term.
  def q132Sql = """
    WITH e AS (SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                      CAST(event_type AS VARCHAR) AS attr
               FROM events WHERE user_id % 10 = 0),
    c AS (SELECT key, t, attr,
                 lag(attr) OVER (PARTITION BY key ORDER BY t, attr) AS prev
          FROM e),
    f AS (SELECT key, t, attr FROM c WHERE prev IS NULL OR prev <> attr)
    SELECT key AS user_id, attr, t AS valid_from,
           lead(t) OVER (PARTITION BY key ORDER BY t, attr) AS valid_to,
           CAST(row_number() OVER (PARTITION BY key ORDER BY t, attr) AS BIGINT) AS version
    FROM f ORDER BY user_id, version"""

  /** q134: PIVOT — long-to-wide reshaping with an explicit value list
    * (deterministic schema, the production form: inferring pivot values
    * is an extra distinct scan AND nondeterministic columns): per-user
    * event counts spread across the five event types, absent combos 0.
    * One hash aggregate; the pivot is a projection shape, not a shuffle
    * multiplier. Same user_id % 10 sample as the other event queries. */
  def q134Pivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d).filter(col("user_id") % 10 === 0)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  // q134: PIVOT as filtered counts — count(*) FILTER is 0 (not NULL) for
  // absent combos, matching the Spark side's coalesce.
  def q134Sql = """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events WHERE user_id % 10 = 0
    GROUP BY user_id ORDER BY user_id"""

  /** q135: CUBE over lineitem with grouping flags — the OLAP subtotal
    * surface (all four grouping sets of returnflag × linestatus in ONE
    * pass; Spark plans it as a single Expand + hash aggregate, ×4 the
    * input rows map-side, not four scans). Per-dimension `grouping()`
    * flags ride out (engine-portable, unlike the combined grouping_id bit
    * order) and double the NULL group keys can't be confused with data
    * NULLs. q01's rounding conventions. Complements q37, which cubes
    * the EVENTS table — this is the fact-table form. (Was briefly
    * registered as q134_cube in round 8 and dropped in the snapshot
    * renumber; restored here per the round-8 verdict.) */
  def q135Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")

  // q135: CUBE with per-dimension grouping flags (q01's rounding
  // conventions; flags instead of grouping_id — bit order is engine-local).
  def q135Sql = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           count(*) AS count_order,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_rf, g_ls, l_returnflag, l_linestatus"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_pricing_summary", q01PricingSummary, () => q01Sql),
    QuerySpec("q02_error_metrics", q02ErrorMetrics, () => q02Sql),
    QuerySpec("q03_histogram", q03Histogram, () => q03Sql),
    QuerySpec("q04_trapz", q04Trapz, () => q04Sql),
    QuerySpec("q05_minmax_scale", q05MinMaxScale, () => q05Sql),
    QuerySpec("q06_inv_density_weights", q06InvDensityWeights, () => q06Sql),
    QuerySpec("q07_middle_lookup", q07MiddleLookup, () => q07Sql),
    QuerySpec("q08_topk", q08TopK, () => q08Sql),
    QuerySpec("q09_pool_deletion", q09PoolDeletion, () => q09Sql),
    QuerySpec("q18_json", q18Json, () => q18Sql),
    QuerySpec("q19_hourly", q19Hourly, () => q19Sql),
    QuerySpec("q20_revenue_by_nation", q20RevenueByNation, () => q20Sql),
    QuerySpec("q21_profile_orders", q21ProfileOrders, () => q21Sql),
    QuerySpec("q22_validate", q22Validate, () => q22Sql),
    QuerySpec("q23_dup_keys", q23DupKeys, () => q23Sql),
    QuerySpec("q24_window_sums", q24WindowSums, () => q24Sql),
    QuerySpec("q27_sliding_windows", q27SlidingWindows, () => q27Sql),
    QuerySpec("q35_asof_join", q35AsOfJoin, () => q35Sql),
    QuerySpec("q36_sessionize", q36Sessionize, () => q36Sql),
    QuerySpec("q37_cube", q37Cube, () => q37Sql),
    QuerySpec("q38_ranking", q38Ranking, () => q38Sql),
    QuerySpec("q39_percentiles", q39Percentiles, () => q39Sql),
    QuerySpec("q40_left_join", q40LeftJoin, () => q40Sql),
    QuerySpec("q41_multi_distinct", q41MultiDistinct, () => q41Sql),
    QuerySpec("q47_range_join", q47RangeJoin, () => q47Sql),
    QuerySpec("q49_interp_join", q49InterpJoin, () => q49Sql),
    QuerySpec("q51_robust_outliers", q51RobustOutliers, () => q51Sql),
    QuerySpec("q63_zorder_cells", q63ZOrderCells, () => q63Sql),
    QuerySpec("q67_key_skew", q67KeySkew, () => q67Sql),
    QuerySpec("q69_compaction", q69Compaction, () => q69Sql),
    QuerySpec("q70_equidepth_bins", q70EquiDepthBins, () => q70Sql),
    QuerySpec("q71_group_limit", q71GroupLimit, () => q71Sql),
    QuerySpec("q91_funnel", q91Funnel, () => q91Sql),
    QuerySpec("q92_retention", q92Retention, () => q92Sql),
    QuerySpec("q94_anomaly_zscores", q94AnomalyZScores, () => q94Sql),
    QuerySpec("q96_funnel_windowed", q96FunnelWindowed, () => q96Sql),
    QuerySpec("q99_salted_join", q99SaltedJoin, () => q99Sql),
    QuerySpec("q102_group_percent_rank", q102GroupPercentRank, () => q102Sql),
    QuerySpec("q109_ranking_metrics", q109RankingMetrics, () => q109Sql),
    QuerySpec("q124_gap_fill", q124GapFill, () => q124Sql),
    QuerySpec("q126_ewma", q126Ewma, () => q126Sql),
    QuerySpec("q131_fuzzy_name_pairs", q131FuzzyNamePairs, () => q131Sql),
    QuerySpec("q132_scd2_intervals", q132Scd2Intervals, () => q132Sql),
    QuerySpec("q134_pivot", q134Pivot, () => q134Sql),
    QuerySpec("q135_cube", q135Cube, () => q135Sql)
  )
}
