package graft.queries

import graft.{Capability, Det, Tables}
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / ordered-stream capabilities Q19–Q23 (SURVEY.md §2.3): ranking,
  * cumulative aggregation, pairwise diff, forward fill, as-of join,
  * event-time windowed aggregation, grouped collect and pivot.
  *
  * The reference exposes these as whole-column vector kernels
  * (rank, cumulative_sum, pairwise_diff, fill_null_forward — kernels in
  * cpp/src/arrow/compute/kernels/vector_rank.cc, vector_cumulative_ops.cc,
  * vector_pairwise.cc, vector_replace.cc) plus the asof_join node;
  * Spark's Window API covers all of them declaratively, partitioned by key
  * so computation distributes (no whole-column single-node step).
  */
object WindowQueries {

  /** Q19: ranking functions per partition. */
  private def q19(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .filter(Tables.inYear(col("l_shipdate"), 1995))
      .select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cd"),
        lag(col("l_extendedprice"), 1).over(w).as("lagp"),
        lead(col("l_extendedprice"), 1).over(w).as("leadp"))
      .orderBy(col("l_returnflag"), col("rn"))
  }

  private val q19Sql =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  percent_rank() OVER w AS prnk,
      |  row_number() OVER w AS rn,
      |  ntile(4) OVER w AS quartile,
      |  cume_dist() OVER w AS cd,
      |  lag(l_extendedprice, 1) OVER w AS lagp,
      |  lead(l_extendedprice, 1) OVER w AS leadp
      |FROM lineitem
      |WHERE year(l_shipdate) = 1995
      |WINDOW w AS (PARTITION BY l_returnflag
      |             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |ORDER BY l_returnflag, rn""".stripMargin

  /** Acklam's rational approximation of the standard-normal inverse CDF,
    * emitted as SQL text so BOTH engines (Spark via `expr`, DuckDB
    * verbatim) evaluate the identical IEEE expression tree — no
    * cross-engine probit-library divergence to absorb. `p` must be a
    * column reference holding a probability in (0, 1), which the mid-rank
    * quantile formula guarantees. */
  private def normalPpfSql(p: String): String = {
    val central =
      s"((((((-3.969683028665376e+01*r+2.209460984245205e+02)*r-2.759285104469687e+02)*r+1.383577518672690e+02)*r-3.066479806614716e+01)*r+2.506628277459239e+00)*qc)" +
        s"/(((((-5.447609879822406e+01*r+1.615858368580409e+02)*r-1.556989798598866e+02)*r+6.680131188771972e+01)*r-1.328068155288572e+01)*r+1.0)"
    def tail(qt: String) =
      s"(((((-7.784894002430293e-03*$qt-3.223964580411365e-01)*$qt-2.400758277161838e+00)*$qt-2.549732539343734e+00)*$qt+4.374664141464968e+00)*$qt+2.938163982698783e+00)" +
        s"/((((7.784695709041462e-03*$qt+3.224671290700398e-01)*$qt+2.445134137142996e+00)*$qt+3.754408661907416e+00)*$qt+1.0)"
    // qc/r for the central branch, ql/qu for the tails, inlined via a
    // nested-select-free CASE (both engines fold the common subtrees)
    s"""CASE
       |  WHEN $p < 0.02425 THEN ${tail(s"sqrt(-2.0*ln($p))")}
       |  WHEN $p > 0.97575 THEN -(${tail(s"sqrt(-2.0*ln(1.0-$p))")})
       |  ELSE ${central.replace("qc", s"($p-0.5)").replace("*r", s"*(($p-0.5)*($p-0.5))")}
       |END""".stripMargin
  }

  /** Q19b: quantile and normal ranks (reference rank_quantile /
    * rank_normal, cpp/src/arrow/compute/kernels/vector_rank.cc:199-210):
    * quantile = (cum_freq + 0.5·freq) / n over each sort partition (ties
    * share their mid-rank, vector_rank.cc:186), and rank_normal = the
    * standard-normal PPF of that quantile. cum_freq = rank()-1, freq =
    * the value's frequency — all window aggregates over the SAME
    * partition keys, so one shuffle serves every rank. The raw quantile
    * is bit-exact across engines (integer window counts + one IEEE
    * division); the normal transform shares its formula text with the
    * oracle and is rounded to absorb ln() last-ulp differences. */
  private def q19b(s: SparkSession, d: String): DataFrame = {
    val byStatus = Window.partitionBy(col("o_orderstatus"))
    val ordered = byStatus.orderBy(col("o_totalprice"))
    // freq of the current value = count of ORDER BY peers (RANGE frame
    // [current row, current row]). Same value as a count over
    // (status, price), but it keeps every window on the SAME partition
    // spec — partitioning by (status, price) would insert a second hash
    // exchange (PlanSpec pins the single-exchange shape).
    val peers = ordered.rangeBetween(Window.currentRow, Window.currentRow)
    Tables.orders(s, d)
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        ((rank().over(ordered) - 1 + lit(0.5) * count(lit(1)).over(peers))
          / count(lit(1)).over(byStatus)).as("q"))
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        col("q").as("rank_quantile"),
        round(expr(normalPpfSql("q")), 6).as("rank_normal"))
      .orderBy(col("o_orderkey"))
  }

  private val q19bSql =
    s"""WITH r AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    (rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) - 1
       |     + 0.5 * COUNT(*) OVER (PARTITION BY o_orderstatus, o_totalprice))
       |    / COUNT(*) OVER (PARTITION BY o_orderstatus) AS q
       |  FROM orders)
       |SELECT o_orderkey, o_orderstatus,
       |  q AS rank_quantile,
       |  round(${normalPpfSql("q")}, 6) AS rank_normal
       |FROM r ORDER BY o_orderkey""".stripMargin

  /** Q19c: the q19b mid-rank convention under HIGH tie density — the r12
    * verdict's optional robustness gate: l_quantity takes ~50 distinct
    * integer values over tens of thousands of rows per returnflag, so
    * virtually EVERY row sits in a fat peer group and the
    * (rank − 1 + 0.5·peers)/n mid-rank formula is what the whole output
    * hinges on (q19b's o_totalprice is nearly unique — ties are the
    * exception there; here they are the rule). Same single-exchange
    * window stack, same shared-text normal PPF. */
  private def q19c(s: SparkSession, d: String): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val ordered = byFlag.orderBy(col("l_quantity"))
    val peers = ordered.rangeBetween(Window.currentRow, Window.currentRow)
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"),
        ((rank().over(ordered) - 1 + lit(0.5) * count(lit(1)).over(peers))
          / count(lit(1)).over(byFlag)).as("q"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"),
        col("q").as("rank_quantile"),
        round(expr(normalPpfSql("q")), 6).as("rank_normal"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic table
      // (~14k duplicate pairs at sf0.01): the remaining tie-break columns
      // are exactly the inputs q depends on, so rows still tied after all
      // four keys carry identical output and any engine order agrees
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_quantity"))
  }

  private val q19cSql =
    s"""WITH r AS (
       |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
       |    (rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - 1
       |     + 0.5 * COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity))
       |    / COUNT(*) OVER (PARTITION BY l_returnflag) AS q
       |  FROM lineitem)
       |SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
       |  q AS rank_quantile,
       |  round(${normalPpfSql("q")}, 6) AS rank_normal
       |FROM r ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity"""
      .stripMargin

  /** Q20: cumulative sum, pairwise diff, forward fill per user ordered by
    * event time. Forward fill = `last(ignoreNulls)` over an unbounded-
    * preceding row frame; nulls synthesized from 'error' events. */
  private def q20(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRows = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val masked = when(col("event_type") === "error", lit(null)).otherwise(col("value"))
    Tables.events(s, d)
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        round(sum(col("value")).over(wRows), 4).as("running_sum"),
        (col("value") - lag(col("value"), 1).over(wOrd)).as("diff"),
        last(masked, ignoreNulls = true).over(wRows).as("ffill"),
        first(masked, ignoreNulls = true)
          .over(wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("bfill"),
        row_number().over(wOrd).as("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  private val q20Sql =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |  round(SUM(value) OVER wrows, 4) AS running_sum,
      |  value - lag(value, 1) OVER word AS diff,
      |  last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
      |             IGNORE NULLS) OVER wrows AS ffill,
      |  first_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
      |             IGNORE NULLS) OVER wfoll AS bfill,
      |  row_number() OVER word AS rn
      |FROM events
      |WINDOW word AS (PARTITION BY user_id ORDER BY ts, event_id),
      |       wrows AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       wfoll AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id, rn""".stripMargin

  /** Q20b: the rest of the cumulative kernel family
    * (cpp/src/arrow/compute/kernels/vector_cumulative_ops.cc —
    * cumulative_min / cumulative_max / cumulative_prod). min/max are
    * arithmetic-free so they gate unrounded; the product uses the custom
    * [[graft.functions.expr.Product]] DeclarativeAggregate as a window
    * function over a bounded 4-row frame of small integers (≤ 3⁴ = 81 —
    * exact in a double on both engines, no overflow at any row count). */
  private def q20b(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRows = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w4 = wOrd.rowsBetween(-3, Window.currentRow)
    Tables.events(s, d)
      .select(
        col("event_id"), col("user_id"),
        min(col("value")).over(wRows).as("running_min"),
        max(col("value")).over(wRows).as("running_max"),
        // cumulative_mean: exact decimal running sum / running count, so
        // the double division input is identical on both engines
        round(sum(graft.Det.dec(col("value"))).over(wRows).cast("double")
          / row_number().over(wOrd), 6).as("running_mean"),
        graft.functions.expr.Product((col("event_id") % 3 + 1).cast("double"))
          .over(w4).as("prod4"),
        row_number().over(wOrd).as("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  private val q20bSql =
    """SELECT event_id, user_id,
      |  MIN(value) OVER wrows AS running_min,
      |  MAX(value) OVER wrows AS running_max,
      |  round(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER wrows AS DOUBLE)
      |    / row_number() OVER word, 6) AS running_mean,
      |  product((event_id % 3 + 1)::DOUBLE) OVER w4 AS prod4,
      |  row_number() OVER word AS rn
      |FROM events
      |WINDOW word AS (PARTITION BY user_id ORDER BY ts, event_id),
      |       wrows AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       w4 AS (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, rn""".stripMargin

  /** Q21: as-of join — for each purchase event, the latest click by the
    * same user at or before the purchase, within a 1-hour tolerance. */
  private def q21(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    AsOfJoin.backward(
      left = purchases,
      right = clicks,
      onLeft = purchases("ts"),
      onRight = clicks("click_ts"),
      by = Seq(purchases("user_id") -> clicks("c_user_id")),
      tolerance = expr("INTERVAL 1 HOUR"),
      leftId = purchases("event_id"),
      tieBreak = clicks("click_id"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"), col("click_value"))
      .orderBy(col("event_id"))
  }

  private val q21Sql =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |       click_id, CAST(click_ts AS TIMESTAMP) AS click_ts, click_value
      |FROM (
      |  SELECT p.event_id, p.user_id, p.ts, p.value,
      |         c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id
      |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** Q21b: the same as-of join through the dedicated physical operator
    * ([[graft.plans.AsOfJoinExec]]) — one sort-merge pass over
    * co-partitioned sorted partitions instead of the range join + window
    * dedup; gated against the identical oracle as q21. */
  private def q21b(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    AsOfJoin.backwardExec(
      left = purchases,
      right = clicks,
      onLeft = unix_micros(purchases("ts")),
      onRight = unix_micros(clicks("click_ts")),
      by = Seq(purchases("user_id") -> clicks("c_user_id")),
      tieBreak = Seq(clicks("click_id")),
      toleranceMicros = 3600L * 1000000L)
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"), col("click_value"))
      .orderBy(col("event_id"))
  }

  /** Q21c: FORWARD as-of join — the reference's positive-tolerance mode
    * (`right.on - left.on ∈ [0, tol]`): for each purchase, the earliest
    * click by the same user at-or-after it within 1 hour. */
  private def q21c(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    AsOfJoin.forward(
      left = purchases,
      right = clicks,
      onLeft = purchases("ts"),
      onRight = clicks("click_ts"),
      by = Seq(purchases("user_id") -> clicks("c_user_id")),
      tolerance = expr("INTERVAL 1 HOUR"),
      leftId = purchases("event_id"),
      tieBreak = clicks("click_id"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"), col("click_value"))
      .orderBy(col("event_id"))
  }

  private val q21cSql =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |       click_id, CAST(click_ts AS TIMESTAMP) AS click_ts, click_value
      |FROM (
      |  SELECT p.event_id, p.user_id, p.ts, p.value,
      |         c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ts ASC, c.event_id ASC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id
      |   AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** Q21e: the FORWARD as-of join through the physical operator — same
    * semantics and oracle as q21c, but one sort-merge pass
    * (AsOfJoinExec(forward=true)) instead of the range join + window
    * dedup. Gating both proves the exec covers both tolerance signs of
    * the reference node (acero/options.h:692-738). */
  private def q21e(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    AsOfJoin.forwardExec(
      left = purchases,
      right = clicks,
      onLeft = unix_micros(purchases("ts")),
      onRight = unix_micros(clicks("click_ts")),
      by = Seq(purchases("user_id") -> clicks("c_user_id")),
      tieBreak = Seq(clicks("click_id")),
      toleranceMicros = 3600L * 1000000L)
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"), col("click_value"))
      .orderBy(col("event_id"))
  }

  /** Q21f: NEAREST as-of join — closest click in either direction within
    * the tolerance (pandas `merge_asof(direction="nearest")`; completes
    * the direction family next to the reference's signed-tolerance modes,
    * acero/options.h:692-738). Ties at equal distance prefer the backward
    * match, then the lowest click id — pinned identically in the oracle. */
  private def q21f(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    AsOfJoin.nearest(
      left = purchases,
      right = clicks,
      onLeft = purchases("ts"),
      onRight = clicks("click_ts"),
      by = Seq(purchases("user_id") -> clicks("c_user_id")),
      tolerance = expr("INTERVAL 1 HOUR"),
      leftId = purchases("event_id"),
      tieBreak = clicks("click_id"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"), col("click_value"))
      .orderBy(col("event_id"))
  }

  private val q21fSql =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |       click_id, CAST(click_ts AS TIMESTAMP) AS click_ts, click_value
      |FROM (
      |  SELECT p.event_id, p.user_id, p.ts, p.value,
      |         c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
      |                                     c.ts ASC, c.event_id ASC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id
      |   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts + INTERVAL 1 HOUR
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** Q21d: MULTI-RIGHT as-of join — the reference's flagship asof shape
    * (acero/asof_join_node.cc:1106: 1 left + N sorted rights in one pass):
    * for each purchase, the latest click AND the latest view by the same
    * user at-or-before it, each within a 1-hour tolerance, matched in a
    * single [[graft.plans.MultiAsOfJoinExec]] stage (each input shuffled
    * once on user_id, rights chained through narrow per-partition merges). */
  private def q21d(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    val views = ev.filter(col("event_type") === "view")
      .select(
        col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"), col("value").as("view_value"))
    AsOfJoin.backwardExecMulti(
      left = purchases,
      onLeft = unix_micros(purchases("ts")),
      leftBy = Seq(purchases("user_id")),
      rights = Seq(
        AsOfJoin.AsOfRight(clicks, unix_micros(clicks("click_ts")),
          Seq(clicks("c_user_id")), Seq(clicks("click_id"))),
        AsOfJoin.AsOfRight(views, unix_micros(views("view_ts")),
          Seq(views("v_user_id")), Seq(views("view_id")))),
      toleranceMicros = 3600L * 1000000L)
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"), col("click_value"),
        col("view_id"), col("view_ts"), col("view_value"))
      .orderBy(col("event_id"))
  }

  private val q21dSql =
    """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |cw AS (
      |  SELECT p.event_id, c.event_id AS click_id, c.ts AS click_ts,
      |         c.value AS click_value,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |  FROM p LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id
      |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR),
      |vw AS (
      |  SELECT p.event_id, v.event_id AS view_id, v.ts AS view_ts,
      |         v.value AS view_value,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM p LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |    ON p.user_id = v.user_id
      |   AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR)
      |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, p.value,
      |       cw.click_id, CAST(cw.click_ts AS TIMESTAMP) AS click_ts,
      |       cw.click_value,
      |       vw.view_id, CAST(vw.view_ts AS TIMESTAMP) AS view_ts,
      |       vw.view_value
      |FROM p
      |JOIN (SELECT * FROM cw WHERE rn = 1) cw ON p.event_id = cw.event_id
      |JOIN (SELECT * FROM vw WHERE rn = 1) vw ON p.event_id = vw.event_id
      |ORDER BY p.event_id""".stripMargin

  /** Q22: event-time tumbling-window aggregation (reference segment-keys ≈
    * `groupBy(window(...))`; the exact same transformation runs on a
    * stream with a watermark — StreamingSpec asserts batch/stream parity). */
  private def q22(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingOps.hourlyTypeAgg(Tables.events(s, d))
      .orderBy(col("ws"), col("event_type"))

  private val q22Sql =
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
       |  CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS we,
       |  event_type, COUNT(*) AS n,
       |  ${Det.sqlSum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2, 3
       |ORDER BY ws, event_type""".stripMargin

  /** Q22b: native session windows — `session_window(ts, gap)` is Spark's
    * built-in gap-based sessionization (merges events closer than the gap;
    * window end = last event + gap). The oracle rebuilds the same
    * semantics from lag/running-sum SQL, so this gates Spark's native
    * session assignment against an independent formulation. Runs
    * identically on a stream with a watermark. */
  private def q22b(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("s_start"))

  private val q22bSql =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
       |                              ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM e)
       |SELECT user_id,
       |  MIN(tsu) AS s_start,
       |  MAX(tsu) + INTERVAL 30 MINUTE AS s_end,
       |  COUNT(*) AS n_events,
       |  ${Det.sqlSum("value")} AS sum_value
       |FROM sess GROUP BY user_id, sid
       |ORDER BY user_id, s_start""".stripMargin

  /** Q22c: sliding event-time windows (1 h window, 30 min slide) — each
    * event lands in exactly two overlapping windows. The oracle rebuilds
    * the assignment as a UNION ALL of the two shifted tumbling group-bys,
    * so Spark's sliding `window()` is gated against an independent
    * formulation. Streams identically with a watermark. */
  private def q22c(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  private val q22cSql =
    s"""WITH assigned AS (
       |  -- an event at ts lands in the windows starting at floor30(ts)
       |  -- and floor30(ts) - 30min (starts in (ts - 1h, ts])
       |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w0,
       |         event_type, value FROM events
       |  UNION ALL
       |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS w0,
       |         event_type, value FROM events)
       |SELECT CAST(w0 AS TIMESTAMP) AS ws,
       |  CAST(w0 + INTERVAL 1 HOUR AS TIMESTAMP) AS we,
       |  event_type, COUNT(*) AS n,
       |  ${Det.sqlSum("value")} AS sum_value
       |FROM assigned
       |GROUP BY 1, 2, 3
       |ORDER BY ws, event_type""".stripMargin

  /** Q23a: grouped collect_list/collect_set (reference hash_list /
    * hash_distinct), sorted for determinism. The collected set is joined
    * to a string for the gate — the driver's comparator sorts rows in
    * pandas, which cannot order array-typed cells. */
  private def q23a(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  private val q23aSql =
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q23b: pivot wider (reference hash_pivot_wider) with an explicit value
    * list — no extra distinct-values pass, same as at scale. */
  private def q23b(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(Det.dsum(col("l_quantity")))
      .orderBy(col("l_returnflag"))

  private val q23bSql =
    s"""SELECT l_returnflag,
       |  CAST(SUM(CASE WHEN l_linestatus = 'F'
       |      THEN CAST(l_quantity AS DECIMAL(25,6)) END) AS DOUBLE) AS F,
       |  CAST(SUM(CASE WHEN l_linestatus = 'O'
       |      THEN CAST(l_quantity AS DECIMAL(25,6)) END) AS DOUBLE) AS O
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q44: event-time RANGE frames — the rolling-statistics window the
    * rows-frame battery (q20/q20b) cannot express: every row sees the
    * events of its own trailing hour (peers at the same second
    * included), per type. The frame key is whole SECONDS derived from
    * the µs bridge (`unix_micros div 1e6` ↔ `epoch_us // 1e6` — integer
    * floor on both engines), sums go through the exact-decimal contract,
    * and the mean divides two exact quantities. */
  private def q44(s: SparkSession, d: String): DataFrame = {
    val secs = expr("unix_micros(ts) div 1000000") // integer floor, µs bridge
    val w = Window.partitionBy(col("event_type")).orderBy(col("__s"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"),
        secs.as("__s"))
      .select(col("event_id"), col("event_type"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(graft.Det.dec(col("value"))).over(w).cast("double"), 4)
          .as("sum_1h"),
        round(sum(graft.Det.dec(col("value"))).over(w).cast("double")
          / count(lit(1)).over(w), 6).as("avg_1h"))
      .orderBy(col("event_id"))
  }

  private val q44Sql =
    """SELECT event_id, event_type,
      |  COUNT(*) OVER w AS n_1h,
      |  round(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE), 4)
      |    AS sum_1h,
      |  round(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
      |    / COUNT(*) OVER w, 6) AS avg_1h
      |FROM (SELECT event_id, event_type, value,
      |        epoch_us(ts) // 1000000 AS s FROM events)
      |WINDOW w AS (PARTITION BY event_type ORDER BY s
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  val caps: Seq[Capability] = Seq(
    Capability("q44_rolling",
      "event-time RANGE frame: trailing-hour rolling count/sum/mean per type",
      q44, Some(q44Sql)),
    Capability("q19_ranking", "rank/dense_rank/percent_rank/row_number/ntile/lag/lead", q19, Some(q19Sql)),
    Capability("q19b_rank_normal", "rank_quantile / rank_normal (mid-rank + normal PPF)", q19b, Some(q19bSql)),
    Capability("q19c_rank_ties", "grouped rank_quantile/rank_normal at high tie density (mid-rank pinned)", q19c, Some(q19cSql)),
    Capability("q20_cumulative", "cumulative sum, pairwise diff, forward fill", q20, Some(q20Sql)),
    Capability("q20b_cumulative2", "cumulative min/max + windowed product", q20b, Some(q20bSql)),
    Capability("q21_asof_join", "backward as-of join with tolerance", q21, Some(q21Sql), bench = true),
    Capability("q21b_asof_exec", "as-of join via the custom physical operator", q21b, Some(q21Sql), bench = true),
    Capability("q21c_asof_forward", "forward as-of join (positive tolerance)", q21c, Some(q21cSql)),
    Capability("q21d_asof_multi", "multi-right as-of join (1 left + 2 rights, one pass)", q21d, Some(q21dSql)),
    Capability("q21e_asof_forward_exec", "forward as-of via the physical operator (positive tolerance)", q21e, Some(q21cSql)),
    Capability("q21f_asof_nearest", "nearest-direction as-of join (closest match either side)", q21f, Some(q21fSql)),
    Capability("q22_window_agg", "event-time tumbling window aggregation", q22, Some(q22Sql)),
    Capability("q22b_session_window", "native session_window gap sessionization", q22b, Some(q22bSql)),
    Capability("q22c_sliding_window", "sliding event-time windows (1h / 30min slide)", q22c, Some(q22cSql)),
    Capability("q23a_collect", "grouped collect_set (sorted)", q23a, Some(q23aSql)),
    Capability("q23b_pivot", "pivot wider with explicit values", q23b, Some(q23bSql)),
  )
}
