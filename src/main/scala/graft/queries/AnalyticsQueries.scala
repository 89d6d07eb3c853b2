package graft.queries

import graft.{Capability, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics and data-profiling capabilities a complete engine's
  * users reach for next after the relational core: ordered funnel
  * conversion over an event stream, one-pass column profiling (the
  * "ANALYZE TABLE" a 100 TB corpus needs before planning its curation),
  * and blocked edit-distance record linkage (the string-metric sibling of
  * the token-based dedup family in [[graft.pipeline.Dedup]]).
  */
object AnalyticsQueries {

  /** Ordered funnel: per user, first `view`, then first `click` within one
    * day of that view, then first `purchase` within one day of that click;
    * users counted at the deepest stage reached.
    *
    * Shape: three chained partition-wide window minima over `user_id` —
    * all three reuse ONE hash exchange (same partitioning), and the
    * per-user collapse that follows is partitioning-compatible too, so the
    * whole funnel costs a single shuffle of (user_id, type, ts) triples no
    * matter how many stages. The alternative join-per-stage formulation
    * (the oracle below) shuffles once per stage. */
  private def funnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy(col("user_id"))
    val step = expr("INTERVAL 1 DAY")
    e.withColumn("v",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c",
        min(when(col("event_type") === "click" &&
          col("ts") >= col("v") && col("ts") <= col("v") + step, col("ts"))).over(w))
      .withColumn("p",
        min(when(col("event_type") === "purchase" &&
          col("ts") >= col("c") && col("ts") <= col("c") + step, col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("v")).as("v"), max(col("c")).as("c"), max(col("p")).as("p"))
      .select(
        when(col("p").isNotNull, 3)
          .when(col("c").isNotNull, 2)
          .when(col("v").isNotNull, 1)
          .otherwise(0).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS v
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) FILTER (WHERE e.event_type = 'click'
      |    AND e.ts >= v.v AND e.ts <= v.v + INTERVAL 1 DAY) AS c
      |  FROM events e JOIN v USING (user_id) GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) FILTER (WHERE e.event_type = 'purchase'
      |    AND e.ts >= c.c AND e.ts <= c.c + INTERVAL 1 DAY) AS p
      |  FROM events e JOIN c USING (user_id) GROUP BY 1),
      |u AS (
      |  SELECT v.user_id,
      |    CASE WHEN p.p IS NOT NULL THEN 3 WHEN c.c IS NOT NULL THEN 2
      |         WHEN v.v IS NOT NULL THEN 1 ELSE 0 END AS stage
      |  FROM v JOIN c USING (user_id) JOIN p USING (user_id))
      |SELECT stage, COUNT(*) AS n_users FROM u GROUP BY stage ORDER BY stage""".stripMargin

  /** Funnel time-to-convert ([[funnel]]'s per-user stage times composed
    * with the grouped rank-selection quantiles): for each converted
    * transition, the count plus median and p90 latency in integer
    * MICROSECONDS with `lower` interpolation — every emitted quantile
    * is an actually-observed latency, so the whole gate is
    * integer-exact (no interpolation float risk). The oracle reuses the
    * funnel CTEs and selects the same ⌊(n−1)q⌋ order statistics. */
  private def funnelLatencyQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy(col("user_id"))
    val step = expr("INTERVAL 1 DAY")
    val u = e.withColumn("v",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c",
        min(when(col("event_type") === "click" &&
          col("ts") >= col("v") && col("ts") <= col("v") + step, col("ts"))).over(w))
      .withColumn("p",
        min(when(col("event_type") === "purchase" &&
          col("ts") >= col("c") && col("ts") <= col("c") + step, col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("v")).as("v"), max(col("c")).as("c"), max(col("p")).as("p"))
    val lats = u.filter(col("c").isNotNull)
      .select(lit("view_click").as("tr"),
        (expr("unix_micros(c)") - expr("unix_micros(v)")).as("lat"))
      .unionByName(u.filter(col("p").isNotNull)
        .select(lit("click_purchase").as("tr"),
          (expr("unix_micros(p)") - expr("unix_micros(c)")).as("lat")))
    val q = graft.operators.Quantiles
      .exactGrouped(lats, "tr", "lat", Seq(0.5, 0.9), interpolation = "lower")
    lats.groupBy(col("tr")).agg(count(lit(1)).as("n_conv"))
      .join(q, Seq("tr"))
      .select(col("tr"), col("n_conv"),
        col("q0").cast("long").as("p50_us"), col("q1").cast("long").as("p90_us"))
      .orderBy(col("tr"))
  }

  private val funnelLatencySql =
    """WITH v AS (
      |  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS v
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) FILTER (WHERE e.event_type = 'click'
      |    AND e.ts >= v.v AND e.ts <= v.v + INTERVAL 1 DAY) AS c
      |  FROM events e JOIN v USING (user_id) GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) FILTER (WHERE e.event_type = 'purchase'
      |    AND e.ts >= c.c AND e.ts <= c.c + INTERVAL 1 DAY) AS p
      |  FROM events e JOIN c USING (user_id) GROUP BY 1),
      |u AS (
      |  SELECT v.user_id, v.v, c.c, p.p
      |  FROM v JOIN c USING (user_id) JOIN p USING (user_id)),
      |lat AS (
      |  SELECT 'view_click' AS tr, epoch_us(c) - epoch_us(v) AS lat
      |  FROM u WHERE c IS NOT NULL
      |  UNION ALL
      |  SELECT 'click_purchase', epoch_us(p) - epoch_us(c)
      |  FROM u WHERE p IS NOT NULL),
      |r AS (
      |  SELECT tr, lat,
      |    row_number() OVER (PARTITION BY tr ORDER BY lat) - 1 AS rk,
      |    COUNT(*) OVER (PARTITION BY tr) AS n
      |  FROM lat)
      |SELECT tr, MAX(n) AS n_conv,
      |  MAX(CASE WHEN rk = CAST(floor((n - 1) * CAST(0.5 AS DOUBLE)) AS BIGINT)
      |      THEN lat END) AS p50_us,
      |  MAX(CASE WHEN rk = CAST(floor((n - 1) * CAST(0.9 AS DOUBLE)) AS BIGINT)
      |      THEN lat END) AS p90_us
      |FROM r GROUP BY tr ORDER BY tr""".stripMargin

  /** Q49: inter-arrival time profile per event type — the
    * traffic-shape fingerprint (burst detection, rate baselining,
    * sampling-interval QA) as gap quantiles: consecutive-event deltas in
    * integer MICROSECONDS with `lower`-interpolation rank selection, so
    * every emitted quantile is an observed gap and the gate is
    * integer-exact (the events_funnel_latency contract). One lag window
    * + the single-exchange grouped quantile machinery. */
  private def interarrivalQ(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("__us"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("__us"))
      .withColumn("gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("gap").isNotNull)
    val q = graft.operators.Quantiles
      .exactGrouped(gaps, "event_type", "gap", Seq(0.5, 0.9, 0.99),
        interpolation = "lower")
    gaps.groupBy(col("event_type")).agg(count(lit(1)).as("n_gaps"))
      .join(q, Seq("event_type"))
      .select(col("event_type"), col("n_gaps"),
        col("q0").cast("long").as("p50_us"),
        col("q1").cast("long").as("p90_us"),
        col("q2").cast("long").as("p99_us"))
      .orderBy(col("event_type"))
  }

  private val interarrivalSql =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
      |      ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events),
      |f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
      |r AS (
      |  SELECT event_type, gap,
      |    row_number() OVER (PARTITION BY event_type ORDER BY gap) - 1 AS rk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM f)
      |SELECT event_type, MAX(n) AS n_gaps,
      |  MAX(CASE WHEN rk = CAST(floor((n - 1) * CAST(0.5 AS DOUBLE)) AS BIGINT)
      |      THEN gap END) AS p50_us,
      |  MAX(CASE WHEN rk = CAST(floor((n - 1) * CAST(0.9 AS DOUBLE)) AS BIGINT)
      |      THEN gap END) AS p90_us,
      |  MAX(CASE WHEN rk = CAST(floor((n - 1) * CAST(0.99 AS DOUBLE)) AS BIGINT)
      |      THEN gap END) AS p99_us
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One-pass column profiling of `orders`: row count plus per-column
    * null count, exact distinct count, and typed min/max — the stats pass
    * every curation plan starts from.
    *
    * Shape: a single scan; Catalyst plans the multiple exact
    * `count(DISTINCT …)` via one Expand (k× row multiplication, partial
    * aggs, one exchange of partials) — still one pass over the data. At
    * 100 TB swap the exact distincts for the mergeable HLL sketches of
    * q39_incremental_hll; the null/min/max half stays exact and free. */
  private def profile(s: SparkSession, d: String): DataFrame =
    // spread before the 14-accumulator multi-distinct Expand: single
    // fixture scan task otherwise (guide §2.5; Tables.spread scaladoc)
    Tables.spread(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")),
      col("o_orderkey")).agg(
      count(lit(1)).as("n_rows"),
      count(when(col("o_orderstatus").isNull, 1)).as("null_status"),
      countDistinct(col("o_orderstatus")).as("nd_status"),
      min(col("o_orderstatus")).as("min_status"),
      max(col("o_orderstatus")).as("max_status"),
      count(when(col("o_totalprice").isNull, 1)).as("null_price"),
      countDistinct(col("o_totalprice")).as("nd_price"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"),
      count(when(col("o_orderdate").isNull, 1)).as("null_date"),
      countDistinct(col("o_orderdate")).as("nd_date"),
      min(col("o_orderdate")).as("min_date"),
      max(col("o_orderdate")).as("max_date"),
      countDistinct(col("o_orderpriority")).as("nd_priority"))

  private val profileSql =
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(*) - COUNT(o_orderstatus) AS null_status,
      |  COUNT(DISTINCT o_orderstatus) AS nd_status,
      |  MIN(o_orderstatus) AS min_status,
      |  MAX(o_orderstatus) AS max_status,
      |  COUNT(*) - COUNT(o_totalprice) AS null_price,
      |  COUNT(DISTINCT o_totalprice) AS nd_price,
      |  MIN(o_totalprice) AS min_price,
      |  MAX(o_totalprice) AS max_price,
      |  COUNT(*) - COUNT(o_orderdate) AS null_date,
      |  COUNT(DISTINCT o_orderdate) AS nd_date,
      |  CAST(MIN(o_orderdate) AS TIMESTAMP) AS min_date,
      |  CAST(MAX(o_orderdate) AS TIMESTAMP) AS max_date,
      |  COUNT(DISTINCT o_orderpriority) AS nd_priority
      |FROM orders""".stripMargin

  /** The 100 TB twin of [[profile]]: identical output, but every distinct
    * count runs through [[graft.functions.expr.DistinctSketchAgg]] — a
    * mergeable sketch with an exact sparse tier — instead of Spark's exact
    * `count(DISTINCT …)`. The exact formulation plans via Expand (k× row
    * multiplication into the exchange) and holds full per-column distinct
    * state on the reducer — a memory hazard on a high-cardinality 100 TB
    * column. The sketch plans as ONE ObjectHashAggregate pass (no Expand,
    * partials are fixed-size sketch states), and its exact tier at gate
    * cardinality is what lets the SAME COUNT(DISTINCT) oracle gate it. */
  private def profileSketch(s: SparkSession, d: String): DataFrame = {
    import graft.functions.expr.DistinctSketchAgg
    Tables.orders(s, d).agg(
      count(lit(1)).as("n_rows"),
      count(when(col("o_orderstatus").isNull, 1)).as("null_status"),
      DistinctSketchAgg(col("o_orderstatus")).as("nd_status"),
      min(col("o_orderstatus")).as("min_status"),
      max(col("o_orderstatus")).as("max_status"),
      count(when(col("o_totalprice").isNull, 1)).as("null_price"),
      DistinctSketchAgg(col("o_totalprice")).as("nd_price"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"),
      count(when(col("o_orderdate").isNull, 1)).as("null_date"),
      DistinctSketchAgg(col("o_orderdate")).as("nd_date"),
      min(col("o_orderdate")).as("min_date"),
      max(col("o_orderdate")).as("max_date"),
      DistinctSketchAgg(col("o_orderpriority")).as("nd_priority"))
  }

  /** Blocked edit-distance record linkage over any (id, name) frame:
    * candidate pairs within Levenshtein distance `maxDist`, generated
    * inside TWO complementary equi-join blocks — a `blockLen`-character
    * PREFIX block and a `blockLen`-character SUFFIX block — unioned
    * before the verify. Blocking is what makes string-metric dedup scale
    * (the quadratic verify runs only within a block, never an all-pairs
    * cross join); the second block closes the classic prefix-only recall
    * hole: a typo in the FIRST `blockLen` characters (the most common
    * real-world case — a mistyped leading token) changes the prefix key,
    * but any single edit before position `len - blockLen` leaves the
    * last `blockLen` characters intact, so for names longer than
    * `blockLen` every distance-1 pair lands in at least one block.
    * Names at or under `blockLen` characters fall into a single
    * shared-prefix block only when identical — the standard residual
    * blocking-recall caveat, documented rather than hidden. */
  def linkagePairs(df: DataFrame, idCol: String, nameCol: String,
      blockLen: Int = 16, maxDist: Int = 1): DataFrame = {
    val a = df.select(col(idCol).as("ca"), col(nameCol).as("na"))
    val b = df.select(col(idCol).as("cb"), col(nameCol).as("nb"))
    def pairsOn(key: Column => Column): DataFrame = {
      val aa = a.withColumn("blk", key(col("na")))
      val bb = b.withColumn("blk", key(col("nb")))
      aa.join(bb, Seq("blk")).filter(col("ca") < col("cb")).drop("blk")
    }
    pairsOn(substring(_, 1, blockLen))
      .unionByName(pairsOn(right(_, lit(blockLen))))
      .distinct() // a pair may surface from both blocks
      .select(col("ca"), col("cb"),
        levenshtein(col("na"), col("nb")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** The linkage gate ([[linkagePairs]]) on customer names. The standard
    * MDM/entity-resolution sibling of the token-Jaccard dedup family
    * ([[graft.pipeline.Dedup]]). */
  private def fuzzy(s: SparkSession, d: String): DataFrame = {
    // gate volume cap (q16b precedent: breadth, not volume): 5 000
    // customers exercise 50 full blocks; the mechanism under test is the
    // blocking joins + in-block verify, not Levenshtein throughput
    val c = Tables.customer(s, d)
      .filter(col("c_custkey") < 5000)
      .select(col("c_custkey"), col("c_name"))
    linkagePairs(c, "c_custkey", "c_name")
      .orderBy(col("ca"), col("cb"))
  }

  private val fuzzySql =
    """SELECT DISTINCT a.c_custkey AS ca, b.c_custkey AS cb,
      |       levenshtein(a.c_name, b.c_name) AS dist
      |FROM customer a JOIN customer b
      |  ON (substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
      |      OR right(a.c_name, 16) = right(b.c_name, 16))
      | AND a.c_custkey < b.c_custkey
      |WHERE a.c_custkey < 5000 AND b.c_custkey < 5000
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY ca, cb""".stripMargin

  /** Jaro-Winkler linkage tier ([[graft.functions.expr.JaroWinklerExpr]]):
    * the same two complementary equi-join blocks as [[linkagePairs]],
    * scored by the prefix-boosted similarity instead of edit distance —
    * the metric record-linkage practice actually ranks candidates with
    * (typo'd names keep JW ≈ 0.95+ while Levenshtein treats every edit
    * equally). Native codegen expression, no UDF; the 0.98 cut keeps the
    * gate at genuine near-matches (zero-padded sequential names make
    * most in-block pairs score ~0.96-0.975; 0.98 isolates the
    * single-trailing-edit cluster). Both engines compare the ROUNDED
    * score so the boundary set is identical. */
  private def fuzzyJw(s: SparkSession, d: String): DataFrame = {
    import graft.functions.expr.JaroWinklerExpr
    val c = Tables.customer(s, d)
      .filter(col("c_custkey") < 5000)
      .select(col("c_custkey"), col("c_name"))
    val a = c.select(col("c_custkey").as("ca"), col("c_name").as("na"))
    val b = c.select(col("c_custkey").as("cb"), col("c_name").as("nb"))
    def pairsOn(key: Column => Column): DataFrame = {
      val aa = a.withColumn("blk", key(col("na")))
      val bb = b.withColumn("blk", key(col("nb")))
      aa.join(bb, Seq("blk")).filter(col("ca") < col("cb")).drop("blk")
    }
    pairsOn(substring(_, 1, 16))
      .unionByName(pairsOn(right(_, lit(16))))
      .distinct()
      .select(col("ca"), col("cb"),
        round(JaroWinklerExpr(col("na"), col("nb")), 6).as("jw_sim"))
      .filter(col("jw_sim") >= 0.98)
      .orderBy(col("ca"), col("cb"))
  }

  private val fuzzyJwSql =
    """SELECT DISTINCT a.c_custkey AS ca, b.c_custkey AS cb,
      |       round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw_sim
      |FROM customer a JOIN customer b
      |  ON (substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
      |      OR right(a.c_name, 16) = right(b.c_name, 16))
      | AND a.c_custkey < b.c_custkey
      |WHERE a.c_custkey < 5000 AND b.c_custkey < 5000
      |  AND round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.98
      |ORDER BY ca, cb""".stripMargin

  /** Full Damerau–Levenshtein linkage tier
    * ([[graft.functions.expr.DamerauLevenshteinExpr]]): the same two
    * complementary equi-join blocks as [[linkagePairs]], priced by the
    * transposition-aware edit distance — the delta vs `dedup_fuzzy` is
    * exactly the swapped-adjacent-character typo class (`...012` vs
    * `...021` is DL 1 but Levenshtein 2), the most common keyboard error
    * real name/ID data carries. Native codegen expression, no UDF; the
    * dist ≤ 1 cut therefore returns a strict SUPERSET of the
    * Levenshtein-1 pairs and the gate's value is the transposition rows.
    * Both engines run the full Lowrance–Wagner recurrence over UTF-8
    * bytes (probed: DuckDB's `damerau_levenshtein` matches on 3 000
    * random pairs), so the integer distances compare exactly. */
  private def fuzzyDl(s: SparkSession, d: String): DataFrame = {
    import graft.functions.expr.DamerauLevenshteinExpr
    val c = Tables.customer(s, d)
      .filter(col("c_custkey") < 5000)
      .select(col("c_custkey"), col("c_name"))
    val a = c.select(col("c_custkey").as("ca"), col("c_name").as("na"))
    val b = c.select(col("c_custkey").as("cb"), col("c_name").as("nb"))
    def pairsOn(key: Column => Column): DataFrame = {
      val aa = a.withColumn("blk", key(col("na")))
      val bb = b.withColumn("blk", key(col("nb")))
      aa.join(bb, Seq("blk")).filter(col("ca") < col("cb")).drop("blk")
    }
    pairsOn(substring(_, 1, 16))
      .unionByName(pairsOn(right(_, lit(16))))
      .distinct()
      .select(col("ca"), col("cb"),
        DamerauLevenshteinExpr(col("na"), col("nb")).as("dl_dist"))
      .filter(col("dl_dist") <= 1)
      .orderBy(col("ca"), col("cb"))
  }

  private val fuzzyDlSql =
    """SELECT DISTINCT a.c_custkey AS ca, b.c_custkey AS cb,
      |       CAST(damerau_levenshtein(a.c_name, b.c_name) AS INTEGER) AS dl_dist
      |FROM customer a JOIN customer b
      |  ON (substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
      |      OR right(a.c_name, 16) = right(b.c_name, 16))
      | AND a.c_custkey < b.c_custkey
      |WHERE a.c_custkey < 5000 AND b.c_custkey < 5000
      |  AND damerau_levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY ca, cb""".stripMargin

  /** Equal-width 20-bin histogram of `o_totalprice`. The (min, max) bounds
    * ride a broadcast one-row frame into a narrow binning projection —
    * no driver round-trip, and the binning pass shuffles only (bin,
    * partial-count) pairs. Bin arithmetic is plain IEEE double ops
    * (`floor((x-lo)/w)`) that DuckDB evaluates identically; the top bin
    * absorbs the x == max edge. A degenerate single-value domain
    * (hi == lo) would put NaN in every bin identically on both engines —
    * callers histogramming a constant column should notice, not crash. */
  /** RFM segmentation — the classic CRM scoring: each customer ranked
    * 1..5 on Recency (latest order date), Frequency (order count) and
    * Monetary (exact-decimal spend), quintiles by the integer rank
    * formula score = (5·(rank−1)) DIV n + 1 with a custkey tie-break —
    * NOT ntile, whose remainder-distribution semantics are an
    * engine-specific trap; this formula is pure long arithmetic and
    * identical everywhere. Higher = better (latest/most/biggest ranks
    * 5).
    *
    * Scale shape: the fact table collapses to ONE row per customer
    * before anything ranks, so the three rank windows run over the
    * customer-aggregate frame — orders-of-magnitude smaller than the
    * input, but still global sorts (documented); at the 100 TB tier
    * swap the exact ranks for Quantiles.exact cutoff literals (the
    * q27a driver-bracketing path) or t-digest scores and the scoring
    * becomes a narrow projection. The gate keeps exact ranks because
    * exactness is what the oracle can replay. */
  private def rfm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // recency ranks on the raw (NTZ) timestamp — ordering is all the
    // score needs, so no epoch conversion (and no timezone semantics)
    // ever enters the query
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("r_ts"),
        count(lit(1)).as("f"),
        sum(graft.Det.dec(col("o_totalprice"))).as("m6"))
    val tot = cust.agg(count(lit(1)).as("n"))
    cust
      .withColumn("rr", row_number().over(
        Window.orderBy(col("r_ts"), col("o_custkey"))).cast("long"))
      .withColumn("rf", row_number().over(
        Window.orderBy(col("f"), col("o_custkey"))).cast("long"))
      .withColumn("rm", row_number().over(
        Window.orderBy(col("m6"), col("o_custkey"))).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("o_custkey"),
        expr("(5 * (rr - 1)) DIV n + 1").as("r_score"),
        expr("(5 * (rf - 1)) DIV n + 1").as("f_score"),
        expr("(5 * (rm - 1)) DIV n + 1").as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy(col("o_custkey"))
  }

  private val rfmSql =
    """WITH cust AS (
      |  SELECT o_custkey, max(o_orderdate) AS r_ts,
      |    COUNT(*) AS f, SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS m6
      |  FROM orders GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n FROM cust),
      |ranked AS (
      |  SELECT o_custkey,
      |    CAST(row_number() OVER (ORDER BY r_ts, o_custkey) AS BIGINT) AS rr,
      |    CAST(row_number() OVER (ORDER BY f, o_custkey) AS BIGINT) AS rf,
      |    CAST(row_number() OVER (ORDER BY m6, o_custkey) AS BIGINT) AS rm
      |  FROM cust)
      |SELECT o_custkey,
      |  (5 * (rr - 1)) // n + 1 AS r_score,
      |  (5 * (rf - 1)) // n + 1 AS f_score,
      |  (5 * (rm - 1)) // n + 1 AS m_score,
      |  ((5 * (rr - 1)) // n + 1) * 100 + ((5 * (rf - 1)) // n + 1) * 10 +
      |    ((5 * (rm - 1)) // n + 1) AS rfm
      |FROM ranked, t ORDER BY o_custkey""".stripMargin

  /** Cohort retention — THE product-analytics table: users grouped by
    * first-seen week (the cohort), counted once per week-offset in which
    * they return. Shuffle shape: one user-keyed aggregate for the cohort
    * anchor, one distinct over (user, activity week) — both carry ids
    * and dates only — then a user-keyed join and a (cohort, offset)
    * count; nothing holds per-user history in memory. Week arithmetic is
    * integer day-diff / 7, identical in both engines. */
  private def cohorts(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    e.distinct()
      .join(first, Seq("user_id"))
      .select(col("cohort_wk"),
        (datediff(col("wk"), col("cohort_wk")) / 7).cast("int").as("offset_wk"))
      .groupBy(col("cohort_wk"), col("offset_wk"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_wk"), col("offset_wk"))
  }

  private val cohortsSql =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |first AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id)
      |SELECT e2.cohort_wk, e2.offset_wk, COUNT(*) AS n_users FROM (
      |  SELECT first.cohort_wk,
      |    CAST(datediff('day', first.cohort_wk, e.wk) / 7 AS INT) AS offset_wk
      |  FROM e JOIN first USING (user_id)) e2
      |GROUP BY e2.cohort_wk, e2.offset_wk
      |ORDER BY e2.cohort_wk, e2.offset_wk""".stripMargin

  /** First-order event-transition matrix per user stream (the Markov
    * view of product flows): counts and probabilities of each
    * (prev event type → next event type) step, ordered by time with the
    * event id as the deterministic tie-break. One user-keyed window for
    * the lag, one (prev, next) count with map-side combine; the
    * row-count probability denominators reuse the same partials. */
  private def transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("prev_type"), col("next_type"))
    steps.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))
      .orderBy(col("prev_type"), col("next_type"))
  }

  private val transitionsSql =
    """WITH s AS (
      |  SELECT event_type AS prev_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (
      |  SELECT prev_type, next_type, COUNT(*) AS n FROM s
      |  WHERE next_type IS NOT NULL GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n,
      |  round(n::DOUBLE / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** Equi-height histogram — the quantile-edged companion to
    * profile_histogram's equal-width bins (equal-width collapses under
    * skew; equi-height bins adapt). Edges are the exact interpolated
    * k/B quantiles ([[graft.operators.Quantiles.exact]] — range-sorted
    * rank selection, bounded driver fetch), folded into a narrow binning
    * projection as literals; only (bin, partial-count) pairs shuffle.
    * A row lands in the LAST bin whose lower edge it reaches, so ties
    * at an edge go to the higher bin deterministically in both engines. */
  private def eqHistogram(s: SparkSession, d: String): DataFrame = {
    val bins = 10
    val o = Tables.orders(s, d).select(col("o_totalprice").cast("double").as("v"))
    val qs = (1 until bins).map(_.toDouble / bins)
    // edges rounded at 6 dp (half-up, matching DuckDB round()) so the
    // bin comparisons see the identical literal in both engines even if
    // the two quantile implementations differ in the last ulp
    val edges = graft.operators.Quantiles.exact(o, "v", qs)
      .map(e => BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val bin = edges.zipWithIndex.foldLeft(lit(0)) { case (acc, (e, i)) =>
      when(col("v") >= e, lit(i + 1)).otherwise(acc)
    }
    o.select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .orderBy(col("bin"))
  }

  private val eqHistogramSql =
    """WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
      |e AS (
      |  SELECT list_transform(
      |    quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |    x -> round(x, 6)) AS q
      |  FROM v),
      |b AS (
      |  SELECT len(list_filter(e.q, x -> v.v >= x)) AS bin
      |  FROM v CROSS JOIN e)
      |SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n FROM b
      |GROUP BY bin ORDER BY bin""".stripMargin

  /** Robust per-group outlier flags ([[graft.operators.Robust]]): rows
    * of the events stream whose value sits more than 6 MADs from their
    * event-type median. Median and MAD are the exact grouped quantiles
    * (single-shuffle rank selection, parity proven by q27g), so every
    * comparison is the same IEEE double in both engines. */
  private def outliers(s: SparkSession, d: String): DataFrame =
    graft.operators.Robust.madOutliers(
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value")),
      "event_type", "value", k = 6.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
        col("mad_score"))
      .orderBy(col("event_id"))

  private val outliersSql =
    """WITH p AS (
      |  SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
      |  FROM events WHERE value IS NOT NULL),
      |med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
      |        FROM p GROUP BY event_type),
      |dev AS (SELECT p.event_id, p.event_type, p.value, med.m,
      |          abs(p.value - med.m) AS d
      |        FROM p JOIN med USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad
      |        FROM dev GROUP BY event_type)
      |SELECT dev.event_id, dev.event_type, dev.value,
      |  round(dev.m, 6) AS med, round(mad.mad, 6) AS mad,
      |  CASE WHEN mad.mad = 0 THEN NULL
      |       ELSE round(dev.d / mad.mad, 6) END AS mad_score
      |FROM dev JOIN mad USING (event_type)
      |WHERE CASE WHEN mad.mad = 0 THEN dev.d > 0
      |           ELSE dev.d > 6.0 * mad.mad END
      |ORDER BY event_id""".stripMargin

  private val HistBins = 20

  /** Benford first-digit audit of `o_totalprice` — the classic
    * fabricated-data / broken-ETL alarm: organically grown money
    * amounts follow P(d) = log10(1 + 1/d), and a generator or a
    * truncating loader shows up as a flat or spiked digit histogram.
    * Output: per-digit observed count, Benford-expected count (round@6)
    * and the (O−E)²/E chi-squared contribution as a 1e9-scaled long
    * (the q57 cell-term pattern — cross-digit sums stay exact).
    *
    * Determinism: the first digit comes from the exact-cents LONG
    * rendered as a string (integer→string is portable; double→string
    * is NOT — Spark flips to scientific notation at 1e7), so both
    * engines bucket identically; the only transcendental is log10 of a
    * per-digit literal, rounded before comparison. Shape: one narrow
    * digit projection, a 9-row counted aggregate, a 1-row broadcast
    * total — nothing scales with anything but 9. */
  private def benford(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(substring(
        round(col("o_totalprice") * 100, 0).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val tot = digits.agg(sum(col("obs")).as("n"))
    digits.crossJoin(broadcast(tot))
      .withColumn("e", col("n").cast("double") *
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .select(col("digit"), col("obs"),
        round(col("e"), 6).as("expected"),
        round((col("obs").cast("double") - col("e")) *
          (col("obs").cast("double") - col("e")) / col("e") * 1e9, 0)
          .cast("long").as("term9"))
      .orderBy(col("digit"))
  }

  private val benfordSql =
    """WITH digits AS (
      |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
      |  FROM orders WHERE o_totalprice > 0),
      |o AS (SELECT digit, COUNT(*) AS obs FROM digits GROUP BY digit),
      |t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o)
      |SELECT digit, obs, round(CAST(n AS DOUBLE) *
      |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS expected,
      |  CAST(round((CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) *
      |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) *
      |    (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) *
      |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) /
      |    (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) * 1e9,
      |    0) AS BIGINT) AS term9
      |FROM o, t ORDER BY digit""".stripMargin

  private def histogram(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_totalprice"))
    val bounds = o.agg(
      min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    o.crossJoin(broadcast(bounds))
      .select(least(
        floor((col("o_totalprice") - col("lo")) /
          ((col("hi") - col("lo")) / HistBins)).cast("int"),
        lit(HistBins - 1)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bin"))
  }

  private val histogramSql =
    s"""WITH b AS (
       |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
       |SELECT LEAST(CAST(FLOOR((o_totalprice - b.lo) /
       |         ((b.hi - b.lo) / $HistBins)) AS INT), ${HistBins - 1}) AS bin,
       |       COUNT(*) AS n
       |FROM orders, b GROUP BY 1 ORDER BY 1""".stripMargin

  /** The part–supplier graph fixture every `graph_*` query but
    * [[sccQ]] reads: `lineitem`'s (l_partkey, l_suppkey) incidence as
    * part `p` and supplier `sk`, its bipartite edges between nodes named
    * `p<partkey>` and `s<suppkey>` with a `zsink` edge for every tenth
    * part, its part–part co-supplier projection and an md5 sample of
    * that. Each Spark builder has its oracle CTE twin beside it
    * (AnalyticsSpec checks the pair, edge and co-part twins against
    * their builders); the queries compose the pieces they need, so the
    * fixture is decided here once. */
  private def partSupp: Seq[Column] =
    Seq(col("l_partkey").as("p"), col("l_suppkey").as("sk"))

  /** One (p, sk) row per `lineitem` line, parts below `cap` only when
    * one is given. */
  private def incidence(s: SparkSession, d: String,
      cap: Option[Int] = None): DataFrame = {
    val li = Tables.lineitem(s, d)
    cap.fold(li)(c => li.filter(col("l_partkey") < c)).select(partSupp: _*)
  }

  /** The distinct (p, sk) pairs of [[incidence]]. */
  private[graft] def partSuppPairs(s: SparkSession, d: String,
      cap: Option[Int] = None): DataFrame =
    incidence(s, d, cap).distinct()

  /** [[incidence]]'s twin CTE `inc`. */
  private def incidenceSql(cap: Option[Int] = None): String =
    "inc AS (\n  SELECT l_partkey AS p, l_suppkey AS sk FROM lineitem" +
      cap.fold("")(c => s"\n  WHERE l_partkey < $c") + ")"

  /** [[partSuppPairs]]'s twin: CTEs `inc` and `pairs`. */
  private[graft] def partSuppPairsSql(cap: Option[Int] = None): String =
    s"${incidenceSql(cap)},\npairs AS (SELECT DISTINCT p, sk FROM inc)"

  private def partNode = concat(lit("p"), col("p"))
  private def suppNode = concat(lit("s"), col("sk"))

  /** The edge pieces over a (p, sk) frame, each carrying the extra
    * columns `w` (an edge weight, say): part→supplier,
    * supplier→part, and every tenth part's edge to `zsink`, a node with
    * no out-edges — the genuine sink that exercises dangling-mass
    * redistribution. */
  private def partToSupp(pairs: DataFrame, w: Column*): DataFrame =
    pairs.select(partNode.as("src") +: suppNode.as("dst") +: w: _*)

  private def suppToPart(pairs: DataFrame, w: Column*): DataFrame =
    pairs.select(suppNode.as("src") +: partNode.as("dst") +: w: _*)

  private def sinkEdges(pairs: DataFrame, w: Column*): DataFrame =
    pairs.filter(col("p") % 10 === 0)
      .select(partNode.as("src") +: lit("zsink").as("dst") +: w: _*)
      .distinct()

  /** The sink-bearing part↔supplier graph: all three edge pieces. */
  private[graft] def sinkGraph(pairs: DataFrame): DataFrame =
    partToSupp(pairs).union(suppToPart(pairs)).union(sinkEdges(pairs))

  /** The edge pieces' twin SELECT arms over `pairs`, `w` the extra
    * select items; [[edgesSql]] unions arms into the `edges` CTE. */
  private def partToSuppSql(w: String = "") =
    s"SELECT 'p' || p AS src, 's' || sk AS dst$w FROM pairs"
  private def suppToPartSql(w: String = "") =
    s"SELECT 's' || sk AS src, 'p' || p AS dst$w FROM pairs"
  private def sinkEdgesSql(w: String = "") =
    s"SELECT DISTINCT 'p' || p AS src, 'zsink' AS dst$w FROM pairs WHERE p % 10 = 0"
  private def edgesSql(arms: String*) =
    arms.mkString("edges AS (\n  ", "\n  UNION ALL\n  ", ")")

  /** [[sinkGraph]]'s twin: the `edges` CTE over `pairs`. */
  private[graft] def sinkGraphSql: String =
    edgesSql(partToSuppSql(), suppToPartSql(), sinkEdgesSql())

  /** Every node of `edges`. */
  private val nodesSql =
    """nodes AS (
      |  SELECT DISTINCT node FROM (
      |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))""".stripMargin

  /** The part–part co-supplier graph over a (p, sk) frame: one (u, v)
    * edge, u < v, per two parts that share a supplier — supplier
    * cliques, so triangles are plentiful (the bipartite graph itself has
    * none). */
  private[graft] def coParts(pairs: DataFrame): DataFrame = {
    val a = pairs.select(col("p").as("pa"), col("sk"))
    val b = pairs.select(col("p").as("pb"), col("sk"))
    a.join(b, Seq("sk")).filter(col("pa") < col("pb"))
      .select(col("pa").as("u"), col("pb").as("v")).distinct()
  }

  /** [[coParts]]'s twin: the `coparts` CTE over `pairs`. */
  private[graft] def coPartsSql: String =
    """coparts AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM pairs a JOIN pairs b ON a.sk = b.sk AND a.p < b.p)""".stripMargin

  /** [[coParts]] of the parts below 1000, thinned by a deterministic
    * md5-of-edge lottery (both engines draw the identical sample) to the
    * ~1/KcMod of its edges ([[kcoreQ]], [[assortQ]]). */
  private val KcMod = 150

  private def sampledCoParts(s: SparkSession, d: String): DataFrame =
    coParts(partSuppPairs(s, d, Some(1000))).filter(
      graft.functions.expr.Md5Prefix(concat(col("u").cast("string"), lit("_"),
        col("v").cast("string")), 4).cast("int") % KcMod === 0)

  /** [[sampledCoParts]]'s twin: CTEs `inc`, `pairs`, `coparts` and
    * `sampled`. DuckDB-only (hex cast). */
  private def sampledCoPartsSql: String =
    s"""${partSuppPairsSql(Some(1000))},
       |$coPartsSql,
       |sampled AS (
       |  SELECT u, v FROM coparts
       |  WHERE ('0x' || substring(md5(u || '_' || v), 1, 4))::INT
       |    % $KcMod = 0)""".stripMargin

  /** Link-authority scoring ([[graft.pipeline.GraphOps.pageRank]]): 3
    * damped iterations over [[sinkGraph]], the part↔supplier
    * co-occurrence graph from lineitem (the same shape as Common Crawl's
    * published per-host rank data used to weight crawl corpora) with
    * its `zsink` edges, so the gate exercises the dangling-mass
    * redistribution path — without them, total rank would silently
    * decay below 1. The oracle is [[prUnrollSql]]. */
  private val PrIters = 3

  private def pagerank(s: SparkSession, d: String): DataFrame =
    graft.pipeline.GraphOps
      .pageRank(sinkGraph(partSuppPairs(s, d)), "src", "dst", iterations = PrIters)
      .select(col("node"), round(col("rank"), 9).as("rank"))
      .orderBy(col("node"))

  /** The PageRank family's oracle: `head`'s CTEs — `edges`, its
    * per-source out-weight `deg`, and `tele`, every node with its
    * teleport flag `t` — then the identical [[PrIters]] iterations
    * unrolled as chained CTEs, each with its own sink-mass CTE
    * mirroring the redistribution; base and dangling mass land on the
    * `t = 1` nodes only. `contrib` is one edge's share of its source's
    * rank `r.rank`. Recursive CTEs cannot aggregate in the recursive
    * member, and a fixed-depth unroll is the honest mirror of a
    * fixed-iteration operator. */
  private def prUnrollSql(head: String, contrib: String): String = {
    def iter(i: Int) = {
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""dm$i AS (
         |  SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(38,18))) AS DOUBLE),
         |         0.0) AS dm
         |  FROM $prev r LEFT JOIN deg ON deg.src = r.node
         |  WHERE deg.src IS NULL),
         |it$i AS (
         |  SELECT tele.node,
         |    tele.t * (SELECT (1.0-0.85)/n FROM n) + 0.85 * (COALESCE(
         |      CAST(SUM(CAST(round($contrib, 12) AS DECIMAL(38,18))) AS DOUBLE),
         |      0.0) + tele.t * (SELECT round(dm / (SELECT n FROM n), 12)
         |                       FROM dm$i)) AS rank
         |  FROM tele
         |  LEFT JOIN edges e ON e.dst = tele.node
         |  LEFT JOIN $prev r ON r.node = e.src
         |  LEFT JOIN deg ON deg.src = e.src
         |  GROUP BY tele.node, tele.t)"""
    }
    s"""WITH $head,
       |n AS (SELECT SUM(t)::DOUBLE AS n FROM tele),
       |r0 AS (SELECT node, t * (SELECT 1.0/n FROM n) AS rank FROM tele),
       |${(1 to PrIters).map(iter).mkString(",\n")}
       |SELECT node, round(rank, 9) AS rank FROM it$PrIters ORDER BY node""".stripMargin
  }

  private val pagerankSql = prUnrollSql(
    s"""${partSuppPairsSql()},
       |$sinkGraphSql,
       |$nodesSql,
       |tele AS (SELECT node, 1 AS t FROM nodes),
       |deg AS (SELECT src, COUNT(*)::DOUBLE AS deg FROM edges GROUP BY src)""",
    contrib = "r.rank/deg.deg")

  /** Weighted PageRank ([[graft.pipeline.GraphOps.pageRankWeighted]]):
    * the [[sinkGraph]] pieces with each part↔supplier edge weighted by
    * its lineitem co-occurrence COUNT (how link-weighted host graphs
    * actually arrive) and sink edges at weight 1. The oracle unrolls the
    * identical iterations with `rank·w/Σw` contributions. */
  private def wpr(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .groupBy(partSupp: _*)
      .agg(count(lit(1)).cast("double").as("w"))
    val edges = partToSupp(pairs, col("w"))
      .union(suppToPart(pairs, col("w")))
      .union(sinkEdges(pairs, lit(1.0).as("w")))
    graft.pipeline.GraphOps
      .pageRankWeighted(edges, "src", "dst", "w", iterations = PrIters)
      .select(col("node"), round(col("rank"), 9).as("rank"))
      .orderBy(col("node"))
  }

  private val wprSql = prUnrollSql(
    s"""${incidenceSql()},
       |pairs AS (SELECT p, sk, COUNT(*)::DOUBLE AS w FROM inc GROUP BY 1, 2),
       |${edgesSql(partToSuppSql(", w"), suppToPartSql(", w"), sinkEdgesSql(", 1.0"))},
       |$nodesSql,
       |tele AS (SELECT node, 1 AS t FROM nodes),
       |deg AS (SELECT src, SUM(w) AS sw FROM edges GROUP BY src)""",
    contrib = "r.rank * e.w / deg.sw")

  /** Personalized PageRank
    * ([[graft.pipeline.GraphOps.pageRankPersonalized]]) over
    * [[sinkGraph]], teleporting to the SUPPLIER nodes only — authority
    * as seen from a trusted seed set, the domain-focused variant of
    * crawl weighting. The oracle unrolls the same three iterations with
    * the seed flag as `tele.t`, folded into the base and dangling terms
    * exactly as the operator computes them. */
  private def ppr(s: SparkSession, d: String): DataFrame = {
    val pairs = partSuppPairs(s, d)
    val seeds = pairs.select(suppNode.as("node")).distinct()
    graft.pipeline.GraphOps
      .pageRankPersonalized(sinkGraph(pairs), "src", "dst", seeds, "node",
        iterations = PrIters)
      .select(col("node"), round(col("rank"), 9).as("rank"))
      .orderBy(col("node"))
  }

  private val pprSql = prUnrollSql(
    s"""${partSuppPairsSql()},
       |$sinkGraphSql,
       |$nodesSql,
       |seeds AS (SELECT DISTINCT 's' || sk AS node FROM pairs),
       |tele AS (
       |  SELECT nodes.node,
       |    CASE WHEN seeds.node IS NOT NULL THEN 1 ELSE 0 END AS t
       |  FROM nodes LEFT JOIN seeds ON seeds.node = nodes.node),
       |deg AS (SELECT src, COUNT(*)::DOUBLE AS deg FROM edges GROUP BY src)""",
    contrib = "r.rank/deg.deg")

  /** Harmonic centrality via HyperBall
    * ([[graft.pipeline.GraphOps.harmonicCentrality]]) on [[sinkGraph]],
    * REVERSED so distances run toward each node — the standard
    * incoming-harmonic definition and the other half of Common Crawl's
    * published host ranks. The sketch balls stay in the exact tier at
    * gate cardinality, so the DuckDB oracle is an exact recursive-CTE
    * BFS: per node the count of nodes within distance 3 and Σ 1/d, with
    * the depth-increment arithmetic mirrored term by term in fixed order.
    *
    * Gate volume cap (graph_triangles precedent): parts < 2000 keeps the
    * ball states — which carry the whole exact tier per node while the
    * graph is below the cap — at tens of KB across every SF the driver
    * runs, so the bench measures the iteration shape, not a ballooning
    * exact tier (at real scale callers run the register tier, where
    * state is 2^lgK bytes per node regardless of graph size). */
  private val HcDepth = 3

  private def harmonic(s: SparkSession, d: String): DataFrame = {
    val edges = sinkGraph(partSuppPairs(s, d, Some(2000)))
    val reversed = edges.select(col("dst").as("src"), col("src").as("dst"))
    graft.pipeline.GraphOps
      .harmonicCentrality(reversed, "src", "dst", maxDepth = HcDepth)
      .select(col("node"), col("est").as("n_reach3"),
        round(col("h"), 9).as("harmonic"))
      .orderBy(col("node"))
  }

  private val harmonicSql =
    s"""WITH RECURSIVE ${partSuppPairsSql(Some(2000))},
       |$sinkGraphSql,
       |redges AS (SELECT dst AS src, src AS dst FROM edges),
       |$nodesSql,
       |reach AS (
       |  SELECT node AS v, node AS u, 0 AS d FROM nodes
       |  UNION
       |  SELECT r.v, e.dst AS u, r.d + 1 AS d
       |  FROM reach r JOIN redges e ON e.src = r.u
       |  WHERE r.d < $HcDepth),
       |md AS (SELECT v, u, MIN(d) AS d FROM reach GROUP BY v, u),
       |lv AS (
       |  SELECT v,
       |    COUNT(*) FILTER (WHERE d = 1) AS n1,
       |    COUNT(*) FILTER (WHERE d = 2) AS n2,
       |    COUNT(*) FILTER (WHERE d = 3) AS n3
       |  FROM md GROUP BY v)
       |SELECT v AS node, 1 + n1 + n2 + n3 AS n_reach3,
       |  round(((0.0 + n1 / 1.0) + n2 / 2.0) + n3 / 3.0, 9) AS harmonic
       |FROM lv ORDER BY node""".stripMargin

  /** Per-node triangle counts ([[graft.pipeline.GraphOps.triangleCounts]])
    * over [[coParts]] of the parts below 300 (the usual gate volume); the
    * oracle enumerates triangles directly from the canonical a<b<c edge
    * triple join — a formulation that dies on hubs at scale, which is
    * exactly why the operator orients by degree instead. */
  private def trianglesQ(s: SparkSession, d: String): DataFrame =
    graft.pipeline.GraphOps
      .triangleCounts(coParts(partSuppPairs(s, d, Some(300))), "u", "v")
      .orderBy(col("node"))

  /** graph_modularity: Newman modularity ([[graft.pipeline.GraphOps
    * .modularity]]) of the NATION partition over the supplier co-part
    * graph — "do suppliers cluster by nation?", the readout every
    * community detection run ends with. Labels are an attribute
    * partition precisely so the gate is iteration-independent (LPA's
    * own labels depend on round structure; Q of ANY given labeling is
    * exact). Integer-exact e_c/D_c/m, ONE division in decimal/HUGEINT
    * (4m² wraps a long past ~1.5e9 edges), round@9. */
  private def modularityQ(s: SparkSession, d: String): DataFrame = {
    val pp = partSuppPairs(s, d)
    val a = pp.select(col("p"), col("sk").as("sa"))
    val b = pp.select(col("p"), col("sk").as("sb"))
    val edges = a.join(b, Seq("p")).filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb")).distinct()
    val labels = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    graft.pipeline.GraphOps
      .modularity(edges, "sa", "sb", labels, "s_suppkey", "s_nationkey")
      .orderBy(col("label"))
  }

  private val modularitySql =
    s"""WITH ${partSuppPairsSql()},
       |e AS (
       |  SELECT DISTINCT a.sk AS u, b.sk AS v
       |  FROM pairs a JOIN pairs b ON a.p = b.p AND a.sk < b.sk),
      |lab AS (SELECT s_suppkey AS node, s_nationkey AS lb FROM supplier),
      |el AS (
      |  SELECT e.u, e.v, lu.lb AS lu, lv.lb AS lv
      |  FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v),
      |mt AS (SELECT COUNT(*) AS m FROM el),
      |ein AS (SELECT lu AS lb, COUNT(*) AS e_in FROM el WHERE lu = lv
      |  GROUP BY 1),
      |deg AS (SELECT node, lb, COUNT(*) AS d FROM (
      |    SELECT u AS node, lu AS lb FROM el
      |    UNION ALL SELECT v, lv FROM el)
      |  GROUP BY 1, 2),
      |comm AS (SELECT lb, COUNT(*) AS n_nodes,
      |    CAST(SUM(d) AS BIGINT) AS d_tot
      |  FROM deg GROUP BY lb),
      |c2 AS (SELECT comm.lb, n_nodes,
      |    CAST(coalesce(e_in, 0) AS BIGINT) AS e_in, d_tot
      |  FROM comm LEFT JOIN ein USING (lb)),
      |parts AS (SELECT CAST(SUM(e_in) AS BIGINT) AS se,
      |    CAST(SUM(CAST(d_tot AS HUGEINT) * d_tot) AS HUGEINT) AS sd2
      |  FROM c2)
      |SELECT lb AS label, n_nodes, e_in, d_tot, m,
      |  round(CAST(CAST(4 AS HUGEINT) * m * se - sd2 AS DOUBLE) /
      |    CAST(CAST(4 AS HUGEINT) * m * m AS DOUBLE), 9) AS q
      |FROM c2, mt, parts ORDER BY label""".stripMargin

  /** graph_link_predict: the Liben-Nowell/Kleinberg link-prediction
    * battery ([[graft.pipeline.GraphOps.adamicAdar]]) over the part–part
    * co-supplier incidence — common neighbors, Adamic–Adar,
    * resource-allocation and neighborhood Jaccard per candidate pair.
    * The gate runs UNCAPPED (the `l_partkey < 300` slice bounds the
    * frame — this synthetic incidence flips density with SF: ~10 dense
    * suppliers at sf0.001, ~1000 sparse ones at sf0.1, so no one
    * absolute df-cap is meaningful at gate tier); `maxDeg` is the
    * production scale lever, proven by AnalyticsSpec's planted-hub
    * fixture (hub drops from candidate generation, still counts in the
    * re-verified scores). The operator takes the [[incidence]] as is and
    * deduplicates it itself. Per-wedge 1/ln(d) and 1/d terms round@9 to
    * longs and sum exactly; final quotients round@9 (a @6 rounding
    * ties on the exactly-9-decimal scaled sums — gate-caught). */
  private def linkPredictQ(s: SparkSession, d: String): DataFrame =
    graft.pipeline.GraphOps
      .adamicAdar(incidence(s, d, Some(300)), "p", "sk",
        maxDeg = 200000L, minShared = 2L)
      .orderBy(col("pa"), col("pb"))

  private val linkPredictSql =
    s"""WITH ${partSuppPairsSql(Some(300))},
       |vdeg AS (SELECT sk, COUNT(*) AS d FROM pairs GROUP BY sk),
       |ndeg AS (SELECT p, COUNT(*) AS dn FROM pairs GROUP BY p),
       |keep AS (SELECT pairs.p, pairs.sk FROM pairs JOIN vdeg USING (sk)
       |  WHERE d <= 200000),
       |cand AS (
       |  SELECT DISTINCT a.p AS pa, b.p AS pb
       |  FROM keep a JOIN keep b ON a.sk = b.sk AND a.p < b.p),
       |shared AS (
       |  SELECT cand.pa, cand.pb, vdeg.d
       |  FROM cand
       |  JOIN pairs ia ON ia.p = cand.pa
       |  JOIN pairs ib ON ib.p = cand.pb AND ib.sk = ia.sk
       |  JOIN vdeg ON vdeg.sk = ia.sk),
      |sc AS (
      |  SELECT pa, pb, COUNT(*) AS cn,
      |    CAST(SUM(CAST(round(1.0 / ln(CAST(d AS DOUBLE)) * 1e9, 0)
      |      AS BIGINT)) AS BIGINT) AS aa9,
      |    CAST(SUM(CAST(round(1.0 / CAST(d AS DOUBLE) * 1e9, 0)
      |      AS BIGINT)) AS BIGINT) AS ra9
      |  FROM shared GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2)
      |SELECT sc.pa, sc.pb, sc.cn, na.dn AS deg_a, nb.dn AS deg_b,
      |  round(CAST(aa9 AS DOUBLE) / 1e9, 9) AS adamic_adar,
      |  round(CAST(ra9 AS DOUBLE) / 1e9, 9) AS resource_alloc,
      |  round(CAST(cn AS DOUBLE) / CAST(na.dn + nb.dn - cn AS DOUBLE), 9)
      |    AS jaccard
      |FROM sc JOIN ndeg na ON na.p = sc.pa JOIN ndeg nb ON nb.p = sc.pb
      |ORDER BY pa, pb""".stripMargin

  private val trianglesSql =
    s"""WITH ${partSuppPairsSql(Some(300))},
       |$coPartsSql,
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM coparts e1
       |  JOIN coparts e2 ON e2.u = e1.v
       |  JOIN coparts e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT node, COUNT(*) AS n_tri FROM (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |GROUP BY node ORDER BY node""".stripMargin

  /** HITS hubs & authorities ([[graft.pipeline.GraphOps.hits]]) over the
    * DIRECTED [[partToSupp]] and [[sinkEdges]] pieces (parts are pure
    * hubs, suppliers pure authorities — plus the zsink authority every
    * tenth part links to), 2 mutually-recursive iterations. The oracle
    * unrolls each half-step as its own raw-mass / L1-total / normalize
    * CTE chain with the identical rounded-contribution + decimal-sum
    * arithmetic; the zero paths (parts' authority, suppliers' hub) are
    * part of the gate. */
  private val HitsIters = 2

  private def hitsQ(s: SparkSession, d: String): DataFrame = {
    val pairs = partSuppPairs(s, d)
    graft.pipeline.GraphOps
      .hits(partToSupp(pairs).union(sinkEdges(pairs)), "src", "dst",
        iterations = HitsIters)
      .select(col("node"), round(col("hub"), 9).as("hub"),
        round(col("auth"), 9).as("auth"))
      .orderBy(col("node"))
  }

  private val hitsSql = {
    // one L1-normalized half-step: mass flows `from` -> `to`, lands as
    // `outCol` on every node (0 where nothing landed)
    def half(prev: String, prevCol: String, from: String, to: String,
        raw: String, tot: String, out: String, outCol: String) =
      s"""$raw AS (
         |  SELECT e.$to AS node,
         |    CAST(SUM(CAST(round(p.$prevCol, 12) AS DECIMAL(38,18))) AS DOUBLE)
         |      AS raw
         |  FROM edges e JOIN $prev p ON p.node = e.$from GROUP BY 1),
         |$tot AS (
         |  SELECT CAST(SUM(CAST(raw AS DECIMAL(38,18))) AS DOUBLE) AS s
         |  FROM $raw),
         |$out AS (
         |  SELECT n.node,
         |    round(COALESCE(r.raw, 0.0) / (SELECT s FROM $tot), 12) AS $outCol
         |  FROM nodes n LEFT JOIN $raw r ON r.node = n.node)"""
    s"""WITH ${partSuppPairsSql()},
       |${edgesSql(partToSuppSql(), sinkEdgesSql())},
       |$nodesSql,
       |h0 AS (SELECT node, 1.0 AS hub FROM nodes),
       |${half("h0", "hub", "src", "dst", "a1r", "a1s", "a1", "auth")},
       |${half("a1", "auth", "dst", "src", "h1r", "h1s", "h1", "hub")},
       |${half("h1", "hub", "src", "dst", "a2r", "a2s", "a2", "auth")},
       |${half("a2", "auth", "dst", "src", "h2r", "h2s", "h2", "hub")}
       |SELECT n.node, round(h.hub, 9) AS hub, round(a.auth, 9) AS auth
       |FROM nodes n
       |JOIN h2 h ON h.node = n.node
       |JOIN a2 a ON a.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** Synchronous label-propagation communities
    * ([[graft.pipeline.GraphOps.labelPropagation]]) on the SAME
    * [[coParts]] graph as [[trianglesQ]] (supplier cliques make real
    * communities), 3 rounds. All-integer arithmetic — counts and label
    * comparisons only — so the unrolled oracle is bit-exact with no
    * rounding contract at all. */
  private val LpaRounds = 3

  private def lpaQ(s: SparkSession, d: String): DataFrame =
    graft.pipeline.GraphOps
      .labelPropagation(coParts(partSuppPairs(s, d, Some(300))), "u", "v",
        rounds = LpaRounds)
      .orderBy(col("node"))

  private val lpaSql = {
    def round_(prev: String, cnt: String, out: String) =
      s"""$cnt AS (
         |  SELECT e.src AS node, l.label AS label, COUNT(*) AS c
         |  FROM sym e JOIN $prev l ON l.node = e.dst GROUP BY 1, 2),
         |$out AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, label) AS rn
         |    FROM $cnt) t
         |  WHERE rn = 1)"""
    s"""WITH ${partSuppPairsSql(Some(300))},
       |$coPartsSql,
       |sym AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT u AS src, v AS dst FROM coparts
       |    UNION ALL SELECT v, u FROM coparts)),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
       |${round_("l0", "c1", "l1")},
       |${round_("l1", "c2", "l2")},
       |${round_("l2", "c3", "l3")}
       |SELECT node, label FROM l3 ORDER BY node""".stripMargin
  }
  /** Strongly connected components
    * ([[graft.pipeline.GraphOps.stronglyConnected]]) on the DIRECTED
    * order-sequence part graph: an edge p→q whenever part q follows
    * part p on consecutive line numbers of one order. Different orders
    * list overlapping parts in different sequences, so real multi-node
    * cycles (and real one-way tendrils) exist — the bow-tie shapes SCC
    * is for. The oracle computes mutual reachability by transitive
    * closure (recursive CTE) and takes each node's min mutual partner —
    * the same scc_id the coloring algorithm provably emits, with no
    * dependence on either side's iteration structure. Integer-exact. */
  private def sccQ(s: SparkSession, d: String): DataFrame = {
    val seq0 = Tables.lineitem(s, d)
      .filter(col("l_partkey") < 300)
      .select(col("l_orderkey").as("o"), col("l_linenumber").as("ln"),
        col("l_partkey").as("p"))
    val a = seq0.select(col("o"), col("ln"), col("p").as("src"))
    val b = seq0.select(col("o"), (col("ln") - 1).as("ln"), col("p").as("dst"))
    val e = a.join(b, Seq("o", "ln"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    graft.pipeline.GraphOps.stronglyConnected(e, "src", "dst")
      .orderBy(col("node"))
  }

  private val sccSql =
    """WITH seq0 AS (
      |  SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p
      |  FROM lineitem WHERE l_partkey < 300),
      |e0 AS (
      |  SELECT DISTINCT a.p AS src, b.p AS dst
      |  FROM seq0 a JOIN seq0 b ON b.o = a.o AND b.ln = a.ln + 1
      |  WHERE a.p <> b.p),
      |nodes AS (
      |  SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
      |reach AS (
      |  WITH RECURSIVE r(src, dst) AS (
      |    SELECT src, dst FROM e0
      |    UNION
      |    SELECT r.src, e.dst FROM r JOIN e0 e ON e.src = r.dst)
      |  SELECT src, dst FROM r),
      |mutual AS (
      |  SELECT a.dst AS v, a.src AS u
      |  FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src)
      |SELECT n.node, LEAST(n.node, coalesce(MIN(m.u), n.node)) AS scc_id
      |FROM nodes n LEFT JOIN mutual m ON m.v = n.node
      |GROUP BY n.node ORDER BY n.node""".stripMargin

  /** k-core peeling ([[graft.pipeline.GraphOps.kCore]]) on
    * [[sampledCoParts]] — the full co-supplier graph is a dense
    * supplier-clique union whose min degree sits far above any useful k
    * (nothing peels); keeping ~0.7 % of edges yields a sparse random
    * graph near the k=4 core threshold, where peeling genuinely
    * CASCADES: 4 rounds of real deletions before the fixed point, so the
    * gate exercises the iterated recomputation, not one filter.
    * Integer-exact like graph_lpa. */
  private val KcK = 4
  private val KcRounds = 4

  private def kcoreQ(s: SparkSession, d: String): DataFrame =
    graft.pipeline.GraphOps
      .kCore(sampledCoParts(s, d), "u", "v", k = KcK, rounds = KcRounds)
      .orderBy(col("node"))

  private val kcoreSql = {
    def round_(prev: String, deg: String, keep: String, out: String) =
      s"""$deg AS (SELECT src, COUNT(*) AS c FROM $prev GROUP BY src),
         |$keep AS (SELECT src FROM $deg WHERE c >= $KcK),
         |$out AS (
         |  SELECT e.src, e.dst FROM $prev e
         |  JOIN $keep a ON a.src = e.src
         |  JOIN $keep b ON b.src = e.dst)"""
    s"""WITH $sampledCoPartsSql,
       |sym AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT u AS src, v AS dst FROM sampled
       |    UNION ALL SELECT v, u FROM sampled)),
       |${round_("sym", "d1", "k1", "e1")},
       |${round_("e1", "d2", "k2", "e2")},
       |${round_("e2", "d3", "k3", "e3")},
       |${round_("e3", "d4", "k4", "e4")}
       |SELECT src AS node, COUNT(*) AS deg FROM e4
       |GROUP BY src ORDER BY node""".stripMargin
  }

  /** Q45: windowed EWMA ([[graft.operators.Ewma.smooth]]) per event
    * type over the trailing 8 observations at alpha = 0.5 — a DYADIC
    * alpha, so every weight (1-alpha)^j is an exact binary double and
    * the whole computation carries zero transcendental risk. The oracle
    * collects the identical window frame with DuckDB's list() OVER and
    * replays the two sequential folds term by term. */
  private val EwmaAlpha = 0.5
  private val EwmaWindow = 8

  private def ewmaQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Ewma.smooth(
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
            expr("unix_micros(ts)").as("__us")),
        "event_type", "__us", "event_id", "value",
        alpha = EwmaAlpha, window = EwmaWindow)
      .select(col("event_id"), col("event_type"), col("value"), col("ewma"))
      .orderBy(col("event_id"))

  private val ewmaSql =
    s"""WITH src AS (
       |  SELECT event_id, event_type, value, epoch_us(ts) AS us
       |  FROM events WHERE value IS NOT NULL),
       |fr AS (
       |  SELECT event_id, event_type, value,
       |    list(value) OVER (PARTITION BY event_type ORDER BY us, event_id
       |      ROWS BETWEEN ${EwmaWindow - 1} PRECEDING AND CURRENT ROW) AS a
       |  FROM src)
       |SELECT event_id, event_type, value,
       |  round(
       |    list_sum(list_transform(range(1, len(a) + 1),
       |      i -> a[i] * pow(${1.0 - EwmaAlpha}, len(a) - i))) /
       |    list_sum(list_transform(range(1, len(a) + 1),
       |      i -> pow(${1.0 - EwmaAlpha}, len(a) - i))), 9) AS ewma
       |FROM fr ORDER BY event_id""".stripMargin

  /** Local clustering coefficients
    * ([[graft.pipeline.GraphOps.clusteringCoefficients]]) on the SAME
    * [[coParts]] graph as [[trianglesQ]] — its oriented-wedge triangle
    * counts divided into each node's neighbor-pair count. The oracle
    * reuses the direct triple-join triangle enumeration plus a degree
    * CTE; the deg-1 zero convention and absent-triangle zeros are both
    * exercised. */
  private def clusteringQ(s: SparkSession, d: String): DataFrame =
    graft.pipeline.GraphOps
      .clusteringCoefficients(coParts(partSuppPairs(s, d, Some(300))), "u", "v")
      .orderBy(col("node"))

  private val clusteringSql =
    s"""WITH ${partSuppPairsSql(Some(300))},
       |$coPartsSql,
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM coparts e1
       |  JOIN coparts e2 ON e2.u = e1.v
       |  JOIN coparts e3 ON e3.u = e1.u AND e3.v = e2.v),
       |tcnt AS (
       |  SELECT node, COUNT(*) AS n_tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node),
       |deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM coparts UNION ALL SELECT v FROM coparts)
       |  GROUP BY node)
      |SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
      |  CASE WHEN d.deg >= 2
      |       THEN round(2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1)), 9)
      |       ELSE 0.0 END AS cc
      |FROM deg d LEFT JOIN tcnt t ON t.node = d.node
      |ORDER BY d.node""".stripMargin

  /** Q47: exact WEIGHTED quantiles
    * ([[graft.operators.Quantiles.weightedExact]]) of l_extendedprice
    * under l_quantity mass — INTEGER weights, so every cumulative sum is
    * exact in a double and the inverted-CDF crossing row is
    * engine-portable bit-for-bit. The oracle mirrors with a window
    * cumsum in value order; the unweighted q50 rides along to show the
    * weighting actually moves the statistic. */
  private val WqQs = Seq(0.25, 0.5, 0.75, 0.9)

  private def weightedQuantQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ws = graft.operators.Quantiles
      .weightedExact(li, "l_extendedprice", "l_quantity", WqQs)
    val Seq(u50) = graft.operators.Quantiles
      .exact(li.filter(col("l_quantity").isNotNull && col("l_quantity") > 0),
        "l_extendedprice", Seq(0.5), interpolation = "lower")
    s.range(1).select(
      round(lit(ws(0)), 4).as("wq25"),
      round(lit(ws(1)), 4).as("wq50"),
      round(lit(ws(2)), 4).as("wq75"),
      round(lit(ws(3)), 4).as("wq90"),
      round(lit(u50), 4).as("uq50"))
  }

  private val weightedQuantSql =
    s"""WITH src AS (
       |  SELECT CAST(l_extendedprice AS DOUBLE) AS v,
       |    CAST(l_quantity AS DOUBLE) AS w
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
       |    AND l_quantity > 0),
       |tot AS (SELECT SUM(w) AS wt FROM src),
       |c AS (
       |  SELECT v, SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM src)
       |SELECT
       |  round((SELECT MIN(v) FROM c, tot
       |         WHERE cum >= CAST(0.25 AS DOUBLE) * wt), 4) AS wq25,
       |  round((SELECT MIN(v) FROM c, tot
       |         WHERE cum >= CAST(0.5 AS DOUBLE) * wt), 4) AS wq50,
       |  round((SELECT MIN(v) FROM c, tot
       |         WHERE cum >= CAST(0.75 AS DOUBLE) * wt), 4) AS wq75,
       |  round((SELECT MIN(v) FROM c, tot
       |         WHERE cum >= CAST(0.9 AS DOUBLE) * wt), 4) AS wq90,
       |  round((SELECT v FROM (
       |    SELECT v, row_number() OVER (ORDER BY v) AS rn,
       |      COUNT(*) OVER () AS n FROM src) t
       |    WHERE rn - 1 = CAST(floor((n - 1) * 0.5) AS BIGINT)
       |    LIMIT 1), 4) AS uq50""".stripMargin

  /** Q47b: grouped weighted quantiles
    * ([[graft.operators.Quantiles.weightedExactGrouped]]) per return
    * flag — the windowed single-exchange form of q47's inverted CDF.
    * The oracle mirrors the running-weight window and the
    * min-of-qualifying-suffix selection per quantile. */
  private def weightedQuantGroupedQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Quantiles
      .weightedExactGrouped(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.9))
      .select(col("l_returnflag"),
        round(col("q0"), 4).as("wq25"),
        round(col("q1"), 4).as("wq50"),
        round(col("q2"), 4).as("wq90"))
      .orderBy(col("l_returnflag"))

  private val weightedQuantGroupedSql =
    """WITH src AS (
      |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
      |    CAST(l_quantity AS DOUBLE) AS w
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |    AND l_quantity > 0),
      |c AS (
      |  SELECT g, v, w,
      |    SUM(w) OVER (PARTITION BY g ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(w) OVER (PARTITION BY g) AS wt
      |  FROM src)
      |SELECT g AS l_returnflag,
      |  round(MIN(v) FILTER (WHERE cum >= CAST(0.25 AS DOUBLE) * wt), 4)
      |    AS wq25,
      |  round(MIN(v) FILTER (WHERE cum >= CAST(0.5 AS DOUBLE) * wt), 4)
      |    AS wq50,
      |  round(MIN(v) FILTER (WHERE cum >= CAST(0.9 AS DOUBLE) * wt), 4)
      |    AS wq90
      |FROM c GROUP BY g ORDER BY g""".stripMargin

  /** Q48: sketch-based audience overlap — the classic
    * audience-intersection estimate from mergeable distinct sketches via
    * inclusion–exclusion: `|A∩B| = est(A) + est(B) − est(A∪B)`, where
    * the union estimate comes from MERGING the two stored sketches, not
    * from rescanning the data (the whole point at 100 TB: per-segment
    * sketches are tiny persisted artifacts — the q39 incremental-HLL
    * story — and every pairwise overlap is sketch algebra). Audiences
    * are users with a high-value event per type (everyone triggers every
    * type on this corpus, so raw type audiences would be degenerate).
    * The gate runs inside the sketch's EXACT tier at every driver SF, so
    * the DuckDB COUNT(DISTINCT) inclusion–exclusion oracle matches
    * exactly — the q39/q27e trick. */
  private val OvThreshold = 95.0

  private def sketchOverlapQ(s: SparkSession, d: String): DataFrame = {
    import graft.functions.expr.{DistinctSketchEstimate, DistinctSketchSingleton, SketchUnionAgg}
    // the serialized-STATE path (singleton → union), not the plain
    // distinct-count aggregate: the stored binary is what sketch algebra
    // needs (the HyperBall ball pattern)
    val sk = Tables.events(s, d)
      .filter(col("value") >= OvThreshold)
      .groupBy(col("event_type"))
      .agg(SketchUnionAgg(
        DistinctSketchSingleton(xxhash64(col("user_id")))).as("sk"))
      .select(col("event_type"), col("sk"),
        DistinctSketchEstimate(col("sk")).as("n"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"),
      col("n").as("n_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"),
      col("n").as("n_b"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        explode(array(col("ska"), col("skb"))).as("s"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        SketchUnionAgg(col("s")).as("u"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        DistinctSketchEstimate(col("u")).as("n_union"))
      .withColumn("n_common", col("n_a") + col("n_b") - col("n_union"))
      .orderBy(col("type_a"), col("type_b"))
  }

  private val sketchOverlapSql =
    s"""WITH du AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |  WHERE value >= $OvThreshold),
       |c AS (
       |  SELECT event_type, COUNT(*) AS n FROM du GROUP BY event_type),
       |ov AS (
       |  SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS n_common
       |  FROM du x JOIN du y
       |    ON y.user_id = x.user_id AND x.event_type < y.event_type
       |  GROUP BY 1, 2)
       |SELECT c1.event_type AS type_a, c2.event_type AS type_b,
       |  c1.n AS n_a, c2.n AS n_b,
       |  c1.n + c2.n - COALESCE(ov.n_common, 0) AS n_union,
       |  COALESCE(ov.n_common, 0) AS n_common
       |FROM c c1
       |JOIN c c2 ON c1.event_type < c2.event_type
       |LEFT JOIN ov ON ov.ta = c1.event_type AND ov.tb = c2.event_type
       |ORDER BY type_a, type_b""".stripMargin

  /** Degree assortativity ([[graft.pipeline.GraphOps.assortativity]]) on
    * the SAME [[sampledCoParts]] graph as [[kcoreQ]] (the full
    * co-occurrence graph is near-regular — zero marginal variance, NULL
    * by convention — while the sampled one has real degree spread). All
    * moment sums are exact decimal sums of integers, so the single
    * rounded correlation expression is the only IEEE step. */
  private def assortQ(s: SparkSession, d: String): DataFrame =
    graft.pipeline.GraphOps.assortativity(sampledCoParts(s, d), "u", "v")

  private val assortSql =
    s"""WITH $sampledCoPartsSql,
       |sym AS (
       |  SELECT u AS src, v AS dst FROM sampled
       |  UNION ALL SELECT v, u FROM sampled),
       |deg AS (SELECT src AS node, COUNT(*) AS dg FROM sym GROUP BY 1),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(CAST(a.dg AS DECIMAL(38,0))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(b.dg AS DECIMAL(38,0))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(a.dg * a.dg AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(b.dg * b.dg AS DECIMAL(38,0))) AS DOUBLE) AS syy,
       |    CAST(SUM(CAST(a.dg * b.dg AS DECIMAL(38,0))) AS DOUBLE) AS sxy
       |  FROM sym
       |  JOIN deg a ON a.node = sym.src
       |  JOIN deg b ON b.node = sym.dst)
       |SELECT n AS n_edges,
       |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
       |       THEN round((n * sxy - sx * sy) /
       |         sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
       |  END AS assortativity
       |FROM m""".stripMargin

  /** Q46: EWMA-baseline anomaly flags ([[graft.operators.Ewma.anomalies]])
    * on the SAME stream/params as [[ewmaQ]] with the current row
    * excluded from its own baseline; k = 2 keeps a real population of
    * anomalies on this data. The oracle replays the shifted frame with
    * DuckDB's lateral column aliases (m referenced by s in one SELECT). */
  private val AnomK = 2.0
  private val AnomMinObs = 4

  private def anomalyQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Ewma.anomalies(
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
            expr("unix_micros(ts)").as("__us")),
        "event_type", "__us", "event_id", "value",
        alpha = EwmaAlpha, window = EwmaWindow, k = AnomK, minObs = AnomMinObs)
      .select(col("event_id"), col("event_type"), col("value"),
        col("score"), col("anomaly"))
      .orderBy(col("event_id"))

  private val anomalySql =
    s"""WITH src AS (
       |  SELECT event_id, event_type, value, epoch_us(ts) AS us
       |  FROM events WHERE value IS NOT NULL),
       |fr AS (
       |  SELECT event_id, event_type, value,
       |    list(value) OVER (PARTITION BY event_type ORDER BY us, event_id
       |      ROWS BETWEEN $EwmaWindow PRECEDING AND 1 PRECEDING) AS a
       |  FROM src),
       |c AS (
       |  SELECT event_id, event_type, value, len(a) AS na,
       |    list_sum(list_transform(range(1, len(a) + 1),
       |      i -> a[i] * pow(${1.0 - EwmaAlpha}, len(a) - i))) /
       |    list_sum(list_transform(range(1, len(a) + 1),
       |      i -> pow(${1.0 - EwmaAlpha}, len(a) - i))) AS m,
       |    sqrt(greatest(
       |      list_sum(list_transform(range(1, len(a) + 1),
       |        i -> a[i] * a[i] * pow(${1.0 - EwmaAlpha}, len(a) - i))) /
       |      list_sum(list_transform(range(1, len(a) + 1),
       |        i -> pow(${1.0 - EwmaAlpha}, len(a) - i))) - m * m, 0.0)) AS s
       |  FROM fr)
       |SELECT event_id, event_type, value,
       |  CASE WHEN na >= $AnomMinObs AND s > 0
       |       THEN round((value - m) / s, 6) END AS score,
       |  CASE WHEN na < $AnomMinObs THEN NULL
       |       WHEN s = 0 THEN value <> m
       |       ELSE abs(value - m) > $AnomK * s END AS anomaly
       |FROM c ORDER BY event_id""".stripMargin

  /** Declarative data-quality expectations
    * ([[graft.pipeline.Expectations]]): seven rules over `orders` judged
    * in ONE aggregation pass — including a deliberately failing
    * uniqueness rule (o_orderstatus has 3 values over 15 k rows), so the
    * gate covers the fail path, not just green checks. Uniqueness runs
    * on the exact-tier distinct sketch; the oracle mirrors every metric
    * with plain COUNT/COUNT(DISTINCT)/FILTER arithmetic. */
  private def expectationsQ(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Expectations._
    check(Tables.orders(s, d), Seq(
      NotNull("o_orderstatus"),
      Unique("o_orderkey"),
      Unique("o_orderstatus"), // fails: 3 distinct over the whole table
      InRange("o_totalprice", 0.0, 600000.0),
      Matches("o_orderpriority", "^[1-5]-"),
      IsIn("o_orderstatus", Seq("O", "F", "P")),
      MinRows(1000),
      // FK containment: every order's customer exists (passes); order
      // keys are NOT customer keys (fails loudly, second fail-path row)
      RefIntegrity("o_custkey", Tables.customer(s, d), "c_custkey"),
      RefIntegrity("o_orderkey", Tables.customer(s, d), "c_custkey"),
      // robust outliers: right-skewed prices put mass past 4 MADs, so
      // this rule FAILS with a real nonzero fraction (third fail path)
      Outliers("o_totalprice", k = 4.0)))
      .orderBy(col("rule"), col("column"))
  }

  private val expectationsSql =
    """WITH t AS (
      |  SELECT COUNT(*)::BIGINT AS n,
      |    COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS null_status,
      |    COUNT(o_orderkey) AS c_key, COUNT(DISTINCT o_orderkey) AS d_key,
      |    COUNT(o_orderstatus) AS c_st, COUNT(DISTINCT o_orderstatus) AS d_st,
      |    COUNT(o_totalprice) AS c_price,
      |    COUNT(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 600000)
      |      AS oor_price,
      |    COUNT(o_orderpriority) AS c_prio,
      |    COUNT(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-'))
      |      AS bad_prio,
      |    COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
      |      AS bad_st
      |  FROM orders),
      |rows0 AS (
      |  SELECT 'not_null' AS rule, 'o_orderstatus' AS "column",
      |    CASE WHEN n = 0 THEN 0.0 ELSE null_status::DOUBLE / n END AS metric,
      |    0.0 AS threshold FROM t
      |  UNION ALL
      |  SELECT 'unique', 'o_orderkey',
      |    CASE WHEN c_key = 0 THEN 0.0
      |         ELSE (c_key - d_key)::DOUBLE / c_key END, 0.0 FROM t
      |  UNION ALL
      |  SELECT 'unique', 'o_orderstatus',
      |    CASE WHEN c_st = 0 THEN 0.0
      |         ELSE (c_st - d_st)::DOUBLE / c_st END, 0.0 FROM t
      |  UNION ALL
      |  SELECT 'in_range', 'o_totalprice',
      |    CASE WHEN c_price = 0 THEN 0.0
      |         ELSE oor_price::DOUBLE / c_price END, 0.0 FROM t
      |  UNION ALL
      |  SELECT 'matches', 'o_orderpriority',
      |    CASE WHEN c_prio = 0 THEN 0.0
      |         ELSE bad_prio::DOUBLE / c_prio END, 0.0 FROM t
      |  UNION ALL
      |  SELECT 'is_in', 'o_orderstatus',
      |    CASE WHEN c_st = 0 THEN 0.0
      |         ELSE bad_st::DOUBLE / c_st END, 0.0 FROM t
      |  UNION ALL
      |  SELECT 'min_rows', '*',
      |    greatest(0.0, 1000.0 - n), 0.0 FROM t
      |  UNION ALL
      |  SELECT 'ref_integrity', 'o_custkey',
      |    (SELECT COUNT(*) FILTER (WHERE c.c_custkey IS NULL)::DOUBLE /
      |            COUNT(*)
      |     FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      |     WHERE o.o_custkey IS NOT NULL), 0.0
      |  UNION ALL
      |  SELECT 'ref_integrity', 'o_orderkey',
      |    (SELECT COUNT(*) FILTER (WHERE c.c_custkey IS NULL)::DOUBLE /
      |            COUNT(*)
      |     FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_orderkey
      |     WHERE o.o_orderkey IS NOT NULL), 0.0
      |  UNION ALL
      |  SELECT 'outliers', 'o_totalprice',
      |    (WITH p AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |                WHERE o_totalprice IS NOT NULL),
      |          med AS (SELECT quantile_cont(v, 0.5) AS m FROM p),
      |          mad AS (SELECT quantile_cont(abs(p.v - med.m), 0.5) AS d
      |                  FROM p CROSS JOIN med)
      |     SELECT COUNT(*) FILTER (WHERE CASE WHEN mad.d = 0
      |              THEN abs(p.v - med.m) > 0
      |              ELSE abs(p.v - med.m) > 4.0 * mad.d END)::DOUBLE
      |            / COUNT(*)
      |     FROM p CROSS JOIN med CROSS JOIN mad), 0.0)
      |SELECT rule, "column", metric, threshold, (metric <= threshold) AS pass
      |FROM rows0 ORDER BY rule, "column"""".stripMargin

  /** BPE vocabulary training + tokenization gate
    * ([[graft.pipeline.Bpe]]): 16 merges learned on the documents
    * corpus (gate-volume cap, dedup_fuzzy precedent — each merge round
    * is a sequential aggregate, so rounds are the gate's cost knob),
    * then the corpus re-tokenized at 0/8/16 merges. The emitted flags
    * are REAL computations with a constant oracle (the recall-gate
    * pattern): `lossless_ok` = every document's token concatenation
    * reproduces its whitespace-normalized text; `monotone_ok` = total
    * token count never increases as merges apply and strictly shrinks
    * by 16. */
  private val BpeMerges = 16

  private def bpeQ(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Bpe
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val merges = Bpe.train(docs, "text", nMerges = BpeMerges)
    def total(m: Seq[(String, String)]): Long =
      Bpe.tokenize(docs, "text", m)
        .agg(sum(col("n_tokens"))).head().getLong(0)
    val t0 = total(Seq.empty)
    val t10 = total(merges.take(8))
    val t20 = total(merges)
    val t30 = t20
    val lossless = graft.pipeline.Bpe.tokenize(docs, "text", merges)
      .select((concat_ws("", col("tokens")) ===
        concat(regexp_replace(trim(col("text")), "\\s+", Bpe.Eow),
          lit(Bpe.Eow))).cast("int").as("ok"))
      .agg(coalesce(min(col("ok")), lit(0))).head().getInt(0)
    val monotone =
      if (t0 >= t10 && t10 >= t20 && t20 >= t30 && t30 < t0) 1 else 0
    s.range(1).select(
      lit(merges.length).as("n_merges"),
      lit(lossless).as("lossless_ok"),
      lit(monotone).as("monotone_ok"))
  }

  private val bpeSql =
    s"SELECT $BpeMerges AS n_merges, 1 AS lossless_ok, 1 AS monotone_ok"

  /** Windowed expectations ([[graft.pipeline.Expectations.checkWindowed]]):
    * the same rule engine judged per event-time day — continuous
    * data-quality monitoring, identical code on a batch frame and a
    * watermarked stream (StreamingSpec asserts that parity). The
    * in-range rule's nonzero violation fractions and the failing
    * per-window user uniqueness keep both metric paths honest. */
  private def expectationsWindowedQ(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.Expectations._
    checkWindowed(Tables.events(s, d), "ts", "1 day", Seq(
      NotNull("value"),
      InRange("value", 0.0, 100.0, threshold = 0.8),
      IsIn("event_type", Seq("click", "signup", "error", "view", "purchase")),
      Unique("event_id"),
      Unique("user_id"))) // fails: users repeat within a day
      .orderBy(col("ws"), col("rule"), col("column"))
  }

  private val expectationsWindowedSql =
    """WITH t AS (
      |  SELECT time_bucket(INTERVAL 1 DAY, ts) AS ws,
      |    COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE value IS NULL) AS null_v,
      |    COUNT(value) AS c_v,
      |    COUNT(*) FILTER (WHERE value < 0 OR value > 100) AS oor_v,
      |    COUNT(event_type) AS c_t,
      |    COUNT(*) FILTER (WHERE event_type NOT IN
      |      ('click', 'signup', 'error', 'view', 'purchase')) AS bad_t,
      |    COUNT(event_id) AS c_e, COUNT(DISTINCT event_id) AS d_e,
      |    COUNT(user_id) AS c_u, COUNT(DISTINCT user_id) AS d_u
      |  FROM events GROUP BY 1),
      |rows0 AS (
      |  SELECT ws, 'not_null' AS rule, 'value' AS "column",
      |    CASE WHEN n = 0 THEN 0.0 ELSE null_v::DOUBLE / n END AS metric,
      |    0.0 AS threshold FROM t
      |  UNION ALL
      |  SELECT ws, 'in_range', 'value',
      |    CASE WHEN c_v = 0 THEN 0.0 ELSE oor_v::DOUBLE / c_v END, 0.8 FROM t
      |  UNION ALL
      |  SELECT ws, 'is_in', 'event_type',
      |    CASE WHEN c_t = 0 THEN 0.0 ELSE bad_t::DOUBLE / c_t END, 0.0 FROM t
      |  UNION ALL
      |  SELECT ws, 'unique', 'event_id',
      |    CASE WHEN c_e = 0 THEN 0.0
      |         ELSE (c_e - d_e)::DOUBLE / c_e END, 0.0 FROM t
      |  UNION ALL
      |  SELECT ws, 'unique', 'user_id',
      |    CASE WHEN c_u = 0 THEN 0.0
      |         ELSE (c_u - d_u)::DOUBLE / c_u END, 0.0 FROM t)
      |SELECT ws, ws + INTERVAL 1 DAY AS we, rule, "column", metric,
      |  threshold, (metric <= threshold) AS pass
      |FROM rows0 ORDER BY ws, rule, "column"""".stripMargin

  /** Q43: regular-grid resampling with linear interpolation
    * ([[graft.operators.Resample]]): per event type, a 2-hour grid over
    * the observed span, each point interpolated between its bracketing
    * events within a 4-hour gap horizon (outside → NULL). The oracle
    * mirrors the two bounded as-of joins as range joins with the same
    * tie rules and the identical microsecond long arithmetic. */
  private def resampleQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Resample.linear(
        Tables.events(s, d), "event_type", "ts", "value", "event_id",
        step = "2 hours", maxGap = "4 hours")
      .select(col("event_type"), col("g"), round(col("value"), 6).as("value"))
      .orderBy(col("event_type"), col("g"))

  private val resampleSql =
    """WITH b AS (
      |  SELECT event_type, min(ts) AS mn, max(ts) AS mx
      |  FROM events GROUP BY 1),
      |grid AS (
      |  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 2 HOUR)) AS g
      |  FROM b),
      |bk AS (
      |  SELECT event_type, g, tb, vb FROM (
      |    SELECT gr.event_type, gr.g, e.ts AS tb, e.value AS vb,
      |      row_number() OVER (PARTITION BY gr.event_type, gr.g
      |                         ORDER BY e.ts DESC, e.event_id DESC) AS rn
      |    FROM grid gr JOIN events e
      |      ON e.event_type = gr.event_type
      |     AND e.ts <= gr.g AND e.ts >= gr.g - INTERVAL 4 HOUR)
      |  WHERE rn = 1),
      |fw AS (
      |  SELECT event_type, g, tf, vf FROM (
      |    SELECT gr.event_type, gr.g, e.ts AS tf, e.value AS vf,
      |      row_number() OVER (PARTITION BY gr.event_type, gr.g
      |                         ORDER BY e.ts ASC, e.event_id ASC) AS rn
      |    FROM grid gr JOIN events e
      |      ON e.event_type = gr.event_type
      |     AND e.ts >= gr.g AND e.ts <= gr.g + INTERVAL 4 HOUR)
      |  WHERE rn = 1)
      |SELECT gr.event_type AS event_type, gr.g AS g,
      |  round(CASE WHEN bk.tb IS NOT NULL AND fw.tf IS NOT NULL THEN
      |    CASE WHEN fw.tf = bk.tb THEN bk.vb
      |         ELSE bk.vb + (fw.vf - bk.vb) *
      |              ((epoch_us(gr.g) - epoch_us(bk.tb)) /
      |               (epoch_us(fw.tf) - epoch_us(bk.tb))) END
      |  END, 6) AS value
      |FROM grid gr
      |LEFT JOIN bk ON bk.event_type = gr.event_type AND bk.g = gr.g
      |LEFT JOIN fw ON fw.event_type = gr.event_type AND fw.g = gr.g
      |ORDER BY gr.event_type, gr.g""".stripMargin

  val caps: Seq[Capability] = Seq(
    Capability("events_funnel",
      "ordered multi-stage funnel conversion (one exchange for all stages)",
      funnel, Some(funnelSql)),
    Capability("q49_interarrival",
      "inter-arrival time profile per type: integer-exact gap quantiles",
      interarrivalQ, Some(interarrivalSql)),
    Capability("events_funnel_latency",
      "funnel time-to-convert: per-transition count + integer-exact p50/p90 latency",
      funnelLatencyQ, Some(funnelLatencySql)),
    Capability("profile_stats",
      "one-pass column profiling: nulls, exact distincts, typed min/max",
      profile, Some(profileSql)),
    Capability("profile_stats_sketch",
      "profiling twin via mergeable distinct sketches (no Expand, bounded state)",
      profileSketch, Some(profileSql)),
    Capability("dedup_fuzzy",
      "blocked Levenshtein record linkage (prefix blocks, no all-pairs)",
      fuzzy, Some(fuzzySql)),
    Capability("dedup_fuzzy_jw",
      "Jaro-Winkler linkage tier (native codegen metric, same blocks)",
      fuzzyJw, Some(fuzzyJwSql)),
    Capability("dedup_fuzzy_dl",
      "full Damerau-Levenshtein linkage tier (transposition-aware, same blocks)",
      fuzzyDl, Some(fuzzyDlSql)),
    Capability("profile_histogram",
      "equal-width histogram via broadcast bounds (no driver round-trip)",
      histogram, Some(histogramSql)),
    Capability("profile_benford",
      "Benford first-digit audit: exact-cents digit, per-digit chi2 terms",
      benford, Some(benfordSql)),
    Capability("orders_rfm",
      "RFM segmentation: integer-rank quintile scores over the customer rollup",
      rfm, Some(rfmSql)),
    Capability("profile_outliers",
      "robust per-group outliers: |value - median| > 6 MAD (50% breakdown)",
      outliers, Some(outliersSql)),
    Capability("events_cohorts",
      "weekly cohort retention (first-seen week x return-week offset)",
      cohorts, Some(cohortsSql)),
    Capability("events_transitions",
      "first-order event-transition matrix (counts + row-stochastic probabilities)",
      transitions, Some(transitionsSql)),
    Capability("profile_eq_histogram",
      "equi-height histogram on exact decile edges (skew-adaptive bins)",
      eqHistogram, Some(eqHistogramSql)),
    Capability("graph_pagerank",
      "damped PageRank, 3 exact-decimal iterations (link-authority scoring)",
      pagerank, Some(pagerankSql), bench = true),
    Capability("graph_harmonic",
      "HyperBall harmonic centrality: sketch-ball iteration, exact at gate tier",
      harmonic, Some(harmonicSql)),
    Capability("graph_triangles",
      "per-node triangle counts via degree-ordered orientation (hub-safe wedges)",
      trianglesQ, Some(trianglesSql)),
    Capability("graph_link_predict",
      "link prediction: common-neighbor/Adamic-Adar/resource-alloc/Jaccard pairs",
      linkPredictQ, Some(linkPredictSql)),
    Capability("graph_modularity",
      "Newman modularity of the nation partition (integer-exact, one division)",
      modularityQ, Some(modularitySql)),
    Capability("graph_hits",
      "HITS hubs & authorities: 2 L1-normalized mutual-recursion iterations",
      hitsQ, Some(hitsSql)),
    Capability("graph_lpa",
      "synchronous min-tie-break label propagation (integer-exact communities)",
      lpaQ, Some(lpaSql)),
    Capability("graph_clustering",
      "local clustering coefficients: oriented-wedge triangles / neighbor pairs",
      clusteringQ, Some(clusteringSql)),
    Capability("q48_sketch_overlap",
      "audience overlap by sketch algebra: inclusion-exclusion over merged sketches",
      sketchOverlapQ, Some(sketchOverlapSql)),
    Capability("graph_assortativity",
      "degree assortativity: Pearson over edge endpoint degrees (exact moments)",
      assortQ, Some(assortSql)),
    Capability("graph_kcore",
      s"k-core peeling (k=$KcK): $KcRounds cascading rounds on a sampled sparse graph",
      kcoreQ, Some(kcoreSql)),
    Capability("graph_scc",
      "strongly connected components (FW-BW coloring) vs a transitive-closure oracle",
      sccQ, Some(sccSql)),
    Capability("q47_weighted_quantiles",
      "exact weighted quantiles: inverted-CDF rank selection under row mass",
      weightedQuantQ, Some(weightedQuantSql)),
    Capability("q47b_grouped_weighted_quantiles",
      "grouped weighted quantiles: one windowed exchange, min-of-suffix selection",
      weightedQuantGroupedQ, Some(weightedQuantGroupedSql)),
    Capability("q45_ewma",
      "windowed EWMA per key: trailing-8 exponential smoothing at dyadic alpha",
      ewmaQ, Some(ewmaSql)),
    Capability("q46_anomaly",
      "EWMA-baseline anomaly flags: z-score vs the preceding-window mean/std",
      anomalyQ, Some(anomalySql)),
    Capability("graph_ppr",
      "personalized PageRank: teleport + dangling mass land on a seed set only",
      ppr, Some(pprSql)),
    Capability("graph_wpr",
      "weighted PageRank: rank splits over out-edges by edge weight",
      wpr, Some(wprSql)),
    Capability("pipeline_expectations",
      "declarative data-quality rules judged in one aggregation pass",
      expectationsQ, Some(expectationsSql)),
    Capability("pipeline_bpe",
      "BPE vocabulary training + lossless tokenization (monotone compression gate)",
      bpeQ, Some(bpeSql)),
    Capability("q43_resample",
      "regular-grid time-series resampling with linear interpolation (as-of composed)",
      resampleQ, Some(resampleSql)),
    Capability("pipeline_expectations_windowed",
      "per-event-time-window data-quality rules (continuous monitoring)",
      expectationsWindowedQ, Some(expectationsWindowedSql)),
  )
}
