package graft.queries

import graft.{Capability, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function-surface capabilities Q14–Q18 (SURVEY.md §2.2): string,
  * temporal, math/rounding, conditional/null, and cast kernels. All map to
  * codegen'd `org.apache.spark.sql.functions._` builtins — the Spark
  * analogue of the reference's ~300-kernel compute registry
  * (reference: docs/source/cpp/compute.rst; kernels in
  * cpp/src/arrow/compute/kernels/).
  *
  * Oracle-parity notes baked into the queries:
  *  - DuckDB `dayofweek` is 0-based (Sunday=0); Spark is 1-based → oracle
  *    adds 1.
  *  - DuckDB `CAST(double AS INT)` rounds; Spark truncates → oracle uses
  *    TRUNC before the cast.
  *  - libm results (ln/exp/log10) can differ in the last ulp across
  *    engines → rounded to 6 decimals on both sides.
  */
object FunctionQueries {

  /** Q14: string kernel battery over `part`. */
  private def q14(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      lower(col("p_type")).as("lo"),
      upper(col("p_name")).as("up"),
      initcap(col("p_name")).as("cap"),
      substring(col("p_name"), 1, 6).as("sub"),
      length(col("p_name")).as("len"),
      element_at(split(col("p_name"), " "), 1).as("tok1"),
      element_at(split(col("p_name"), " "), -1).as("tok_last"),
      lpad(col("p_brand"), 12, "*").as("pad"),
      rtrim(rpad(col("p_brand"), 12, " ")).as("trimmed"),
      reverse(col("p_type")).as("rev"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("repl"),
      regexp_extract(col("p_name"), "([a-z]+)", 1).as("firstword"),
      col("p_type").like("%ECO%").as("is_eco"),
      col("p_name").startsWith("small").as("sw"),
      col("p_name").endsWith("bolt").as("ew"),
      col("p_name").contains("widget").as("has_widget"),
      concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
      repeat(col("p_brand"), 2).as("rep2"))
      .orderBy(col("p_partkey"))

  // DuckDB 1.0 has no initcap; the oracle reproduces it with a per-word
  // list transform.
  private val q14Sql =
    """SELECT p_partkey,
      |  lower(p_type) AS lo,
      |  upper(p_name) AS up,
      |  array_to_string(list_transform(string_split(p_name, ' '),
      |      w -> concat(upper(w[1:1]), lower(w[2:]))), ' ') AS cap,
      |  substring(p_name, 1, 6) AS sub,
      |  length(p_name) AS len,
      |  split_part(p_name, ' ', 1) AS tok1,
      |  list_extract(string_split(p_name, ' '), len(string_split(p_name, ' '))) AS tok_last,
      |  lpad(p_brand, 12, '*') AS pad,
      |  rtrim(rpad(p_brand, 12, ' ')) AS trimmed,
      |  reverse(p_type) AS rev,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS repl,
      |  regexp_extract(p_name, '([a-z]+)', 1) AS firstword,
      |  p_type LIKE '%ECO%' AS is_eco,
      |  starts_with(p_name, 'small') AS sw,
      |  p_name LIKE '%bolt' AS ew,
      |  contains(p_name, 'widget') AS has_widget,
      |  concat_ws('|', p_brand, p_type) AS joined,
      |  repeat(p_brand, 2) AS rep2
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Q14b: the rest of the reference's string surface (compute.rst
    * §961-1286): character-class predicates, center-pad, replace_slice
    * (overlay), count/find_substring, translate, left/right slices,
    * ascii/chr codes, zero-fill, substring_index, is_in. Where DuckDB
    * lacks the builtin (overlay, substring_index) the oracle reproduces
    * it from primitives — a genuine differential check, not an echo. */
  private def q14b(s: SparkSession, d: String): DataFrame = {
    val name = col("p_name")
    val brand = col("p_brand")
    Tables.part(s, d).select(
      col("p_partkey"),
      name.rlike("^[a-z ]+$").as("is_lower_alpha"),
      substring(name, 1, 1).rlike("^[aeiou]").as("starts_vowel"),
      // center to width 20: lpad by half the slack, then rpad to width
      expr("rpad(lpad(p_brand, cast(length(p_brand) + floor((20 - length(p_brand)) / 2) as int), '.'), 20, '.')")
        .as("centered"),
      overlay(brand, lit("XX"), lit(3), lit(2)).as("replaced_slice"),
      ((length(name) - length(regexp_replace(name, "a", "")))).as("count_a"),
      locate("al", name).as("find_al"),
      translate(col("p_type"), "AEIOU", "aeiou").as("transl"),
      expr("left(p_name, 3)").as("l3"),
      expr("right(p_name, 3)").as("r3"),
      ascii(substring(name, 1, 1)).as("first_code"),
      expr("char(65 + p_partkey % 26)").as("letter"),
      lpad(col("p_size").cast("string"), 5, "0").as("zero_filled"),
      substring_index(name, " ", 2).as("first_two_words"),
      brand.isin("Brand#1", "Brand#13", "Brand#20").as("in_set"),
      // swapcase: native codegen expression (no Spark builtin); the
      // oracle reproduces it with an ASCII-alphabet translate
      graft.functions.expr.SwapCase(brand).as("swapped"),
      // extract_regex(_span) multi-match surface: all alpha runs, joined
      // (also exercises binary_join = array_join)
      array_join(regexp_extract_all(name, lit("[a-z]+"), lit(0)), "|").as("alpha_runs"),
      // Arrow `capitalize` (first char upper, REST lower — distinct from
      // initcap/title which capitalize every word)
      concat(upper(substring(name, 1, 1)), lower(substring(name, 2, 1000000)))
        .as("capitalized"))
      .orderBy(col("p_partkey"))
  }

  private val q14bSql =
    """SELECT p_partkey,
      |  regexp_full_match(p_name, '[a-z ]+') AS is_lower_alpha,
      |  regexp_matches(substring(p_name, 1, 1), '^[aeiou]') AS starts_vowel,
      |  rpad(lpad(p_brand, CAST(length(p_brand) + FLOOR((20 - length(p_brand)) / 2) AS INT), '.'), 20, '.') AS centered,
      |  substring(p_brand, 1, 2) || 'XX' || substring(p_brand, 5) AS replaced_slice,
      |  length(p_name) - length(replace(p_name, 'a', '')) AS count_a,
      |  strpos(p_name, 'al') AS find_al,
      |  translate(p_type, 'AEIOU', 'aeiou') AS transl,
      |  left(p_name, 3) AS l3,
      |  right(p_name, 3) AS r3,
      |  ascii(substring(p_name, 1, 1)) AS first_code,
      |  chr(CAST(65 + p_partkey % 26 AS INT)) AS letter,
      |  lpad(CAST(p_size AS VARCHAR), 5, '0') AS zero_filled,
      |  array_to_string(string_split(p_name, ' ')[1:2], ' ') AS first_two_words,
      |  p_brand IN ('Brand#1', 'Brand#13', 'Brand#20') AS in_set,
      |  translate(p_brand,
      |    'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |    'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swapped,
      |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|') AS alpha_runs,
      |  upper(substring(p_name, 1, 1)) || lower(substring(p_name, 2)) AS capitalized
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Unicode fixture shared between the Spark query and the DuckDB oracle
    * (the same Scala literals are interpolated into both, so the two
    * engines parse byte-identical strings). */
  private val normFixture: Seq[(Int, String)] = Seq(
    1 -> "café", // decomposed e + combining acute
    2 -> "café", // precomposed é
    3 -> "ﬁle", // ﬁ ligature (compatibility-only decomposition)
    4 -> "½ cup", // vulgar fraction (compatibility-only)
    5 -> "Åb", // A + combining ring — composes to Å
    6 -> "ＡBC", // full-width A (compatibility-only)
    7 -> "straße", // ß — no canonical decomposition
    8 -> "plain ascii",
    9 -> "ẛ̣", // long-s + dot-above + dot-below (UAX#15 figure 6)
    10 -> "가", // Hangul syllable GA, precomposed
    11 -> "가", // Hangul Jamo G + A — NFC composes the syllable
    12 -> "ȩ́x") // out-of-order marks — NFC must reorder then compose

  /** Q14c: `utf8_normalize` kernel
    * (cpp/src/arrow/compute/kernels/scalar_string_utf8.cc UTF8NormalizeExec)
    * — NFC and accent stripping gated against DuckDB
    * `nfc_normalize`/`strip_accents`. strip = NFC ∘ drop-Mn ∘ NFD, which
    * is exactly utf8proc's strip_accents including Hangul recomposition;
    * NFD/NFKC/NFKD have no DuckDB counterpart and are asserted in
    * NormalizeSpec instead. */
  private def q14c(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val N = graft.functions.expr.NormalizeExpr
    normFixture.toDF("id", "s").select(
      col("id"), col("s"),
      N(col("s"), "NFC").as("nfc"),
      N(regexp_replace(N(col("s"), "NFD"), "\\p{Mn}+", ""), "NFC").as("stripped"),
      length(N(col("s"), "NFC")).as("nfc_len"))
      .orderBy(col("id"))
  }

  private val q14cSql = {
    val values = normFixture.map { case (i, s) => s"($i, '$s')" }.mkString(", ")
    s"""WITH fixture(id, s) AS (VALUES $values)
       |SELECT id, s, nfc_normalize(s) AS nfc, strip_accents(s) AS stripped,
       |  length(nfc_normalize(s)) AS nfc_len
       |FROM fixture ORDER BY id""".stripMargin
  }

  /** Q15: temporal extraction + arithmetic over `orders` dates. */
  private def q15(s: SparkSession, d: String): DataFrame = {
    val od = to_date(col("o_orderdate"))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      od.as("od"),
      year(od).as("y"),
      quarter(od).as("q"),
      month(od).as("m"),
      dayofmonth(od).as("dom"),
      dayofweek(od).as("dow"),
      dayofyear(od).as("doy"),
      weekofyear(od).as("wk"),
      datediff(od, lit(java.sql.Date.valueOf("1995-01-01"))).as("days_since"),
      // full elapsed months; base day is the 1st so Spark's timestampdiff
      // equals the plain year*12+month difference the oracle computes
      expr("timestampdiff(MONTH, DATE '1995-01-01', o_orderdate)").as("months_since"),
      add_months(od, 2).as("plus2m"),
      date_add(od, 7).as("plus7d"),
      trunc(od, "MM").as("month_start"),
      last_day(od).as("month_end"))
      .orderBy(col("o_orderkey"))
  }

  private val q15Sql =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS od,
      |  year(o_orderdate) AS y,
      |  quarter(o_orderdate) AS q,
      |  month(o_orderdate) AS m,
      |  day(o_orderdate) AS dom,
      |  dayofweek(o_orderdate) + 1 AS dow,
      |  dayofyear(o_orderdate) AS doy,
      |  weekofyear(o_orderdate) AS wk,
      |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
      |  (year(o_orderdate) * 12 + month(o_orderdate)) - (1995 * 12 + 1) AS months_since,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
      |  CAST(o_orderdate AS DATE) + 7 AS plus7d,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Q15b: time-of-day extraction over the microsecond-normalized `events.ts`
    * (ns→µs truncation matches DuckDB's TIMESTAMP_NS→TIMESTAMP cast). */
  private def q15b(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      col("ts"),
      hour(col("ts")).as("h"),
      minute(col("ts")).as("mi"),
      second(col("ts")).as("sec"),
      to_date(col("ts")).as("dt"),
      date_trunc("hour", col("ts")).as("ts_hour"),
      unix_timestamp(col("ts")).as("epoch_s"))
      .orderBy(col("event_id"))

  private val q15bSql =
    """SELECT event_id,
      |  CAST(ts AS TIMESTAMP) AS ts,
      |  hour(ts) AS h,
      |  minute(ts) AS mi,
      |  CAST(FLOOR(second(ts)) AS INT) AS sec,
      |  CAST(ts AS DATE) AS dt,
      |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
      |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s
      |FROM events ORDER BY event_id""".stripMargin

  /** Q15c: ISO calendar, leap years, days-in-month, strftime/strptime
    * round-trip, make_date (reference iso_week/iso_year/is_leap_year and
    * strftime/strptime kernels, compute.rst §1542-1622/§1393-1542).
    * Spark derives iso_year from "the year of this week's Thursday"
    * (no builtin), DuckDB uses isoyear() — a real differential check. */
  private def q15c(s: SparkSession, d: String): DataFrame = {
    val od = to_date(col("o_orderdate"))
    val isoDow = weekday(od) + 1 // Monday=1 .. Sunday=7
    Tables.orders(s, d).select(
      col("o_orderkey"),
      isoDow.as("iso_dow"),
      year(date_add(od, lit(4) - isoDow)).as("iso_year"),
      (dayofmonth(last_day(concat_ws("-", year(od), lit("02"), lit("01")).cast("date"))) === 29)
        .as("is_leap"),
      dayofmonth(last_day(od)).as("days_in_month"),
      date_format(od, "yyyy/MM/dd").as("formatted"),
      to_date(date_format(od, "yyyy/MM/dd"), "yyyy/MM/dd").as("parsed_rt"),
      make_date(year(od), month(od), lit(1)).as("made"))
      .orderBy(col("o_orderkey"))
  }

  private val q15cSql =
    """SELECT o_orderkey,
      |  CAST(isodow(o_orderdate) AS INT) AS iso_dow,
      |  CAST(isoyear(o_orderdate) AS INT) AS iso_year,
      |  day(last_day(make_date(CAST(year(o_orderdate) AS INT), 2, 1))) = 29 AS is_leap,
      |  CAST(day(last_day(CAST(o_orderdate AS DATE))) AS INT) AS days_in_month,
      |  strftime(o_orderdate, '%Y/%m/%d') AS formatted,
      |  CAST(strptime(strftime(o_orderdate, '%Y/%m/%d'), '%Y/%m/%d') AS DATE) AS parsed_rt,
      |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS made
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Q15d: timezone kernels (reference assume_timezone / local_timestamp,
    * compute.rst §1666-1699). Comparison in absolute microseconds so the
    * check is independent of both engines' session-timezone rendering:
    * assume = interpret the naive wall time in a zone (DST-sensitive —
    * the events span a year, so both offsets of each zone occur);
    * localize = shift a UTC instant to a zone's wall time. */
  private def q15d(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      unix_micros(to_utc_timestamp(col("ts"), "America/New_York")).as("assume_ny_us"),
      unix_micros(to_utc_timestamp(col("ts"), "Asia/Tokyo")).as("assume_tokyo_us"),
      unix_micros(from_utc_timestamp(col("ts"), "America/New_York")).as("local_ny_us"))
      .orderBy(col("event_id"))

  private val q15dSql =
    """SELECT event_id,
      |  epoch_us(timezone('America/New_York', CAST(ts AS TIMESTAMP))) AS assume_ny_us,
      |  epoch_us(timezone('Asia/Tokyo', CAST(ts AS TIMESTAMP))) AS assume_tokyo_us,
      |  epoch_us(CAST(timezone('America/New_York', CAST(ts AS TIMESTAMPTZ)) AS TIMESTAMP)) AS local_ny_us
      |FROM events ORDER BY event_id""".stripMargin

  /** Q15e: the temporal kernel tail — US epidemiological week/year and
    * is_dst (reference us_week/us_year/is_dst,
    * cpp/src/arrow/compute/kernels/scalar_temporal_unary.cc:482,697,
    * compute.rst §1542-1622).
    *
    * US epi calendar (scalar_temporal_unary.cc:475-479): weeks start
    * Sunday; epi year y begins on the Sunday that follows the last
    * Wednesday of December y-1 (so week 1 has ≥4 days in January); the
    * candidate year is `year(d + 3 days)`, decremented when d precedes
    * that year's start.
    *
    * is_dst (scalar_temporal_unary.cc:697): a zone observes DST at t iff
    * its UTC offset at t exceeds its standard offset — recovered
    * engine-portably as offset(t) > min(offset(Jan 1), offset(Jul 1)) of
    * t's year, which covers both hemispheres (Sydney's DST is in
    * January). */
  private def q15e(s: SparkSession, d: String): DataFrame = {
    // Sunday following the last Wednesday of December of (y-1);
    // Spark dayofweek: Sunday=1 .. Wednesday=4
    def usStart(y: Column): Column = {
      val d31 = make_date(y - 1, lit(12), lit(31))
      date_add(date_sub(d31, (dayofweek(d31) - lit(4) + lit(7)) % lit(7)), 4)
    }
    def offsetUs(zone: String, t: Column): Column =
      unix_micros(from_utc_timestamp(t, zone)) - unix_micros(t)
    def isDst(zone: String, t: Column, yr: Column): Column = {
      val jan = make_date(yr, lit(1), lit(1)).cast("timestamp")
      val jul = make_date(yr, lit(7), lit(1)).cast("timestamp")
      offsetUs(zone, t) > least(offsetUs(zone, jan), offsetUs(zone, jul))
    }
    val dt = to_date(col("ts"))
    val ycand = year(date_add(dt, 3))
    val usYear = when(dt < usStart(ycand), ycand - 1).otherwise(ycand)
    val usWeek = (floor(datediff(dt, usStart(usYear)) / 7) + 1).cast("int")
    Tables.events(s, d).select(
      col("event_id"),
      usYear.cast("int").as("us_year"),
      usWeek.as("us_week"),
      isDst("America/New_York", col("ts"), year(dt)).as("dst_ny"),
      isDst("Australia/Sydney", col("ts"), year(dt)).as("dst_sydney"))
      .orderBy(col("event_id"))
  }

  /** DuckDB mirror: 0-based dayofweek (Wednesday=3), date−date = days,
    * `//` floor division; is_dst via the same two-anchor offset rule with
    * ICU timezone(). */
  private val q15eSql =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS DATE) AS d, CAST(ts AS TIMESTAMP) AS t,
      |    year(CAST(ts AS DATE) + 3) AS ycand
      |  FROM events),
      |s AS (
      |  SELECT *,
      |    make_date(CAST(ycand AS INT) - 1, 12, 31) AS d31c,
      |    make_date(CAST(ycand AS INT) - 2, 12, 31) AS d31p,
      |    make_date(CAST(year(d) AS INT), 1, 1) AS jan,
      |    make_date(CAST(year(d) AS INT), 7, 1) AS jul
      |  FROM e),
      |w AS (
      |  SELECT *,
      |    d31c - CAST((dayofweek(d31c) - 3 + 7) % 7 AS INT) + 4 AS startc,
      |    d31p - CAST((dayofweek(d31p) - 3 + 7) % 7 AS INT) + 4 AS startp
      |  FROM s),
      |y AS (
      |  SELECT *,
      |    CASE WHEN d < startc THEN ycand - 1 ELSE ycand END AS us_year,
      |    CASE WHEN d < startc THEN startp ELSE startc END AS ystart
      |  FROM w),
      |o AS (
      |  SELECT *,
      |    epoch_us(CAST(timezone('America/New_York', CAST(t AS TIMESTAMPTZ)) AS TIMESTAMP)) - epoch_us(t) AS off_ny,
      |    epoch_us(CAST(timezone('America/New_York', CAST(CAST(jan AS TIMESTAMP) AS TIMESTAMPTZ)) AS TIMESTAMP)) - epoch_us(CAST(jan AS TIMESTAMP)) AS off_ny_jan,
      |    epoch_us(CAST(timezone('America/New_York', CAST(CAST(jul AS TIMESTAMP) AS TIMESTAMPTZ)) AS TIMESTAMP)) - epoch_us(CAST(jul AS TIMESTAMP)) AS off_ny_jul,
      |    epoch_us(CAST(timezone('Australia/Sydney', CAST(t AS TIMESTAMPTZ)) AS TIMESTAMP)) - epoch_us(t) AS off_sy,
      |    epoch_us(CAST(timezone('Australia/Sydney', CAST(CAST(jan AS TIMESTAMP) AS TIMESTAMPTZ)) AS TIMESTAMP)) - epoch_us(CAST(jan AS TIMESTAMP)) AS off_sy_jan,
      |    epoch_us(CAST(timezone('Australia/Sydney', CAST(CAST(jul AS TIMESTAMP) AS TIMESTAMPTZ)) AS TIMESTAMP)) - epoch_us(CAST(jul AS TIMESTAMP)) AS off_sy_jul
      |  FROM y)
      |SELECT event_id,
      |  CAST(us_year AS INT) AS us_year,
      |  CAST(((d - ystart) // 7) + 1 AS INT) AS us_week,
      |  off_ny > least(off_ny_jan, off_ny_jul) AS dst_ny,
      |  off_sy > least(off_sy_jan, off_sy_jul) AS dst_sydney
      |FROM o ORDER BY event_id""".stripMargin

  /** Q15f: temporal rounding kernels
    * (cpp/src/arrow/compute/kernels/scalar_temporal_unary.cc
    * floor_temporal / ceil_temporal / round_temporal with multiple=15min)
    * plus calendar arithmetic with end-of-month clamping. The rounding is
    * pure epoch-µs integer math — exactly how a scale-out engine should
    * implement it (codegen'd long ops, no calendar object per row) — and
    * the DuckDB oracle mirrors the same arithmetic, so both engines are
    * bit-identical by construction. ceil keeps boundary values in place
    * (Arrow's default ceil_is_strictly_greater=false); round ties go up. */
  private def q15f(s: SparkSession, d: String): DataFrame = {
    val m = 15L * 60 * 1000000 // 15 minutes in µs
    Tables.events(s, d).select(
      col("event_id"),
      expr(s"timestamp_micros((unix_micros(ts) div $m) * $m)").as("floor15"),
      expr(s"timestamp_micros(((unix_micros(ts) + ${m - 1}) div $m) * $m)").as("ceil15"),
      expr(s"timestamp_micros(((unix_micros(ts) + ${m / 2}) div $m) * $m)").as("round15"),
      add_months(to_date(col("ts")), 1).as("next_month"),
      last_day(to_date(col("ts"))).as("eom"))
      .orderBy(col("event_id"))
  }

  private val q15fSql =
    """SELECT event_id,
      |  make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000) AS floor15,
      |  make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) + 899999999) // 900000000) * 900000000) AS ceil15,
      |  make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) + 450000000) // 900000000) * 900000000) AS round15,
      |  CAST(CAST(ts AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
      |  last_day(CAST(ts AS DATE)) AS eom
      |FROM events ORDER BY event_id""".stripMargin

  /** Q16: arithmetic / rounding / log / bit-wise kernels over `lineitem`.
    *
    * Sorted BEFORE the projection (optimization guide §2.3 "project
    * before the exchange", inverted for derived columns): the total
    * order is on the scan's own unique key, so sorting the 5 source
    * columns and projecting the 21 derived kernels AFTER the range
    * exchange (a) keeps the wide payload out of the exchange and (b)
    * keeps the range-partitioner's sampling pass from computing every
    * kernel a second time. (l_orderkey, l_linenumber) is unique, so the
    * output rows and order are bit-identical. Same rewrite on the other
    * wide kernel batteries below. */
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .select(
      col("l_orderkey"),
      col("l_linenumber"),
      abs(col("l_discount") - lit(0.05)).as("a_abs"),
      // rounded at 6 dp: the product has exactly 4 decimal digits, so no
      // rounding ties — a 2 dp round would hit x.xx50 values where Spark
      // (half-up on the decimal rendering) and DuckDB (binary) disagree
      round(col("l_extendedprice") * col("l_discount"), 6).as("r2"),
      floor(col("l_extendedprice")).as("fl"),
      ceil(col("l_extendedprice")).as("ce"),
      pow(col("l_quantity"), 2).as("p2"),
      sqrt(col("l_extendedprice")).as("sq"),
      round(log(col("l_extendedprice")), 6).as("lg"),
      round(exp(col("l_discount")), 6).as("ex"),
      round(log10(col("l_extendedprice")), 6).as("l10"),
      signum(col("l_discount") - lit(0.05)).cast("int").as("sg"),
      (col("l_orderkey") % 7).as("mod7"),
      shiftleft(col("l_linenumber"), 2).as("shl"),
      shiftright(col("l_linenumber"), 1).as("shr"),
      (col("l_linenumber").bitwiseAND(lit(3))).as("band"),
      (col("l_linenumber").bitwiseOR(lit(9))).as("bor"),
      (col("l_linenumber").bitwiseXOR(lit(5))).as("bxor"),
      bitwise_not(col("l_linenumber")).as("bnot"),
      greatest(col("l_quantity"), lit(25.0)).as("gr"),
      least(col("l_quantity"), lit(25.0)).as("le"),
      // round_to_multiple / round_binary (scalar_round.cc, compute.rst
      // §597-697). m = 0.25 and 2^-3 make x/m an EXACT power-of-two
      // scaling of the 2-decimal prices, so no value can land on a
      // rounding tie and both engines' tie rules agree vacuously
      (rint(col("l_extendedprice") / lit(0.25)) * lit(0.25)).as("rmult"),
      (rint(col("l_extendedprice") * lit(8.0)) / lit(8.0)).as("rbin"))

  private val q16Sql =
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_discount - 0.05::DOUBLE) AS a_abs,
      |  round(l_extendedprice * l_discount, 6) AS r2,
      |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS fl,
      |  CAST(CEIL(l_extendedprice) AS BIGINT) AS ce,
      |  pow(l_quantity, 2) AS p2,
      |  sqrt(l_extendedprice) AS sq,
      |  round(ln(l_extendedprice), 6) AS lg,
      |  round(exp(l_discount), 6) AS ex,
      |  round(log10(l_extendedprice), 6) AS l10,
      |  CAST(SIGN(l_discount - 0.05::DOUBLE) AS INT) AS sg,
      |  l_orderkey % 7 AS mod7,
      |  l_linenumber << 2 AS shl,
      |  l_linenumber >> 1 AS shr,
      |  l_linenumber & 3 AS band,
      |  l_linenumber | 9 AS bor,
      |  xor(l_linenumber, 5) AS bxor,
      |  ~l_linenumber AS bnot,
      |  greatest(l_quantity, 25.0::DOUBLE) AS gr,
      |  least(l_quantity, 25.0::DOUBLE) AS le,
      |  round(l_extendedprice / 0.25) * 0.25 AS rmult,
      |  round(l_extendedprice * 8.0) / 8.0 AS rbin
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Q16b: trig / hyperbolic / extended-log kernels (compute.rst
    * §697-794: sin..atan2, sinh..tanh, log2/log1p/logb, expm1) plus
    * positive modulo, hypot and factorial. All rounded to 6 dp — libm
    * last-ulp differences across engines. `l_discount ∈ [0, 0.1]` keeps
    * asin/acos in domain. */
  private def q16b(s: SparkSession, d: String): DataFrame = {
    val x = col("l_discount")
    val p = col("l_extendedprice")
    // one ship-year: kernel parity needs coverage, not volume — each
    // rounded column costs a BigDecimal per value, so 21 columns over the
    // full table is pure sink time
    Tables.lineitem(s, d)
      .filter(Tables.inYear(col("l_shipdate"), 1995))
      .orderBy(col("l_orderkey"), col("l_linenumber")) // sort-below-projection (q16 comment)
      .select(
      col("l_orderkey"), col("l_linenumber"),
      round(sin(x), 6).as("s"),
      round(cos(x), 6).as("c"),
      round(tan(x), 6).as("t"),
      round(asin(x), 6).as("asn"),
      round(acos(x), 6).as("acs"),
      round(atan(p), 6).as("at"),
      round(atan2(col("l_quantity"), p), 6).as("at2"),
      round(sinh(x), 6).as("sh"),
      round(cosh(x), 6).as("ch"),
      round(tanh(x), 6).as("th"),
      round(log2(p), 6).as("l2"),
      round(log1p(x), 6).as("l1p"),
      round(log(2.0, p), 6).as("logb2"),
      round(expm1(x), 6).as("em1"),
      round(cbrt(p), 6).as("cb"),
      round(hypot(col("l_quantity"), x), 6).as("hy"),
      pmod(negate(col("l_orderkey")), lit(7)).as("pm"),
      factorial(col("l_linenumber")).as("fact"),
      round(degrees(x), 6).as("deg"),
      round(radians(col("l_quantity")), 6).as("rad"))
  }

  private val q16bSql =
    """SELECT l_orderkey, l_linenumber,
      |  round(sin(l_discount), 6) AS s,
      |  round(cos(l_discount), 6) AS c,
      |  round(tan(l_discount), 6) AS t,
      |  round(asin(l_discount), 6) AS asn,
      |  round(acos(l_discount), 6) AS acs,
      |  round(atan(l_extendedprice), 6) AS at,
      |  round(atan2(l_quantity, l_extendedprice), 6) AS at2,
      |  round((exp(l_discount) - exp(-l_discount)) / 2, 6) AS sh,
      |  round((exp(l_discount) + exp(-l_discount)) / 2, 6) AS ch,
      |  round((exp(l_discount) - exp(-l_discount))
      |        / (exp(l_discount) + exp(-l_discount)), 6) AS th,
      |  round(log2(l_extendedprice), 6) AS l2,
      |  round(ln(1 + l_discount), 6) AS l1p,
      |  round(ln(l_extendedprice) / ln(2.0), 6) AS logb2,
      |  round(exp(l_discount) - 1, 6) AS em1,
      |  round(cbrt(l_extendedprice), 6) AS cb,
      |  round(sqrt(l_quantity * l_quantity + l_discount * l_discount), 6) AS hy,
      |  ((-l_orderkey % 7) + 7) % 7 AS pm,
      |  CAST(factorial(l_linenumber) AS BIGINT) AS fact,
      |  round(degrees(l_discount), 6) AS deg,
      |  round(radians(l_quantity), 6) AS rad
      |FROM lineitem WHERE year(l_shipdate) = 1995
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Q02c: boolean aggregates (reference any/all kernels), count_if,
    * arg-extrema (max_by/min_by ≈ DuckDB arg_max/arg_min) and exact
    * median over `orders`. The extremum ordinal includes the key as a
    * tie-break (smallest key wins in both directions) — a duplicated
    * global max/min price at a larger SF would otherwise let each engine
    * pick an arbitrary key. */
  private def q02c(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      bool_and(col("o_totalprice") > 1000.0).as("all_over_1k"),
      bool_or(col("o_totalprice") > 400000.0).as("any_over_400k"),
      count_if(col("o_orderstatus") === "F").as("n_f"),
      max_by(col("o_orderkey"), struct(col("o_totalprice"), -col("o_orderkey")))
        .as("key_of_max"),
      min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
        .as("key_of_min"),
      round(median(col("o_totalprice")), 4).as("med"))

  private val q02cSql =
    """SELECT
      |  bool_and(o_totalprice > 1000.0::DOUBLE) AS all_over_1k,
      |  bool_or(o_totalprice > 400000.0::DOUBLE) AS any_over_400k,
      |  SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_f,
      |  (SELECT MIN(o_orderkey) FROM orders
      |   WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM orders)) AS key_of_max,
      |  (SELECT MIN(o_orderkey) FROM orders
      |   WHERE o_totalprice = (SELECT MIN(o_totalprice) FROM orders)) AS key_of_min,
      |  round(median(o_totalprice), 4) AS med
      |FROM orders""".stripMargin

  /** Q02e: GROUPED arg-extrema and min/max — the reference's
    * hash_min_max / hash_first_last family (hash_aggregate.cc): per
    * group, the key at the extreme ordering value with the same
    * smallest-key tie-break as the scalar q02c, plus the extreme values
    * and group counts. The oracle derives the same winners with
    * per-group row_number windows. */
  private def q02e(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), -col("o_orderkey")))
          .as("key_of_max"),
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("key_of_min"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_totalprice")).as("min_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  private val q02eSql =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rmax,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS rmin
      |  FROM orders)
      |SELECT o_orderpriority,
      |  MIN(CASE WHEN rmax = 1 THEN o_orderkey END) AS key_of_max,
      |  MIN(CASE WHEN rmin = 1 THEN o_orderkey END) AS key_of_min,
      |  MAX(o_totalprice) AS max_price,
      |  MIN(o_totalprice) AS min_price,
      |  COUNT(*) AS n
      |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q17: conditional / null-handling kernels (case_when, if_else,
    * coalesce, nullif, is_null) plus the validity battery
    * (is_nan/is_inf/is_finite — reference scalar_validity.cc,
    * compute.rst §1286-1324) over `orders`, with NaN/±Inf planted by key
    * so all three special classes occur. */
  private def q17(s: SparkSession, d: String): DataFrame = {
    val planted = when(col("o_orderkey") % 5 === 0, lit(Double.NaN))
      .when(col("o_orderkey") % 5 === 1, lit(Double.PositiveInfinity))
      .when(col("o_orderkey") % 5 === 2, lit(Double.NegativeInfinity))
      .otherwise(col("o_totalprice"))
    val isInf = abs(planted) === lit(Double.PositiveInfinity)
    Tables.orders(s, d).select(
      col("o_orderkey"),
      when(col("o_orderstatus") === "F", "done")
        .when(col("o_orderstatus") === "O", "open")
        .otherwise("other").as("st"),
      coalesce(nullif(col("o_orderpriority"), lit("3-MEDIUM")), lit("DEFAULT")).as("pr"),
      nullif(col("o_orderpriority"), lit("3-MEDIUM")).isNull.as("was_medium"),
      when(col("o_totalprice") > 100000.0, col("o_totalprice")).as("big_price"),
      coalesce(
        when(col("o_totalprice") > 100000.0, col("o_totalprice")),
        lit(-1.0)).as("big_or_default"),
      isnan(planted).as("v_nan"),
      isInf.as("v_inf"),
      (!isnan(planted) && !isInf).as("v_finite"),
      nanvl(planted, lit(-1.0)).as("nan_fixed"),
      // choose kernel (reference scalar_if_else.cc `choose`): select the
      // n-th argument by index — Spark elt() is the 1-based equivalent
      elt((col("o_orderkey") % 3 + 1).cast("int"),
        lit("one"), lit("two"), lit("three")).as("chosen"))
      .orderBy(col("o_orderkey"))
  }

  private val q17Sql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'F' THEN 'done'
      |       WHEN o_orderstatus = 'O' THEN 'open'
      |       ELSE 'other' END AS st,
      |  COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'DEFAULT') AS pr,
      |  NULLIF(o_orderpriority, '3-MEDIUM') IS NULL AS was_medium,
      |  CASE WHEN o_totalprice > 100000.0::DOUBLE THEN o_totalprice END AS big_price,
      |  COALESCE(CASE WHEN o_totalprice > 100000.0::DOUBLE THEN o_totalprice END,
      |           -1.0::DOUBLE) AS big_or_default,
      |  isnan(planted) AS v_nan,
      |  isinf(planted) AS v_inf,
      |  isfinite(planted) AS v_finite,
      |  CASE WHEN isnan(planted) THEN -1.0::DOUBLE ELSE planted END AS nan_fixed,
      |  (['one', 'two', 'three'])[CAST(o_orderkey % 3 + 1 AS INT)] AS chosen
      |FROM (SELECT *,
      |        CASE WHEN o_orderkey % 5 = 0 THEN 'NaN'::DOUBLE
      |             WHEN o_orderkey % 5 = 1 THEN 'Infinity'::DOUBLE
      |             WHEN o_orderkey % 5 = 2 THEN '-Infinity'::DOUBLE
      |             ELSE o_totalprice END AS planted
      |      FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** Q17b: three-valued (Kleene) boolean logic — SQL's AND/OR/NOT over
    * nullable booleans, the reference's and_kleene/or_kleene defaults
    * (cpp/src/arrow/compute/kernels/scalar_boolean.cc). */
  private def q17b(s: SparkSession, d: String): DataFrame = {
    val a = when(col("o_orderstatus") === "O", lit(true))
      .when(col("o_orderstatus") === "F", lit(false))
      .otherwise(lit(null).cast("boolean"))
    val b = col("o_totalprice") > 100000.0
    Tables.orders(s, d).select(
      col("o_orderkey"),
      a.as("a"), b.as("b"),
      (a && b).as("a_and_b"),
      (a || b).as("a_or_b"),
      (!a).as("not_a"),
      (a <=> b).as("a_eq_ns_b"))
      .orderBy(col("o_orderkey"))
  }

  private val q17bSql = {
    val a = "CASE WHEN o_orderstatus = 'O' THEN true " +
      "WHEN o_orderstatus = 'F' THEN false END"
    val b = "o_totalprice > 100000.0::DOUBLE"
    s"""SELECT o_orderkey,
       |  $a AS a, $b AS b,
       |  ($a) AND ($b) AS a_and_b,
       |  ($a) OR ($b) AS a_or_b,
       |  NOT ($a) AS not_a,
       |  ($a) IS NOT DISTINCT FROM ($b) AS a_eq_ns_b
       |FROM orders ORDER BY o_orderkey""".stripMargin
  }

  /** Q18: cast matrix — double↔int↔string↔decimal↔date round-trips.
    * Spark truncates double→int; oracle mirrors with TRUNC. */
  private def q18(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .orderBy(col("l_orderkey"), col("l_linenumber")) // sort-below-projection (q16 comment)
      .select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_quantity").cast("int").as("qty_int"),
      col("l_quantity").cast("string").as("qty_str"),
      col("l_extendedprice").cast("decimal(12,2)").cast("double").as("price_d2"),
      col("l_extendedprice").cast("decimal(12,2)").cast("string").as("price_str"),
      col("l_orderkey").cast("string").as("key_str"),
      col("l_orderkey").cast("string").cast("long").as("key_rt"),
      col("l_linenumber").cast("double").as("ln_d"),
      to_date(col("l_shipdate")).cast("string").as("ship_str"),
      to_date(col("l_shipdate")).cast("string").cast("date").as("ship_rt"),
      (col("l_quantity") > 25.0).cast("string").as("big_str"))

  private val q18Sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(TRUNC(l_quantity) AS INT) AS qty_int,
      |  CAST(l_quantity AS VARCHAR) AS qty_str,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_d2,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
      |  CAST(l_orderkey AS VARCHAR) AS key_str,
      |  CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS key_rt,
      |  CAST(l_linenumber AS DOUBLE) AS ln_d,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_str,
      |  CAST(CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS DATE) AS ship_rt,
      |  CAST(l_quantity > 25.0::DOUBLE AS VARCHAR) AS big_str
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Q18b: the try_* error-suppressing family (reference *_checked
    * kernels' complement — the checked kernels RAISE, try_* returns
    * null; with ANSI mode on by default in Spark 4 this is the surface a
    * user reaches for at ingest). DuckDB mirrors try_cast natively and
    * the arithmetic variants via CASE guards, so the gate pins the
    * null-on-error semantics, not just the happy path. */
  private def q18b(s: SparkSession, d: String): DataFrame = {
    val garbled = when(col("o_orderkey") % 4 === 0, lit("abc"))
      .otherwise(col("o_orderkey").cast("string"))
    Tables.orders(s, d)
      .orderBy(col("o_orderkey")) // sort-below-projection (q16 comment)
      .select(
      col("o_orderkey"),
      try_divide(col("o_totalprice"), (col("o_orderkey") % 3).cast("double"))
        .as("div_or_null"),
      // overflow → null on 1-in-40 keys. Deliberately NOT every row: a
      // thrown+caught JVM exception per overflowing row costs ~18 µs
      // (2.7 s over this table when all 1.5 M rows overflow — measured),
      // so the failure path is exercised at a realistic error rate while
      // the common path stays codegen-fast.
      try_multiply(col("o_orderkey"),
        when(col("o_orderkey") % 40 === 0, lit(4611686018427387904L))
          .otherwise(lit(2L))).as("mul_or_null"),
      garbled.try_cast(org.apache.spark.sql.types.IntegerType).as("cast_or_null"),
      try_to_timestamp(
        concat(lit("2024-01-"), lpad((col("o_orderkey") % 40).cast("string"), 2, "0")),
        lit("yyyy-MM-dd")).cast("date").as("date_or_null"))
  }

  private val q18bSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |       ELSE o_totalprice / CAST(o_orderkey % 3 AS DOUBLE) END AS div_or_null,
      |  CASE WHEN o_orderkey % 40 <> 0 THEN o_orderkey * 2
      |       WHEN o_orderkey = 0 THEN 0
      |       ELSE NULL END AS mul_or_null,
      |  TRY_CAST(CASE WHEN o_orderkey % 4 = 0 THEN 'abc'
      |                ELSE CAST(o_orderkey AS VARCHAR) END AS INT) AS cast_or_null,
      |  TRY_CAST('2024-01-' || lpad(CAST(o_orderkey % 40 AS VARCHAR), 2, '0')
      |           AS DATE) AS date_or_null
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val caps: Seq[Capability] = Seq(
    Capability("q14_strings", "string kernel battery", q14, Some(q14Sql)),
    Capability("q14b_strings2", "predicates/center/overlay/translate/codes/zero-fill/is_in", q14b, Some(q14bSql)),
    Capability("q14c_normalize", "utf8_normalize NFC + accent stripping", q14c, Some(q14cSql)),
    Capability("q15_temporal_date", "date extraction + arithmetic", q15, Some(q15Sql)),
    Capability("q15b_temporal_ts", "time-of-day extraction on µs timestamps", q15b, Some(q15bSql)),
    Capability("q15c_temporal_iso", "ISO calendar/leap-year/strftime round-trip", q15c, Some(q15cSql)),
    Capability("q15d_timezone", "assume_timezone / local_timestamp conversions", q15d, Some(q15dSql)),
    Capability("q15e_us_calendar", "us_week/us_year epi calendar + is_dst", q15e, Some(q15eSql)),
    Capability("q15f_temporal_round", "floor/ceil/round_temporal to 15-min multiples + EOM-clamped month arithmetic", q15f, Some(q15fSql)),
    Capability("q16_math", "arithmetic/rounding/log/bitwise kernels", q16, Some(q16Sql)),
    Capability("q16b_trig", "trig/hyperbolic/extended-log/pmod/factorial kernels", q16b, Some(q16bSql)),
    Capability("q02c_bool_aggs", "any/all/count_if/arg-extrema/median aggregates", q02c, Some(q02cSql)),
    Capability("q02e_grouped_extrema", "grouped arg-extrema + min/max (hash_min_max family)", q02e,
      Some(q02eSql)),
    Capability("q17_conditional", "case_when/coalesce/nullif/is_null", q17, Some(q17Sql)),
    Capability("q17b_kleene", "three-valued AND/OR/NOT + null-safe equality", q17b, Some(q17bSql)),
    Capability("q18_casts", "cast matrix round-trips", q18, Some(q18Sql)),
    Capability("q18b_try", "try_divide/try_multiply/try_cast/try_to_timestamp null-on-error", q18b, Some(q18bSql)),
  )
}
