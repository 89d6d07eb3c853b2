package graft

import java.sql.Timestamp

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("nearest as-of picks the closer side and prefers backward on ties") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 12:00:00")), // backward 11:59 closer than 12:02
      (2L, 10L, ts("2024-01-01 13:00:00")), // tie: 12:58 vs 13:02 -> backward
      (3L, 10L, ts("2024-01-01 18:00:00")), // nothing within 1h -> null
      (4L, 20L, ts("2024-01-01 12:00:00"))  // other key: only forward exists
    ).toDF("id", "k", "t")
    val right = Seq(
      (101L, 10L, ts("2024-01-01 11:59:00")),
      (102L, 10L, ts("2024-01-01 12:02:00")),
      (103L, 10L, ts("2024-01-01 12:58:00")),
      (104L, 10L, ts("2024-01-01 13:02:00")),
      (105L, 20L, ts("2024-01-01 12:30:00"))
    ).toDF("rid", "rk", "rt")

    val out = AsOfJoin.nearest(
      left, right,
      onLeft = left("t"), onRight = right("rt"),
      by = Seq(left("k") -> right("rk")),
      tolerance = expr("INTERVAL 1 HOUR"),
      leftId = left("id"), tieBreak = right("rid"))
      .select(col("id"), col("rid")).orderBy(col("id"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))

    assert(out.toSeq == Seq(1L -> 101L, 2L -> 103L, 3L -> -1L, 4L -> 105L))
  }

  test("funnel stages on hand-built events: one user per stage depth") {
    import spark.implicits._
    val d1 = 86400L * 1000000L // one day in micros
    def t(base: String, plusUs: Long) =
      new Timestamp(ts(base).getTime + plusUs / 1000L)
    val events = Seq(
      // user 1: full chain inside the windows
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 05:00:00")),
      (1L, "purchase", ts("2024-01-01 20:00:00")),
      // user 2: click in-window, purchase too late after the click
      (2L, "view", ts("2024-01-01 00:00:00")),
      (2L, "click", ts("2024-01-01 01:00:00")),
      (2L, "purchase", t("2024-01-01 01:00:00", d1 + 1000000L)),
      // user 3: view only (click BEFORE the view does not count)
      (3L, "click", ts("2024-01-01 00:00:00")),
      (3L, "view", ts("2024-01-01 01:00:00")),
      // user 4: no view at all
      (4L, "click", ts("2024-01-01 00:00:00"))
    ).toDF("user_id", "event_type", "ts")

    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val step = expr("INTERVAL 1 DAY")
    val staged = events
      .withColumn("v", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c", min(when(col("event_type") === "click" &&
        col("ts") >= col("v") && col("ts") <= col("v") + step, col("ts"))).over(w))
      .withColumn("p", min(when(col("event_type") === "purchase" &&
        col("ts") >= col("c") && col("ts") <= col("c") + step, col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("v")).as("v"), max(col("c")).as("c"), max(col("p")).as("p"))
      .select(col("user_id"),
        when(col("p").isNotNull, 3).when(col("c").isNotNull, 2)
          .when(col("v").isNotNull, 1).otherwise(0).as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    assert(staged == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0))
  }

  test("gated analytics queries run and stay deterministic across runs") {
    for (name <- Seq("events_funnel", "profile_stats", "dedup_fuzzy", "text_blocklist")) {
      val q = Registry.byName(name)
      val a = q.run(spark, sf).collect().toSeq
      val b = q.run(spark, sf).collect().toSeq
      assert(a.nonEmpty, s"$name returned no rows")
      assert(a == b, s"$name not deterministic across runs")
    }
  }

  test("nearest as-of equals the closer of backward and forward on real data") {
    import java.sql.Timestamp
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
    def run(dir: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)],
        org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.DataFrame) =
      dir(purchases, clicks, purchases("ts"), clicks("click_ts"),
        Seq(purchases("user_id") -> clicks("c_user_id")),
        expr("INTERVAL 1 HOUR"), purchases("event_id"), clicks("click_id"))
        .select(col("event_id"), col("ts"), col("click_id"), col("click_ts"))
        .collect()
        .map(r => r.getLong(0) -> (Option(r.get(2)).map(_ => (r.getLong(2),
          math.abs(r.getAs[Timestamp](3).getTime - r.getAs[Timestamp](1).getTime)))))
        .toMap
    val nearest = run(operators.AsOfJoin.nearest)
    val back = run(operators.AsOfJoin.backward)
    val fwd = run(operators.AsOfJoin.forward)
    nearest.foreach { case (id, n) =>
      val candidates = Seq(back(id), fwd(id)).flatten
      if (candidates.isEmpty) assert(n.isEmpty, s"$id: nearest matched where neither side did")
      else {
        val bestDist = candidates.map(_._2).min
        assert(n.isDefined && n.get._2 == bestDist,
          s"$id: nearest ${n} vs candidates $candidates")
        // tie at equal distance → the backward match wins
        if (candidates.size == 2 && candidates(0)._2 == candidates(1)._2)
          assert(n.get._1 == back(id).get._1, s"$id: tie must prefer backward")
      }
    }
    assert(nearest.nonEmpty)
  }

  test("heap top-k aggregate equals the window formulation on real data") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sf)
    val viaAgg = e.groupBy(col("event_type"))
      .agg(graft.functions.expr.TopKAgg(col("value"), col("event_id"), 7).as("tk"))
      .select(col("event_type"), posexplode(col("tk")))
      .select(col("event_type"), col("pos"), col("col.score"), col("col.rid"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val viaWindow = e
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
      .select(col("event_type"), (col("rn") - 1).cast("int"), col("value"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)
  }

  test("pagerank conserves rank mass and ranks hubs above leaves") {
    import spark.implicits._
    // star: center c linked symmetrically with 4 leaves
    val pairs = Seq("a", "b", "d", "e").flatMap(l => Seq(("c", l), (l, "c")))
    val edges = pairs.toDF("src", "dst")
    val ranks = graft.pipeline.GraphOps.pageRank(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // symmetric graph, no dangling nodes: total mass stays 1 every round
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6, ranks.toString)
    assert(Seq("a", "b", "d", "e").forall(l => ranks("c") > ranks(l)), ranks.toString)
    // leaves are symmetric, so their ranks are identical
    assert(Seq("b", "d", "e").forall(l => ranks(l) == ranks("a")), ranks.toString)
  }

  test("pagerank conserves rank mass WITH a dangling node (sink redistribution)") {
    import spark.implicits._
    // chain into a sink: a -> b -> c, plus a -> c; c has NO out-edges, so
    // each round its rank is dangling mass that must be redistributed —
    // without the sink term total mass decays below 1 and this fails.
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val ranks = graft.pipeline.GraphOps.pageRank(edges, "src", "dst", iterations = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6, ranks.toString)
    // the sink accumulates the most rank; the un-pointed-at root the least
    assert(ranks("c") > ranks("b") && ranks("b") > ranks("a"), ranks.toString)
  }

  test("hits separates hubs from authorities and L1-normalizes both") {
    import spark.implicits._
    // a,b,c all point at x; a also points at y — x the stronger
    // authority, a the stronger hub; sources hold zero authority and
    // sinks zero hub
    val edges = Seq(("a", "x"), ("b", "x"), ("c", "x"), ("a", "y"))
      .toDF("src", "dst")
    val out = graft.pipeline.GraphOps.hits(edges, "src", "dst", iterations = 4)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-6, out.toString)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-6, out.toString)
    assert(out("x")._2 > out("y")._2, out.toString)
    assert(out("a")._1 > out("b")._1, out.toString)
    assert(out("b")._1 == out("c")._1, out.toString)
    assert(out("a")._2 == 0.0 && out("b")._2 == 0.0, out.toString)
    assert(out("x")._1 == 0.0 && out("y")._1 == 0.0, out.toString)
  }

  test("label propagation converges two disjoint cliques to their min member") {
    import spark.implicits._
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val edges = (k3 ++ k3.map { case (u, v) => (u + 10, v + 10) })
      .toDF("u", "v")
    val out = graft.pipeline.GraphOps.labelPropagation(edges, "u", "v", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L), out.toString)
  }

  test("label propagation: a planted hub bridging cliques keeps each side's label") {
    import spark.implicits._
    // two K4 cliques joined by ONE bridge edge: the bridge endpoints see
    // 3 same-community neighbors vs 1 cross neighbor, so communities hold
    def k4(base: Long) = for {
      i <- 0L to 3L; j <- (i + 1) to 3L
    } yield (base + i, base + j)
    val edges = (k4(1) ++ k4(21) :+ ((4L, 21L))).toDF("u", "v")
    val out = graft.pipeline.GraphOps.labelPropagation(edges, "u", "v", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(n => out(n) == 1L), out.toString)
    assert((21L to 24L).forall(n => out(n) == 21L), out.toString)
  }

  test("k-core peels a chain into the clique core, one layer per round") {
    import spark.implicits._
    // K4 clique {1,2,3,4} with a tail 4-5-6: the 2-core is the clique —
    // 6 peels in round 1 (deg 1), 5 only in round 2 (deg 1 after 6 left)
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      ++ Seq((4L, 5L), (5L, 6L))).toDF("u", "v")
    val one = graft.pipeline.GraphOps.kCore(edges, "u", "v", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after ONE round node 5 still stands (its degree was 2 before 6 left)
    assert(one.keySet == Set(1L, 2L, 3L, 4L, 5L), one.toString)
    val core = graft.pipeline.GraphOps.kCore(edges, "u", "v", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core.toString)
    // converged: extra rounds are no-ops
    val more = graft.pipeline.GraphOps.kCore(edges, "u", "v", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == core, more.toString)
    // k above the clique degree empties the graph
    assert(graft.pipeline.GraphOps.kCore(edges, "u", "v", k = 4, rounds = 3)
      .count() == 0L)
  }

  test("ewma matches the closed form and excludes nulls from the frame") {
    import spark.implicits._
    val df = Seq(
      (1L, "k", 1L, Some(1.0)), (2L, "k", 2L, Some(2.0)),
      (3L, "k", 3L, None), (4L, "k", 4L, Some(4.0)),
      (5L, "x", 1L, Some(10.0)))
      .toDF("id", "key", "t", "value")
    val out = graft.operators.Ewma
      .smooth(df, "key", "t", "id", "value", alpha = 0.5, window = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // weights 0.5^(n-1-j): id1 -> 1.0; id2 -> (0.5*1 + 1*2)/1.5;
    // id3 is null (dropped); id4 frame is [1,2,4] -> (0.25+1+4)/1.75
    assert(out(1L) == 1.0, out.toString)
    assert(math.abs(out(2L) - 2.5 / 1.5) < 1e-9, out.toString)
    assert(!out.contains(3L), out.toString)
    assert(math.abs(out(4L) - 5.25 / 1.75) < 1e-9, out.toString)
    // singleton key: ewma = the value itself
    assert(out(5L) == 10.0, out.toString)
    // window cap: with window=2 only the trailing two observations count
    val capped = graft.operators.Ewma
      .smooth(df, "key", "t", "id", "value", alpha = 0.5, window = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(math.abs(capped(4L) - (0.5 * 2.0 + 4.0) / 1.5) < 1e-9, capped.toString)
  }

  test("clustering coefficients: clique 1.0, pendant 0, bridge in between") {
    import spark.implicits._
    // K4 {1,2,3,4} plus a pendant 5 hanging off node 4
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      :+ ((4L, 5L))).toDF("u", "v")
    val cc = graft.pipeline.GraphOps.clusteringCoefficients(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // pure clique members: every neighbor pair connected
    assert(Seq(1L, 2L, 3L).forall(n => cc(n) == ((3L, 3L, 1.0))), cc.toString)
    // node 4: degree 4, 3 triangles -> 2*3/(4*3) = 0.5
    assert(cc(4L) == ((4L, 3L, 0.5)), cc.toString)
    // pendant: degree 1, no neighbor pairs -> 0 by convention
    assert(cc(5L) == ((1L, 0L, 0.0)), cc.toString)
  }

  test("assortativity: star is -1, regular graph is NULL by convention") {
    import spark.implicits._
    // star: every edge joins the deg-4 hub to a deg-1 leaf -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("u", "v")
    val rs = graft.pipeline.GraphOps.assortativity(star, "u", "v")
      .head()
    assert(rs.getLong(0) == 8L, rs.toString)
    assert(rs.getDouble(1) == -1.0, rs.toString)
    // triangle: all degrees equal -> zero marginal variance -> NULL
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val rt = graft.pipeline.GraphOps.assortativity(tri, "u", "v").head()
    assert(rt.isNullAt(1), rt.toString)
  }

  test("ewma anomalies: planted spike flags, steady series does not") {
    import spark.implicits._
    // steady noise around 10, then a spike at t=9; first minObs rows
    // have insufficient history (NULL flag); zero-variance baseline
    // flags ANY deviation with a NULL score
    val vals = Seq(10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.1, 9.9, 100.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, "k", i.toLong, v)
    }.toDF("id", "key", "t", "value")
    val out = graft.operators.Ewma
      .anomalies(df, "key", "t", "id", "value",
        alpha = 0.5, window = 8, k = 3.0, minObs = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Boolean]))))
      .toMap
    // ids 1..4: frames of 0..3 prior rows -> insufficient history
    assert((1L to 4L).forall(i => out(i)._2.isEmpty), out.toString)
    // steady mid-series rows are not anomalous
    assert((5L to 8L).forall(i => out(i)._2 == Some(false)), out.toString)
    // the spike flags, with a large positive z-score
    assert(out(9L)._2 == Some(true), out.toString)
    assert(out(9L)._1.exists(_ > 3.0), out.toString)

    // zero-variance baseline: constant history, any deviation flags
    val const = Seq.tabulate(6)(i => (i.toLong + 1, "c", i.toLong, 5.0)) :+
      ((7L, "c", 6L, 5.5))
    val c = graft.operators.Ewma
      .anomalies(const.toDF("id", "key", "t", "value"),
        "key", "t", "id", "value", alpha = 0.5, window = 8, k = 3.0, minObs = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(4)), Option(r.get(5)).map(_.asInstanceOf[Boolean]))))
      .toMap
    assert(c(6L) == (None, Some(false)), c.toString) // 5.0 == baseline
    assert(c(7L) == (None, Some(true)), c.toString)  // deviation, NULL score
  }

  test("resample interpolates between brackets and NULLs gaps beyond the horizon") {
    import spark.implicits._
    val events = Seq(
      (1L, "k", "2024-01-01 00:00:00", 0.0),
      (2L, "k", "2024-01-01 01:00:00", 10.0),
      (3L, "k", "2024-01-01 04:00:00", 40.0))
      .toDF("event_id", "key", "t", "value")
      .withColumn("ts", col("t").cast("timestamp"))
    val out = graft.operators.Resample
      .linear(events, "key", "ts", "value", "event_id",
        step = "30 minutes", maxGap = "2 hours")
      .orderBy(col("g"))
      .collect().map(r => (r.getTimestamp(1).toString.substring(11, 16),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    // 0:00 exact, 0:30 midpoint, 1:00 exact, 1:30 forward bracket beyond
    // the 2h horizon -> gap, 2:00-3:00 interpolate across the long span,
    // 3:30 backward bracket beyond the horizon -> gap, 4:00 exact
    assert(out.toSeq == Seq(
      "00:00" -> Some(0.0), "00:30" -> Some(5.0), "01:00" -> Some(10.0),
      "01:30" -> None, "02:00" -> Some(20.0), "02:30" -> Some(25.0),
      "03:00" -> Some(30.0), "03:30" -> None, "04:00" -> Some(40.0)),
      out.mkString(","))
  }

  test("expectations on an empty frame: fractions pass vacuously, min_rows fails") {
    import spark.implicits._
    import graft.pipeline.Expectations._
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    val out = check(empty, Seq(NotNull("s"), Unique("id"), MinRows(1)))
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getBoolean(4)))
    assert(out.filter(_._1 != "min_rows").forall(r => r._2 == 0.0 && r._3),
      out.mkString(","))
    val mr = out.find(_._1 == "min_rows").get
    assert(mr._2 == 1.0 && !mr._3, mr.toString)
  }

  test("outlier expectation rule: hand case, zero-MAD convention, windowed rejection") {
    import spark.implicits._
    import graft.pipeline.Expectations._
    // med=20, devs (20,10,0,10,980), mad=10 -> one outlier of 5 at k=3
    val df = Seq(0.0, 10.0, 20.0, 30.0, 1000.0).toDF("v")
    val row = check(df, Seq(Outliers("v", k = 3.0))).head()
    assert(math.abs(row.getDouble(2) - 0.2) < 1e-12 && !row.getBoolean(4))
    // >half identical -> mad=0: any off-median value is an outlier
    val z = Seq(7.0, 7.0, 7.0, 9.0).toDF("v")
    val rz = check(z, Seq(Outliers("v", k = 3.0))).head()
    assert(math.abs(rz.getDouble(2) - 0.25) < 1e-12)
    // the rule needs global quantiles -> rejected per window
    val err = intercept[IllegalArgumentException] {
      checkWindowed(
        Tables.events(spark, TestSpark.sf), "ts", "1 hour",
        Seq(Outliers("value")))
    }
    assert(err.getMessage.contains("global quantile"), err.getMessage)
  }

  test("equi-height histogram bins are near-equal on real data and cover every row") {
    val out = Registry.byName("profile_eq_histogram").run(spark, TestSpark.sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = Tables.orders(spark, TestSpark.sf).count()
    assert(out.values.sum == total, "every row must land in exactly one bin")
    assert(out.keySet == (0 until 10).toSet, s"bins ${out.keySet}")
    // decile edges: each bin holds ~10% (ties at edges shift a few rows)
    val expect = total / 10.0
    out.values.foreach(n =>
      assert(math.abs(n - expect) <= expect * 0.2 + 2, s"bin of $n vs ~$expect"))
  }

  test("spearman on a constant column yields a NULL coefficient, not 0 or NaN") {
    import spark.implicits._
    val df = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("a", "b")
    val r = graft.operators.Spearman.rho(df, "a", "b").head()
    // zero rank variance on b: correlation is undefined — both engines'
    // corr returns NULL (the oracle contract), never a fabricated number
    assert(r.isNullAt(0), r.toString)
    assert(r.getLong(1) == 3L)
  }

  test("grouped spearman equals the global statistic computed per group slice") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val grouped = graft.operators.Spearman
      .rhoGrouped(li, "l_returnflag", "l_extendedprice", "l_quantity")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    grouped.keys.foreach { g =>
      val slice = li.filter(col("l_returnflag") === g)
      val solo = graft.operators.Spearman
        .rho(slice, "l_extendedprice", "l_quantity").head()
      assert(grouped(g) == ((solo.getDouble(0), solo.getLong(1))),
        s"group $g: ${grouped(g)} vs ($solo)")
    }
    assert(grouped.size >= 2)
  }

  test("MAD outliers: hand-computed flags, zero-MAD convention, null exclusion") {
    import spark.implicits._
    val df = Seq(
      // group a: med=20, devs (20,10,0,10,980), mad=10 -> only 1000 at k=3
      ("a", 1L, Some(0.0)), ("a", 2L, Some(10.0)), ("a", 3L, Some(20.0)),
      ("a", 4L, Some(30.0)), ("a", 5L, Some(1000.0)),
      // group b: >half identical -> mad=0: off-median rows flag, score NULL
      ("b", 6L, Some(7.0)), ("b", 7L, Some(7.0)), ("b", 8L, Some(7.0)),
      ("b", 9L, Some(9.0)),
      // nulls never participate
      ("a", 10L, None))
      .toDF("g", "id", "v")
    val out = graft.operators.Robust.madOutliers(df, "g", "v", k = 3.0)
      .select(col("id"), col("mad_score"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out.keySet == Set(5L, 9L), s"flagged ${out.keySet}")
    assert(out(5L) == Some(98.0), out(5L).toString)
    assert(out(9L).isEmpty, "zero-MAD group must flag with a NULL score")
  }

  test("spearman: monotone invariance, sign, tie averaging, null exclusion") {
    import spark.implicits._
    // monotone nonlinear relation: Pearson < 1 but Spearman exactly 1
    val mono = (1 to 50).map(i => (i.toDouble, i.toDouble * i)).toDF("a", "b")
    assert(graft.operators.Spearman.rho(mono, "a", "b").head().getDouble(0) == 1.0)
    val anti = (1 to 50).map(i => (i.toDouble, -i.toDouble)).toDF("a", "b")
    assert(graft.operators.Spearman.rho(anti, "a", "b").head().getDouble(0) == -1.0)
    // tie averaging: ranks a = (1.5, 1.5, 3), b = (1, 2, 3)
    // -> rho = 1.5 / sqrt(1.5 * 2) = 0.866025
    val ties = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)).toDF("a", "b")
    val rho = graft.operators.Spearman.rho(ties, "a", "b").head()
    assert(math.abs(rho.getDouble(0) - 0.866025) < 1e-6, rho.toString)
    assert(rho.getLong(1) == 3L)
    // a null on either side drops the PAIR, not just the value
    val withNull = Seq(
      (Some(1.0), Some(1.0)), (Some(2.0), None), (None, Some(5.0)),
      (Some(3.0), Some(2.0))).toDF("a", "b")
    val r2 = graft.operators.Spearman.rho(withNull, "a", "b").head()
    assert(r2.getLong(1) == 2L)
    assert(r2.getDouble(0) == 1.0)
  }

  test("unique rule threads its cap and clamps above-cap approximation at 0") {
    import spark.implicits._
    import graft.pipeline.Expectations._
    // 500 distinct ids, rule cap forced far below: the sketch is in its
    // HLL tier, where the estimate may exceed the true count — the
    // duplicate fraction must clamp at 0, never go negative
    val df = spark.range(0, 500).toDF("id")
    val approx = check(df, Seq(Unique("id", exactCap = 8, lgK = 10)))
      .head()
    assert(approx.getDouble(2) >= 0.0,
      s"above-cap unique metric must clamp at 0, got ${approx.getDouble(2)}")
    // raising the cap restores the exact guarantee on the same column
    val exact = check(df, Seq(Unique("id", exactCap = 1000))).head()
    assert(exact.getDouble(2) == 0.0 && exact.getBoolean(4))
    // and a real duplicate is still caught exactly under the raised cap
    val dup = df.union(spark.range(0, 50).toDF("id"))
    val caught = check(dup, Seq(Unique("id", exactCap = 1000))).head()
    assert(math.abs(caught.getDouble(2) - 50.0 / 550.0) < 1e-12 &&
      !caught.getBoolean(4), caught.toString)
  }

  test("resample handles a single-observation key and disjoint keys independently") {
    import spark.implicits._
    val events = Seq(
      (1L, "solo", "2024-01-01 00:00:00", 7.0),
      (2L, "pair", "2024-01-01 00:00:00", 0.0),
      (3L, "pair", "2024-01-01 01:00:00", 10.0))
      .toDF("event_id", "key", "t", "value")
      .withColumn("ts", col("t").cast("timestamp"))
    val out = graft.operators.Resample
      .linear(events, "key", "ts", "value", "event_id",
        step = "30 minutes", maxGap = "2 hours")
      .collect().map(r => (r.getString(0), Option(r.get(2)))).toSeq
    // solo key: a one-point grid, exact hit
    assert(out.filter(_._1 == "solo") == Seq(("solo", Some(7.0))))
    // pair key: its own 3-point grid, never contaminated by solo's value
    val pair = out.filter(_._1 == "pair").map(_._2)
    assert(pair == Seq(Some(0.0), Some(5.0), Some(10.0)), pair.toString)
  }

  test("triangle counts stay per-component on disjoint graphs") {
    import spark.implicits._
    // two disjoint triangles + an isolated edge: each triangle's nodes
    // count exactly one, the edge's nodes none
    val edges = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
      ("x", "y")).toDF("src", "dst")
    val out = graft.pipeline.GraphOps.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a1" -> 1L, "a2" -> 1L, "a3" -> 1L,
      "b1" -> 1L, "b2" -> 1L, "b3" -> 1L), out.toString)
  }

  test("each graph-fixture builder matches its oracle CTE twin") {
    import graft.queries.AnalyticsQueries._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    try {
      // uncapped, and a cap that keeps half of sf0.001's 200 parts
      val sizes = Seq(None, Some(100)).map { cap =>
        val pairs = partSuppPairs(spark, sf, cap)
        val head = s"WITH ${partSuppPairsSql(cap)}"
        Seq(pairs -> s"$head\nSELECT * FROM pairs",
          sinkGraph(pairs) -> s"$head,\n$sinkGraphSql\nSELECT * FROM edges",
          coParts(pairs) -> s"$head,\n$coPartsSql\nSELECT * FROM coparts"
        ).map { case (built, sql) =>
          val twin = spark.sql(sql)
          assert(built.columns.toSeq == twin.columns.toSeq, sql)
          val b = rows(built)
          assert(b.nonEmpty && b == rows(twin), sql)
          b.values.sum
        }
      }
      assert(sizes(1).zip(sizes(0)).forall { case (c, u) => c < u }, sizes.toString)
    } finally spark.catalog.dropTempView("lineitem")
  }

  test("expectations judge violations per rule in one pass without Expand") {
    import spark.implicits._
    import graft.pipeline.Expectations._
    val df = Seq(
      (1L, Some("a"), 10.0), (2L, Some("b"), 20.0), (3L, None, 999.0),
      (4L, Some("b"), 30.0)).toDF("id", "s", "x")
    val out = check(df, Seq(
      NotNull("s", threshold = 0.5),      // 1/4 null -> pass
      NotNull("s"),                       // 1/4 null -> fail at 0
      Unique("id"),                       // all distinct -> pass
      Unique("s"),                        // b duplicated: 1/3 dup -> fail
      InRange("x", 0.0, 100.0),           // 999 out -> fail
      MinRows(3),                         // 4 rows -> pass
      MinRows(10)))                       // shortfall 6 -> fail
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    def row(rule: String, colN: String, thr: Double) =
      out.find(r => r._1 == rule && r._2 == colN && r._4 == thr).get
    assert(row("not_null", "s", 0.5)._5)
    assert(!row("not_null", "s", 0.0)._5)
    assert(row("unique", "id", 0.0)._5)
    assert(!row("unique", "s", 0.0)._5 &&
      math.abs(row("unique", "s", 0.0)._3 - 1.0 / 3) < 1e-12)
    assert(!row("in_range", "x", 0.0)._5)
    assert(row("min_rows", "*", 0.0)._3 == 0.0 || row("min_rows", "*", 0.0)._5)
    assert(out.count(r => r._1 == "min_rows" && !r._5) == 1)
    assert(out.find(r => r._1 == "min_rows" && !r._5).get._3 == 6.0)
    // referential integrity: 10,20,30 ⊆ dim, 999 not — 1/4 missing
    val dim = Seq(10.0, 20.0, 30.0, 40.0).map(Tuple1(_)).toDF("k")
    val fk = check(df, Seq(RefIntegrity("x", dim, "k"),
      RefIntegrity("x", dim, "k", threshold = 0.5)))
      .collect().map(r => (r.getDouble(2), r.getBoolean(4)))
    assert(fk.forall(f => math.abs(f._1 - 0.25) < 1e-12), fk.mkString(","))
    assert(fk.map(_._2).toSeq.sorted == Seq(false, true))
    // ONE pass: a single scan, and no Expand despite two uniqueness rules
    val q = check(df, Seq(Unique("id"), Unique("s"), NotNull("s")))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Expand"), plan.take(2000))
  }

  test("personalized pagerank conserves mass and concentrates rank near the seed") {
    import spark.implicits._
    // two symmetric 3-cliques bridged by one edge; seed lives in clique A
    val cliqueA = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"))
    val cliqueB = Seq(("b1", "b2"), ("b2", "b3"), ("b1", "b3"))
    val und = (cliqueA ++ cliqueB ++ Seq(("a3", "b1")))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("a1").toDF("node")
    val ranks = graft.pipeline.GraphOps
      .pageRankPersonalized(edges, "src", "dst", seeds, "node", iterations = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6, ranks.toString)
    // rank decays with distance from the seed: seed > its clique > the far clique
    assert(ranks("a1") > ranks("a2") && ranks("a2") > ranks("b2"), ranks.toString)
    // an absent seed is an error, not a silent zero-mass run
    intercept[IllegalArgumentException] {
      graft.pipeline.GraphOps.pageRankPersonalized(
        edges, "src", "dst", Seq("zzz").toDF("node"), "node", iterations = 1)
    }
  }

  test("weighted pagerank conserves mass and follows the heavy edge") {
    import spark.implicits._
    // a splits 9:1 between b and c; both feed back to a — b must outrank
    // c, and at weight 1.0 the operator must equal the unweighted one
    val edges = Seq(("a", "b", 9.0), ("a", "c", 1.0),
      ("b", "a", 1.0), ("c", "a", 1.0)).toDF("src", "dst", "w")
    val ranks = graft.pipeline.GraphOps
      .pageRankWeighted(edges, "src", "dst", "w", iterations = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6, ranks.toString)
    assert(ranks("b") > ranks("c"), ranks.toString)
    val unit = edges.withColumn("w", lit(1.0))
    val viaWeighted = graft.pipeline.GraphOps
      .pageRankWeighted(unit, "src", "dst", "w", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val plain = graft.pipeline.GraphOps
      .pageRank(edges.drop("w"), "src", "dst", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaWeighted == plain, s"$viaWeighted vs $plain")
  }

  test("harmonic centrality equals the closed form on a directed path") {
    import spark.implicits._
    // path a -> b -> c -> d, REVERSED input so distances run toward each
    // node (the standard incoming-harmonic): H(d) = 1/1 + 1/2 + 1/3,
    // H(c) = 1 + 1/2, H(b) = 1, H(a) = 0; balls |B_3| are 4, 3, 2, 1
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val reversed = edges.select(col("dst").as("src"), col("src").as("dst"))
    val out = graft.pipeline.GraphOps
      .harmonicCentrality(reversed, "src", "dst", maxDepth = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("a") == ((1L, 0.0)), out.toString)
    assert(out("b") == ((2L, 1.0)), out.toString)
    assert(out("c") == ((3L, 1.5)), out.toString)
    assert(out("d")._1 == 4L && math.abs(out("d")._2 - (1.0 + 0.5 + 1.0 / 3)) < 1e-12,
      out.toString)
  }

  test("scc: cycles collapse, one-way bridges and DAG tendrils stay apart") {
    import spark.implicits._
    // two 3-cycles joined by a ONE-WAY bridge, plus a dangling tendril:
    // 1→2→3→1 (SCC 1), 4→5→6→4 (SCC 4), bridge 3→4 (no way back),
    // tendril 6→7 (7 is a singleton sink)
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 5L, 5L -> 6L, 6L -> 4L, 3L -> 4L, 6L -> 7L).toDF("s", "d")
    val out = graft.pipeline.GraphOps.stronglyConnected(e, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L), out.toString)
    // directed path: every node its own SCC (the worst case still exact)
    val path = Seq(10L -> 11L, 11L -> 12L, 12L -> 13L).toDF("s", "d")
    val p = graft.pipeline.GraphOps.stronglyConnected(path, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p == Map(10L -> 10L, 11L -> 11L, 12L -> 12L, 13L -> 13L))
    // too few rounds for the path fails loudly and leaves nothing cached
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      graft.pipeline.GraphOps.stronglyConnected(path, "s", "d", maxIter = 2)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    // one big cycle through ALL nodes: a single component under min id
    val ring = (1L to 6L).map(i => i -> (i % 6 + 1)).toDF("s", "d")
    val rOut = graft.pipeline.GraphOps.stronglyConnected(ring, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rOut.values.toSet == Set(1L) && rOut.size == 6)
  }

  test("harmonic centrality increments stay exact past depth 3 (depth-5 path)") {
    import spark.implicits._
    // 6-node path: H(f) at depth 5 = 1 + 1/2 + 1/3 + 1/4 + 1/5 — each
    // round past 3 must add exactly (|B_t| − |B_{t−1}|)/t, proving the
    // single-aggregate increment fold at depths the gate never reaches
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "e" -> "f")
      .toDF("src", "dst")
    val reversed = chain.select(col("dst").as("src"), col("src").as("dst"))
    val out = graft.pipeline.GraphOps
      .harmonicCentrality(reversed, "src", "dst", maxDepth = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val h = (n: Int) => (1 to n).map(1.0 / _).sum
    assert(out("a") == ((1L, 0.0)))
    Seq("b" -> 1, "c" -> 2, "d" -> 3, "e" -> 4, "f" -> 5).foreach {
      case (node, reach) =>
        assert(out(node)._1 == reach + 1L, s"$node ball: ${out(node)}")
        assert(math.abs(out(node)._2 - h(reach)) < 1e-12,
          s"$node harmonic: ${out(node)._2} vs ${h(reach)}")
    }
  }

  test("harmonic centrality register tier stays bounded and ranks the hub first") {
    import spark.implicits._
    // star: every leaf points at the hub, so the operator input (REVERSED
    // edges, incoming-distance convention) is hub -> leaf; with a 4-entry
    // exact cap the hub's ball degrades to registers, state stays 2^lgK
    // bytes, and the hub still outranks every leaf
    val reversed = (1 to 40).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    val out = graft.pipeline.GraphOps
      .harmonicCentrality(reversed, "src", "dst",
        maxDepth = 2, exactCap = 4, lgK = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out.keySet.size == 41)
    assert((1 to 40).forall(i => out("hub") > out(s"leaf$i")), out("hub").toString)
  }

  test("triangle counts: K4 closed form, stars are triangle-free, direction-insensitive") {
    import spark.implicits._
    // K4: every node sits on C(3,2) = 3 triangles; 4 triangles total
    val k4 = (for (i <- 0 to 3; j <- 0 to 3 if i < j) yield (s"n$i", s"n$j"))
      .toDF("src", "dst")
    val out = graft.pipeline.GraphOps.triangleCounts(k4, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == (0 to 3).map(i => s"n$i" -> 3L).toMap, out.toString)
    // a star has wedges but no closing edges
    val star = (1 to 10).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    assert(graft.pipeline.GraphOps.triangleCounts(star, "src", "dst").count() == 0)
    // orientation/duplication insensitivity: reversed + duplicated edges
    // give the same counts (canonical-undirected distinct)
    val messy = k4.unionAll(k4.select(col("dst").as("src"), col("src").as("dst")))
    val out2 = graft.pipeline.GraphOps.triangleCounts(messy, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 == out, out2.toString)
  }

  test("jaro-winkler matches the classic fixtures and the engine-probed oracle") {
    import graft.functions.expr.JaroWinklerExpr.sim
    // Winkler's published fixtures + values probed from the oracle engine
    assert(math.abs(sim("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(math.abs(sim("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    assert(math.abs(sim("JELLYFISH", "SMELLYFISH") - 0.8962962962962964) < 1e-15)
    assert(math.abs(sim("DWAYNE", "DUANE") - 0.8400000000000001) < 1e-15)
    // boost fires only above 0.7: prefix-2 at jaro 2/3 stays unboosted
    assert(math.abs(sim("aaaa", "aabb") - 0.6666666666666666) < 1e-15)
    assert(math.abs(sim("ab", "abcdefghijklmnop") - 0.7666666666666667) < 1e-15)
    // degenerate contracts: either empty → 0; window 0 kills 'ab'/'ba'
    assert(sim("", "") == 0.0 && sim("", "ABC") == 0.0)
    assert(sim("ab", "ba") == 0.0)
    assert(sim("identical", "identical") == 1.0)
    // UTF-8 BYTE semantics (the oracle engine's contract): non-ASCII
    // values probed from the oracle — a UTF-16 implementation gets
    // héllo/hello = 0.88 and 日本/日本語 = 0.9111… instead
    assert(math.abs(sim("héllo", "hello") - 0.8400000000000001) < 1e-15)
    assert(math.abs(sim("MÜLLER", "MULLER") - 0.8642857142857143) < 1e-15)
    assert(math.abs(sim("naïve", "naive") - 0.8577777777777779) < 1e-15)
    assert(math.abs(sim("日本", "日本語") - 0.9333333333333333) < 1e-15)
    // SQL registration evaluates through codegen
    val viaSql = spark.sql(
      "SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS s").head().getDouble(0)
    assert(math.abs(viaSql - 0.9611111111111111) < 1e-15)
  }

  test("benford digits: full support, counts conserve, law shape holds") {
    val rows = Registry.byName("profile_benford").run(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9), "all nine digits")
    val n = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n, "observed counts conserve")
    assert(math.abs(rows.map(_.getDouble(2)).sum - n.toDouble) < 1e-3,
      "expected counts sum to n")
    // Benford expectations strictly decrease in the digit
    val exp = rows.map(_.getDouble(2))
    assert(exp.zip(exp.tail).forall { case (a, b) => a > b })
    assert(rows.forall(_.getLong(3) >= 0L), "chi2 terms nonnegative")
  }

  test("rfm: scores span 1..5 in balanced buckets; extremes score 5") {
    val rows = Registry.byName("orders_rfm").run(spark, sf).collect()
    val n = rows.length
    Seq(1, 2, 3).foreach { i =>
      val hist = rows.groupBy(_.getLong(i)).map { case (s, rs) => s -> rs.length }
      assert(hist.keySet == Set(1L, 2L, 3L, 4L, 5L), s"col $i scores")
      // the integer rank formula balances buckets to within one
      assert(hist.values.max - hist.values.min <= 1, s"col $i balance: $hist")
    }
    assert(rows.forall(r => r.getLong(4) ==
      r.getLong(1) * 100 + r.getLong(2) * 10 + r.getLong(3)))
    // the top spender must carry m_score 5
    val topSpender = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(graft.Det.dec(col("o_totalprice"))).as("m"))
      .orderBy(col("m").desc).head().getLong(0)
    assert(rows.find(_.getLong(0) == topSpender).get.getLong(3) == 5L)
    assert(n == rows.map(_.getLong(0)).distinct.length, "one row per customer")
  }

  test("damerau-levenshtein matches the probed full-DL fixtures (not OSA)") {
    import graft.functions.expr.DamerauLevenshteinExpr.dist
    def d(a: String, b: String): Int = d2(a, b)
    def d2(a: String, b: String): Int =
      dist(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    // THE full-vs-OSA discriminator: CA→ABC is 2 under Lowrance-Wagner
    // (transpose CA→AC, insert B), 3 under optimal string alignment —
    // the probed oracle engine says 2, so we must too
    assert(d("CA", "ABC") == 2 && d("ABC", "CA") == 2)
    // adjacent transposition costs 1 (the delta vs levenshtein's 2)
    assert(d("MARTHA", "MARHTA") == 1)
    assert(d("teh", "the") == 1 && d("ab", "ba") == 1)
    // classic edit-distance fixtures unchanged by the transposition rule
    assert(d("kitten", "sitting") == 3)
    assert(d("abcdef", "abcfed") == 2)
    assert(d("", "") == 0 && d("", "x") == 1 && d("abc", "abc") == 0)
    // byte-level contract: é is two UTF-8 bytes, so the probed oracle
    // (and we) price the substitution at 2, not 1
    assert(d("héllo", "hello") == 2)
    // SQL registration evaluates through codegen
    val viaSql = spark.sql(
      "SELECT graft_damerau_levenshtein('MARTHA', 'MARHTA') AS s")
      .head().getInt(0)
    assert(viaSql == 1)
  }

  test("DL linkage is a strict superset of levenshtein-1: transpositions") {
    import spark.implicits._
    // (1, 2) is an adjacent-digit transposition: DL 1, levenshtein 2 —
    // the pair the DL tier exists to find; (3, 4) is a plain
    // substitution both tiers price at 1
    val recs = Seq(
      (1L, "Customer#000000042"),
      (2L, "Customer#000000024"),
      (3L, "Customer#000000077"),
      (4L, "Customer#000000078")).toDF("c_custkey", "c_name")
    import graft.functions.expr.DamerauLevenshteinExpr
    val a = recs.select(col("c_custkey").as("ca"), col("c_name").as("na"))
    val b = recs.select(col("c_custkey").as("cb"), col("c_name").as("nb"))
    val pairs = a.join(b, col("ca") < col("cb"))
      .select(col("ca"), col("cb"),
        DamerauLevenshteinExpr(col("na"), col("nb")).as("dl"),
        levenshtein(col("na"), col("nb")).as("lev"))
      .collect()
    val byPair = pairs.map(r =>
      (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getInt(3))).toMap
    assert(byPair((1L, 2L)) == ((1, 2))) // transposition: DL 1, lev 2
    assert(byPair((3L, 4L)) == ((1, 1)))
    // DL never exceeds levenshtein (transpositions only help)
    assert(pairs.forall(r => r.getInt(2) <= r.getInt(3)))
  }

  test("fuzzy linkage never crosses blocks and distances are symmetric-bounded") {
    val rows = Registry.byName("dedup_fuzzy").run(spark, sf).collect()
    assert(rows.forall(_.getInt(2) <= 1))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("fuzzy linkage recovers a typo in the FIRST block-length characters") {
    import spark.implicits._
    // "Xustomer..." vs "Customer...": the leading-character typo changes
    // the 16-char prefix key, so a prefix-only blocking can never pair
    // them — the suffix block must recover it. The control pair (3, 4)
    // differs in the last character and lands in the prefix block; the
    // unrelated name (5) must pair with nothing.
    val recs = Seq(
      (1L, "Customer#000000042"),
      (2L, "Xustomer#000000042"),
      (3L, "Customer#000000077"),
      (4L, "Customer#000000078"),
      (5L, "Supplier#000000042")).toDF("id", "name")
    val pairs = graft.queries.AnalyticsQueries.linkagePairs(recs, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 1), (3L, 4L, 1)), pairs.toString)
  }

  test("link prediction: closed-form scores; the df-cap drops the hub from " +
      "candidate generation but never from the re-verified scores") {
    import spark.implicits._
    // hub touches everyone (deg 4); v1 joins a,b; v2 joins c,d
    val inc = Seq(
      ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"),
      ("a", "v1"), ("b", "v1"), ("c", "v2"), ("d", "v2"))
      .toDF("n", "via")
    def rows(maxDeg: Long, minShared: Long) =
      graft.pipeline.GraphOps.adamicAdar(inc, "n", "via", maxDeg, minShared)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6), r.getDouble(7)))
        .toMap
    val full = rows(100L, 1L)
    assert(full.size == 6, s"all pairs share at least the hub: $full")
    val (cn, da, db, aa, ra, jc) = full(("a", "b"))
    assert(cn == 2L && da == 2L && db == 2L)
    // aa = 1/ln4 + 1/ln2 (terms round@9); ra = 1/4 + 1/2; jacc = 2/2
    assert(math.abs(aa - (1.0 / math.log(4.0) + 1.0 / math.log(2.0))) < 1e-8)
    assert(ra == 0.75 && jc == 1.0)
    val (cnAc, _, _, aaAc, raAc, jcAc) = full(("a", "c"))
    assert(cnAc == 1L && raAc == 0.25 && math.abs(jcAc - 1.0 / 3.0) < 1e-9)
    assert(math.abs(aaAc - 1.0 / math.log(4.0)) < 1e-8)
    // cap at 3: the hub generates NO candidates (its 6 wedge pairs are
    // the boilerplate blowup the lever bounds) — only v1/v2 pairs
    // survive, and their scores still COUNT the hub exactly
    val capped = rows(3L, 1L)
    assert(capped.keySet == Set(("a", "b"), ("c", "d")), capped.toString)
    assert(capped(("a", "b")) == full(("a", "b")),
      "capping must not change a surviving pair's exact scores")
    // minShared prunes hub-only pairs from the uncapped run too
    assert(rows(100L, 2L).keySet == Set(("a", "b"), ("c", "d")))
  }

  test("modularity: two bridged triangles score 5/14; one community scores 0; " +
      "unlabeled endpoints drop with their edges") {
    import spark.implicits._
    val edges = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
      ("b1", "b2"), ("b2", "b3"), ("b3", "b1"), ("a3", "b3"))
      .toDF("u", "v")
    val labels = Seq("a1" -> "A", "a2" -> "A", "a3" -> "A",
      "b1" -> "B", "b2" -> "B", "b3" -> "B").toDF("n", "c")
    val r = graft.pipeline.GraphOps.modularity(edges, "u", "v", labels, "n", "c")
      .collect().map(x => x.getString(0) -> x).toMap
    // m=7; per triangle: e_in=3, D=7 -> Q = 2*(3/7 - (7/14)^2) = 5/14
    assert(r("A").getLong(1) == 3L && r("A").getLong(2) == 3L &&
      r("A").getLong(3) == 7L && r("A").getLong(4) == 7L)
    assert(math.abs(r("A").getDouble(5) - 5.0 / 14.0) < 1e-9)
    // one community holding everything: Q = m/m - (2m/2m)^2 = 0 exactly
    val one = Seq("a1" -> "X", "a2" -> "X", "a3" -> "X",
      "b1" -> "X", "b2" -> "X", "b3" -> "X").toDF("n", "c")
    val rOne = graft.pipeline.GraphOps.modularity(edges, "u", "v", one, "n", "c")
      .collect().head
    assert(rOne.getDouble(5) == 0.0, rOne.toString)
    // dropping b3's label removes its 3 edges from the labeled subgraph
    val partial = Seq("a1" -> "A", "a2" -> "A", "a3" -> "A",
      "b1" -> "B", "b2" -> "B").toDF("n", "c")
    val rp = graft.pipeline.GraphOps
      .modularity(edges, "u", "v", partial, "n", "c")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(rp("A").getLong(4) == 4L, s"m must count labeled edges only: $rp")
    assert(rp("B").getLong(2) == 1L && rp("B").getLong(1) == 2L)
    // duplicate + reversed edges normalize away; self-loops drop
    val messy = edges.union(Seq(("a2", "a1"), ("a1", "a1")).toDF("u", "v"))
    val rm = graft.pipeline.GraphOps.modularity(messy, "u", "v", labels, "n", "c")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(rm("A").getDouble(5) == r("A").getDouble(5), "normalization")
    // a node labeled TWICE resolves deterministically to the MIN label
    // instead of double-counting its edges (self-review finding)
    val dup = labels.union(Seq("a1" -> "Z").toDF("n", "c"))
    val rd = graft.pipeline.GraphOps.modularity(edges, "u", "v", dup, "n", "c")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(rd("A").getLong(4) == 7L && rd("A") == r("A") && !rd.contains("Z"),
      s"conflicting labels must not inflate m: $rd")
  }
}
