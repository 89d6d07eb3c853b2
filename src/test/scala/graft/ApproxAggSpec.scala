package graft

import org.scalatest.funsuite.AnyFunSuite

class ApproxAggSpec extends AnyFunSuite {

  test("sketch algebra: pairwise union + inclusion-exclusion recovers exact overlaps") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.expr.{DistinctSketchEstimate, DistinctSketchSingleton, SketchUnionAgg}
    // segment A = {1..10}, B = {6..20}: |A|=10, |B|=15, |A∩B|=5, |A∪B|=20
    val rows = ((1L to 10L).map(("A", _)) ++ (6L to 20L).map(("B", _)))
      .toDF("seg", "uid")
    val sk = rows.groupBy(col("seg"))
      .agg(SketchUnionAgg(DistinctSketchSingleton(xxhash64(col("uid")))).as("sk"))
      .select(col("seg"), col("sk"), DistinctSketchEstimate(col("sk")).as("n"))
    val a = sk.filter(col("seg") === "A").select(col("sk").as("ska"), col("n").as("na"))
    val b = sk.filter(col("seg") === "B").select(col("sk").as("skb"), col("n").as("nb"))
    val out = a.crossJoin(b)
      .select(col("na"), col("nb"),
        explode(array(col("ska"), col("skb"))).as("s"))
      .groupBy(col("na"), col("nb"))
      .agg(SketchUnionAgg(col("s")).as("u"))
      .select(col("na"), col("nb"), DistinctSketchEstimate(col("u")).as("nu"))
      .head()
    assert(out.getLong(0) == 10L && out.getLong(1) == 15L, out.toString)
    assert(out.getLong(2) == 20L, out.toString)
    assert(out.getLong(0) + out.getLong(1) - out.getLong(2) == 5L, out.toString)
  }
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("sketch aggregates land within tolerance of exact values") {
    val approx = Registry.byName("q27b_approx").run(spark, sf).head()
    val exact = Registry.byName("q27a_quantiles").run(spark, sf).head()
    val exactParts = exact.getAs[Long]("n_parts")
    val approxParts = approx.getAs[Long]("approx_parts")
    // HLL++ default rsd = 5%
    assert(math.abs(approxParts - exactParts).toDouble / exactParts < 0.15,
      s"approx $approxParts vs exact $exactParts")
    val exactMedian = exact.getAs[Double]("p50")
    val approxMedian = approx.getAs[Double]("approx_median")
    assert(math.abs(approxMedian - exactMedian) / exactMedian < 0.05,
      s"approx median $approxMedian vs exact $exactMedian")
  }

  test("t-digest quantiles land within 1% of exact quantiles") {
    val td = Registry.byName("q27c_tdigest").run(spark, sf).head()
    val exact = Registry.byName("q27a_quantiles").run(spark, sf).head()
    for ((tdCol, exCol) <- Seq("td_p25" -> "p25", "td_p50" -> "p50", "td_p75" -> "p75")) {
      val t = td.getAs[Double](tdCol)
      val e = exact.getAs[Double](exCol)
      assert(math.abs(t - e) / e < 0.01, s"$tdCol=$t vs $exCol=$e")
    }
    // p99 has no exact twin in q27a; sanity: above p75 and below the max
    assert(td.getAs[Double]("td_p99") > td.getAs[Double]("td_p75"))
  }

  test("grouped t-digest estimates sit at the right RANK within each group") {
    // t-digest accuracy is a rank-space guarantee — assert the estimate's
    // actual rank per group, not relative value error (unbounded on
    // heavy tails)
    import org.apache.spark.sql.functions._
    val td = Registry.byName("q27d_grouped_tdigest").run(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(td.size >= 3)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      .cache()
    try {
      val counts = li.groupBy(col("flag")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(td.keySet == counts.keySet)
      for ((flag, row) <- td; (colName, q) <- Seq("td_p25" -> 0.25, "td_p50" -> 0.5, "td_p75" -> 0.75)) {
        val est = row.getAs[Double](colName)
        val below = li.filter(col("flag") === flag && col("v") <= est).count()
        val rank = below.toDouble / counts(flag)
        assert(math.abs(rank - q) < 0.02, s"$flag/$colName: est=$est rank=$rank vs q=$q")
      }
    } finally li.unpersist()
  }

  test("t-digest stays accurate on a heavy-tailed distribution incl. tails") {
    import org.apache.spark.sql.functions._
    // deterministic lognormal-ish: exp of a sum of 8 hash-derived
    // uniforms (CLT ⇒ ~normal exponent), heavy right tail over 5 orders
    // of magnitude — the shape the k1 scale function is built for
    val df = TestSpark.spark.range(0, 200000, 1, 16)
      .select((0 until 8).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(100000L)).cast("double") / 100000.0))
        .reduce(_ + _).as("u"))
      .select(exp((col("u") - 4.0) * 3.0).as("x"))
    val qs = Seq(0.01, 0.5, 0.99)
    val td = df.agg(graft.functions.expr.TDigestAgg.quantiles(col("x"), qs).as("t"))
      .head().getSeq[Double](0)
    // t-digest's guarantee is RANK-space accuracy (a tiny rank error on an
    // exponential tail is a large value error, by design): assert the
    // fraction of values at-or-below each estimate is within 0.5pp of q
    val n = df.count().toDouble
    qs.indices.foreach { i =>
      val rankOfEstimate = df.filter(col("x") <= td(i)).count() / n
      assert(math.abs(rankOfEstimate - qs(i)) < 0.005,
        s"q=${qs(i)}: estimate=${td(i)} sits at rank $rankOfEstimate")
    }
  }

  test("persisted HLL sketches merge to the exact distinct count at gate scale") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("q39_incremental_hll").run(spark, TestSpark.sf).head()
    val exact = Tables.documents(spark, TestSpark.sf)
      .agg(countDistinct(col("doc_id"))).head().getLong(0)
    assert(out.getLong(0) == exact, s"sketch estimate ${out.getLong(0)} != exact $exact " +
      "(lgConfigK must keep the sketch in exact sparse mode at this cardinality)")
    // the persisted sketch column is binary — the mergeable state really
    // round-tripped through parquet
    val persisted = spark.read.parquet(Tables.scratch(TestSpark.sf, "q39_sketches"))
    assert(persisted.schema("sk").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(persisted.count() == Tables.documents(spark, TestSpark.sf)
      .select(col("source")).distinct().count())
  }

  test("distinct sketch: exact below cap, bounded + accurate after degrade, SQL-callable") {
    import org.apache.spark.sql.functions._
    // exact tier: 40k distinct values under the default 64k cap → exact
    val exactTier = spark.range(0, 80000, 1, 16)
      .select((org.apache.spark.sql.functions.col("id") % 40000).as("v"))
      .agg(graft.functions.expr.DistinctSketchAgg(col("v"))).head().getLong(0)
    assert(exactTier == 40000L, s"exact tier must be exact, got $exactTier")
    // degraded tier: 1M distinct over a 1k cap at lgK=12 → within ~3*RSE
    // (1.04/sqrt(4096) ≈ 1.6%) of the truth, with bounded register state
    val degraded = spark.range(0, 1000000, 1, 16)
      .agg(graft.functions.expr.DistinctSketchAgg(col("id"), 1000, 12))
      .head().getLong(0)
    assert(math.abs(degraded - 1000000.0) / 1000000.0 < 0.05,
      s"degraded estimate $degraded too far from 1000000")
    // merge order independence across the exact→register boundary: fewer
    // partitions merge different-sized partials, same answer
    val degraded2 = spark.range(0, 1000000, 1, 3)
      .agg(graft.functions.expr.DistinctSketchAgg(col("id"), 1000, 12))
      .head().getLong(0)
    assert(degraded == degraded2,
      s"register-tier result must be partitioning-independent: $degraded vs $degraded2")
    // SQL surface
    val viaSql = spark.sql(
      "SELECT graft_distinct_sketch(id) FROM range(0, 5000)").head().getLong(0)
    assert(viaSql == 5000L)
    val viaSqlCapped = spark.sql(
      "SELECT graft_distinct_sketch(id, 100, 12) FROM range(0, 200)").head().getLong(0)
    assert(viaSqlCapped != 0L)
    // shard -> union -> estimate over SERIALIZED states (the q39 pattern
    // with the graft sketch): per-shard states built from singletons,
    // merged later without the raw data — exact through the union in the
    // exact tier (3000 distinct hashes, well under the cap)
    val unioned = spark.sql(
      """SELECT graft_sketch_estimate(graft_sketch_union(st)) AS nd FROM (
        |  SELECT id % 8 AS shard,
        |         graft_sketch_union(graft_sketch_singleton(xxhash64(CAST(id AS STRING)))) AS st
        |  FROM range(0, 3000) GROUP BY 1)""".stripMargin).head().getLong(0)
    assert(unioned == 3000L, s"sharded union must stay exact, got $unioned")
    // small-register tiers (lgK 4-6) use the exact Flajolet alpha
    // constants (0.673/0.697/0.709), not the m>=128 asymptote — the
    // estimate at each tiny m must stay within 3*RSE of the truth
    Seq(4, 5, 6).foreach { lg =>
      val m = 1 << lg
      val rse = 1.04 / math.sqrt(m.toDouble)
      val n = 50000L
      val est = spark.range(0, n, 1, 8)
        .agg(graft.functions.expr.DistinctSketchAgg(col("id"), 1, lg))
        .head().getLong(0)
      assert(math.abs(est - n.toDouble) / n < 3 * rse,
        s"lgK=$lg estimate $est outside 3*RSE of $n")
    }
  }

  test("minhash and simhash sketches are callable from SQL text") {
    import org.apache.spark.sql.functions._
    Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), explode(graft.functions.TextOps.shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .createOrReplaceTempView("graft_sh")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_minhash(h, 16) AS sig, graft_simhash(h) AS sim
        |FROM graft_sh GROUP BY doc_id ORDER BY doc_id LIMIT 5""".stripMargin)
      .collect()
    assert(viaSql.length == 5)
    viaSql.foreach { r =>
      assert(r.getSeq[Long](1).length == 16) // 16-hash signature
      r.getLong(2)                            // simhash is a long
    }
    // identical input → identical sketches (pure functions of the set)
    val again = spark.sql(
      """SELECT doc_id, graft_minhash(h, 16) AS sig, graft_simhash(h) AS sim
        |FROM graft_sh GROUP BY doc_id ORDER BY doc_id LIMIT 5""".stripMargin)
      .collect()
    assert(viaSql.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // analysis-time rejection of a wrong-typed column
    spark.sql("SELECT 'a' AS s").createOrReplaceTempView("graft_badtype")
    val err = intercept[Exception] {
      spark.sql("SELECT graft_simhash(s) FROM graft_badtype").collect()
    }
    assert(err.getMessage.toLowerCase.contains("bigint"))
  }

  test("t-digest merge across many partitions stays accurate (SQL surface)") {
    import org.apache.spark.sql.functions._
    // 0..99999 uniformly over 32 partitions → p50 ≈ 50000, p90 ≈ 90000
    val df = spark.range(0, 100000, 1, 32).select(col("id").cast("double").as("x"))
    df.createOrReplaceTempView("graft_td_uniform")
    val r = spark.sql(
      "SELECT graft_tdigest(x, 0.5D, 0.9D) AS qs FROM graft_td_uniform").head()
    val qs = r.getSeq[Double](0)
    assert(math.abs(qs(0) - 50000) / 50000 < 0.01, s"p50=${qs(0)}")
    assert(math.abs(qs(1) - 90000) / 90000 < 0.01, s"p90=${qs(1)}")
  }
}
