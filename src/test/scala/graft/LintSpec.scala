package graft

import graft.plans.Lint
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
    Lint.lint(df).map(_.rule).toSet

  // The one inventory of allowed plan findings: (rules, queries) groups,
  // one reason each. The registry-wide test below fails on a finding not
  // listed and on a listed (query, rule) pair that no longer occurs, so
  // the table stays exact; its global-window entries are the allowed
  // unpartitioned windows.
  private val justified: Set[(String, String)] = Seq(
    // -- cartesian --------------------------------------------------
    // the declared cross-join capability: the product IS the output
    Seq("cartesian") -> Seq("q30_cross_join"),
    // group-pair theta joins (a < b) over #groups-row moment or sketch
    // frames, never over fact rows
    Seq("cartesian") -> Seq("q48_sketch_overlap", "q55_welch", "q66_fdr",
      "q76_two_proportion", "q77_cohens_d", "q95_tukey_hsd"),
    // the dense contingency grid: row marginals x column marginals,
    // bounded by the category counts
    Seq("cartesian") -> Seq("q57_chisq", "q73_cramers_v"),
    // pairwise estimators cross two budget-lottery samples: O(target²)
    // rows by the Budget guarantee at any input size
    Seq("cartesian") -> Seq("q84_hodges_lehmann", "q102_energy"),
    // naive-Bayes scoring fans each document out over the broadcast
    // #labels-row class frame
    Seq("cartesian") -> Seq("pipeline_nb_classify", "pipeline_nb_eval",
      "pipeline_nb_auc", "pipeline_nb_kappa"),
    // exact vector tiers: a fixed, broadcast query (or eval) set against
    // the corpus — the brute baselines and re-ranks the scale paths are
    // gated against; dedup_embedding is the declared quadratic twin
    Seq("cartesian") -> Seq("ann_brute", "ann_filtered", "ann_int8",
      "ann_binary", "ann_ladder", "ann_pq", "hybrid_rrf", "ann_lsh_recall",
      "ann_ivf_recall", "ann_ivf_incremental_recall", "ann_int8_recall",
      "ann_pq_recall", "pipeline_decontam_semantic", "dedup_embedding"),
    // IVF cell assignment: vectors x the broadcast nCentroids-row table
    Seq("cartesian") -> Seq("ann_ivf", "ann_ivf_incremental"),
    // -- global-window + single-partition-shuffle --------------------
    // cumulative sums over a distinct-VALUE count frame (2-decimal
    // measures, bins, integer durations): bounded by the value domain
    Seq("global-window", "single-partition-shuffle") -> Seq(
      "q56_mannwhitney", "q56b_mannwhitney_binned", "q58_ks",
      "q58c_ks_binned", "q58b_cvm", "q58d_cvm_binned", "q78_kruskal_wallis",
      "q108_jonckheere", "q108b_jonckheere_binned", "q65_kaplan_meier",
      "q88_logrank", "q91_nelson_aalen"),
    // the same cumsum over distinct pair differences of a budget sample
    // (q84) and over distinct classifier scores (nb_auc)
    Seq("global-window", "single-partition-shuffle") -> Seq(
      "q84_hodges_lehmann", "pipeline_nb_auc"),
    // the conformal rank pick runs over the distinct 1e-9 |residual|
    // frame of the calibration half, which grows with it: the one entry
    // here not bounded by construction (Quantiles.exact is the scale path)
    Seq("global-window", "single-partition-shuffle") -> Seq("q63_conformal"),
    // ranks over frames with one row per group, group pair or condition:
    // BH's C(groups,2) pairs, Page's condition index, the
    // largest-remainder allocation table of the temperature mix
    Seq("global-window", "single-partition-shuffle") -> Seq("q66_fdr",
      "q110_page_trend", "pipeline_mix_temperature", "pipeline_e2e_v2"),
    // exact RFM quintiles rank the one-row-per-customer rollup, far
    // below the fact table (q27a's cutoff literals are the scale path)
    Seq("global-window", "single-partition-shuffle") -> Seq("orders_rfm"),
    // the Zipf rank runs over the vocabulary-sized count frame (top 100
    // kept), never the corpus
    Seq("global-window") -> Seq("text_zipf"),
    // -- expand-distinct ---------------------------------------------
    // the Expand IS the operator: grouping sets, unpivot and sliding
    // windows multiply each row once by design (one scan, one shuffle)
    Seq("expand-distinct") -> Seq("q28_rollup", "q28b_cube",
      "q28c_grouping_sets", "q13_unpivot", "q22c_sliding_window"),
    // the declared exact multi-distinct profile; profile_stats_sketch
    // is its mergeable-sketch scale path
    Seq("expand-distinct") -> Seq("profile_stats"),
    // the dof's two countDistincts run over the r x c grid, never the
    // corpus
    Seq("expand-distinct") -> Seq("q57_chisq"),
    // -- unpushed-filter ---------------------------------------------
    // gate fixtures slice tables by key residue (id % k, pmod): parquet
    // has no modulo predicate, so the filter evaluates post-scan
    Seq("unpushed-filter") -> Seq("q38_range_join", "q38b_interval_overlap",
      "q63_conformal", "q88_logrank", "dedup_incremental", "text_pii",
      "text_urls", "pipeline_nb_classify", "pipeline_nb_eval",
      "pipeline_nb_auc", "pipeline_nb_kappa", "pipeline_upsert",
      "pipeline_scd2", "pipeline_diff", "mm_decode", "mm_decode_meta",
      "mm_frames", "mm_frames_meta", "mm_video_pairs", "mm_phash_pairs",
      "mm_audio_fp_pairs"),
    // md5-prefix lotteries and buckets are computed columns
    Seq("unpushed-filter") -> Seq("pipeline_decontam",
      "pipeline_decontam_bloom", "pipeline_mix"),
    // guards over computed columns: the non-empty embedding check and
    // the word-count / ratio quality screens over split(text)
    Seq("unpushed-filter") -> Seq("ann_centroids", "pipeline_e2e"),
    // the exact-quantile cutoff is a double; comparing the long
    // n_chars column to it casts the column
    Seq("unpushed-filter") -> Seq("pipeline_quality_cut")
  ).flatMap { case (rules, queries) => for (r <- rules; q <- queries) yield q -> r }.toSet

  test("lint flags a cartesian join") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("a")
    val b = Seq(4, 5).toDF("b")
    assert(rules(a.crossJoin(b)).contains("cartesian"))
  }

  test("lint flags a global (no PARTITION BY) window") {
    import spark.implicits._
    val df = Seq(3, 1, 2).toDF("v")
      .withColumn("rn", row_number().over(Window.orderBy(col("v"))))
    assert(rules(df).contains("global-window"))
  }

  test("lint flags the multi-distinct Expand shape") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val multi = li.agg(
      countDistinct(col("l_orderkey")),
      countDistinct(col("l_partkey")),
      countDistinct(col("l_suppkey")))
    assert(rules(multi).contains("expand-distinct"))
  }

  test("lint flags a filter the scan could not push down") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    // a cast inside the predicate defeats parquet pushdown
    val defeated = li.filter(
      col("l_returnflag").cast("binary") === lit("A".getBytes("UTF-8")))
    assert(rules(defeated).contains("unpushed-filter"),
      defeated.queryExecution.executedPlan.toString.take(1500))
  }

  test("lint exempts a cross join against a one-row aggregate") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val total = li.agg(sum(col("l_quantity")).as("total_qty"))
    val shares = li.select(col("l_orderkey"), col("l_quantity")).crossJoin(total)
    assert(!rules(shares).contains("cartesian"), Lint.report(shares))
  }

  test("lint flags a grouped aggregate funnelled into one partition") {
    // a GROUPED count is unbounded (one row per part), so the exchange a
    // global rank puts above it is not the scalar-aggregate exemption
    val counts = Tables.lineitem(spark, TestSpark.sf).groupBy(col("l_partkey")).count()
    val ranked = counts.withColumn("r", rank().over(Window.orderBy(col("count").desc)))
    assert(rules(ranked).contains("single-partition-shuffle"), Lint.report(ranked))
  }

  /** The findings of `names` (built, linted and counted once, in
    * TestSpark.reviewed) that `justified` does not list, plus any query
    * that threw. */
  private def unjustified(names: Seq[String]): Seq[String] = {
    val byName = TestSpark.reviewed.toMap
    names.flatMap { name =>
      byName(name) match {
        case Left(err) => Seq(s"$name: $err")
        case Right(findings) => findings.filterNot(f => justified(name -> f.rule))
          .map(f => s"$name: unjustified [${f.rule}] ${f.detail}")
      }
    }
  }

  test("every declared capability runs at sf0.001 with exactly the justified plan findings") {
    val problems = unjustified(TestSpark.reviewed.map(_._1))
    val seen = TestSpark.reviewed.collect { case (name, Right(findings)) =>
      findings.map(f => name -> f.rule)
    }.flatten.toSet
    val stale = (justified -- seen).toSeq.sorted
      .map { case (q, r) => s"$q: justified [$r] no longer occurs" }
    assert(problems.isEmpty && stale.isEmpty, (problems ++ stale).mkString("\n"))
  }

  // The per-round views below check the query sets each round added
  // against the same inventory, so a regression names its round.

  test("flagship queries carry no UNJUSTIFIED plan findings") {
    val offenders = unjustified(Registry.all.filter(_.bench).map(_.name))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("late round-9 additions carry no UNJUSTIFIED plan findings") {
    // the graph twins are localCheckpoint-truncated; PlanSpec pins their
    // live per-round plans
    val offenders = unjustified(Seq("pipeline_dsir", "hybrid_rrf", "graph_kcore",
      "q45_ewma", "q46_anomaly", "text_pmi", "text_jm_lm",
      "graph_clustering", "graph_assortativity", "pipeline_e2e_v3",
      "q47b_grouped_weighted_quantiles", "pipeline_scd2",
      "q48_sketch_overlap", "events_funnel_latency",
      "q49_interarrival"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("round-11 additions carry no UNJUSTIFIED plan findings") {
    val offenders = unjustified(Seq("dedup_fuzzy_jw", "pipeline_split_stratified",
      "q66_fdr", "graph_scc", "dedup_containment",
      "q67_theil_sen", "dedup_winnow", "q26q_ipc_fsl",
      "dedup_fuzzy_dl", "q68_ridge", "q69_hampel",
      "text_chao1", "text_gini", "text_zipf",
      "q70_isotonic", "profile_benford", "orders_rfm",
      "q71_anderson", "q72_mann_kendall",
      "pipeline_nb_auc", "pipeline_nb_kappa", "q73_cramers_v",
      "q74_ccf", "q75_dispersion", "text_source_overlap",
      "q76_two_proportion", "q77_cohens_d",
      "pipeline_k_anonymity", "text_simpson"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("round-12 additions carry no UNJUSTIFIED plan findings") {
    val offenders = unjustified(Seq("dedup_winnow_capped", "q26r_csv_multiline",
      "q67_theil_sen", "q72_mann_kendall", "pipeline_e2e_v4"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("round-12 stats battery carries no UNJUSTIFIED plan findings") {
    val offenders = unjustified(Seq("q78_kruskal_wallis", "q79_brown_forsythe",
      "q80_gtest", "q81_durbin_watson", "q82_kendall_tau",
      "graph_link_predict", "q28c_grouping_sets", "q83_pacf",
      "graph_modularity", "q84_hodges_lehmann",
      "q85_welch_anova", "q86_runs_test", "q87_mcnemar",
      "q88_logrank", "q89_friedman", "q90_qn_scale",
      "q91_nelson_aalen", "q92_wilson_ci", "q93_chapman",
      "q94_poisson_rate"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("round-13 drift/causal additions carry no UNJUSTIFIED plan findings") {
    val offenders = unjustified(Seq("q104_wasserstein", "q104b_wasserstein_fixed",
      "q104c_wasserstein_windowed", "q101c_psi_windowed",
      "pipeline_raking", "q105_adf", "q105b_adf_hourly",
      "q106_granger", "q72b_seasonal_mk", "q58b_cvm",
      "pipeline_raking_apply", "q107_cochran_q",
      "q108_jonckheere", "q109_partial_corr", "q110_page_trend"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("clean declarative plans produce no findings") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val good = li.filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
    assert(Lint.lint(good).isEmpty, Lint.report(good))
  }
}
