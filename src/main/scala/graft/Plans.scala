package graft

import java.nio.file.{Files, Paths}

/** Plan-audit artifact generator: dumps `explain("formatted")` for the
  * headline (bench-flagged) queries plus the scale-critical newer
  * operators into `PLANS.md`. The committed artifact is the review
  * surface for "is this the plan you'd want at 100 TB" — pushdowns,
  * broadcast choices, exchange counts and codegen spans are all visible;
  * PlanSpec pins the load-bearing properties as tests.
  *
  * Regenerate with: `sbt "runMain graft.Plans"`. Usage:
  * `runMain graft.Plans [out-file [query...]]` — out-file defaults to
  * `PLANS.md`; named queries replace the default set, e.g. before/after
  * evidence for one change: `runMain graft.Plans /tmp/before.md q16_math`
  * (env: SPARK_GRAFT_SF_DIR, default sf0.01; SPARK_GRAFT_CPUS, default 8).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val named = if (args.length > 1) Bench.queries(args.toSeq.drop(1)) else Nil
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.fromEnv(8, "graft-plans")

    val extra = Seq(
      "q21d_asof_multi",         // N-right one-pass as-of: 3 clustered exchanges, chained narrow merges
      "ann_brute",               // exact ANN baseline (broadcast + window) — kept for reference
      "q26i_ipc_stream",         // stream-format IPC round-trip
      "q38b_interval_overlap",   // residual-vs-equi-key extraction
      "q27g_grouped_quantiles",  // single-exchange grouped rank selection
      "q33b_grouped_winsorize",  // grouped cutoffs broadcast back
      "pipeline_vocab",          // map-side combine + top-k sink
      "pipeline_decontam",       // single-scan shingling
      "pipeline_cap",            // one window over a pre-projected frame
      "q39_incremental_hll",     // sketch union over persisted binaries
      "pipeline_mix",            // zero-exchange weighted sampling (+oracle agg)
      "text_repetition",         // doc-keyed partial counts, no text on the wire
      "q27h_sketch_err",         // sketches vs rank-selection exact, thresholded
      "q04b_salted_join",        // (key, salt) hash exchange, replicated build
      "q25g_sorted_layout",      // pruned range read over disjoint-range files
      "q25h_zorder_layout",      // codegen'd morton key feeding the range write
      "pipeline_shuffle",        // seeded permutation, one shard exchange
      "q26l_ipc_zstd",           // compressed IPC round-trip scan
      "events_funnel",           // stage windows + user collapse share one exchange
      "profile_stats",           // one scan, Expand for the multi-distinct
      "pipeline_token_budget",   // one source-window exchange
      "pipeline_quality_cut",    // zero-exchange scalar-cutoff filter
      "q21f_asof_nearest",       // symmetric range + closest-match dedup
      "dedup_fuzzy",             // prefix-block equi-join bounds the verify
      "profile_histogram",       // broadcast bounds into a narrow binning map
      "q42_grouped_topk",        // partial ObjectHashAggregate heaps, no Window
      "mm_phash_pairs",          // banded Hamming equi-join, popcount verify
      "dedup_keep_best",         // one component exchange for both policy windows
      "dedup_incremental",       // 8-byte-hash tiers, cross-side-only near join
      "mm_video_pairs",          // one decode pass, reused exchange, fhash equi-join
      "profile_stats_sketch",    // sketch partials, no Expand
      "graph_harmonic",          // HyperBall sketch-ball iteration
      "graph_ppr",               // seed-flag teleport, same iteration shape
      "graph_triangles",         // degree-oriented wedges, reused exchange
      "dedup_ppjoin",            // prefix-filter candidates, exact verify
      "ann_pq",                  // literal codebook, narrow encode, ADC scan
      "pipeline_expectations",   // one scan + one 1-row aggregate
      "q43_resample",            // binned bracket joins, no per-key cross
      "dedup_semantic",          // literal-folded assignment, broadcast reps
      "pipeline_weighted_sample",// ES keys through the bounded heap
      "text_drift",              // slice-token partials, closed-form absent mass
      "text_entropy",            // (doc,char) partials, never text
      "q02f_spearman",           // range-sorted ranks, no one-partition window
      "profile_outliers",        // two grouped rank selections + broadcast backs
      "pipeline_split_leakfree", // narrow group-keyed bucket projection
      "text_drift_bucketed",     // one 64-counter aggregate, closed-form JSD projection
      "text_tfidf",              // doc/word partials, df reuse, bounded doc window
      "text_gopher",             // pure narrow rule battery, zero shuffle
      "events_cohorts",          // anchor agg + distinct + user-keyed join
      "events_transitions",      // one user lag window + pair counts
      "profile_eq_histogram",    // quantile edges folded into a narrow binning map
      "q44_rolling",             // event-time RANGE frame
      "ann_filtered",            // pushed metadata pre-filter + exact search
      "q26p_ipc_partitioned",    // hive-layout IPC dataset round-trip
      "pipeline_decontam_semantic", // broadcast eval, map-side max collapse
      "pipeline_mix_temperature",   // bounded allocation frame + lottery window
      "ann_kmeans_quality",      // literal-folded silhouette, one exchange
      "pipeline_e2e_v2",         // the round-9 ops as one lazy plan
      "pipeline_ccnet_buckets",  // LM chain + broadcast quantile cutoffs
      "q02h_grouped_spearman",   // group-partitioned rank windows
      "pipeline_dsir",           // 64-row LM broadcast, bucket partials, top-k sink
      "hybrid_rrf",              // bounded fusion agg over two ranker lists
      "graph_kcore",             // degree agg + semi-joins per peeling round
      "q45_ewma",                // bounded-frame window, fold-projected
      "q46_anomaly",             // preceding-window frame, guarded divisions
      "text_pmi",                // count partials, word-keyed joins, top-k sink
      "text_jm_lm",              // bigram partials + unigram join mixture
      "graph_clustering",        // triangle machinery + degree join
      "graph_assortativity",     // degree joins + 1-row moment aggregate
      "pipeline_e2e_v3",         // DSIR + JM LM composed in one plan
      "q47b_grouped_weighted_quantiles", // running-weight window, min-of-suffix
      "pipeline_scd2",           // one id exchange, two windows
      "q48_sketch_overlap",      // sketch algebra over per-segment artifacts
      "events_funnel_latency",   // funnel stage windows + grouped rank selection
      "q49_interarrival",        // one lag window + grouped rank selection
      "q50_acf",                 // one window for ALL lags + (key,lag) aggregate
      "q51_intervals",           // gaps-and-islands: O(1) window state, no arrays
      "q52_cusum",               // scaled-long argmax, broadcast totals join
      "q53_cms_topk",            // per-day CMS artifacts merged, codegen probe
      "pipeline_nb_classify",    // bounded model frame join, long-summed terms
      "ann_pca",                 // one Gram pass, driver eigen on 33 KB
      "ann_pca_project",         // literal-folded component, zero shuffle
      "ann_rp",                  // md5-derived sign matrix, narrow fan-out
      "q55_welch",               // broadcast moment pairs
      "q56_mannwhitney",         // distinct-value frame window only
      "q57_chisq",               // marginal-bounded dense grid
      "q58_ks",                  // distinct-value cumsums, integer D argmax
      "q59_ols_multi",           // one scalar-aggregate exchange, 1-row model
      "q60_seasonal",            // bucket agg + key window reused by seasonal agg
      "q61_bootstrap",           // R-way narrow fan-out, one replicate aggregate
      "q62_assoc_rules",         // basket-bounded self-join, broadcast marginals
      "q63_conformal",           // OLS artifact + integer rank selection
      "pipeline_nb_eval",        // confusion counts over the composed chain
      "q64_mutual_info",         // observed-cell log2 terms, broadcast marginals
      "q65_kaplan_meier",        // session islands -> distinct-duration window
      "q66_fdr",                 // pair-frame BH rank, 1-row broadcast cutoff
      "dedup_fuzzy_jw",          // same linkage blocks, codegen JW verify
      "pipeline_split_stratified", // one stratum exchange, two windows
      "graph_scc",               // FW-BW peeling, checkpointed rounds
      "dedup_containment",       // shared candidate machinery, direction fan-out
      "q67_theil_sen",           // g-keyed pair join on the thinned frame
      "dedup_winnow",            // narrow HOF selection, fp-keyed pairs
      "q26q_ipc_fsl",            // fixed-size-list transport round-trip
      "dedup_fuzzy_dl",          // same linkage blocks, codegen full-DL verify
      "q68_ridge",               // penalized solve on the one-exchange moments
      "q69_hampel",              // one key exchange, bounded ROWS frame
      "text_chao1",              // (source,word) partials -> vocab-sized rollup
      "text_gini",               // reused source exchange: rank window + rollup
      "text_zipf",               // vocab-frame rank window, exact-moment fit
      "q70_isotonic",            // B^2-bounded pair frame, suffix-min window
      "profile_benford",         // 9-row digit agg, 1-row broadcast total
      "orders_rfm",              // customer rollup, three rank windows
      "q71_anderson",            // broadcast moments, one rank window, term sum
      "q72_mann_kendall",        // thinned g-keyed pairs, partial sign sums
      "pipeline_nb_auc",         // per-score counts, distinct-score window
      "pipeline_nb_kappa",       // class-sized marginals, 1-row broadcasts
      "q73_cramers_v",           // chisq dense grid + one effect-size row
      "q74_ccf",                 // hourly mean frames, one bucket equi-join
      "q75_dispersion",          // (key,bucket) counts -> key rollup
      "text_source_overlap",     // distinct vocab, word-keyed set join
      "q76_two_proportion",      // user rollup -> 2-row variant aggregate
      "q77_cohens_d",            // broadcast moment pairs (the q55 shape)
      "pipeline_k_anonymity",    // two-level QI aggregate, 1-row summary
      "text_simpson",            // (source,word) partials -> source rollup
      "dedup_winnow_capped",     // df-capped candidates, exact re-verify
      "pipeline_e2e_v4",         // five-stage release chain, one lazy plan
      "q78_kruskal_wallis",      // distinct-value midranks -> group rollup
      "q79_brown_forsythe",      // broadcast medians, two narrow passes
      "q80_gtest",               // observed-cells-only likelihood ratio
      "q81_durbin_watson",       // 1-row model broadcast + one lag window
      "q81b_durbin_watson_fine", // same chain, per-(flag,year) bounded sorts
      "q82_kendall_tau",         // budget-lottery pair frame, exact ties
      "graph_link_predict",      // capped wedge candidates, exact re-verify
      "q28c_grouping_sets",      // one Expand pass, three summaries
      "q83_pacf",                // zero extra passes over the ACF frame
      "graph_modularity",        // integer-exact community rollup
      "q84_hodges_lehmann",      // budget-bounded cross pairs, rank pick
      "q85_welch_anova",         // one grouped pass, broadcast reductions
      "q86_runs_test",           // broadcast medians + one lag window
      "q87_mcnemar",             // user rollup -> one 2x2 aggregate
      "q88_logrank",             // distinct-duration risk-set cumsums
      "q89_friedman",            // per-block rank windows, cond rollup
      "q90_qn_scale",            // lottery pairs, per-group rank pick
      "q91_nelson_aalen",        // exact-long hazard cumsum
      "q26s_ipc_map",            // map-layout IPC round-trip scan
      "q92_wilson_ci",           // user rollup -> 2-row interval math
      "q93_chapman",             // one narrow flag aggregate
      "q94_poisson_rate",        // user rollup -> one 2-sided aggregate
      "q19c_rank_ties",          // one exchange serves every rank window
      "q95_tukey_hsd",           // k-row moment frame, broadcast pairs
      "q96_cochran_armitage",    // one count pass -> 1-row reduction
      "q97_cuped",               // user rollup -> one 2-sided aggregate
      "q98_ratio_metric",        // user rollup -> one 2-sided aggregate
      "q99_sprt",                // one cumulative window + group rollup
      "q99b_sprt_hourly",        // interval rollup -> bounded window
      "q100_page_hinkley",       // one key exchange serves all cum windows
      "q100b_page_hinkley_hourly", // hourly rollup -> bounded window
      "q101_psi",                // ref-decile edges join, cell partials
      "q102_energy",             // budget-bounded cross pairs (q84 shape)
      "q101b_psi_fixed",         // min/max bounds agg, narrow binning, no sort
      "q103_drift_console",      // three 5-row monitoring frames, key joins
      "q104_wasserstein",        // distinct-value cell frame, per-key CDF window
      "q104b_wasserstein_fixed", // union-bounds agg, <=10-row key windows
      "pipeline_raking",         // one corpus count; IPF on the cell frame
      "q105_adf",                // one lag window + grouped moment solve
      "q106_granger",            // hour-bounded frames, one 14-sum moment pass
      "q104c_wasserstein_windowed", // broadcast ref CDF, 10-counter groups
      "q105b_adf_hourly",        // map-side hourly reduction, bucket-frame window
      "q101c_psi_windowed",      // broadcast ref shares, 10-counter groups
      "q72b_seasonal_mk",        // budget pairs within (g, season) keys
      "q58b_cvm",                // distinct-value frame, decimal term sum
      "pipeline_raking_apply",   // broadcast cell weights, narrow lottery filter
      "q107_cochran_q",          // two rollups to 1-row totals, exact integers
      "q108_jonckheere",         // distinct-value frame 2J, broadcast totals
      "q109_partial_corr",       // one ten-moment scalar exchange, 1-row readout
      "q110_page_trend")         // Friedman rank frame + k-row index window
    val names =
      if (named.nonEmpty) named
      else (Registry.all.filter(_.bench).map(_.name) ++ extra).distinct
        .filter(Registry.byName.contains)

    val sections = names.map { name =>
      val cap = Registry.byName(name)
      val df = cap.run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      s"## $name\n\n${cap.doc}\n\n```\n${plan.trim}\n```\n"
    }

    // graph_pagerank's returned frame is localCheckpoint-truncated, so its
    // own section would show only a checkpoint scan; dump ONE un-checkpointed
    // iteration instead — the plan that runs every round
    lazy val prSection = {
      import org.apache.spark.sql.functions._
      val pairs = Tables.lineitem(spark, sfDir)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      val edges = pairs.select(
          concat(lit("p"), col("p")).as("src"), concat(lit("s"), col("sk")).as("dst"))
        .union(pairs.select(
          concat(lit("s"), col("sk")).as("src"), concat(lit("p"), col("p")).as("dst")))
      val g = graft.pipeline.GraphOps.prepare(edges, "src", "dst")
      val r0 = g.nd.withColumn("rank", lit(1.0 / g.n)).localCheckpoint()
      val it = graft.pipeline.GraphOps.iterate(g, r0, 0.85, 12)
      val plan = it.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      g.e.unpersist(); g.nd.unpersist()
      "## graph_pagerank (one iteration)\n\n" +
        "The per-round plan of GraphOps.pageRank: cached src-partitioned " +
        "edges reused (no live src exchange), rank-width frames shuffle, " +
        "sink mass broadcasts. PlanSpec pins these properties.\n\n" +
        s"```\n${plan.trim}\n```\n"
    }

    // graph_hits / graph_lpa are localCheckpoint-truncated like pageRank;
    // dump one live half-step / round instead — the plan every iteration runs
    lazy val hitsSection = {
      import org.apache.spark.sql.functions._
      val pairs = Tables.lineitem(spark, sfDir)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      val edges = pairs.select(
        concat(lit("p"), col("p")).as("src"), concat(lit("s"), col("sk")).as("dst"))
      val e = edges.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val h0 = nodes.select(col("node"), lit(1.0).as("hub"))
      val half = graft.pipeline.GraphOps.hitsHalfStep(
        e, nodes, h0, "hub", "src", "dst", "auth", 12)
      val plan = half.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      e.unpersist(); nodes.unpersist()
      "## graph_hits (one half-step)\n\n" +
        "The per-half-step plan of GraphOps.hits: cached src-partitioned " +
        "edges reused, (node, score) pairs shuffle, the L1 total rides a " +
        "broadcast — the mirror of the pageRank iteration shape.\n\n" +
        s"```\n${plan.trim}\n```\n"
    }

    lazy val lpaSection = {
      import org.apache.spark.sql.functions._
      val pairs = Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") < 300)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      val e0 = pairs.select(col("p").as("pa"), col("sk"))
        .join(pairs.select(col("p").as("pb"), col("sk")), Seq("sk"))
        .filter(col("pa") < col("pb"))
        .select(col("pa").as("u"), col("pb").as("v")).distinct()
      val und = e0.filter(col("u") =!= col("v"))
        .select(col("u").as("src"), col("v").as("dst"))
      val sym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lab0 = sym.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      val round1 = graft.pipeline.GraphOps.lpaRound(sym, lab0)
      val plan = round1.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sym.unpersist()
      "## graph_lpa (one round)\n\n" +
        "The per-round plan of GraphOps.labelPropagation: cached " +
        "symmetrized edges reused, (node, label) count partials with " +
        "map-side combine, per-node argmax as a reducible min(struct) " +
        "aggregate — no window anywhere.\n\n" +
        s"```\n${plan.trim}\n```\n"
    }

    val header =
      s"""# PLANS — formatted physical plans of the headline queries
         |
         |Generated by `graft.Plans` at $sfDir. These are the OPTIMIZED
         |(pre-AQE-finalization) plans; the properties that must not regress
         |(pushdown, broadcast, partial aggregation, exchange counts, no
         |nested loops, no single-reducer percentile buffers) are asserted
         |in `PlanSpec`/`RangeJoinSpec`/`QuantilesSpec`/`BucketingSpec`.
         |""".stripMargin

    // the one-iteration sections belong to the default set only
    val all = sections ++
      (if (named.nonEmpty) Nil else Seq(prSection, hitsSection, lpaSection))
    Files.writeString(Paths.get(out), header + "\n" + all.mkString("\n"))
    println(s"[plans] wrote ${all.size} plans to $out")
    spark.stop()
  }
}
