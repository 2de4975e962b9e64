package graft.tools

/** Registries of the deliberate global-window queries. The whole-surface
  * plan audit (loop joins, hash exchanges, partition-less windows for every
  * `SparkEntry` query) is `PlanAuditSpec`, the gate; Bench reads the same
  * registries to attribute its runtime window WARNs.
  */
object PlanAudit {
  /** Queries whose executed plan carries a partition-less `WindowExec` ON
    * PURPOSE — the single source of truth consumed by BOTH
    * `Bench.windowWarnWhitelist` (runtime WARN attribution) and
    * `PlanAuditSpec` (plan regression gate), so the two can't drift (the
    * j10 incident: plan-audited but not bench-whitelisted shipped one
    * `window_warnings_attributed:false` artifact).
    *
    * Every entry is a BOUNDED frame — dimension-, cell-, group-, stratum-
    * or distinct-time-sized after an upstream corpus-sized groupBy — never
    * the data itself:
    *  - m3: in-SQL ROC curve over 4 leaf scores (plan-required)
    *  - p7: DPP dim max (days-sized; crossJoin would break DPP's Filter)
    *  - w2: A7 reference semantics over a dimension-sized table
    *  - r48: HL running chain over the 8-row covariate-pattern frame
    *  - r19/r62/r25/r30: margins + running χ²/G/V/MI over the R×C CELL frame
    *  - r20/r23/r38/r54: running chains over the k-row GROUP frame
    *  - r59: LM chain over the 2^p (=4) covariate-cell frame
    *  - r63: r25's completion windows over the 2×k median table
    *  - t26: rank + OLS chains over the top-k (=100) vocab frame
    *  - r26/r27/r50/r51/r66/r68/r69: KM / log-rank / Cox / Nelson–Aalen /
    *    Greenwood / RMST / competing-risks running chains over the
    *    distinct-TIME frame (~days-sized; stratified KM r67 is NOT here —
    *    its windows are partitioned by stratum)
    *  - r53: lag ride over the distinct-day totals frame
    *  - m12: per-feature distinct-value counts over value-level frames
    *  - r29/r35: MH-CMH / Breslow–Day chains over the stratum frame
    *  - r32: Friedman χ² chain over the k-row treatment frame
    *  - m7: cumulative gains over the leaf-level score frame (≤ 2^depth)
    *  - q13/q16: Benford / PSI chains over the 9-digit / k-bin frame
    *  - j10: interval DIM's row_number index (dimension-sized, w2 shape);
    *    the fact side only binary-searches a broadcast array
    */
  val deliberateGlobalWindows: Set[String] = Set(
    "m3_tree_score", "p7_partition_prune", "w2_global_window",
    "r48_hosmer_lemeshow", "r19_chi2", "r20_kruskal", "r23_anova",
    "r38_levene", "r59_breusch_pagan", "r62_gtest", "r63_mood_median",
    "t26_zipf_fit", "r25_cramers_v", "r26_kaplan_meier", "r27_logrank",
    "r66_km_greenwood", "r68_rmst", "r69_competing_risks",
    // r70: SPRT running LLR + latched crossing flags over the ~30-row
    // day frame (the e23 shape)
    "r70_sprt",
    // d22: reverse cumulative chain over the ≤8-row agree frame
    "d22_lsh_threshold_sweep",
    "r50_cox", "r51_nelson_aalen", "r53_durbin_watson", "r54_bartlett",
    // r71: DL meta-analysis fixed/random-effects chains over the
    // 25-row per-nation study frame (the r29 shape)
    "r71_meta_dl",
    // r72: IPW/naive ATE chains over the 4-row covariate-cell frame
    // (the r48 shape)
    "r72_ipw_ate",
    // m20: IV running chain over the 5-row priority category frame
    "m20_woe_iv",
    // r77: Cameron–Trivedi α̂/t chains over the 4-row covariate-cell
    // frame (the r48 shape)
    "r77_overdispersion",
    "m12_naive_bayes", "r29_mantel_haenszel", "r30_mutual_info",
    "r32_friedman", "m7_lift_chart", "q13_benford", "q16_psi",
    "j10_bracket_lookup", "r35_breslow_day",
    // m24: best-so-far chain over the ≤10-row literal trial-trace frame
    // (plus m2-shaped tree-fit sub-jobs at query-build time)
    "m24_tune_trace")

  /** Queries that emit runtime `WindowExec` WARNs without a partition-less
    * window in their OWN executed plan — bounded-frame stats chains that
    * keep sequential windows for oracle bit-compat (FDR tv/sabha chains,
    * empirical ROC curve twins, tree-fit scoring sub-jobs). All
    * distinct-score / strata-sized frames, never data-sized. Consumed by
    * `Bench.windowWarnWhitelist` alongside [[deliberateGlobalWindows]]. */
  val runtimeOnlyWindowWarns: Set[String] = Set(
    "r8_roc_empirical", "r9_fdr_distributed", "r11_sabha_distributed",
    "r14_tv_projection", "r15_fdr_family", "m1_decision_tree",
    "m2_bayes_tune", "m4_fit_score", "m5_tune_score", "m16_isotonic",
    // m21: three m4-shaped tree-fit sub-jobs (one per curve slice)
    "m21_learning_curve",
    // m22: one m4-shaped tree-fit sub-job behind the permutation arms
    "m22_perm_importance",
    // m23: one m4-shaped tree-fit sub-job behind the ensemble scan
    "m23_ensemble")
}
