package graft.plans

/** Declared per-query [[ScaleGuard]] allowances for the registry —
  * the single source of truth for PlanSpec's suite-wide assertions
  * (the ScaleGuard sweep over every registered query and the window /
  * cartesian whitelists), so they can't drift apart.
  *
  * Every entry is a deliberate, structurally-bounded exception to a
  * ScaleGuard class, documented at the granting site:
  *   - globalWindow: the window runs over a frame that is orders of
  *     magnitude below corpus row count BY CONSTRUCTION (top-k /
  *     candidate lists, per-day aggregate series, percentile grids,
  *     Zipf-collapsed vocabularies). A NEW query needing this is a
  *     scale regression: fix it with ScaleWindows.rangeCumSum /
  *     rangeNtile / rangeCumMax, or justify it here.
  *   - crossJoin: q177's Theil–Sen pair expansion runs on the per-day
  *     aggregate — O(days²), calendar-bounded, never raw rows.
  *   - singlePartition: q209's PAV merge runs on the O(hull-segment)
  *     chain frame (graft.functions.Isotonic documents the bound).
  */
object PlanContracts {
  private val globalWindowOk = Set(
    "q26_ann_cosine_topk", "q27_ann_lsh_topk", "q42_ann_ivf_topk",
    "q74_ann_ivf_trained", "q129_ann_multiprobe",
    "q57_moving_avg", "q116_zscore_anomaly", "q146_ts_similarity",
    "q175_interpolate_gaps", "q149_score_calibration",
    "q160_zipf_exponent", "q207_rrf_fusion", "q216_ndcg_eval",
    // q208: recall eval ranks the exact-top-k vs ANN-top-k frames —
    // both ≤k rows by construction (q207/q216's retrieval-eval class).
    // Flagged on the ANALYZED plan only; the optimizer collapses it,
    // which is why PlanSpec's optimized-plan sweep never saw it.
    "q208_ann_recall_eval",
    "q262_fdr_screen", "q265_token_budget",
    "q276_vocab_coverage",
    "q284_forecast_mase", "q286_sax_motifs", "q288_record_days",
    "q295_seasonal_strength", "q298_runs_test",
    "q297_toplist_stability",
    "q294_front_coding",
    "q455_rbo_toplists")

  val allowances: Map[String, Set[String]] =
    globalWindowOk.map(_ -> Set("globalWindow")).toMap ++ Map(
      "q177_theil_sen" -> Set("crossJoin"),
      "q209_isotonic_calibration" -> Set("singlePartition"))
}
