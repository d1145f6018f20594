"""Driver-sample ordering.

The driver's correctness harness verifies the FIRST 50 entries of
``__spark_entry__.queries()`` each round (CORRECTNESS_r02.json is
exactly registry positions 0-49). The registry has outgrown that
budget ~10x, so the head is chosen deliberately: ``PRIORITY_HEAD``
pins the exact order of the sampled seats (new queries, re-proof
seats for changed code, then least-recently-sampled backfill), and
every other registered name follows in registry order.

Re-proof policy (stated r03, amended r04): every query whose Spark or
oracle logic changed in a round gets a re-proof seat in the NEXT
round's head; overflow beyond the 50 seats is sweep-validated locally
(tools/sweep_oracles.py at sf0.01 and sf0.1) and carried to the
following round's head.
"""

from __future__ import annotations

PRIORITY_HEAD: tuple[str, ...] = (
    # Round-14 head (rebuilt at registry freeze, 483 registered): 15
    # new round-14 queries, then re-proof seats over exactly the code
    # paths round 14 changed, then green backfill chosen as the
    # least-recently-sampled greens (absent from the r10-r13 samples).
    #
    # new round-14 queries (queries_round19.py, in module order)
    "lateral_topk_per_key",
    "try_error_safe_suite",
    "variant_get_suite",
    "transpose_region_stats",
    "collation_lcase_groups",
    "hll_sketch_builtin_audit",
    "interval_arith_suite",
    "codec_hash_suite",
    "url_parse_codec_suite",
    "xml_extract_suite",
    "str_to_map_null_suite",
    "tz_convert_suite",
    "bitmap_exact_distinct",
    "observe_metrics_audit",
    "stratified_sample_audit",
    # re-proof seats: salted_join re-pointed through
    # operators.joins.skew_routed_join; kcore_from_edges node-set
    # checkpoint; ddsketch 1/ln(gamma) literal + trigram oracle
    # unrounded LIMIT key (ADVICE r13); the four inequality queries
    # whose _rd/_rd_sql helpers moved to functions/parity; HITS after
    # the measured-negative rework was reverted.
    "salted_join_orders_customers",
    "kcore_membership",
    "ddsketch_quantiles",
    "trigram_lm_perplexity",
    "theil_t_nation_decomposition",
    "atkinson_index_revenue",
    "palma_ratio_revenue",
    "lorenz_curve_deciles",
    "hits_supplier_part",
    # late re-proof: the first full sf0.001 sweep caught the original
    # 1%-of-value certification band mis-asserting at tiny n; the
    # query now certifies the sketch's rank-band contract.
    "approx_percentile_certified",
    # green backfill: least-recently-sampled (not in r10-r13 samples)
    "market_basket_lift",
    "copurchase_pagerank",
    "copurchase_triangles",
    "boilerplate_line_removal",
    "quality_classifier_logistic",
    "intradoc_segment_dedup",
    "classifier_eval_metrics",
    "classifier_auc_rank",
    "flight_value_agg_variant",
    "a3_pricing_summary",
    "j3_standardize_defaults",
    "j5_explode_join",
    "j6_map_literal",
    "semi_join_active_customers",
    "anti_join_idle_customers",
    "a2_last_value",
    "w2_top3_orders_per_customer",
    "w4_unpivot",
    "o2_union_all",
    "setop_intersect_except",
    "rollup_revenue",
    "w_rank_lag_lead",
    "sessionize_events",
    "trailing_hour_range_window",
    "full_outer_hourly_reconciliation",
)


def ordered_names(registered: list[str]) -> list[str]:
    """Driver-facing order: the registered ``PRIORITY_HEAD`` members,
    then every other name in registry order."""
    reg = set(registered)
    head = [n for n in PRIORITY_HEAD if n in reg]
    head_set = set(head)
    return head + [n for n in registered if n not in head_set]
