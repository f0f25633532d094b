"""The benchmark's workloads: fixed mixes of registry gates.

Every name is a key of ``pandasy_spark.workload.QUERIES``.  A run makes
closed-loop passes over one mix from a single driver thread.  The first
gate of a mix leads every pass; the seed sets the order of the rest.
Gates share first-use costs (optimizer and code paths, state-store
start) that the warm-up does not cover, and the first gates of a pass
pay them: a fixed lead gate pays them the same way in every run, where
a seeded one would move them onto a different gate, and so the latency
percentiles, each run.
"""

from __future__ import annotations

SLIDE_RELATIONAL = tuple(
    [
        "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
        "q4_order_priority", "q5_local_supplier", "q6_forecast_revenue",
        "q7_nation_volume", "q8_market_share", "q9_product_profit",
        "q10_returned_items", "q11_important_stock", "q12_shipmode",
        "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
        "q16_parts_supplier", "q17_small_quantity", "q18_large_orders",
        "q19_discounted_revenue", "q20_supplier_part_volume",
        "q21_waiting_supplier", "q22_global_balance",
    ]
    + [f"join_{k}" for k in ("inner", "left", "full", "semi", "anti", "null_safe_eq")]
    + ["setop_union", "setop_intersect", "setop_except_dups"]
    + [f"expr_{k}" for k in ("casts", "predicates", "case_coalesce", "arith_cmp")]
    + [
        "filter_truthy", "distinct_status", "groupby_apply", "topk_per_group",
        "window_rank", "window_running", "agg_cube", "agg_distinct",
    ]
)

# A selection of the gates beyond the slide layer, chosen so that every
# layer module is called: the driver-orchestrated iterations and
# multi-pass quantiles (extended.ml, similarity, graph, events, profile
# and concurrency), the executor-bound corpus kernels (extended.dedup,
# text, sketches, multimodal) and a stateful streaming gate.  The lead is
# the longest gate, so that the first-use costs fall inside one fixed
# gate instead of on whichever short gate the seed puts second.  Five
# gates take about 2 s or less and five about 3 s or more, so the median
# gate latency is the mean of one gate from each side of that gap, not
# a race between near-equal gates whose order changes from run to run.
DRIVER_CORPUS_STREAMING = (
    "ml_recall_panel",
    "profile_winsorize", "graph_hits", "events_attribution_markov",
    "agg_median_twopass",
    "dedup_ngram_jaccard", "text_lm_score", "sketch_kmv", "multimodal_phash",
    "streaming_eviction",
)

# Two workloads, not one per kind: every run pays a JVM start, three
# set-ups and a warm-up (about 20 s), and the benchmark's time budget
# (4 + 22 runs per workload in 57 minutes) holds two workloads of this
# size on a 4-core host, not more.
MIXES: dict[str, tuple[str, ...]] = {
    "slide_relational": SLIDE_RELATIONAL,
    "driver_corpus_streaming": DRIVER_CORPUS_STREAMING,
}
