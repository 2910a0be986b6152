"""Query registry — the driver contract surface.

Importing this package registers every query; ``QUERIES`` / ``ORACLES`` feed
``__spark_entry__.queries()`` / ``oracle_sql()``.
"""

from .registry import QUERIES, ORACLES, query

from . import cci  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import simulator  # noqa: E402,F401
from . import lifecycle  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import vectors  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import storage  # noqa: E402,F401
from . import mllib  # noqa: E402,F401
from . import broker  # noqa: E402,F401
from . import quality  # noqa: E402,F401
from . import analytics  # noqa: E402,F401
from . import sampling  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import tpch2  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import corpus  # noqa: E402,F401
from . import graph  # noqa: E402,F401
from . import warehouse  # noqa: E402,F401
from . import training  # noqa: E402,F401
from . import recommender  # noqa: E402,F401

# Registration-order budget: the round driver records correctness rows for
# the FIRST 50 registered queries only. Round-16 priority window —
# adopted VERBATIM from tools/plan_window.py's suggestion after
# committing the r15 verdicts into VERIFIED_FINGERPRINTS (15 names
# advanced), in order:
# (a) names replanned THIS round (r16) — replans out-rank everything
#     (a stale verdict on a changed plan is worse than an old verdict
#     on an unchanged one). Each addition rolls one name off the aged
#     tail (back first);
# (b) the 50 oldest verdicts by tools/verdict_age.py: the 4 r8-era
#     names the r15 batch-3/4 replans displaced, then the r9 cohort in
#     alphabetical order, then the alphabetically-first r10 names fill
#     the remaining slots.
_NEW_THIS_ROUND: list[str] = [
    # r16 optimization-round replans land here as they are verified
    # (oracle at 3 SFs -> isolated A/B -> fingerprint refresh -> queue).
    # Batch 1: the recommender family now reads the shared memoized
    # cb_incidence_view / brand_sim_view and the memoized temporal-split
    # eval rig (one incidence + pair-aggregate build per session instead
    # of one per query; OPTIMIZATION_r16.md). negative_sampling was also
    # moved onto the shared view but its fingerprint is unchanged (its
    # private build was plan-identical), so it needs no re-verdict.
    # These 7 roll the (b) tail (asof_join, broker_balances,
    # broker_position_pnl, when_otherwise, update_join, theil_sen_slope,
    # text_stats -> next window); slot 50 is now symbol_universe.
    "item_item_cosine",
    "reco_candidates",
    "reco_coverage_gini",
    "mmr_rerank",
    "als_item_step",
    "ndcg_eval",
    "map_mrr_eval",
    # Batch 2: ols_trend folds its three money moments as exact int64
    # cent units (the acf_lags recipe; only the __lit_md5__ moved —
    # node counts unchanged). Rolls symbol_universe; slot 50 is now
    # sort_limit.
    "ols_trend",
    # Batch 3: jaccard_prefix_filter_join persists its prefix table
    # (the candidate self-join consumed it on both sides, re-running
    # the explode->df-join->window chain twice) and derives n from
    # size(grams) instead of a second Window. Already in the (b) cohort
    # below (removed there), so the 50-name set is unchanged.
    "jaccard_prefix_filter_join",
    # Batch 4: market_basket_pairs moves onto the shared persisted
    # order_baskets_view with map-side pair generation (the r15 apriori
    # recipe; Exchange 20->15, SMJ gone). apriori_triples shares the
    # view but its fingerprint is UNCHANGED (plan-identical refactor),
    # so it needs no re-verdict. Rolls sort_limit; slot 50 is now
    # simhash_groups.
    "market_basket_pairs",
    # Batch 5: the brand co-occurrence graph family is carved from the
    # shared persisted pair table (_pair_stats/_lift_edges over
    # order_baskets_view) and hits from cb_incidence_view — one corpus
    # build serves all eight; SMJ/Exchange counts collapse (e.g.
    # sssp exch 15->7, assortativity 47->23). Rolls the (b) tail back to
    # rank_biased_overlap at slot 50.
    "triangle_count_oriented",
    "connected_components",
    "sssp_weighted",
    "kcore_decomposition",
    "assortativity_degree",
    "clustering_coefficient",
    "link_prediction_jaccard",
    "hits_hubs_authorities",
    # Batch 9: dedup_ngram_jaccard and dedup_containment share one
    # memoized + persisted candidate-pair-stats view (_dedup_pair_stats_
    # view, prefiltered to the exact-integer containment>=0.5 superset
    # of both outputs); cross_modal_dedup embeds the jaccard query so its
    # plan splices the same InMemoryTableScan. dedup_ngram_jaccard was
    # already in the (b) cohort (removed there); the two additions roll
    # quantile_disc and rank_biased_overlap off the tail; slot 50 is now
    # proj_rename.
    "dedup_containment",
    "cross_modal_dedup",
    # Batch 11: cms_term_freq builds the sketch from the exact per-term
    # counts (vocabulary x D md5 calls instead of occurrence x D) and
    # drops the occurrence-stream persist; cell counters bit-identical.
    # Rolls proj_rename off the tail; slot 50 is now prices.
    "cms_term_freq",
    # Batch 12: brand_transition_matrix and markov_stationary share one
    # memoized + persisted brand_transitions_view (the <= |V|^2
    # consecutive-order transition counts; both plans splice its
    # InMemoryTableScan). Rolls prices and phrase_search_positions;
    # slot 50 is now order_reconciliation.
    "brand_transition_matrix",
    "markov_stationary",
    # Batch 14: pagerank_bipartite runs its iterations on packed long
    # node ids (strings built only at the readout) with plan-size
    # persists on trans/nodes/each rank vector (plan 495 -> 25
    # executable nodes, scans 68 -> 8; isolated ~10 -> ~6.2 s). Rolls
    # order_reconciliation; slot 50 is now oov_rate_eval.
    "pagerank_bipartite",
    # Batch 15: linear_interpolate's forward fill becomes a running
    # last(ignoreNulls) over DESCENDING d — Spark's UnboundedFollowing
    # frame re-scans the remaining partition per row (O(n^2) per
    # symbol); isolated 14.5 -> 1.1 s, fill bit-identical. Rolls
    # oov_rate_eval; slot 50 is now ohlc_resample_weekly.
    "linear_interpolate",
]

_PRIORITY = list(_NEW_THIS_ROUND)

# (b) the 50 oldest verdicts (verdict_age order, alphabetical within a
# round cohort). Tail notes: each (a) addition trims from the BACK of
# this list; the trimmed names are the next-next window head.
_PRIORITY += [
    "vocab_build", "walk_forward_eval", "weighted_median",
    "welch_t_test",                                        # r8 cohort
    "anti_join", "bloom_semi_join_pushdown", "buy_signals",
    "cast_battery", "cci", "coalesce_bfill", "cross_grid", "date_arith",
    "dedup_exact", "dedup_ngram_jaccard", "doc_fingerprints",
    "filter_conjunctive", "gbdt_boost_round",
    "join_cardinality_estimate",
    "json_get_k", "ks_test", "lang_id", "latest_cci", "lookup_join",
    "markov_attribution", "ohlc_resample_weekly", "oov_rate_eval",
    "order_reconciliation", "phrase_search_positions", "prices",
    "proj_rename", "quantile_disc", "rank_biased_overlap",
    "regex_json_extract", "roc_auc_eval", "rollup_counts",
    "scalar_minmax", "semi_join", "sharpe_sortino_daily",
    "signal_counts", "simhash_groups", "sort_limit", "symbol_universe",
    "text_stats", "theil_sen_slope", "update_join", "when_otherwise",
    # r9 cohort ends at when_otherwise; r10 fill below
    "asof_join", "broker_balances", "broker_position_pnl",
]

# the window is EXACTLY 50 (tests/test_pipeline.py pins it) — trim
# explicitly so nothing is dropped silently; the assertion forces this
# NOTE to be rewritten whenever an (a) addition shifts the cut line.
# Slice-based (never a bare [49] index) so a short list fails with THIS
# message, not an IndexError (ADVICE r10 item 3).
assert _PRIORITY[49:50] == ["ohlc_resample_weekly"], (
    "window tail moved — update the (b) NOTE's enumeration of rolled "
    f"names (slots filled: {len(_PRIORITY)}; slot 50 is now "
    f"{_PRIORITY[49:50] or ['<unfilled>']})"
)
_PRIORITY = _PRIORITY[:50]


def _reorder() -> None:
    ordered = [n for n in _PRIORITY if n in QUERIES] + [
        n for n in QUERIES if n not in _PRIORITY
    ]
    q_snap, o_snap = dict(QUERIES), dict(ORACLES)
    QUERIES.clear()
    QUERIES.update({n: q_snap[n] for n in ordered})
    ORACLES.clear()
    ORACLES.update({n: o_snap[n] for n in ordered if n in o_snap})


_reorder()

__all__ = ["QUERIES", "ORACLES", "query"]
