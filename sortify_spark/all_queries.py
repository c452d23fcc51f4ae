"""Import every query module so REGISTRY is fully populated, then order
the registry so the driver's correctness window earns maximum coverage.

``__spark_entry__`` (the driver contract) and ``bench.py`` import this
module; adding a new query module means adding one import here.

Ordering contract: the driver verifies the first N registry entries
(insertion order; N was 50 in round 1).  The window therefore leads with
one oracle-backed flagship per SURVEY.md §2 operator class — the
scale/pipeline flagships first, then the relational/vector/dedup cores,
then the operator *suites* (``queries_suites``) that fold whole families
of already-proven operators into single hash-checked rows.  Redundant
twins and rows-only (no-oracle) queries sort after the window: a
no-oracle entry inside the window would spend a verified slot on a
rows-only check.
"""

from sortify_spark.queries import REGISTRY  # noqa: F401 — core relational
import sortify_spark.queries_text  # noqa: F401, E402
import sortify_spark.queries_vector  # noqa: F401, E402
import sortify_spark.queries_metrics  # noqa: F401, E402
import sortify_spark.queries_clustering  # noqa: F401, E402
import sortify_spark.queries_pipeline  # noqa: F401, E402
import sortify_spark.queries_sources  # noqa: F401, E402
import sortify_spark.queries_extras  # noqa: F401, E402
import sortify_spark.queries_detail  # noqa: F401, E402
import sortify_spark.queries_scale  # noqa: F401, E402
import sortify_spark.queries_skew  # noqa: F401, E402
import sortify_spark.queries_dedup  # noqa: F401, E402
import sortify_spark.queries_graph  # noqa: F401, E402
import sortify_spark.queries_e2e  # noqa: F401, E402
import sortify_spark.queries_curation2  # noqa: F401, E402
import sortify_spark.queries_bpe  # noqa: F401, E402
import sortify_spark.queries_lm  # noqa: F401, E402
import sortify_spark.queries_sketch  # noqa: F401, E402
import sortify_spark.queries_funnel  # noqa: F401, E402
import sortify_spark.queries_bm25  # noqa: F401, E402
import sortify_spark.queries_linkage  # noqa: F401, E402
import sortify_spark.queries_suites  # noqa: F401, E402 — must import LAST

#: First-50 driver window: every §2 operator class's flagship, all
#: oracle-backed.  Order within the window is by importance in case the
#: window is ever smaller than 50.
PRIORITY = (
    # scale/pipeline flagships (driver-unchecked in round 1)
    "corpus_curation_full",
    "decontaminate_vs_benchmark",
    "asof_join_attribution",
    "range_join_clicks_1h",
    "salted_join_revenue",
    "mixture_resample",
    "user_sessions",
    "email_ingest",
    "detail_query_compiled",
    "dedup_keep_representative",
    # relational core
    "pricing_summary",
    "list_filter_paginate",
    "log_filter_page",
    "batch_lookup",
    "slice_last_words",
    # vector / fusion (knn_bruteforce folded into suite_ann_dense in
    # round 9 — its slot funds the suite_ann_contracts split)
    "rrf_fusion",
    "two_stage_hybrid",
    "traditional_merge",
    "multi_query_merge",
    "top_order_per_customer",
    "ivf_recall_at_10",
    # the IVF top-k pipeline behind ivf_recall_at_10
    "knn_ivf",
    # dedup family
    "minhash_lsh_pairs",
    "simhash_pairs_banded",
    "embedding_neardup_topk",
    "neardup_components",
    "dedup_keep_component_rep",
    # sources / functions / beyond-ops (driver-unchecked in round 1)
    "conversation_counters",
    "html_strip",
    "vector_delete_rewrite",
    "monthly_status_pivot",
    "rolling_fingerprints",
    "schema_discovery",
    "chunk_fixed_width",
    "json_roundtrip",
    "pii_scrub_audit",
    "latency_percentiles",
    "token_counts_bpe",
    "activity_feed",
    "suite_multimodal",
    # operator suites (families of round-1-green operators, one row each)
    # round 9: suite_ann_contracts (22 members) split into the dense
    # retrieval surface and the persisted-artifact lifecycle surface
    # (VERDICT r8 item 5; the r8 suite_curation_ops precedent).
    "suite_ann_dense",
    "suite_index_lifecycle",
    "suite_scalar_aggs",
    "suite_group_aggs",
    "suite_relational",
    "suite_text",
    "suite_cluster_metrics",
    "suite_window_frames",
    # round 8: suite_curation_ops (32 members) split into two coherent
    # rows to bound blast radius (VERDICT r7 item 5); the freed slot
    # came from folding quality_quartile_filter into the quality suite.
    "suite_curation_dedup",
    "suite_curation_quality",
)

_unknown = set(PRIORITY) - set(REGISTRY)
assert not _unknown, f"PRIORITY names not in REGISTRY: {sorted(_unknown)}"
# The driver verifies exactly the first 50 entries; a longer list would
# silently push verified flagships out of the window.
assert len(PRIORITY) == 50, f"driver window must stay 50, got {len(PRIORITY)}"
_no_oracle_in_window = [n for n in PRIORITY if REGISTRY[n].sql is None]
assert not _no_oracle_in_window, (
    f"no-oracle queries waste driver window slots: {_no_oracle_in_window}"
)

# Rebuild in place (REGISTRY is imported by name elsewhere): window first,
# then remaining oracle-backed queries, then rows-only queries.
_rest = [n for n in REGISTRY if n not in set(PRIORITY)]
_rest.sort(key=lambda n: REGISTRY[n].sql is None)  # stable: oracles first
_ordered = {n: REGISTRY[n] for n in (*PRIORITY, *_rest)}
REGISTRY.clear()
REGISTRY.update(_ordered)

# Window-discipline guard (VERDICT r3 item 7): every oracle-backed query
# must be reachable from a driver-verified row — either in the window
# itself or a member of an in-window suite.  The grandfathered set below
# is the frozen round-3 remainder: each is a redundant TWIN of an
# in-window flagship (alternate implementation / superseded variant /
# bench-only relational query), DuckDB-verified locally by
# tests/test_oracle_parity.py.  A NEW oracle-backed query must earn a
# suite fold instead of growing this list.
from sortify_spark.queries_suites import SUITE_MEMBERS  # noqa: E402

_WINDOW_LOCAL_ONLY = frozenset(
    {
        "corpus_after_neardup",  # stage of corpus_curation_full (in window)
        "corpus_curation",  # superseded by corpus_curation_full
        "keep_max_merge",  # W4 twin of multi_query_merge
        "knn_bruteforce_np",  # numpy twin of knn_bruteforce (bench path)
        "knn_per_label_topk",  # W2 twin of top_order_per_customer
        "ngram_jaccard_sample",  # verify stage of minhash_lsh_pairs
        "regional_revenue",  # bench-only TPC-H-ish star join
        "revenue_topk_orders",  # bench-only join+topk
        "simhash_pairs",  # superseded by simhash_pairs_banded
    }
)
_reachable = set(PRIORITY)
for _s in PRIORITY:
    _reachable |= set(SUITE_MEMBERS.get(_s, ()))
_unreachable = [
    n
    for n, qd in REGISTRY.items()
    if qd.sql is not None
    and n not in _reachable
    and n not in _WINDOW_LOCAL_ONLY
]
assert not _unreachable, (
    "oracle-backed queries not reachable from any driver-window row "
    f"(fold them into an in-window suite): {_unreachable}"
)
