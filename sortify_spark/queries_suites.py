"""Operator-suite queries: several already-implemented operators folded
into ONE driver-checkable query each.

Motivation: the driver's CORRECTNESS gate verifies the first N registry
entries, so window slots are scarce.  Each suite re-runs a family of
operator queries (the SAME registered plans — not re-implementations),
projects every result onto one common row shape, and unions them, so a
single green driver row hash-confirms the whole family.  The oracle is
composed from the member queries' own oracle SQL, keeping both sides in
lockstep by construction.

Common row shape: ``(op, key1, key2, cnt, val, val2)`` — op names the
member query, key1/key2 carry its group keys as strings, cnt its bigint
measure, val/val2 its double measures; unused slots are NULL.  Integer →
string casts are engine-stable; doubles are NEVER stringified (float
formatting differs between engines).  Both sides order by all six
columns with NULLS FIRST (Spark's ASC default; DuckDB needs it spelled
out).

Scale note: a suite is a union of independently scale-safe plans; the
union adds no shuffle of its own (the final sort is driver-gate cosmetic
over a few hundred rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark.queries import REGISTRY, register, _t
from sortify_spark.search import knn

_COLS = ("op", "key1", "key2", "cnt", "val", "val2")


def _shape_df(
    df: DataFrame,
    op: str,
    key1: str = "NULL",
    key2: str = "NULL",
    cnt: str = "NULL",
    val: str = "NULL",
    val2: str = "NULL",
) -> DataFrame:
    return df.selectExpr(
        f"'{op}' AS op",
        f"CAST({key1} AS STRING) AS key1",
        f"CAST({key2} AS STRING) AS key2",
        f"CAST({cnt} AS BIGINT) AS cnt",
        f"CAST({val} AS DOUBLE) AS val",
        f"CAST({val2} AS DOUBLE) AS val2",
    )


def _shape_sql(
    op: str,
    sql: str,
    key1: str = "NULL",
    key2: str = "NULL",
    cnt: str = "NULL",
    val: str = "NULL",
    val2: str = "NULL",
) -> str:
    return (
        f"SELECT '{op}' AS op, CAST({key1} AS STRING) AS key1, "
        f"CAST({key2} AS STRING) AS key2, CAST({cnt} AS BIGINT) AS cnt, "
        f"CAST({val} AS DOUBLE) AS val, CAST({val2} AS DOUBLE) AS val2 "
        f"FROM ({sql}) __c"
    )


_ORDER_SQL = "ORDER BY " + ", ".join(f"{c} ASC NULLS FIRST" for c in _COLS)

#: suite name → member query names; ``all_queries`` uses this to assert
#: every oracle-backed query is reachable from a driver-window row.
SUITE_MEMBERS: dict[str, tuple[str, ...]] = {}


def _suite(name: str, spec: list[tuple[str, dict]], note: str):
    """Register a suite query + composed oracle from member (op, shape)
    specs.  Shape expressions must be portable Spark-SQL/DuckDB scalar
    expressions over the member query's output columns."""
    missing = [op for op, _ in spec if REGISTRY[op].sql is None]
    assert not missing, f"suite {name}: members without oracle: {missing}"
    SUITE_MEMBERS[name] = tuple(dict.fromkeys(op for op, _ in spec))
    sql = "\nUNION ALL\n".join(
        _shape_sql(op, REGISTRY[op].sql, **kw) for op, kw in spec
    )
    sql = f"SELECT * FROM (\n{sql}\n) __s\n{_ORDER_SQL}"

    @register(name, sql, note=note)
    def suite_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        parts = [
            _shape_df(REGISTRY[op].fn(spark, sf_dir), op, **kw)
            for op, kw in spec
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(*[F.asc_nulls_first(c) for c in _COLS])

    return suite_fn


# --- §2.4 scalar aggregates: A1 dashboard, A2 global sum, A3 windowed
# count, A5 overall stats — single-row outputs unpivoted to (metric, value).
_suite(
    "suite_scalar_aggs",
    [
        ("dashboard_counts", dict(key1="'total_events'", cnt="total_events")),
        ("dashboard_counts", dict(key1="'error_events'", cnt="error_events")),
        (
            "dashboard_counts",
            dict(key1="'purchase_events'", cnt="purchase_events"),
        ),
        (
            "dashboard_counts",
            dict(key1="'engagement_events'", cnt="engagement_events"),
        ),
        ("dashboard_counts", dict(key1="'active_users'", cnt="active_users")),
        ("global_sum_mb", dict(key1="'total_mb'", val="total_mb")),
        ("count_with_filter", dict(key1="'total'", cnt="total")),
        ("recent_error_count", dict(key1="'recent_count'", cnt="recent_count")),
        ("overall_stats", dict(key1="'total'", cnt="total")),
        ("overall_stats", dict(key1="'purchase_count'", cnt="purchase_count")),
        ("overall_stats", dict(key1="'avg_value'", val="avg_value")),
        ("overall_stats", dict(key1="'total_value'", val="total_value")),
        ("overall_stats", dict(key1="'purchase_rate'", val="purchase_rate")),
    ],
    note="Suite: A1/A2/A3/A5/A11 scalar aggregates (dashboard_counts, "
    "global_sum_mb, count_with_filter, recent_error_count, "
    "overall_stats) unpivoted into one hash-checked result.",
)

# --- §2.4 grouped aggregates + grouping sets: A4 group stats, A6 daily
# trend, A7 status distribution, A8 keyword top-k, A9 cluster sizes,
# plus the ROLLUP / CUBE beyond-ops.
_suite(
    "suite_group_aggs",
    [
        (
            "group_stats",
            dict(key1="event_type", cnt="cnt", val="avg_value", val2="sum_value"),
        ),
        ("daily_trend", dict(key1="day", cnt="cnt", val="avg_value")),
        (
            "status_distribution",
            dict(key1="o_orderstatus", cnt="cnt", val="share"),
        ),
        ("keyword_topk", dict(key1="token", cnt="freq")),
        ("centroid_assign_sizes", dict(key1="assigned", cnt="cnt")),
        (
            "orders_rollup",
            dict(key1="status", key2="priority", cnt="cnt", val="total_value"),
        ),
        (
            "status_year_cube",
            dict(key1="status", key2="order_year", cnt="cnt", val="total_value"),
        ),
        # round 7: cohort retention (first-activity week x week offset)
        (
            "cohort_retention",
            dict(
                key1="CAST(cohort_wk AS STRING)",
                key2="CAST(week_offset AS STRING)",
                cnt="active_users",
            ),
        ),
        # round 7: strict event-time-ordered funnel (queries_funnel)
        (
            "funnel_conversion",
            dict(
                key1="CAST(step AS STRING)",
                key2="step_name",
                cnt="users",
                val="conv_from_first",
                val2="avg_us_from_first",
            ),
        ),
        # round 7: incremental MV maintenance — base ⊕ delta partial
        # merge on exact decimal accumulators vs the full-recompute
        # oracle (queries_scale).
        (
            "mv_merge_daily",
            dict(key1="day", cnt="cnt", val="sum_value"),
        ),
        # round 7: time-series densify + forward fill (queries_scale)
        (
            "gap_fill_daily",
            dict(
                key1="event_type",
                key2="day || '|' || CAST(is_gap AS STRING)",
                cnt="cnt",
                val="day_sum",
                val2="filled_sum",
            ),
        ),
    ],
    note="Suite: A4/A6/A7/A8/A9 grouped aggregates + ROLLUP/CUBE "
    "grouping-set ops + cohort retention + the ordered "
    "view->click->purchase funnel + calendar-spine gap fill with "
    "carry-forward, shaped to (key, cnt, val) rows.",
)

# --- §2.3 / §2.7 / §2.5 relational: semi/anti joins, set ops, point
# lookup, broadcast hydrate, rank + latest-per-key windows.
_suite(
    "suite_relational",
    [
        (
            "semi_join_segment",
            dict(key1="'BUILDING'", cnt="order_count", val="total_value"),
        ),
        (
            "anti_join_no_orders",
            dict(key1="c_mktsegment", cnt="customers_without_orders"),
        ),
        (
            "set_difference_custkeys",
            dict(key1="'only_open'", cnt="only_open_customers"),
        ),
        (
            "set_intersection_custkeys",
            dict(key1="'both_status'", cnt="both_status_customers"),
        ),
        (
            "point_lookup",
            dict(
                key1="CAST(l_orderkey AS STRING) || '#' || CAST(l_linenumber AS STRING)",
                key2="ship_date",
                cnt="l_partkey",
                val="quantity",
            ),
        ),
        (
            "hydrate_top_orders",
            dict(
                key1="CAST(o_orderkey AS STRING)",
                key2="c_name || '|' || c_mktsegment",
                val="total_price",
            ),
        ),
        (
            "global_rank_top20",
            dict(
                key1="CAST(rank AS STRING)",
                key2="CAST(o_orderkey AS STRING)",
                val="total_price",
            ),
        ),
        # round 4: small keyed collections — $inc-upsert counter algebra
        # and device-token rotate/deactivate lifecycle (queries_sources,
        # operators/keyed_tables).
        (
            "suggested_questions_lifecycle",
            dict(
                key1="CAST(user_id AS STRING)",
                key2="question",
                cnt="use_count",
                val="CAST(last_used_us AS DOUBLE)",
            ),
        ),
        (
            "device_token_rotate",
            dict(
                key1="CAST(device_id AS STRING)",
                key2="refresh_token || '|' || CAST(is_active AS STRING)",
                cnt="last_used_us",
            ),
        ),
        (
            "latest_event_per_user",
            dict(
                key1="CAST(user_id AS STRING)",
                key2="event_type || '|' || ts_s",
                cnt="event_id",
            ),
        ),
        # round 4: the versioned store's CDC classification kernel over
        # derived snapshots (insert/delete/update pre+post).
        (
            "cdc_classify",
            dict(
                key1="CAST(event_id AS STRING)",
                key2="_change_type || '|' || COALESCE(event_type, '')",
                cnt="user_id",
                val="value",
            ),
        ),
        # round 7: Bloom-filter pre-filter join audit (queries_sketch) —
        # the semi-join's broadcast-bitset pre-screen with per-priority
        # pass / true-match / false-positive counts.
        (
            "bloom_prefilter_join",
            dict(
                key1="o_orderpriority",
                key2="CAST(true_match AS STRING)",
                cnt="orders_total",
                val="CAST(bloom_pass AS DOUBLE)",
                val2="CAST(false_pos AS DOUBLE)",
            ),
        ),
        # round 7: blocked fuzzy record linkage + exact integer
        # fixed-point PageRank (queries_linkage).
        (
            "fuzzy_link_parts",
            dict(
                key1="name_a",
                key2="name_b || '|' || CAST(dist AS STRING)",
                cnt="cnt_a",
                val="CAST(cnt_b AS DOUBLE)",
            ),
        ),
        (
            "pagerank_suppliers",
            dict(
                key1="CAST(rank AS STRING)",
                key2="CAST(s_suppkey AS STRING)",
                cnt="pr_units",
            ),
        ),
    ],
    note="Suite: J1 semi-join, SO4 anti-join, SO2 set difference + "
    "intersection, P3 point lookup, J2 broadcast hydrate, W1 global "
    "rank, W7 latest-per-user, the versioned-store CDC classification "
    "kernel, the Bloom pre-filter join audit, blocked Levenshtein "
    "record linkage, and integer fixed-point PageRank.",
)

# --- text analysis: language ID, per-source token stats, JSON extraction.
_suite(
    "suite_text",
    [
        ("lang_distribution", dict(key1="lang_pred", cnt="cnt")),
        (
            "token_stats_by_source",
            dict(key1="source", cnt="total_tokens", val="avg_tokens", val2="docs"),
        ),
        (
            "json_extract_stats",
            dict(key1="event_type", cnt="cnt", val="k_sum"),
        ),
        (
            "bm25_keyword_search",
            dict(key1="CAST(doc_id AS STRING)", val="score"),
        ),
        # round 7: AI-analysis JSON round-trip -> filter metadata
        (
            "enrich_metadata",
            dict(
                key1="source",
                key2="CAST(keywords AS STRING) || '/' || "
                "CAST(entities AS STRING) || '/' || "
                "CAST(docs_with_amounts AS STRING) || '/' || "
                "CAST(docs_with_dates AS STRING)",
                cnt="docs",
                val2="summary_chars",
            ),
        ),
        # round 7: Gopher rule battery with per-rule fail attribution
        (
            "gopher_quality_rules",
            dict(
                key1="source",
                key2="CAST(fail_wc AS STRING) || '/' || "
                "CAST(fail_mwl AS STRING) || '/' || "
                "CAST(fail_alpha AS STRING) || '/' || "
                "CAST(fail_stop AS STRING)",
                cnt="docs",
                val="CAST(pass_all AS DOUBLE)",
            ),
        ),
        # round 10: depth-4 document-schema discovery at reference
        # parity (first-seen-wins merge + per-doc provenance) over
        # crafted conflicting per-doc dynamic schemas.
        (
            "schema_discovery_nested",
            dict(key1="kind || '|' || key", key2="val"),
        ),
    ],
    note="Suite: n-gram language ID distribution, per-source token "
    "statistics, JSON props extraction rollup, BM25 keyword top-10 "
    "(the lexical retrieval leg, scored end-to-end), entity-enrichment "
    "metadata derivation (JSON round-trip), the Gopher quality-rule "
    "battery (per-rule fail attribution), and depth-4 nested schema "
    "discovery (reference-parity union merge + provenance).",
)

# --- §2.9 clustering + eval metrics: M5 centroid assignment (full
# per-vector rows), cluster confidence, M3 keyword labels, A12 per-query
# retrieval metrics + their summary.
_suite(
    "suite_cluster_metrics",
    [
        (
            "centroid_assign",
            dict(
                key1="CAST(vec_id AS STRING)",
                key2="CAST(assigned AS STRING)",
                val="best_score",
            ),
        ),
        (
            "cluster_confidence",
            dict(key1="CAST(label AS STRING)", cnt="n", val="confidence"),
        ),
        (
            "cluster_keyword_labels",
            dict(key1="CAST(label AS STRING)", key2="cluster_name"),
        ),
        (
            "retrieval_metrics",
            dict(
                key1="CAST(query_id AS STRING)",
                key2="CAST(hit_1 AS STRING) || CAST(hit_3 AS STRING) || "
                "CAST(hit_5 AS STRING) || CAST(hit_10 AS STRING)",
                val="mrr",
                val2="composite",
            ),
        ),
        ("metrics_summary", dict(key1="'avg_hit_1'", val="avg_hit_1")),
        ("metrics_summary", dict(key1="'avg_mrr'", val="avg_mrr")),
        ("metrics_summary", dict(key1="'avg_ndcg_10'", val="avg_ndcg_10")),
        ("metrics_summary", dict(key1="'avg_composite'", val="avg_composite")),
        ("metrics_summary", dict(key1="'n_queries'", cnt="n_queries")),
        # round 11: the DBSCAN density kernel hash-checked end-to-end
        # (VERDICT r10 #4) — per-row labels + probability vs the full
        # SQL replay of the blockwise kernel on a planted-density corpus
        (
            "cluster_per_owner_dbscan",
            dict(
                key1="owner_id",
                key2="id",
                cnt="cluster_label",
                val="probability",
            ),
        ),
        (
            "cluster_organize_audit",
            dict(
                key1="owner_id || '#' || CAST(cluster_label AS STRING)",
                key2="tier || '|' || member_min || '|' || member_max",
                cnt="document_count",
                val="confidence",
            ),
        ),
        (
            "clustering_stats_audit",
            dict(
                key1="'stats'",
                key2="CAST(clustered_docs AS STRING) || '/' || "
                "CAST(excluded_docs AS STRING) || '/' || "
                "CAST(pending_docs AS STRING)",
                cnt="total_docs",
                val="coverage_pct",
            ),
        ),
        # round 5: P10 — the pending-for-clustering id scan (the last §2
        # rows-only row, now hash-checked per id).
        ("pending_ids_scan", dict(cnt="id")),
        (
            "hierarchical_audit",
            dict(
                key1="owner_id || '#' || CAST(parent_label AS STRING) || "
                "'#' || CAST(child_label AS STRING)",
                key2="min_id || '|' || max_id",
                cnt="n_docs",
            ),
        ),
    ],
    note="Suite: M5 centroid assignment (all rows), cluster confidence, "
    "M3 keyword labels, A12 retrieval metrics per query + summary, plus "
    "the M2/M5/A7/M4 contract audits over the SQL-replayable modk "
    "kernel (tier triage, write-back statistics, two-level "
    "parent/child bookkeeping).",
)

# --- window frame specs: 7-day moving average + lead/lag deltas.
_suite(
    "suite_window_frames",
    [
        ("moving_avg_7d", dict(key1="day", cnt="cnt", val="ma7")),
        (
            "daily_order_delta",
            dict(key1="day", cnt="cnt", val="delta_prev", val2="delta_next"),
        ),
    ],
    note="Suite: rangeBetween moving average + lead/lag day-over-day "
    "deltas.",
)


# --- ANN recall contract (verdict item 6): IVF top-k overlap against the
# exact brute-force top-k as a deterministic, oracle-checked aggregate.

from sortify_spark.queries_vector import ivf_ctes  # noqa: E402

_IVF_RECALL_SQL = f"""
WITH {ivf_ctes(nprobe=3, dim=64, k=10)},
ex AS (SELECT vec_id AS id FROM embeddings, q
       WHERE vec_id <> 0
       ORDER BY ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                    DESC, vec_id ASC
       LIMIT 10)
SELECT COUNT(*) AS overlap_at_10, CAST(10 AS INT) AS k
FROM ivf WHERE id IN (SELECT id FROM ex)
"""


@register(
    "ivf_recall_at_10",
    _IVF_RECALL_SQL,
    note="ANN recall contract: |IVF(nprobe=3) top-10 ∩ exact top-10| as "
    "one deterministic row.  The oracle replays the whole IVF pipeline "
    "(label-mean centroids, rounded bucket ranking with id tie-break, "
    "exact rerank inside probed buckets) in SQL, so the approximate "
    "index itself is hash-checked — not just property-tested.",
)
def q_ivf_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    probe = emb.filter(F.col("vec_id") == 0)
    centroids = knn.build_centroids(emb, "label")
    ivf = knn.ivf_topk(
        data, centroids, probe, k=10, nprobe=3, bscore_round=6
    ).select(F.col("vec_id").alias("id"))
    exact = knn.brute_force_topk(data, probe, k=10).select(
        F.col("vec_id").alias("id")
    )
    return (
        ivf.join(exact, "id", "left_semi")
        .agg(F.count(F.lit(1)).alias("overlap_at_10"))
        .select("overlap_at_10", F.lit(10).cast("int").alias("k"))
    )


# --- multimodal plumbing: frame sampling, image resize, audio windows —
# every metadata-driven multimodal stage in one hash-checked row.
_suite(
    "suite_multimodal",
    [
        ("multimodal_frame_sample", dict(key1="media_id", cnt="frame_index")),
        (
            "multimodal_resize_plan",
            dict(
                key1="media_id",
                key2="CAST(width AS STRING) || 'x' || CAST(height AS STRING) "
                "|| '->' || CAST(out_w AS STRING) || 'x' || "
                "CAST(out_h AS STRING)",
                cnt="n_bytes_out",
            ),
        ),
        (
            "audio_window_plan",
            dict(
                key1="media_id",
                key2="CAST(window_index AS STRING)",
                cnt="start_sample",
                val="samples_per_window",
            ),
        ),
    ],
    note="Suite: multimodal stages — video frame sampling, image "
    "aspect-fit resize (dims + stub byte count), audio windowing — "
    "metadata-driven plumbing hash-checked in one row.",
)

# --- corpus-curation extras: repetition signals, stratified sampling,
# sliding windows, incremental dedup + the exact-dedup/sample/distinct
# trio whose individual window slots the round-2 flagships took over.
# --- dense ANN contracts: int8 quantization audit, quality scores —
# the round-2 post-window queries folded into one row
# (VERDICT r2 item 5) plus the two singles whose window slots this suite
# and pii_scrub_audit take over.
_suite(
    "suite_ann_dense",
    [
        # round 9: knn_bruteforce folded in from its standalone window
        # slot (VERDICT r8 #5 — the slot funds the suite split below);
        # its exact-cosine τ+top-k contract is the baseline every other
        # member's ANN path is measured against.
        (
            "knn_bruteforce",
            dict(key1="CAST(id AS STRING)", key2="label", val="score"),
        ),
        (
            "embedding_quantize_stats",
            dict(
                key1="CAST(label AS STRING)",
                cnt="vectors",
                val="avg_qerr",
                val2="max_qerr",
            ),
        ),
        (
            "quality_scores",
            dict(key1="CAST(doc_id AS STRING)", cnt="tokens", val="quality"),
        ),
        (
            "knn_batch_queries",
            dict(
                key1="CAST(query_id AS STRING)",
                key2="CAST(id AS STRING)",
                val="score",
            ),
        ),
        # round 4: the e2e facade pipelines on the md5 expression encoder
        # — ingest audit + all four search strategies, each oracle
        # replaying the ENTIRE pipeline from raw text (queries_e2e).
        (
            "e2e_index_stats",
            dict(
                key1="vtype",
                key2="CAST(n_docs AS STRING)",
                cnt="cnt",
                val="emb_checksum",
                val2="CAST(sum_chars AS DOUBLE)",
            ),
        ),
        ("e2e_search_summary_only", dict(key1="id", val="score")),
        (
            "e2e_search_hybrid",
            dict(key1="id", key2="CAST(tier AS STRING)", val="score"),
        ),
        (
            "e2e_search_rrf",
            dict(
                key1="id",
                key2="CAST(rank_chunks AS STRING)",
                cnt="rank_summary",
                val="rrf_score",
            ),
        ),
        ("e2e_search_traditional", dict(key1="id", val="score")),
        (
            "e2e_qa_document_search",
            dict(key1="id", val="score"),
        ),
        # round 9: the batched facade serving row — three queries'
        # two-stage hybrid in one plan per stage vs per-query replays.
        (
            "e2e_search_batched",
            dict(
                key1="query_id",
                key2="id",
                cnt="rnk",
                val="score",
                val2="CAST(tier AS DOUBLE)",
            ),
        ),
        # round 10: tenant isolation (P9 / VERDICT r9 #1) — two owners
        # × (dense pre-filtered scan, owner-carrying BM25 artifact
        # probe), every row hash-checked against the per-owner replay.
        (
            "e2e_search_owner_scoped",
            dict(key1="owner || '/' || strategy", key2="id", val="score"),
        ),
        (
            "e2e_chunks_for_document",
            dict(
                key1="document_id",
                key2="chunk_text",
                cnt="chunk_index",
                val="emb_sum",
                val2="CAST(total_chunks AS DOUBLE)",
            ),
        ),
        # round 4 (second half): product quantization — codebook +
        # encoding audit, ADC top-k, and the recall contract, all
        # decimal-exact and fully replayed in the oracle (search/pq.py).
        (
            "pq_codes_stats",
            dict(
                key1="CAST(s AS STRING)",
                key2="CAST(code AS STRING)",
                cnt="vectors",
                val="avg_d2",
            ),
        ),
        ("knn_pq_adc", dict(key1="CAST(id AS STRING)", val="approx_d2")),
        ("knn_ivfpq", dict(key1="CAST(id AS STRING)", val="score")),
        (
            "pq_recall_at_10",
            dict(cnt="overlap_at_10", key1="CAST(k AS STRING)"),
        ),
    ],
    note="Suite: DENSE retrieval — exact brute-force cosine (the "
    "baseline contract), int8 quantization error audit, per-doc quality "
    "scores, batched multi-query top-k (whole query batch in one "
    "scan), the e2e facade rows (ingest audit + summary_only/hybrid/"
    "RRF/traditional search) whose oracles replay the full pipeline "
    "from raw text, and the PQ family.  Split from suite_ann_contracts "
    "in round 9 (VERDICT r8 #5, the suite_curation_ops precedent): the "
    "index-LIFECYCLE rows live in suite_index_lifecycle so one flaky "
    "artifact commit cannot invalidate the dense-retrieval surface, "
    "and vice versa.",
)

# --- round 9: the persisted-artifact LIFECYCLE surface — build /
# incremental upsert / DELETE / probe-with-time-travel for both index
# artifacts (dense IVF, lexical BM25) plus the lexical scoring + fusion
# contracts those artifacts serve.  Split out of suite_ann_contracts
# (VERDICT r8 #5): this is the natural landing place for every new
# index-lifecycle query, so it gets its own blast radius.
_suite(
    "suite_index_lifecycle",
    [
        # round 6: the PERSISTED IVF index artifact — build v1, rebuild
        # v2 (full-snapshot replace), probe both committed snapshots;
        # probed buckets + rerank per version vs a pure-SQL replay of
        # both builds (queries_vector._ivf_index_oracle_sql).
        (
            "ivf_index_probe",
            dict(
                key1="CAST(ver AS STRING) || '/' || kind",
                key2="CAST(id AS STRING)",
                cnt="bucket",
                val="score",
            ),
        ),
        # round 7: incremental IVF maintenance — upsert the held-out
        # slice against the STORED quantizer (centroids unchanged),
        # probe the upserted index; vs a SQL replay of build + add
        # (queries_vector._ivf_upsert_oracle_sql).
        (
            "ivf_index_upsert_probe",
            dict(
                key1="kind",
                key2="CAST(id AS STRING)",
                cnt="bucket",
                val="score",
            ),
        ),
        # round 10: FILTERED ANN (VERDICT r9 #2) — carried metadata
        # pre-filtered inside the probed buckets vs the post-filter
        # composition, both oracle-replayed.
        (
            "knn_ivf_filtered",
            dict(key1="kind", key2="CAST(id AS STRING)", val="score"),
        ),
        # round 11/12: SELECTIVE-TENANT filtered ANN (VERDICT r10 #1,
        # r11 #1) — a ~1% tenant at nprobe=1 under-recalls to zero;
        # the composed facade default (occupancy-aware bucket choice +
        # nprobe escalation over the occupied universe, both replayed
        # in the oracle) restores the exact filtered top-k, with the
        # engine's final nprobe pinned via the 'meta' row and an
        # occupancy-only 'occ1' leg isolating the bucket-choice gain.
        (
            "knn_ivf_filtered_selective",
            dict(key1="kind", key2="CAST(id AS STRING)", val="score"),
        ),
        # round 13: the RECALL FLOOR on the composed default (VERDICT
        # r12 #1) — a DENSE tenant stops the candidate-count
        # escalation after ~2 buckets with ≥ k candidates but not the
        # true top-k; min_probe_buckets=16 (the facade's
        # ivf_min_recall_buckets) starts the schedule at
        # min(16, occupied), and both probe widths are pinned against
        # pure-SQL schedule replays ('meta_*' rows).
        (
            "knn_ivf_floored",
            dict(key1="kind", key2="CAST(id AS STRING)", val="score"),
        ),
        # round 7: the lexical half of hybrid retrieval (queries_bm25) —
        # rational-idf BM25 top-k and the lexical x dense RRF fusion.
        (
            "bm25_topk",
            dict(
                key1="CAST(doc_id AS STRING)",
                key2="source",
                cnt="matched_terms",
                val="bm25",
            ),
        ),
        (
            "hybrid_lexical_semantic_rrf",
            dict(
                key1="CAST(doc_id AS STRING)",
                key2="CAST(lex_rank AS STRING) || '/' || "
                "CAST(sem_rank AS STRING)",
                val="rrf_score",
            ),
        ),
        # round 8/9: the persisted lexical (BM25) index artifact —
        # build v1 over a subset, incremental upsert (add + text
        # REPLACE with exact df/stats deltas), keyed DELETE of a slice
        # (df/N/sum_dl decremented exactly), probe all three committed
        # snapshots; vs a pure-SQL full-scan replay of the three
        # corpora (queries_bm25._bm25_index_oracle_sql).
        (
            "bm25_index_probe",
            dict(
                key1="CAST(ver AS STRING)",
                key2="CAST(doc_id AS STRING)",
                cnt="matched_terms",
                val="bm25",
            ),
        ),
        # round 9: BATCHED serving through the artifact — three queries'
        # top-k in ONE plan (probe_lexical_index_many, the
        # semantic_search_many shape) vs per-query full-scan replays.
        (
            "bm25_batched_probe",
            dict(
                key1="query_id",
                key2="CAST(doc_id AS STRING) || '/' || CAST(rnk AS STRING)",
                cnt="matched_terms",
                val="bm25_r6",
            ),
        ),
    ],
    note="Suite: the persisted-artifact lifecycle — the versioned IVF "
    "index (build / full-snapshot rebuild / incremental upsert against "
    "the stored quantizer / probe with time travel) and the versioned "
    "BM25 lexical index (build / exact-delta upsert / keyed delete / "
    "partition-pruned probe, bit-matching full-scan replays), plus the "
    "BM25 scoring and lexical x dense fusion contracts those artifacts "
    "serve.",
)

# --- Curation pillar, split into two coherent driver rows (VERDICT r7
# item 5: the single 32-member suite_curation_ops coupled every
# curation op's fate to one row and kept growing).  Dedup/similarity/
# attribution ops in one row, quality/mixture/sampling/sketch/layout
# ops in the other — each bounded, each a natural landing zone.
_suite(
    "suite_curation_dedup",
    [
        # round 5: benchmark-overlap fraction (threshold-setting measure)
        (
            "contamination_fraction",
            dict(
                key1="source",
                key2="CAST(contaminated_any AS STRING) || '/' || "
                "CAST(frac_ge_10 AS STRING) || '/' || "
                "CAST(frac_ge_50 AS STRING)",
                cnt="docs",
                val="avg_overlap",
            ),
        ),
        ("incremental_dedup_new_docs", dict(key1="doc_id", key2="source")),
        ("dedup_exact_stats", dict(key1="'total_docs'", cnt="total_docs")),
        (
            "dedup_exact_stats",
            dict(key1="'distinct_docs'", cnt="distinct_docs"),
        ),
        (
            "dedup_exact_stats",
            dict(key1="'duplicate_docs'", cnt="duplicate_docs"),
        ),
        # round 4 (second half): C4 boilerplate-span removal + SemDeDup
        (
            "common_span_removal",
            dict(
                key1="source",
                key2="CAST(docs AS STRING)",
                cnt="words_total",
                val="CAST(words_removed AS DOUBLE)",
                val2="removed_frac",
            ),
        ),
        (
            "semdedup_prune",
            dict(
                key1="CAST(label AS STRING)",
                key2="CAST(n_kept AS STRING)",
                cnt="kept_id_sum",
                val="CAST(n_vecs AS DOUBLE)",
                val2="CAST(n_dropped AS DOUBLE)",
            ),
        ),
        (
            "semdedup_docs",
            dict(
                key1="source",
                key2="CAST(kept AS STRING)",
                cnt="kept_id_sum",
                val="CAST(docs AS DOUBLE)",
                val2="CAST(dropped AS DOUBLE)",
            ),
        ),
        (
            "winnowing_pairs",
            dict(
                key1="CAST(id_a AS STRING)",
                key2="CAST(id_b AS STRING)",
                cnt="shared_fps",
            ),
        ),
        (
            "ngram_novelty",
            dict(
                key1="source",
                key2="CAST(grams_total AS STRING)",
                cnt="grams_duplicated",
                val="dup_frac",
                val2="CAST(templated_docs AS DOUBLE)",
            ),
        ),
        # round 7: EXACT Jaccard join via PPJoin prefix filtering — the
        # exact complement to minhash_lsh_pairs at the same threshold;
        # round 8 added the runtime hot-bucket guard on its prefix join.
        (
            "jaccard_prefix_join",
            dict(
                key1="CAST(id_a AS STRING)",
                key2="CAST(id_b AS STRING)",
                cnt="overlap",
                val="jaccard",
            ),
        ),
        # round 7: leakage-safe component-atomic train/val/test split
        # with the in-plan cross-split pair audit (queries_graph).
        (
            "leakage_safe_split",
            dict(
                key1="split",
                cnt="docs",
                val="CAST(components AS DOUBLE)",
                val2="CAST(cross_split_pairs AS DOUBLE)",
            ),
        ),
        # round 7: decontamination attribution — train doc -> the
        # benchmark item it most overlaps.
        (
            "contamination_attribution",
            dict(
                key1="CAST(doc_id AS STRING)",
                key2="source || '|' || CAST(bench_doc AS STRING)",
                cnt="shared_shingles",
                val="CAST(total_shingles AS DOUBLE)",
                val2="top_frac",
            ),
        ),
        # round 7: dedup lineage/attribution — dropped doc -> kept rep
        # with direct-jaccard audit of the transitive-chain contract.
        (
            "dedup_attribution",
            dict(
                key1="CAST(dropped_id AS STRING)",
                key2="CAST(rep_id AS STRING) || '|' "
                "|| CAST(via_id AS STRING)",
                val="rep_jaccard",
                val2="via_jaccard",
            ),
        ),
        # round 7: Dolma-style paragraph-level keep-first dedup with the
        # rebuilt document text hash-checked (queries_curation2.py).
        (
            "paragraph_dedup_keep_first",
            dict(
                key1="source",
                key2="CAST(rebuilt_hash_sum AS STRING) || '|' "
                "|| CAST(paras_total AS STRING)",
                cnt="docs",
                val="CAST(paras_dropped AS DOUBLE)",
                val2="CAST(docs_emptied AS DOUBLE)",
            ),
        ),
        # round 8: Lee et al. exact substring dedup — sliding-window
        # keep-first with maximal-span rebuild, rebuilt text hashed.
        (
            "substring_dedup_keep_first",
            dict(
                key1="source",
                key2="CAST(rebuilt_hash_sum AS STRING) || '|' "
                "|| CAST(tokens_total AS STRING)",
                cnt="docs",
                val="CAST(tokens_removed AS DOUBLE)",
                val2="CAST(docs_emptied AS DOUBLE)",
            ),
        ),
    ],
    note="Suite: the dedup/similarity/attribution half of the curation "
    "pillar — incremental batch-vs-corpus dedup, exact dedup stats, C4 "
    "boilerplate spans, SemDeDup (vector + document), winnowing "
    "fingerprint pairs, n-gram novelty, the exact PPJoin Jaccard join "
    "(hot-bucket-guarded), leakage-safe splitting, contamination and "
    "dedup attribution, and Dolma paragraph-level keep-first dedup — "
    "one hash-checked row.",
)

_suite(
    "suite_curation_quality",
    [
        (
            "repetition_signals",
            dict(
                key1="doc_id",
                cnt="n_words",
                val="dup_word_frac",
                val2="top_bigram_frac",
            ),
        ),
        # round 7: CCNet-style held-out bigram-LM quality scoring
        (
            "bigram_lm_quality",
            dict(
                key1="source",
                cnt="docs",
                val="mean_like",
                val2="low_docs",
            ),
        ),
        # round 7: alpha=0.5 temperature mixture (data-derived rates)
        (
            "temperature_mixture",
            dict(
                key1="source",
                key2="CAST(tokens_total AS STRING)",
                cnt="docs_kept",
                val="rate",
                val2="tokens_kept",
            ),
        ),
        (
            "stratified_sample_per_source",
            dict(key1="source", key2="doc_id", cnt="sample_rank"),
        ),
        (
            "sliding_window_counts",
            dict(key1="win_start", key2="event_type", cnt="cnt"),
        ),
        (
            "token_budget_mixture",
            dict(key1="source", cnt="docs_kept", val="tokens_kept"),
        ),
        # round 8: folded from its standalone window row to free the
        # slot this suite split needs — tie-aware per-source top-75%
        # quality filter (the window's percent_rank contract).
        (
            "quality_quartile_filter",
            dict(key1="source", cnt="docs_kept", val="avg_quality"),
        ),
        ("sampled_scan", dict(key1="doc_id", key2="lang", cnt="n_chars")),
        (
            "distinct_users_by_type",
            dict(key1="event_type", cnt="distinct_users", val="events"),
        ),
        (
            "shard_balance_stats",
            dict(
                key1="CAST(shard AS STRING)",
                key2="CAST(min_doc AS STRING) || '|' || CAST(max_doc AS STRING)",
                cnt="docs",
                val="chars",
            ),
        ),
        # round 7: shard interleave audit (gaps-and-islands read order)
        (
            "shard_interleave_stats",
            dict(
                key1="CAST(shard AS STRING)",
                key2="CAST(distinct_sources AS STRING)",
                cnt="docs",
                val="CAST(runs AS DOUBLE)",
                val2="CAST(max_run AS DOUBLE)",
            ),
        ),
        # round 4: Morton-key kernel behind the z-order layout writer —
        # interleave arithmetic hash-checked per cell (a drifted curve
        # still runs, so only a value check catches it).
        (
            "zorder_cells",
            dict(
                key1="CAST(cell AS STRING)",
                cnt="cnt",
                val="CAST(min_z AS DOUBLE)",
                val2="CAST(max_z AS DOUBLE)",
            ),
        ),
        # round 4 (second half): CCNet frequency tiers + GPT sequence
        # packing (queries_curation2.py).
        (
            "corpus_freq_buckets",
            dict(
                key1="source",
                key2="CAST(tier AS STRING)",
                cnt="docs",
                val="CAST(words AS DOUBLE)",
                val2="avg_word_freq",
            ),
        ),
        (
            "sequence_packing",
            dict(
                key1="source",
                key2="CAST(seq_id AS STRING)",
                cnt="tokens",
                val="CAST(docs AS DOUBLE)",
                val2="CAST(straddles AS DOUBLE)",
            ),
        ),
        # round 4 (second half): the BPE trainer — merged symbol is
        # derived from pair, so (step, pair, pcnt) pins the full table.
        (
            "bpe_train_merges",
            dict(key1="CAST(step AS STRING)", key2="pair", cnt="pcnt"),
        ),
        (
            "bpe_token_stats",
            dict(
                key1="source",
                key2="CAST(words AS STRING)",
                cnt="bpe_tokens",
                val="CAST(char_tokens AS DOUBLE)",
                val2="compression",
            ),
        ),
        (
            "kmv_distinct_sketch",
            dict(
                key1="event_type",
                key2="CAST(kth_hash AS STRING)",
                cnt="exact_distinct",
                val="est_distinct",
                val2="rel_err",
            ),
        ),
        (
            "profile_documents",
            dict(
                key1="col_name",
                key2="min_str || '|' || max_str",
                cnt="n_distinct",
                val="CAST(n_rows AS DOUBLE)",
                val2="CAST(n_nulls AS DOUBLE)",
            ),
        ),
        # round 7: fixed-memory sketch ops (queries_sketch.py) — the
        # count-min heavy-hitter audit and DSIR hashed-n-gram
        # importance weights.
        (
            "countmin_word_counts",
            dict(
                key1="word",
                cnt="exact_cnt",
                val="CAST(cms_est AS DOUBLE)",
                val2="CAST(overest AS DOUBLE)",
            ),
        ),
        (
            "dsir_importance_weights",
            dict(
                key1="source",
                key2="CAST(kept_tokens AS STRING)",
                cnt="docs",
                val="mean_w",
                val2="CAST(kept_docs AS DOUBLE)",
            ),
        ),
    ],
    note="Suite: the quality/mixture/sampling/sketch/layout half of "
    "the curation pillar — Gopher repetition signals, bigram-LM "
    "quality, temperature and token-budget mixtures, the per-source "
    "quality-quartile filter, stratified exact-N sampling, "
    "sliding-window counts, hash-predicate sampling, distinct "
    "aggregation, shard balance + interleave audits, the z-order "
    "Morton kernel, CCNet frequency tiers, GPT sequence packing, the "
    "BPE trainer, and the fixed-memory sketches (KMV, count-min, "
    "DSIR) — one hash-checked row.",
)
