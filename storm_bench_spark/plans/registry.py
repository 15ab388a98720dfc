"""Query registry: every engine capability is a named (DataFrame, oracle) pair.

The driver contract (``__spark_entry__.py``) needs ``queries()`` and
``oracle_sql()`` dicts; this registry is their single source of truth.
Each registered query is a ``(spark, sf_dir) -> DataFrame`` callable plus
a mandatory DuckDB oracle SQL string with IDENTICAL output column names
(the driver sorts columns by name before hashing), so every query gets
the driver's full row-hash check and every bench row a DuckDB twin.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, doc: str = ""):
    """Register ``fn`` under ``name`` with its DuckDB ``oracle``.
    Returns ``fn`` itself, so the registry entry and the decorated
    module name are the same function."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import side-effect modules once, on first registry access.
    import storm_bench_spark.plans.topologies  # noqa: F401
    import storm_bench_spark.plans.tpch  # noqa: F401
    import storm_bench_spark.plans.tpch_ext  # noqa: F401
    import storm_bench_spark.plans.pipeline  # noqa: F401
    import storm_bench_spark.plans.streaming_queries  # noqa: F401
    import storm_bench_spark.plans.dedup_queries  # noqa: F401
    import storm_bench_spark.plans.library_ops  # noqa: F401
    import storm_bench_spark.plans.relational  # noqa: F401
    import storm_bench_spark.plans.curation  # noqa: F401
    import storm_bench_spark.plans.training_prep  # noqa: F401
    import storm_bench_spark.plans.corpus_ops  # noqa: F401
    import storm_bench_spark.plans.sketch_queries  # noqa: F401
    import storm_bench_spark.plans.analytics_ext  # noqa: F401
    import storm_bench_spark.plans.lexicon_ops  # noqa: F401
    import storm_bench_spark.plans.scrub_ops  # noqa: F401
    import storm_bench_spark.plans.layout_ops  # noqa: F401


# Explicit gate order. The driver's correctness gate checks the FIRST 50
# registered queries only (verified: CORRECTNESS_r02 = registry positions
# 0-49 exactly), so position is signal. THE RULE (adopted round 4, per
# VERDICT r3 #8): any query whose code, shared helper, or oracle changed
# in the current round MUST sit in the first 50 positions — rotate
# long-stable rows out to make room and record the rotation in the
# commit message. Every registry name MUST be listed here
# (tests/test_registry.py asserts set equality, per VERDICT r5 #2); a
# name that somehow escapes the list sorts LAST — fail-safe: an
# unlisted query can never displace promised window rows.
#
# CURRENT WINDOW (exactly 50):
# (a) training_corpus_build, the last round-14 dedup/corpus row kept in,
# and rolling_flight_dist(_bucketed);
# (b) asof_click_purchase (round 15) and ann_recall_at_k, which shares
# its fused IVF pass with ann_topk_ivf;
# (c) 14 of the 25 rows whose executed plan has a Python evaluation
# node (their workers run through the engine's worker daemon):
# semdedup, ann_topk_ivf, ann_topk_ivf_kmeans, streaming_funnel and
# ann_recall_at_k, then stateful_running_count, streaming_kmv_sketch,
# streaming_weighted_sample and the six from ann_rerank to
# rrf_hybrid_rank;
# (d) user_sessions and streaming_user_sessions, whose shared oracle
# merges events exactly the session gap apart;
# (e) the 11 sketch rows whose batch and streaming twins share one
# operator body: the three histogram rows, the OHLC, CMS and HLL
# pairs, streaming_bitmap_visitors and audience_overlap_hll;
# (f) the rows whose streaming twin now runs its batch builder over
# stream_table, or whose builder now shares a helper with one: the
# word/rolling/hashtag counts, flight dist, rolling sort, SOL, dedup,
# interval-join and CDC streaming rows with their batch twins,
# funnel_conversion and the three bitmap rows.
# Rotated out to just below the boundary to make room: 18 of the
# round-14 dedup/corpus/span rows (gated in round 14 and untouched
# since), then the Python-evaluation rows the daemon change touched
# (gated when it landed) and gap_fill_hourly.
_GATE_PRIORITY: tuple[str, ...] = (
    "training_corpus_build",
    "funnel_conversion",
    "semdedup",
    "ann_topk_ivf",
    "ann_topk_ivf_kmeans",
    "rolling_flight_dist",
    "rolling_flight_dist_bucketed",
    "streaming_funnel",
    "asof_click_purchase",
    "ann_recall_at_k",
    "stateful_running_count",
    "streaming_kmv_sketch",
    "streaming_user_sessions",
    "streaming_weighted_sample",
    "user_sessions",
    "ann_rerank",
    "ann_topk",
    "ann_topk_quantized",
    "embedding_neardup",
    "multimodal_features",
    "rrf_hybrid_rank",
    "histogram_quantiles",
    "streaming_histogram_quantiles",
    "histogram_quantiles_rollup",
    "tumbling_ohlc",
    "streaming_tumbling_ohlc",
    "heavy_hitters_cms",
    "streaming_heavy_hitters",
    "hll_users_per_type",
    "streaming_hll_visitors",
    "streaming_bitmap_visitors",
    "audience_overlap_hll",
    "wordcount",
    "trident_wordcount",
    "rolling_count",
    "streaming_rolling_count",
    "rolling_hashtag_count",
    "streaming_hashtag_count",
    "streaming_flight_dist",
    "rolling_sort",
    "streaming_rolling_sort",
    "sol",
    "streaming_sol",
    "streaming_interval_join",
    "streaming_dedup",
    "streaming_dedup_watermarked",
    "streaming_cdc_apply",
    "bitmap_distinct_daily",
    "bitmap_distinct_weekly_rollup",
    "bitmap_retention_daily",
    # --- window boundary (first 50 above) ---
    "simhash",
    "simhash_pairs",
    "minhash_lsh",
    "lsh_recall_pairs",
    "source_overlap",
    "decontaminate_minhash",
    "incremental_dedup",
    "corpus_curate",
    "dedup_keep_best",
    "neardup_clusters",
    "pagerank_neardup",
    "textrank_keywords",
    "pmi_bigrams",
    "bigram_lm_score",
    "source_similarity_q8",
    "dup_ngram_spans",
    "exact_dup_spans",
    "chunk_dedup",
    "embedding_neardup_lsh",
    "embedding_neardup_lsh_scaled",
    "embedding_project",
    "multimodal_audio_chunks",
    "multimodal_audio_meta",
    "multimodal_bmp_meta",
    "multimodal_frames",
    "multimodal_image_meta",
    "multimodal_ppm_meta",
    "multimodal_resize",
    "multimodal_wav_meta",
    "gap_fill_hourly",
    "streaming_audience_overlap",
    "streaming_enriched_revenue",
    "asof_click_purchase_tol",
    "rolling_latlong",
    "fuzzy_name_pairs_d2",
    "bm25_rank",
    "bpe_encode",
    "bpe_merge_steps",
    "containment_pairs",
    "corpus_split",
    "decontaminate",
    "fuzzy_name_pairs",
    "fuzzy_triangles",
    "inverted_index",
    "line_dedup",
    "pii_scrub",
    "repetition_score",
    "table_profile",
    "tfidf_top_terms",
    "token_budget_select",
    "vocab_oov_rate",
    "rolling_geo_count",
    "unique_visitor_approx",
    "interval_click_error",
    "print_passthrough",
    "users_except",
    "users_intersect",
    "users_union",
    "multires_rollup",
    "props_json_stats",
    "salted_segment_revenue",
    "scd2_customer_history",
    "source_centroids_q8",
    "user_moving_avg",
    "value_zscore_outliers",
    "pii_mask",
    "stratified_sample",
    "text_normalize",
    "tpch_q2",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q13",
    "tpch_q15",
    "tpch_q16",
    "user_event_pivot",
    "cdc_apply",
    "user_event_unpivot",
    "tpch_q17",
    "tpch_q18",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "chunk_documents",
    "contamination_score",
    "domain_mix_sample",
    "epoch_shuffle",
    "events_cube",
    "lang_id",
    "ngram_jaccard",
    "quality_score",
    "boilerplate_ngram_ratio",
    "pack_sequences",
    "quality_quantile_filter",
    "dataclean",
    "dedup_exact",
    "distinct_users",
    "doc_fingerprint",
    "grep",
    "kmv_distinct_users",
    "pageview_count",
    "token_count",
    "top_terms",
    "tpch_q1",
    "tpch_q10",
    "tpch_q12",
    "tpch_q14",
    "tpch_q19",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "unique_visitor",
    "expand_words",
    "kmv_resemblance",
    "one_per_key",
    "orders_rollup",
    "pageview_extract",
    "user_running_value",
    "value_percentiles",
    "weighted_sample",
    "weighted_sample_per_source",
    "zorder_layout",
    "adsb_parse",
    "bloom_high_value_orders",
    "cohort_retention",
    "dsir_select",
    "embedding_quantize",
)


def _gate_ordered() -> list[QuerySpec]:
    rank = {name: i for i, name in enumerate(_GATE_PRIORITY)}
    # unknown names sort LAST (fail-safe, changed round 6): a query
    # missing from _GATE_PRIORITY can never silently displace promised
    # gate-window rows. tests/test_registry.py additionally asserts the
    # list and the registry are set-equal, so this branch is dead in a
    # green tree; ties keep registration order (sort is stable).
    fallback = len(_GATE_PRIORITY)
    return sorted(_REGISTRY.values(), key=lambda s: rank.get(s.name, fallback))


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {spec.name: spec.fn for spec in _gate_ordered()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {spec.name: spec.oracle for spec in _gate_ordered()}


def get_spec(name: str) -> QuerySpec:
    _ensure_loaded()
    return _REGISTRY[name]
