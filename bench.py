#!/usr/bin/env python
"""Benchmark harness: time the HEADLINE queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on the engine's session, each row
interleaved with its DuckDB oracle on the same parquet; then an annex
of every other registered query and an sf1 tier of the data-sized rows
on an R=10 replica of the same SF.

Every row of every stage is timed by one kernel, :func:`measure`: the
query is fully materialized through the noop sink (no driver collect,
no column-pruning shortcut — the executed plan is the plan a real sink
would see), then its oracle is fetched in full on the same data.

stdout carries one compact JSON line per completed stage (headline,
+annex, +sf1 tier): the LAST line wins, and each line says whether it
is ``final``. The full per-row record goes to BENCH_DETAIL.json, the
duck leg's to DUCK_DETAIL.json. The run survives an external
wall-clock kill: past $SPARK_GRAFT_BENCH_DEADLINE (default 2700 s from
process start) no new annex/tier work starts and the final line names
the skipped stages; SIGTERM/SIGINT re-print the latest line as the
true last stdout line, and Spark logs at FATAL so teardown spew cannot
displace it.

The environment knobs are listed in README.md ("Bench knobs").
"""

from __future__ import annotations

import glob
import json
import os
import re
import signal
import sys
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from scripts import duck_twin
from storm_bench_spark.plans.registry import all_oracles, all_queries
from storm_bench_spark.session import get_spark

# wall-clock origin of the bench deadline
BENCH_T0 = time.monotonic()
# most recent compact stdout line, re-printed by the kill handler
_LAST_SNAPSHOT: str | None = None


def _deadline_s() -> float:
    """Seconds of wall budget from process start; 0 disables."""
    return float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "2700"))


def _past_deadline() -> bool:
    dl = _deadline_s()
    return dl > 0 and (time.monotonic() - BENCH_T0) > dl


def _snapshot_line() -> str:
    """The line the kill handler re-prints: the most recent snapshot,
    or a parseable marker if the kill landed before the first one, so
    the driver records an explicit early kill instead of null."""
    return _LAST_SNAPSHOT or json.dumps(
        {"metric": "headline_queries_total_wall", "value": None,
         "unit": "sec", "killed_before_first_snapshot": True,
         "final": False}
    )


def _kill_handler(signum, frame):  # noqa: ARG001
    """Re-print the latest snapshot as the LAST stdout line, then exit
    at once: os._exit skips the JVM teardown, whose executor stack
    traces would otherwise push the line out of the captured tail."""
    sys.stdout.write("\n" + _snapshot_line() + "\n")
    sys.stdout.flush()
    os._exit(0)


def _install_kill_handler() -> None:
    signal.signal(signal.SIGTERM, _kill_handler)
    signal.signal(signal.SIGINT, _kill_handler)


def _infer_round() -> int | None:
    """Next round number = max over committed BENCH_r{N}.json + 1, the
    sf1 rotation's parity; None (fresh checkout) disables rotation."""
    ns = []
    here = os.path.dirname(os.path.abspath(__file__))
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            ns.append(int(m.group(1)))
    return max(ns) + 1 if ns else None


def _selection(knob: str, default: list[str], queries) -> tuple[list[str], bool]:
    """(names, explicit): the comma list in $knob, else ``default``.
    Validated before any Spark work, so a typo fails fast instead of
    with a KeyError mid-stage."""
    sel = os.environ.get(knob)
    names = [q.strip() for q in sel.split(",")] if sel else list(default)
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"{knob} names not in the registry: {unknown}")
    return names, bool(sel)


def _scale_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scale{SCALE_TIER_R}")


# The headline set is frozen: its rows define the comparable series
# across rounds, so a row is never renamed or dropped here.
HEADLINE = [
    # the 12 reference topologies (SURVEY.md §2.10)
    "wordcount", "grep", "rolling_count", "rolling_hashtag_count", "rolling_geo_count",
    "rolling_sort", "sol", "pageview_count", "dataclean", "unique_visitor",
    "rolling_latlong", "rolling_flight_dist", "rolling_flight_dist_bucketed",
    # SQL capability demos — the full TPC-H 22 (q2..q22 adapted to the
    # fixture schema where it lacks partsupp/comment/phone columns; see
    # plans/tpch_ext.py docstring)
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7",
    "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q14",
    "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q20", "tpch_q21",
    "tpch_q22",
    # temporal joins + set ops + ranking + analytics
    "asof_click_purchase", "interval_click_error", "users_intersect", "top_terms",
    "orders_rollup", "user_running_value", "value_percentiles", "user_sessions",
    # curation pipeline (iterative CC + composed keep-canonical +
    # near-dup graph centrality)
    "neardup_clusters", "corpus_curate", "pagerank_neardup",
    # span-duplication measure + boilerplate-line scrub + PII
    # redaction; maximal-span emitter
    "dup_ngram_spans", "exact_dup_spans", "line_dedup", "pii_scrub",
    # tokenizer apply (train on vocab, join-encode the corpus)
    "bpe_encode",
    # incremental admission, split census, table profile, TF-IDF
    # keywords, source overlap, keep-best survivorship
    "incremental_dedup", "corpus_split", "table_profile", "tfidf_top_terms",
    "source_overlap", "dedup_keep_best", "pmi_bigrams", "containment_pairs",
    "kmv_distinct_users",
    # training-data pipeline: text analysis & cleaning
    "dedup_exact", "doc_fingerprint", "token_count", "quality_score", "lang_id",
    "text_normalize", "pii_mask", "repetition_score", "stratified_sample",
    "decontaminate", "pack_sequences", "quality_quantile_filter",
    # training-data pipeline: corpus/IR ops
    "bigram_lm_score", "chunk_documents", "chunk_dedup", "domain_mix_sample",
    "inverted_index", "bm25_rank", "textrank_keywords", "heavy_hitters_cms",
    # training-data pipeline: dedup / similarity / multimodal
    "minhash_lsh", "ngram_jaccard", "simhash_pairs", "embedding_neardup_lsh",
    "semdedup", "ann_topk", "ann_topk_ivf", "ann_topk_quantized", "embedding_quantize",
    "multimodal_image_meta",
    # real RIFF/WAVE + Netpbm P6 + BMP codec round-trips
    "multimodal_wav_meta", "multimodal_ppm_meta", "multimodal_bmp_meta", "adsb_parse",
    # sketches / pruning / fuzzy blocking
    "hll_users_per_type", "bloom_high_value_orders",
    # 5th sketch family: rank/quantile via mergeable histogram, and
    # KMV set-resemblance from sketches alone
    "histogram_quantiles", "histogram_quantiles_rollup", "kmv_resemblance",
    "audience_overlap_hll", "fuzzy_name_pairs", "salted_segment_revenue",
    # time-series / history / funnel analytics
    "gap_fill_hourly", "scd2_customer_history", "funnel_conversion",
    "value_zscore_outliers", "streaming_hll_visitors", "user_moving_avg",
    "embedding_project", "fuzzy_triangles", "multires_rollup", "unique_visitor_approx",
    "ann_recall_at_k", "training_corpus_build", "fuzzy_name_pairs_d2",
    "streaming_cdc_apply", "cohort_retention", "source_centroids_q8",
    "source_similarity_q8", "streaming_funnel", "user_event_pivot",
    "streaming_enriched_revenue", "asof_click_purchase_tol", "user_event_unpivot",
    "props_json_stats",
    # shuffle / budget-select / fuzzy decontamination
    "epoch_shuffle", "token_budget_select", "decontaminate_minhash",
    # hybrid retrieval + graded contamination + CMS twin
    "rrf_hybrid_rank", "contamination_score",
    # exact-n weighted sampling (A-ES via max-of-w-uniforms),
    # global and stratified-per-source (WindowGroupLimit grouped top-n)
    "weighted_sample", "weighted_sample_per_source",
    # bitmap-index exact distinct (batch + streaming
    # fixed-size-state twin), single-agg OHLC bars, Z-order layout audit
    "bitmap_distinct_daily", "streaming_bitmap_visitors", "bitmap_retention_daily",
    "bitmap_distinct_weekly_rollup", "tumbling_ohlc", "streaming_tumbling_ohlc",
    "zorder_layout", "streaming_heavy_hitters", "lsh_recall_pairs", "events_cube",
    # tokenizer prep + DSIR data selection + 2-stage ANN
    "boilerplate_ngram_ratio", "vocab_oov_rate", "dsir_select", "bpe_merge_steps",
    "ann_rerank",
]


# --- sf1 scale tier --------------------------------------------------------
# At sf0.1 the DuckDB denominators are < 100 ms for ~100 of the headline
# rows, so their ratios measure Spark's fixed per-job cost, not plan
# quality. The tier re-times the data-sized rows on an R=10
# fact-replicated copy of the bench SF (scripts/scale_smoke.replicate:
# key-remapped facts, perturbed documents/embeddings/customer so
# dedup/similarity semantics stay linear).
SCALE_TIER_R = 10
# Samples per leg, the warm-lap run counting as the first; symmetric
# on both legs so each row's ratio is a like-for-like pair.
SCALE_RUNS = 2
# Past this a leg's warm run is its only sample: its box-noise share is
# negligible, and a repeat would double the tier's wall for nothing.
SCALE_SLOW_S = 70.0

# Ratio rows: duck >= ~0.3 s at sf0.1 AND an oracle whose cost is
# linear-ish in data size, so the duck leg stays minutes, not hours
# (BASELINE.md round 11 has the per-row census).
SF1_TIER = [
    "rolling_flight_dist", "rolling_latlong", "rolling_geo_count", "pagerank_neardup",
    "neardup_clusters", "corpus_curate", "training_corpus_build", "dedup_keep_best",
    "source_overlap", "simhash_pairs", "simhash", "minhash_lsh", "ngram_jaccard",
    "containment_pairs", "decontaminate_minhash", "embedding_neardup_lsh", "bpe_encode",
    "bpe_merge_steps", "heavy_hitters_cms", "gap_fill_hourly", "dup_ngram_spans",
    "exact_dup_spans", "line_dedup", "chunk_dedup", "boilerplate_ngram_ratio",
    "lang_id", "quality_score", "ann_rerank", "ann_topk_ivf", "unique_visitor_approx",
    "dsir_select", "multimodal_wav_meta", "multimodal_ppm_meta", "multimodal_bmp_meta",
    "multimodal_audio_meta", "expand_words",
    # measured affordable after all (duck 38 / 19 / 7 s at R=10)
    "semdedup", "ann_topk_ivf_kmeans", "lsh_recall_pairs",
]
# Alternating-halves rotation: the tier's wall is driven by its duck
# leg, and these rows' ratios have been stable at <= 0.35x for 3+
# pairs (ratio history quoted per row), so each half sits out every
# other round and no round pays the full stable set, which is what
# keeps the whole tier inside the deadline. Rows touched since their
# last corroboration go in the ODD half; pagerank_neardup, whose
# oracle alone is ~40% of the duck leg, in the EVEN one. An explicit
# SPARK_GRAFT_SCALE_TIER_QUERIES selection bypasses rotation.
SF1_TIER_SKIP_ON_EVEN = {
    "corpus_curate": "0.215/0.176/0.067; duck 28-73 s; r14-touched (CC/minhash)",
    "ann_topk_ivf_kmeans": "0.196/0.152/0.163; duck 15-17 s; r14-touched (Lloyd persist)",
}
SF1_TIER_SKIP_ON_ODD = {
    "pagerank_neardup": "0.025/0.026/0.029; duck 172-260 s",
    "bpe_encode": "0.062/0.047/0.075; duck 21-26 s",
    "lang_id": "0.032/0.024/0.024; duck 18-21 s",
    "multimodal_wav_meta": "0.026/0.022/0.021; duck 17-18 s",
    "multimodal_audio_meta": "0.017/0.013/0.015; duck 17-19 s",
    "multimodal_ppm_meta": "0.052/0.051/0.037; duck 8 s",
    "quality_score": "0.050/0.054/0.041; duck 7-8 s",
    "expand_words": "0.053/0.046/0.055; duck 3 s",
}


def _apply_rotation(
    names: list[str], explicit_selection: bool, round_inferred: int | None
) -> tuple[list[str], list[str]]:
    """(kept, rotated_out): EVEN rounds skip SF1_TIER_SKIP_ON_EVEN, odd
    rounds SF1_TIER_SKIP_ON_ODD; an unknown round or an explicit
    selection runs everything."""
    if explicit_selection or round_inferred is None:
        return names, []
    skip = SF1_TIER_SKIP_ON_EVEN if round_inferred % 2 == 0 else SF1_TIER_SKIP_ON_ODD
    return [n for n in names if n not in skip], [n for n in names if n in skip]


# Spark-timed only: the ORACLE is super-linear in data (brute-force
# quadratic stand-ins), so a duck leg at R=10 would take hours.
SF1_TIER_SPARK_ONLY = {
    "fuzzy_name_pairs": "oracle is the within-nation quadratic brute force",
    "fuzzy_name_pairs_d2": "oracle is the within-nation quadratic brute force",
    "fuzzy_triangles": "oracle cubes the quadratic edge oracle",
}
# Documented non-members (data-sized at sf0.1 but wrong for the tier).
SF1_TIER_EXCLUDED = {
    "embedding_neardup": "O(N^2) recall-certification baseline by design",
    "embedding_neardup_lsh_scaled": "runs on a fixed 600-vector derived corpus — constant at any R",
    "streaming_*": "wall is engine-start floor; processing ratio reported in the annex instead",
}

# The nine Arrow-kernel tier rows. SPARK_GRAFT_TIER_SMOKE=1 runs
# exactly these spark-side on the R=10 replica, once each, no duck leg:
# a ~90 s "does the tier crash?" discriminator.
TIER_SMOKE_ROWS = [
    "multimodal_bmp_meta",
    "multimodal_wav_meta",
    "multimodal_ppm_meta",
    "multimodal_audio_meta",
    "ann_rerank",
    "semdedup",
    "embedding_neardup_lsh",
    "lsh_recall_pairs",
    "ann_topk_ivf_kmeans",
]

# Closing-pair acceptance rule: a pair whose probe drift or summed
# spread exceeds these should be retaken once on an idle box before it
# becomes a round's record. Advisory: the numbers still print, since
# per-row pairing keeps the ratios honest under drift.
RETAKE_DRIFT_MAX = 0.1
RETAKE_SPREAD_FRAC = 0.15


@dataclass
class Sample:
    """One row's measurement: Spark walls (s), DuckDB walls (s), and the
    engine-start floor of the streams the row's last Spark run started."""

    spark: list[float]
    duck: list[float]
    floor: float

    @property
    def first(self) -> float:
        return self.spark[0]


def measure(spark, fn, sf_dir: str, runs: int, con=None, oracle: str | None = None,
            duck_runs: int | None = None) -> Sample:
    """Time one row: ``runs`` executions of ``fn`` through the noop
    sink, then, given a DuckDB connection and the row's oracle,
    ``duck_runs`` (default ``runs``) fetches of the oracle on the same
    data.

    The cache is cleared after the Spark leg. The operators are lazy,
    so a query cannot unpersist the intermediates it persists, and the
    blocks would otherwise pile up in executor storage across rows.
    Clearing between rows, not samples, is the min-of-N convention:
    samples 2..N ride sample 1's cache, and ``first`` is the one that
    paid every in-query persist build."""
    from storm_bench_spark.streaming.streams import LAST_STREAM_RUNS

    walls: list[float] = []
    floor = 0.0
    for _ in range(runs):
        before = list(LAST_STREAM_RUNS)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
        # roughly constant across runs, so the last run's stands for the row
        floor = sum(
            r.get("floor_sec") or 0.0
            for r in LAST_STREAM_RUNS
            if not any(r is b for b in before)
        )
    spark.catalog.clearCache()
    duck: list[float] = []
    if oracle is not None:
        duck = duck_twin.time_oracle(con, oracle, runs if duck_runs is None else duck_runs)
    return Sample(walls, duck, floor)


def warm_session(spark, sf_dir: str) -> None:
    """JVM/codegen/scan warm-up so the first timed query is not charged
    one-time startup: codegen, a shuffle, and the file index of every
    fixture table (a cheap count over pruned scans)."""
    from storm_bench_spark.sources.tables import TABLES, load_table

    spark.range(100_000).selectExpr("sum(id * 2)").collect()
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    for t in TABLES:
        load_table(spark, sf_dir, t).select(F.lit(1)).limit(1).collect()


def warm_lap(spark, queries, sf_dir: str, names: list[str]) -> None:
    """One untimed execution of every row before any row is timed.
    min-of-3 alone does not remove first-encounter JIT: C2 compiles a
    row's hot paths over more than 3 encounters, in the background, so
    only a full lap's separation reaches steady state (fully warm
    unique_visitor_approx 0.54 s vs a benched min of 1.03 s)."""
    t0 = time.perf_counter()
    for name in names:
        measure(spark, queries[name], sf_dir, 1)
    print(f"# warm lap: {len(names)} queries in {time.perf_counter() - t0:.1f}s "
          "(untimed)", file=sys.stderr)


def run_headline(spark, queries, oracles, con, sf_dir: str, names: list[str],
                 runs: int) -> dict:
    """The timed lap: min-of-``runs`` per row on both engines, A/B per
    ROW, so box drift lands on both legs of a row within seconds and
    cancels out of its ratio. Spreads cover the warm samples only
    (duck_twin.summarize): sample 1 pays first-plan compilation, which
    is warm-up, not box noise."""
    keys = ("queries", "spreads", "first_samples", "stream_floor_sec", "duck", "duck_spreads")
    h: dict[str, dict] = {k: {} for k in keys}
    for name in names:
        s = measure(spark, queries[name], sf_dir, runs, con, oracles[name])
        h["queries"][name], h["spreads"][name] = duck_twin.summarize(s.spark)
        h["first_samples"][name] = round(s.first, 3)
        if s.floor > 0:
            h["stream_floor_sec"][name] = round(s.floor, 3)
        h["duck"][name], h["duck_spreads"][name] = duck_twin.summarize(s.duck)
        print(f"# {name}: {h['queries'][name]}s (min of {runs}, spread "
              f"{h['spreads'][name]}s) | duck {h['duck'][name]}s", file=sys.stderr)
    return h


def run_annex(spark, queries, oracles, con, sf_dir: str, names: list[str],
              runs: int) -> dict:
    """A datum for every registered query outside the headline, min-of-2
    (or of the headline's ``runs``, if fewer), timed after the headline
    so it cannot perturb it. The annex is mostly streaming twins whose
    wall is dominated by the ~0.3 s engine-start floor, so
    (wall - floor) / duck is reported beside wall / duck."""
    runs = max(1, min(2, runs))
    t: dict[str, float] = {}
    fl: dict[str, float] = {}
    d: dict[str, float] = {}
    for name in names:
        s = measure(spark, queries[name], sf_dir, runs, con, oracles[name])
        t[name], d[name] = round(min(s.spark), 3), round(min(s.duck), 3)
        if s.floor > 0:
            fl[name] = round(s.floor, 3)
        print(f"# annex {name}: {t[name]}s (min of {runs}) | duck {d[name]}s",
              file=sys.stderr)
    return {
        "queries": t,
        "duck": d,
        "ratio": {n: round(t[n] / d[n], 3) for n in d if d[n]},
        "ratio_processing": {
            n: round(max(t[n] - fl.get(n, 0.0), 0.0) / d[n], 3) for n in d if d[n]
        },
        "stream_floor_sec": fl,
        "total": round(sum(t.values()), 3),
        "duck_total": round(sum(d.values()), 3),
        "stream_floor_total": round(sum(fl.values()), 3),
        "runs": runs,
    }


def run_scale_tier(spark, queries, oracles, base_sf_dir: str) -> dict:
    """Time the tier rows on the R=10 replica, duck interleaved per row.

    A full warm lap runs first, one execution of every row on both
    legs, for the headline's JIT reason; that warm run is each row's
    first timed sample, so a row costs SCALE_RUNS executions per leg.
    A leg whose warm run is past SCALE_SLOW_S keeps it as its only
    sample. Every tier sample pays the row's persist builds cold (the
    cache clears after every measure call), so warm_first_sample_s is
    recorded beside the min. Past the deadline, rows not yet warmed are
    dropped and warmed rows keep their warm sample on both legs."""
    from scripts.scale_smoke import ensure_replica

    names, explicit = _selection(
        "SPARK_GRAFT_SCALE_TIER_QUERIES", SF1_TIER + sorted(SF1_TIER_SPARK_ONLY), queries
    )
    round_inferred = _infer_round()
    names, rotated_out = _apply_rotation(names, explicit, round_inferred)
    if rotated_out:
        print(f"# sf1 rotation (round {round_inferred}): {len(rotated_out)} stable "
              f"<=0.35x rows sit this round out — {', '.join(rotated_out)}",
              file=sys.stderr)
    dst = _scale_dir()
    t0 = time.perf_counter()
    # the replica's marker records its base SF and R, so a SCALE_DIR
    # built from a different base is rebuilt, not silently reused
    if ensure_replica(spark, base_sf_dir, dst, SCALE_TIER_R):
        print(f"# sf1 replica built at {dst}", file=sys.stderr)
    build_s = round(time.perf_counter() - t0, 3)

    def oracle(name):
        return None if name in SF1_TIER_SPARK_ONLY else oracles[name]

    con = duck_twin.connect(dst)
    warm: dict[str, Sample] = {}
    dropped: list[str] = []
    t_w = time.perf_counter()
    for i, name in enumerate(names):
        if _past_deadline():
            dropped = names[i:]
            print(f"# sf1 DEADLINE ({_deadline_s():.0f}s) hit in warm lap — "
                  f"dropping {len(dropped)} rows: {', '.join(dropped)}", file=sys.stderr)
            break
        warm[name] = measure(spark, queries[name], dst, 1, con, oracle(name))
    print(f"# sf1 warm lap: {len(warm)} rows in {time.perf_counter() - t_w:.1f}s",
          file=sys.stderr)

    def more(first: float) -> int:
        return SCALE_RUNS - 1 if first < SCALE_SLOW_S else 0

    t: dict[str, float] = {}
    d: dict[str, float] = {}
    ratio: dict[str, float | None] = {}
    n_samples: dict[str, int] = {}
    duck_n_samples: dict[str, int] = {}
    warmed: dict[str, bool] = {}
    degraded: list[str] = []
    for name, w in warm.items():
        s_more, d_more = more(w.first), (more(w.duck[0]) if w.duck else 0)
        if (s_more or d_more) and _past_deadline():
            degraded.append(name)
            s_more = d_more = 0
        m = measure(spark, queries[name], dst, s_more, con, oracle(name), d_more)
        spark_s, duck_s = w.spark + m.spark, w.duck + m.duck
        warmed[name] = bool(m.spark)
        t[name], n_samples[name] = round(min(spark_s), 3), len(spark_s)
        msg = f"# sf1 {name}: {t[name]}s (n={len(spark_s)}{', warm' if warmed[name] else ''})"
        if duck_s:
            d[name], duck_n_samples[name] = round(min(duck_s), 3), len(duck_s)
            ratio[name] = round(t[name] / d[name], 3) if d[name] else None
            msg += f" | duck {d[name]}s (n={len(duck_s)}) | ratio {ratio[name]}"
        print(msg, file=sys.stderr)
    con.close()
    duck_total = round(sum(d.values()), 3)
    matched = round(sum(t[n] for n in d), 3)
    return {
        "r": SCALE_TIER_R,
        "dir": dst,
        "base": base_sf_dir,
        "replicate_build_s": build_s,
        "runs": SCALE_RUNS,
        "adaptive_cut_s": SCALE_SLOW_S,
        "warm_run": True,
        "warmed": warmed,
        "warm_first_sample_s": {k: round(w.first, 3) for k, w in warm.items()},
        "n_samples": n_samples,
        "duck_n_samples": duck_n_samples,
        "queries": t,
        "duck": d,
        "ratio": ratio,
        "spark_only": SF1_TIER_SPARK_ONLY,
        "excluded": SF1_TIER_EXCLUDED,
        "total": round(sum(t.values()), 3),
        "matched_spark_total": matched,
        "duck_total": duck_total,
        "ratio_total": round(matched / duck_total, 3) if duck_total else None,
        # DuckDB is timed while the Spark JVM stays resident
        "duck_jvm_resident": True,
        "round_inferred": round_inferred,
        "rotated_out": rotated_out,
        "deadline_dropped": dropped,
        "deadline_degraded": degraded,
        "sf1_partial": bool(dropped or degraded),
    }


def cpu_probe_spark(spark, runs: int = 2) -> float:
    """A fixed CPU-bound Spark job (codegen'd modulo-sum over a long
    range, one task per core), min-of-N after one warm run. Every sf0.1
    headline row is dominated by fixed per-job cost and reads ~flat
    across core counts; this probe is pure compute and scales with the
    cores the session actually got (1.85 s at local[32] vs 4.44 s at
    local[8] on the reference box)."""
    sc = spark.sparkContext

    def q():
        spark.range(0, 2 * 10**10, 1, sc.defaultParallelism).selectExpr(
            "sum(id % 1000007)"
        ).collect()

    q()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        q()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def box_probe(runs: int = 3) -> float:
    """A fixed CPU-bound DuckDB aggregation, min-of-N: the box-state
    gauge taken at pair start and end (``probe_drift``)."""
    import duckdb

    con = duckdb.connect()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(
            "SELECT sum(x * x) FROM "
            "(SELECT CAST(range AS DOUBLE) AS x FROM range(400000000))"
        ).fetchall()
        best = min(best, time.perf_counter() - t0)
    con.close()
    return round(best, 4)


def run_tier_smoke() -> None:
    global _LAST_SNAPSHOT
    from scripts.scale_smoke import ensure_replica

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="sbs-tier-smoke")
    spark.sparkContext.setLogLevel("FATAL")
    queries = all_queries()
    names, _ = _selection("SPARK_GRAFT_SCALE_TIER_QUERIES", TIER_SMOKE_ROWS, queries)
    dst = _scale_dir()
    t0 = time.perf_counter()
    ensure_replica(spark, sf_dir, dst, SCALE_TIER_R)
    failures: dict[str, str] = {}
    for name in names:
        t_row = time.perf_counter()
        try:
            measure(spark, queries[name], dst, 1)
            status = f"ok ({time.perf_counter() - t_row:.1f}s)"
        except Exception as e:  # noqa: BLE001 — the smoke must finish the list
            failures[name] = str(e).split("\n")[0][:300]
            status = "FAIL"
        print(f"# tier-smoke {name}: {status}", file=sys.stderr)
    line = json.dumps({
        "metric": "tier_smoke",
        "value": round(time.perf_counter() - t0, 1),
        "unit": "sec",
        "rows": len(names),
        "failures": failures,
        "final": True,
    })
    _LAST_SNAPSHOT = line
    print(line, flush=True)
    if failures:
        sys.exit(1)


def _emit(rec: dict) -> tuple[dict, dict]:
    """(BENCH_DETAIL dict, compact stdout line) of the run record.

    The compact line must fit the driver's 2 KB stdout-tail capture, so
    it carries totals and the 5 slowest rows only; the detail file has
    everything."""
    h = rec["headline"]
    timings = h["queries"]
    total = round(sum(timings.values()), 3)
    total_spread = round(sum(h["spreads"].values()), 3)
    total_floor = round(sum(h["stream_floor_sec"].values()), 3)
    duck_total = round(sum(h["duck"].values()), 3)
    duck_spread = round(sum(h["duck_spreads"].values()), 3)
    common = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": rec["sf"],
        "parallelism": rec["parallelism"],
        "master": rec["master"],
        "cpu_probe_spark_s": rec["cpu_probe_spark_s"],
        "value_spread": total_spread,
        "stream_floor_total": total_floor,
    }
    detail = {
        **common,
        "queries": timings,
        "spreads": h["spreads"],
        "first_samples": h["first_samples"],
        "stream_floor_sec": h["stream_floor_sec"],
        "runs": rec["runs"],
        "pair_id": rec["pair_id"],
        "duck_total": duck_total,
        "probes": rec["probes"],
        "mode": "interleaved",
        "warm_lap": True,
        # DuckDB is timed while the Spark JVM stays resident
        "duck_jvm_resident": True,
        "annex": rec["annex"],
        "scale_tier": rec["scale_tier"],
    }
    out = {
        **common,
        "n_queries": len(timings),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5]),
        "detail": "BENCH_DETAIL.json",
    }
    retake = []
    if duck_total:
        ratio = round(total / duck_total, 3)
        probes = list(rec["probes"].values())
        drift = round((max(probes) - min(probes)) / min(probes), 3)
        out.update(
            duck_total=duck_total,
            pair_id=rec["pair_id"],
            ratio_vs_duck=ratio,
            # conservative linear propagation of both legs' summed spreads
            ratio_pm=round(ratio * (total_spread / total + duck_spread / duck_total), 3),
            probe_drift=drift,
            mode="interleaved",
        )
        if total_floor:
            # the engine-start floor is real wall but not plan quality
            out["ratio_vs_duck_processing"] = round((total - total_floor) / duck_total, 3)
        if drift > RETAKE_DRIFT_MAX:
            retake.append(f"probe_drift {drift} > {RETAKE_DRIFT_MAX}")
    if rec["annex"]:
        out["annex_total"] = rec["annex"]["total"]
    tier = rec["scale_tier"]
    if tier:
        out["sf1_total"] = tier["matched_spark_total"]
        out["sf1_duck_total"] = tier["duck_total"]
        out["sf1_ratio"] = tier["ratio_total"]
        out["sf1_rows"] = len(tier["duck"])
        if tier["sf1_partial"]:
            out["sf1_partial"] = True
    if rec["deadline_skipped"]:
        out["deadline_skipped"] = list(rec["deadline_skipped"])
    out["final"] = not rec["pending"]
    if total > 0 and total_spread > RETAKE_SPREAD_FRAC * total:
        retake.append(f"value_spread {total_spread} > "
                      f"{int(RETAKE_SPREAD_FRAC * 100)}% of value {total}")
    if retake:
        out["retake_recommended"] = "; ".join(retake)
    return detail, out


def _publish(rec: dict) -> None:
    """Write BENCH_DETAIL.json, then print the compact line and keep it
    for the kill handler."""
    global _LAST_SNAPSHOT
    detail, out = _emit(rec)
    here = os.path.dirname(os.path.abspath(__file__))
    detail_dir = os.environ.get("SPARK_GRAFT_DETAIL_DIR", here)
    with open(os.path.join(detail_dir, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    if out["final"] and "retake_recommended" in out:
        print(f"# RETAKE RECOMMENDED before committing this pair: "
              f"{out['retake_recommended']}", file=sys.stderr)
    _LAST_SNAPSHOT = json.dumps(out)
    print(_LAST_SNAPSHOT, flush=True)


def main() -> None:
    _install_kill_handler()
    if os.environ.get("SPARK_GRAFT_TIER_SMOKE", "0") == "1":
        return run_tier_smoke()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="sbs-bench")
    # FATAL: real failures surface as Python exceptions, and on an
    # external kill the dying executors' ERROR spew would otherwise
    # push the final line out of the driver's captured tail
    spark.sparkContext.setLogLevel("FATAL")
    queries, oracles = all_queries(), all_oracles()
    headline, _ = _selection("SPARK_GRAFT_HEADLINE_QUERIES", HEADLINE, queries)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    sf = duck_twin.sf_of(sf_dir)

    warm_session(spark, sf_dir)
    warm_lap(spark, queries, sf_dir, headline)
    con = duck_twin.connect(sf_dir)
    sc = spark.sparkContext
    rec: dict = {
        "sf": sf,
        "runs": runs,
        "probes": {"pair_start": box_probe()},
        # parallelism and master prove $SPARK_GRAFT_CPUS reached the session
        "parallelism": sc.defaultParallelism,
        "master": sc.master,
        "cpu_probe_spark_s": cpu_probe_spark(spark),
    }
    rec["headline"] = h = run_headline(spark, queries, oracles, con, sf_dir, headline, runs)
    rec["probes"]["pair_end"] = box_probe()
    # one pair_id stamps both detail files: every ratio is same-box,
    # same-hour by construction
    rec["pair_id"] = time.strftime("%Y-%m-%dT%H:%M:%S")
    duck_twin.write_detail(h["duck"], sf, runs, pair_id=rec["pair_id"],
                           spreads=h["duck_spreads"], probe=rec["probes"]["pair_start"])
    stages = {"annex": "SPARK_GRAFT_ANNEX", "sf1_tier": "SPARK_GRAFT_SCALE_TIER"}
    rec.update(annex=None, scale_tier=None, deadline_skipped=[],
               pending=[s for s, knob in stages.items() if os.environ.get(knob, "1") != "0"])
    # a complete line prints before each later stage, so a crash or an
    # external kill there cannot lose the headline's numbers
    _publish(rec)
    for stage in list(rec["pending"]):
        if _past_deadline():
            rec["deadline_skipped"].append(stage)
            print(f"# DEADLINE ({_deadline_s():.0f}s) hit before the {stage} — "
                  "skipping it", file=sys.stderr)
        elif stage == "annex":
            rest = [n for n in queries if n not in set(headline)]
            rec["annex"] = run_annex(spark, queries, oracles, con, sf_dir, rest, runs)
        else:
            rec["scale_tier"] = run_scale_tier(spark, queries, oracles, sf_dir)
        rec["pending"].remove(stage)
        _publish(rec)
    con.close()

    # test hook for the kill contract (tests/test_bench_contract.py):
    # hold the process alive after the final emit so a test can SIGTERM
    # it deterministically and assert the snapshot re-print
    hang = float(os.environ.get("SPARK_GRAFT_TEST_HANG_S", "0"))
    if hang > 0:
        print(f"# test hook: hanging {hang}s for a kill test", file=sys.stderr)
        time.sleep(hang)


if __name__ == "__main__":
    main()
