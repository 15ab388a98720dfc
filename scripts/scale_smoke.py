#!/usr/bin/env python
"""Scale smoke: replicate the fact tables R× and check time scales ~linearly.

The bench at sf0.1 proves speed at one size; this proves the SHAPE —
that no query hides a super-linear term (pair blowup, driver collect,
per-key state explosion) that only shows up when the data grows. Fact
tables (events, lineitem, orders) are replicated R× with key remapping
so join/group semantics survive; dimensions stay fixed, as they would
at a real scale-up.

documents/embeddings replicate with PERTURBATION, not cloning: exact
clones would pair with their sources and the near-dup pair count would
grow quadratically in R — a property of cloned DATA, not of the plans.
Instead each copy k rewrites ~half its words with a copy-salted suffix
(shingle/token sets across copies become disjoint enough to stay under
every similarity threshold) and sign-flips embedding dimensions by a
copy-keyed ±1 mask (within-copy cosines are EXACTLY preserved —
s_i² = 1 — while cross-copy cosines collapse toward 0). Planted
near-dup structure therefore survives per copy, cross-copy pairs
vanish, and the dedup/similarity queries get an honest linear scale
point.

Usage:
    python scripts/scale_smoke.py            # R=10 into /tmp
    SCALE_R=100 python scripts/scale_smoke.py

Prints one JSON line: {"r": R, "queries": {name: {"base_s": .., "scaled_s": ..,
"ratio": ..}}}. ratio ≈ R (or below, where a stage is size-independent)
means linear; ratio >> R flags a super-linear term.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from pyspark.sql import functions as F

from storm_bench_spark.plans.registry import all_queries
from storm_bench_spark.session import get_spark
from storm_bench_spark.sources.tables import TABLES, load_table

# fact table → (primary key to remap, foreign keys remapped with it)
FACTS = {
    "events": ("event_id",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    # customer replicates for the fuzzy-pair smoke; remapped custkeys
    # never match any order's o_custkey, so every customer-as-dim join
    # in the other probes keeps its exact result (inner joins drop the
    # replicas) while scans grow R×.
    "customer": ("c_custkey",),
}

QUERIES = [
    "wordcount", "grep", "rolling_count", "rolling_hashtag_count",
    "rolling_geo_count", "rolling_sort", "sol", "pageview_count",
    "dataclean", "unique_visitor", "rolling_latlong", "rolling_flight_dist",
    "adsb_parse", "tpch_q1", "tpch_q3", "tpch_q5",
    # dedup/similarity over perturbed replicas (linear by construction)
    "dedup_exact", "minhash_lsh", "ngram_jaccard", "simhash_pairs",
    "embedding_neardup_lsh_scaled", "ann_topk",
    # corpus/IR ops (round 4): the word-bijection perturbation keeps
    # per-copy bigram/block/graph structure intact while cross-copy
    # vocabularies stay disjoint, so corpus-sized stages should scale
    # ~linearly and vocabulary-sized stages ~R× (vocab itself is R×)
    "bigram_lm_score", "chunk_documents", "chunk_dedup",
    "domain_mix_sample", "inverted_index", "bm25_rank",
    "textrank_keywords", "embedding_quantize", "ann_topk_quantized",
    # sketches / pruning / fuzzy blocking (round 4, late)
    "hll_users_per_type", "bloom_high_value_orders",
    "fuzzy_name_pairs", "salted_segment_revenue",
    # analytics / graph / capstone (round 4, late): the data-sized ones
    "fuzzy_name_pairs_d2", "fuzzy_triangles", "gap_fill_hourly",
    "user_moving_avg", "training_corpus_build", "embedding_project",
    # round-5 additions (documents-table ops; the word-bijection
    # perturbation keeps cross-copy shingles disjoint, so the fuzzy
    # decontamination candidate set scales linearly by construction)
    "epoch_shuffle", "token_budget_select", "decontaminate_minhash",
    # round 5, late: RRF touches only two k-row ranked lists after its
    # legs, so it should scale like bm25_rank; contamination_score and
    # the CMS probe are gram-/token-stream-linear with broadcast-small
    # membership sides
    "rrf_hybrid_rank", "contamination_score", "heavy_hitters_cms",
    # round 5, tail (tokenizer prep / data selection): all four are
    # token- or gram-stream-linear with vocabulary-sized (or
    # 4096-feature-sized) join sides; the word bijection keeps each
    # copy's gram/vocab structure intact while copy vocabularies stay
    # disjoint, so vocab-sized stages grow R× and corpus stages ~R
    "boilerplate_ngram_ratio", "vocab_oov_rate", "dsir_select",
    "bpe_merge_steps",
    # two-stage ANN: the quantized scan is corpus-linear; the re-rank
    # joins broadcast a queries×SHORTLIST_K shortlist, so stage-2 cost
    # is shortlist-sized at any corpus size
    "ann_rerank",
    # round 7: overlapping-window dup measure + line scrub are
    # gram-stream-linear (digest-keyed agg + join, per-doc windows);
    # pagerank is edge-linear per round over the near-dup graph, which
    # the word-bijection perturbation keeps linear in R
    "dup_ngram_spans",
    "line_dedup",
    "pagerank_neardup",
    # pii_scrub is a pure narrow projection (regex count + chained
    # replace, zero shuffles) — the flattest possible scale shape
    "pii_scrub",
    # bpe_encode: merges run on the vocabulary table (grows ~R under
    # the word bijection), the corpus is touched twice (vocab build +
    # word->token-count join) — both corpus stages are stream-linear
    "bpe_encode",
    # round 7, late: incremental_dedup is one keyed agg on md5(text)
    # (shuffle = one row per distinct doc); corpus_split is scan +
    # tokenize + a |splits×langs|-row groupBy (flattest shape);
    # table_profile is one Expand(×6) multi-distinct agg over events
    # (shuffle = per-column distinct values); tfidf_top_terms is
    # token-stream-linear tf + a vocab-sized df join (vocab grows ~R
    # under the word bijection) + per-doc windows
    "incremental_dedup",
    "corpus_split",
    "table_profile",
    "tfidf_top_terms",
    # source_overlap / dedup_keep_best ride minhash_lsh's sketch-bounded
    # pair list (linear in R under the word bijection) plus keyed joins
    # against doc-sized projections — both stages stream-linear
    "source_overlap",
    "dedup_keep_best",
    # pmi_bigrams: bigram/unigram counts are map-side-combined keyed
    # aggs (vocab grows ~R under the word bijection), totals broadcast,
    # top-k is TakeOrdered — every stage stream-linear or vocab-sized
    "pmi_bigrams",
    # containment_pairs shares ngram_jaccard's DF-capped candidate
    # index (cross-copy shingles disjoint under the bijection → linear
    # candidates) and the array-intersect verify
    "containment_pairs",
    # kmv: one distinct (type, hash) keyed agg + bounded rank-filters.
    # NB the replication remaps event_id, NOT user_id, so the distinct
    # space is R-invariant: this smoke measures the scan + map-side
    # dedup growth (the dominant term at scale — sketch state is fixed)
    "kmv_distinct_users",
    # round 9, late: bitmap distinct/retention share kmv's R-invariant
    # user_id space — the smoke measures scan + map-side bit_or growth
    # while the shuffled bitmap stays fixed-size; tumbling_ohlc is one
    # map-side-combined keyed agg (bars grow with replicated event
    # time? no — ts is R-invariant, so group count is fixed and only
    # the scan grows); zorder_layout is a narrow projection + 64-group
    # agg, the flattest shape after pii_scrub
    "bitmap_distinct_daily",
    "bitmap_retention_daily",
    "tumbling_ohlc",
    "zorder_layout",
    # round 10: the wide-register HLL window plan (register table is
    # group-count-sized; the scan grows R×, the fan-out/merge does
    # not) and the register-algebra overlap (|types|² sketch rows at
    # ANY corpus size — the flattest shape in the suite after the
    # scan term)
    "unique_visitor_approx",
    "audience_overlap_hll",
]

EMB_DIM_SMOKE = 64


def _perturb_documents(df, k: int):
    """Copy k>0: rewrite EVERY word with a copy-salted suffix.

    The rewrite is a bijection on the token vocabulary, so shingle
    equality — and therefore every within-copy Jaccard — is preserved
    EXACTLY (planted near-dup clusters survive per copy), while the
    shingle spaces of different copies are fully disjoint: zero
    cross-copy candidates, hence pair counts scale linearly in R.
    (A half-rewrite leaves (1/2)³ of trigrams shared across copies,
    which re-couples the copies and made candidates quadratic —
    measured ratio 26 at R=10 before this.)"""
    if k == 0:
        return df
    rewritten = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit(f"~{k}")),
        ),
        " ",
    )
    return df.withColumn("text", rewritten).withColumn(
        "n_chars", F.length("text").cast("bigint")
    )


def _perturb_embeddings(df, k: int):
    """Copy k>0: elementwise ±1 sign mask keyed by (dimension, k).

    cos(s⊙a, s⊙b) = cos(a, b) exactly (s_i² = 1), so within-copy
    geometry — planted near-dup clusters, top-k structure — is
    preserved bit-for-bit in structure; cross-copy cosines become
    pseudo-random sums that collapse toward 0 and never cross the
    near-dup threshold."""
    if k == 0:
        return df
    import hashlib

    signs = [
        1.0 if int(hashlib.md5(f"{i}:{k}".encode()).hexdigest()[0], 16) & 1 else -1.0
        for i in range(EMB_DIM_SMOKE)
    ]
    mask = F.array(*[F.lit(s) for s in signs])
    flipped = F.zip_with(
        F.col("embedding").cast("array<double>"), mask, lambda x, s: x * s
    ).cast("array<float>")
    return df.withColumn("embedding", flipped)


def _perturb_customer(df, k: int):
    """Copy k>0: suffix every name with ``~kkk`` (copy digit tripled).

    Within-copy edit distances are preserved exactly (shared suffix);
    cross-copy suffixes differ in ≥3 positions, so no cross-copy pair
    can sit at levenshtein ≤ 2 — both fuzzy probes (d1 AND d2) scale
    with R (one match set per copy), not R² (the cloned-data artifact
    the documents perturbation also avoids; the earlier doubled-digit
    suffix only protected distance 1 and made the d2 probe quadratic
    in R)."""
    if k == 0:
        return df
    return df.withColumn(
        "c_name", F.concat(F.col("c_name"), F.lit(f"~{k}{k}{k}"))
    )


PERTURB = {
    "documents": _perturb_documents,
    "embeddings": _perturb_embeddings,
    "customer": _perturb_customer,
}


# --- replica provenance marker (shared helper, ADVICE r12) ----------------
# One read/write/ensure path for every replica builder (bench.py's scale
# tier, this script, and rollup_ab.py, last held by commit 23abac7). The
# marker records {base, r} so a SCALE_DIR reused across runs built from a
# DIFFERENT base or R is rebuilt instead of silently mislabeling
# provenance. Before r13 the two scripts wrote a legacy "ok" marker that
# bench.py always treated as a mismatch (spurious full rebuild) and
# themselves reused ANY marked dir with no provenance check at all.

def read_replica_marker(dst: str) -> dict | None:
    """The {base, r} provenance of dst, or None (absent / legacy "ok" /
    corrupt — all mean: rebuild)."""
    try:
        with open(os.path.join(dst, "_DONE")) as f:
            out = json.load(f)
        return out if isinstance(out, dict) else None
    except (ValueError, OSError):
        return None


def ensure_replica(spark, src: str, dst: str, r: int) -> bool:
    """Build the R× replica of src in dst unless a marker proves dst
    already holds exactly that. Returns True if a (re)build happened.
    replicate() writes mode=overwrite per table, so rebuilding into a
    dirty dir is safe."""
    want = {"base": os.path.abspath(src), "r": r}
    if read_replica_marker(dst) == want:
        return False
    # Invalidate any stale marker BEFORE rebuilding: an interrupted
    # replicate() must leave an unmarked (= will-rebuild) dir, not a
    # marker asserting the OLD provenance over partially-overwritten
    # tables (code-review r13).
    try:
        os.remove(os.path.join(dst, "_DONE"))
    except OSError:
        pass
    replicate(spark, src, dst, r)
    os.makedirs(dst, exist_ok=True)
    with open(os.path.join(dst, "_DONE"), "w") as f:
        json.dump(want, f)
    return True


def replicate(spark, src: str, dst: str, r: int) -> None:
    # one shared key stride so orders.o_orderkey and lineitem.l_orderkey
    # remap consistently (copy k of an order keeps its copy-k lineitems)
    stride = (
        load_table(spark, src, "orders")
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
        + 1
    )
    for name in TABLES:
        df = load_table(spark, src, name)
        if name in FACTS:
            copies = []
            for k in range(r):
                c = df
                for key in FACTS[name]:
                    off = k * (stride if "orderkey" in key else _stride(spark, src, name, key))
                    c = c.withColumn(key, F.col(key) + F.lit(off))
                if name in PERTURB:
                    c = PERTURB[name](c, k)
                copies.append(c)
            df = copies[0]
            for c in copies[1:]:
                df = df.unionByName(c)
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))


_strides: dict[tuple, int] = {}


def _stride(spark, src, name, key) -> int:
    if (name, key) not in _strides:
        _strides[(name, key)] = (
            load_table(spark, src, name).agg(F.max(key)).collect()[0][0] + 1
        )
    return _strides[(name, key)]


def _selected() -> list[str]:
    # SCALE_QUERIES=a,b,c restricts the probe set (e.g. re-measuring a
    # new operator family at R=100 without re-timing the whole suite)
    sel = os.environ.get("SCALE_QUERIES")
    return [q.strip() for q in sel.split(",")] if sel else QUERIES


def run(spark, queries, sf_dir: str) -> dict[str, float]:
    out = {}
    for name in _selected():
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
        print(f"# {sf_dir} {name}: {out[name]}s", file=sys.stderr)
        # Same discipline as bench.py: release every operator persist
        # between queries. At 100× the accumulated MEMORY_AND_DISK
        # blocks (shingle arrays, signatures, variant tables) otherwise
        # crowd executor storage and later queries measure the eviction
        # pressure, not their own plan — a sequential-session artifact
        # (first seen as fuzzy_name_pairs_d2 at 540 s in a 52-query
        # R=100 sweep vs 144.6 s clean).
        spark.catalog.clearCache()
    return out


def main() -> None:
    r = int(os.environ.get("SCALE_R", "10"))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = os.environ.get("SCALE_DST", f"/tmp/spark_graft_scale{r}")
    spark = get_spark(app_name="sbs-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    if ensure_replica(spark, src, dst, r):
        print(f"# built R={r} replica at {dst}", file=sys.stderr)

    queries = dict(all_queries())

    # The REGISTERED scaled-LSH query runs on a fixed 600-vector derived
    # corpus (sized so the driver's DuckDB oracle can replay the full
    # banding) — constant work at any R, useless as a scale probe. The
    # smoke measures the operator itself over the FULL replicated table,
    # which is the actual ≥100k-corpus deployment shape — on the AUTO
    # sizing path (round 8): 2000 vectors at 1× → (32, 11); 200 k at
    # R=100 → (64, 18) — the config an idle-box 4-way head-to-head
    # measured fastest-viable (56.2 s / 67.5 k pairs vs the old fixed
    # 16×32's 79.9 s / 77.3 k, same box+session; see AUTO_LSH_OCCUPANCY
    # in operators/similarity.py). The old fixed config's band-bucket
    # saturation was BASELINE.md's documented knob-to-turn; the derived
    # config is the fix, and this probe now measures the rule, not the
    # knob.
    from storm_bench_spark.operators import similarity as SIM

    def _scaled_lsh_full(spark_, sf_dir_):
        emb = load_table(spark_, sf_dir_, "embeddings")
        return SIM.neardup_lsh(
            emb, 0.45, EMB_DIM_SMOKE, n_bands=None, rows_per_band=None
        )

    queries["embedding_neardup_lsh_scaled"] = _scaled_lsh_full

    # warmup (JVM/codegen) on the small side
    spark.range(100_000).selectExpr("sum(id * 2)").collect()
    base = run(spark, queries, src)
    scaled = run(spark, queries, dst)
    report = {
        name: {
            "base_s": base[name],
            "scaled_s": scaled[name],
            "ratio": round(scaled[name] / base[name], 2) if base[name] else None,
        }
        for name in _selected()
    }
    print(json.dumps({"r": r, "queries": report}))


if __name__ == "__main__":
    main()
