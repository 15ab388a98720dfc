"""Plan lint: the scale discipline enforced as a test.

Every batch query's physical plan is checked for the shapes that kill
a 100 TB run regardless of how fast they are on fixtures:

- ``CartesianProduct`` — an unbroadcast cross join replicates both
  sides across the cluster; never acceptable.
- ``Exchange SinglePartition`` feeding a ``Window``, ``Sort``, or a
  non-pre-aggregated ``Aggregate`` — a global funnel pushes O(N) rows
  through one task (the reason operators/prefix.py exists). A final
  global aggregate whose exchange CHILD is a partial aggregate is
  benign (only one pre-aggregated row per upstream partition crosses
  the wire) and is not flagged; anything funneling raw rows must be
  in the top-k allowlist with a bounded-by-construction argument.
- ``BroadcastNestedLoopJoin`` — acceptable ONLY where the broadcast
  side is bounded by construction; every such query is allowlisted
  with its justification, so a new unjustified theta-join or
  un-pushed cross join fails this test the day it is introduced.

Streaming queries are skipped (their builders execute a stream; the
returned memory-table plan is a trivial scan, and their batch twins —
same operator code — are linted here).
"""

import contextlib
import io
import re

import pytest

from storm_bench_spark.plans.registry import all_queries
from tests.conftest import SF_DIR

# BroadcastNestedLoopJoin allowlist: query -> why the broadcast side is
# bounded by construction (NOT data-dependent luck).
ALLOW_BNLJ = {
    # 1-row / threshold-row broadcast crossJoins (scalar fan-in)
    "quality_quantile_filter": "broadcast P25 threshold row",
    "domain_mix_sample": "broadcast per-source rate table (|sources| rows)",
    "bm25_rank": "broadcast corpus-stats row (N, avgdl)",
    "gap_fill_hourly": "broadcast global (h0, h1) bounds row",
    "top_terms": "broadcast doc-count row",
    "tpch_q11": "broadcast global value-threshold row",
    "tpch_q22": "broadcast avg-acctbal row",
    "token_budget_select": "broadcast one-row token-budget threshold",
    "tfidf_top_terms": "broadcast doc-count row (N for the idf)",
    "pmi_bigrams": "broadcast 1-row (n_bi, n_uni) corpus totals",
    # the __all__ sketch row joins the __all__ truth row on a
    # constant-folded key: two 1-row aggregates at any data size
    "kmv_distinct_users": "1-row __all__ sketch x 1-row truth aggregate",
    "histogram_quantiles": "broadcast 1-row global (mn, mx) bounds",
    "histogram_quantiles_rollup": "broadcast 1-row global (mn, mx) bounds",
    "kmv_resemblance": "theta self-join of the |types|-row distinct-type table (|types|^2 pairs by construction)",
    "audience_overlap_hll": "theta self-join of the |types|-row persisted register table (|types|^2 sketch pairs by construction)",
    "streaming_audience_overlap": "same |types|-row register theta self-join over the streaming snapshot",
    "streaming_histogram_quantiles": "broadcast 1-row static (mn, mx) bounds",
    "bloom_high_value_orders": "broadcast ~1 KB bitmap row",
    # bounded-side theta/cross joins
    "rolling_flight_dist": "A-row latest-state pair join, A = live aircraft",
    "embedding_neardup": "broadcast vector side of the documented O(N²) baseline (LSH variant is the scale path)",
    "ann_topk_ivf": "broadcast centroid table (C rows) + probe rows (queries × n_probe)",
    "ann_topk_ivf_kmeans": "same as ann_topk_ivf with k-means centroids",
    "ann_recall_at_k": "composes ann_topk + ann_topk_ivf (both allowlisted)",
    "rrf_hybrid_rank": "composes bm25_rank (allowlisted scalar-row crossJoins)",
}

# Round-robin-over-scan allowlist: queries whose plan may show an
# Exchange RoundRobinPartitioning directly over a raw scan. All of
# them go through plans/pipeline.py:_spread, which (since round 6)
# fires ONLY when the scan yields fewer splits than
# defaultParallelism — true for the fixture's single-row-group
# parquet (where the exchange parallelizes CPU-bound tokenization,
# measured -20% on the dedup queries at sf0.1), provably skipped on
# production multi-split input (test_spread_skips_* below). Any OTHER
# query showing this shape is an unconditional full-corpus shuffle
# and fails the lint.
ALLOW_SPREAD = {
    "lang_id", "quality_score", "repetition_score",
    "decontaminate", "pack_sequences", "quality_quantile_filter",
    "epoch_shuffle", "token_budget_select", "decontaminate_minhash",
    "contamination_score",
    "bigram_lm_score", "chunk_documents", "chunk_dedup",
    "inverted_index", "bm25_rank", "textrank_keywords",
    "heavy_hitters_cms", "domain_mix_sample",
    "minhash_lsh", "ngram_jaccard", "simhash", "simhash_pairs",
    "boilerplate_ngram_ratio", "vocab_oov_rate", "dsir_select",
    "bpe_merge_steps",
    "rrf_hybrid_rank",  # composes bm25_rank (a _spread user)
    "dup_ngram_spans", "line_dedup",  # corpus_ops._words (_spread user)
    "pii_scrub",  # direct _spread over the documents scan
    "bpe_encode",  # lexicon_ops._docs (_spread user)
    "tfidf_top_terms",  # direct _spread over the documents scan
    "source_overlap", "dedup_keep_best",  # compose minhash_lsh (a _spread user)
    "pmi_bigrams",  # direct _spread over the documents scan
    "containment_pairs",  # direct _spread over the documents scan
}

# Single-partition-funnel allowlist: query -> why the rows funneled
# through one task are bounded by construction (NOT data-dependent).
ALLOW_SINGLE_PARTITION = {
    # global cum-sum window over the distinct-value HISTOGRAM, not the
    # corpus: ≤ max-document-token-count rows (thousands) regardless of
    # corpus size. The old Window-only regex missed this shape (the
    # exchange's direct consumer is the window's Sort) — kept as the
    # documented example the tree-walk lint now sees.
    "quality_quantile_filter": "cum window over bounded (nt, freq) histogram",
    # fused-rank window over the full outer join of two ≤k-row ranked
    # lists (k = 20): ≤ 2k rows regardless of corpus size
    "rrf_hybrid_rank": "RRF window over ≤2k fused rank rows",
    # the __all__ sketch-merge re-rank runs over the per-type KEPT
    # rows only: ≤ |event types|·K_KMV (= 5·64) rows at any data size
    "kmv_distinct_users": "global rank over ≤ |types|·K merged sketch rows",
}

_SKIP_PREFIXES = ("streaming_", "trident_", "stateful_")

_BATCH_QUERIES = [
    n for n in all_queries() if not n.startswith(_SKIP_PREFIXES)
]


def _plan(spark, name):
    # Clean cache state first — the bench protocol the lint models
    # (bench.py clears the cache between queries). The session-scoped
    # fixture carries materialized persists from earlier test FILES
    # (e.g. test_corpus_ops executing pmi_bigrams), and CacheManager
    # substitutes those into later plans; a cached table materialized
    # as one partition then lets the planner drop the partial-agg step
    # and the funnel lint misreads the bounded 1-row totals exchange
    # as a raw-row funnel (r14: the pmi_bigrams false positive).
    spark.catalog.clearCache()
    df = all_queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree_edges(plan_text: str):
    """Parse the formatted-explain tree diagram into (node_num ->
    {name, parent_num, child_nums}). The diagram is the indented block
    between '== Physical Plan ==' and the first blank line; each line
    ends with '(N)'. Parent = nearest preceding line with smaller
    indent — exact for the tree rendering Spark emits."""
    lines = plan_text.split("== Physical Plan ==", 1)[-1].splitlines()
    nodes: dict[int, dict] = {}
    stack: list[tuple[int, int]] = []  # (indent, num)
    for ln in lines:
        m = re.match(r"^([ :+\-*]*)([A-Za-z][\w .]*?)\s*\((\d+)\)\s*$", ln)
        if not m:
            if ln.strip() == "" and nodes:
                break  # end of diagram
            continue
        indent, name, num = len(m.group(1)), m.group(2).strip(), int(m.group(3))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        parent = stack[-1][1] if stack else None
        # '*' in the tree prefix marks whole-stage-codegen membership —
        # more faithful than the detail-header '[codegen id : k]' tag,
        # which formatted explain elides on some streamed-side nodes
        nodes[num] = {
            "name": name,
            "parent": parent,
            "children": [],
            "codegen": "*" in m.group(1),
        }
        if parent is not None:
            nodes[parent]["children"].append(num)
        stack.append((indent, num))
    return nodes


# Transparent wrappers between an Exchange and its real consumer/child
# in the AQE-formatted tree.
_WRAPPERS = ("AQEShuffleRead", "ShuffleQueryStage", "InputAdapter",
             "WholeStageCodegen", "ReusedExchange", "Subquery")


def _real_parent(nodes, num):
    p = nodes[num]["parent"]
    while p is not None and nodes[p]["name"].startswith(_WRAPPERS):
        p = nodes[p]["parent"]
    return p


def _real_child(nodes, num):
    kids = nodes[num]["children"]
    while len(kids) == 1 and nodes[kids[0]]["name"].startswith(_WRAPPERS):
        kids = nodes[kids[0]]["children"]
    return kids[0] if len(kids) == 1 else None


def _detail_block(plan_text: str, num: int) -> str:
    m = re.search(rf"^\({num}\) [^\n]*\n((?:(?!^\(\d+\) ).*\n?)*)",
                  plan_text, re.M)
    return m.group(1) if m else ""


def _scan_under(nodes, plan_text, num):
    """Walk down from node `num` through transparent wrappers and
    ColumnarToRow to the single real child; return its node number if
    it is a raw scan, else None. Any real operator (Filter with
    non-pushed predicates, Project with expressions, Generate, ...)
    between the exchange and the scan breaks the 'directly over a raw
    scan' shape and ends the walk."""
    passthrough = _WRAPPERS + ("ColumnarToRow",)
    kids = nodes[num]["children"]
    while len(kids) == 1:
        k = kids[0]
        kname = nodes[k]["name"]
        if kname.startswith("Scan") or kname.startswith("BatchScan"):
            return k
        if not kname.startswith(passthrough):
            return None
        kids = nodes[k]["children"]
    return None


def _roundrobin_over_scan(plan_text: str) -> list[str]:
    """Return a violation string per Exchange RoundRobinPartitioning
    sitting directly over a raw scan — the shape _spread produces. At
    100 TB this moves the entire input across the network once, so it
    is only acceptable where _spread's conditional guard provably
    skips it on multi-split input (ALLOW_SPREAD)."""
    nodes = _tree_edges(plan_text)
    out = []
    for num, nd in nodes.items():
        if not nd["name"].startswith("Exchange"):
            continue
        if "RoundRobinPartitioning" not in _detail_block(plan_text, num):
            continue
        scan = _scan_under(nodes, plan_text, num)
        if scan is not None:
            out.append(
                f"Exchange RoundRobinPartitioning ({num}) over "
                f"{nodes[scan]['name']} ({scan})"
            )
    return out


def _single_partition_funnels(plan_text: str) -> list[str]:
    """Return a violation string per Exchange SinglePartition that
    funnels raw (non-pre-aggregated) rows into a Window, Sort, or
    Aggregate — the three global-funnel shapes."""
    nodes = _tree_edges(plan_text)
    out = []
    for num, nd in nodes.items():
        if not nd["name"].startswith("Exchange"):
            continue
        if "SinglePartition" not in _detail_block(plan_text, num):
            continue
        parent = _real_parent(nodes, num)
        consumer = nodes[parent]["name"] if parent is not None else "?"
        if not re.search(r"Window|Sort|Aggregate", consumer):
            continue
        child = _real_child(nodes, num)
        child_detail = _detail_block(plan_text, child) if child else ""
        # final global agg over map-side partials: one row per upstream
        # partition crosses the exchange — not a funnel
        if "Aggregate" in consumer and "partial_" in child_detail:
            continue
        out.append(f"Exchange SinglePartition ({num}) -> {consumer} ({parent})")
    return out


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_no_scale_killers_in_plan(name, spark):
    s = _plan(spark, name)
    # The tree walk below only parses the MAIN plan. No engine query
    # emits a scalar/IN-subquery section (every scalar fan-in is an
    # explicit broadcast crossJoin, so it lives in the main tree) —
    # keep it that way, or extend _tree_edges to walk each section.
    assert "Subquer" not in s, (
        f"{name}: plan contains a subquery section the funnel lint "
        f"does not scan — spell the scalar as an explicit broadcast "
        f"crossJoin, or extend _tree_edges to parse subquery sections"
    )
    assert "CartesianProduct" not in s, f"{name}: unbroadcast cross join"
    funnels = _single_partition_funnels(s)
    if funnels and name not in ALLOW_SINGLE_PARTITION:
        raise AssertionError(
            f"{name}: global single-partition funnel(s) {funnels} — "
            f"repartition on a key, use operators/prefix.py's blocked "
            f"scan, or allowlist with a bounded-rows justification"
        )
    if "BroadcastNestedLoopJoin" in s:
        assert name in ALLOW_BNLJ, (
            f"{name}: BroadcastNestedLoopJoin not allowlisted — either make "
            f"the join an equi-join / broadcast a bounded side, or add an "
            f"explicit justification to ALLOW_BNLJ"
        )
    rr = _roundrobin_over_scan(s)
    if rr and name not in ALLOW_SPREAD:
        raise AssertionError(
            f"{name}: round-robin exchange directly over a raw scan {rr} "
            f"— a full-input shuffle at scale. Route it through "
            f"plans/pipeline.py:_spread (whose guard skips it on "
            f"multi-split input) and add the query to ALLOW_SPREAD"
        )


def test_bnlj_allowlist_is_not_stale(spark):
    # Every allowlisted query must still exist; prune entries whose
    # plans no longer need the exemption (keeps the list honest).
    missing = set(ALLOW_BNLJ) - set(all_queries())
    assert not missing, f"allowlist references unknown queries: {missing}"
    missing_sp = set(ALLOW_SINGLE_PARTITION) - set(all_queries())
    assert not missing_sp, f"allowlist references unknown queries: {missing_sp}"
    missing_rr = ALLOW_SPREAD - set(all_queries())
    assert not missing_rr, f"allowlist references unknown queries: {missing_rr}"
    missing_cg = set(CODEGEN_HOF_ALLOW) - set(all_queries())
    assert not missing_cg, f"allowlist references unknown queries: {missing_cg}"


# --- whole-stage-codegen canary (VERDICT r11 next #7) ---------------------
# The suite has caught three silent-slowness mechanisms ad hoc (janino
# 64KB compile fail, HOF interpreted fallback inside a join condition,
# HotSpot DontCompileHugeMethods) — each found via bench anomalies, not
# CI. This lint makes one class mechanical: every JVM row-processing
# node of the HOT plans (the sf1-tier rows — the ones whose wall
# carries the 2x adjudication) must sit inside a WholeStageCodegen
# region. Plans are explained with AQE off because an unexecuted AQE
# plan (isFinalPlan=false) hides codegen assignment entirely.
#
# What this does NOT see: expression-level CodegenFallback (HOFs run
# interpreted INSIDE a codegen'd node — deliberate where used, e.g.
# boilerplate's in-lambda md5, measured faster than the exploded
# codegen spelling) and HotSpot-level huge-method deoptimization
# (JVM-internal; the bench annex's per-row timings remain the net for
# that). Janino compile failures are covered suite-wide by
# conftest.py setting spark.sql.codegen.fallback=false — a compile
# error is a hard test failure, not a silent 10x.

# Node types that must be codegen'd when they appear in a hot plan.
# Not listed (legitimately outside whole-stage codegen): Exchange,
# Scan/BatchScan, ColumnarToRow, Generate, Window, TakeOrderedAndProject,
# ObjectHashAggregate, ArrowEvalPython / *InPandas, Union, Coalesce.
_CODEGEN_EXPECTED = (
    "HashAggregate", "Project", "Filter", "Sort", "Expand",
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
)

# query -> reason its fallback-bearing nodes may run outside codegen.
# The exemption applies ONLY to uncovered nodes whose detail block
# contains one of _CODEGEN_FALLBACK_MARKERS — expression classes
# Catalyst itself evaluates via CodegenFallback (or that disqualify a
# node from whole-stage codegen) BY DESIGN, where the inner work
# dominates the interpreted-eval wrapper:
#   lambdafunction( — a deliberate higher-order function (the engine's
#     in-array idiom: word_split's filter(split(..)), minhash
#     permutation transforms, quantization lambdas; regex/md5/
#     arithmetic bodies dominate), bench-measured under bar;
#   from_json(     — JsonToStructs is CodegenFallback in Spark; the
#     JSON parse dominates;
#   pivotfirst(    — an ImperativeAggregate: HashAggregate whole-stage
#     codegen requires declarative aggregates, so a pivot node can
#     never be covered (bounded by the pivoted-column cardinality).
# A node outside these classes falling out of codegen still fails in
# these queries — that is the silent-fallback class the canary exists
# for (janino fail / DontCompileHugeMethods / accidental fallback).
_CODEGEN_FALLBACK_MARKERS = ("lambdafunction(", "from_json(", "pivotfirst(")

CODEGEN_HOF_ALLOW: dict[str, str] = {
    "corpus_curate": "word_split filter(split(text)) token-count lambda — regex split dominates",
    "dedup_keep_best": "word_split token-count lambda on the keep-best scorer",
    "source_overlap": "minhash permutation transform chain — per-element md5 dominates",
    "minhash_lsh": "minhash permutation transform chain — per-element md5 dominates",
    "lsh_recall_pairs": "same minhash permutation transform chain as minhash_lsh (composes it)",
    "bpe_encode": "in-string merge replace + split filter; bounded by doc length",
    "dup_ngram_spans": "word_split + shingle-window lambdas; per-doc bounded",
    "exact_dup_spans": "same word_split + shingle-window lambdas as dup_ngram_spans (shares _dup_window_islands)",
    "line_dedup": "word_split + stride segment/reassembly lambdas (r11 respell, measured 1.09x at tier)",
    "chunk_dedup": "word_split + block segment/reassembly lambdas (r11 respell, measured 1.88x idle-box)",
    "ann_rerank": "int8 quantization transform lambdas, dim-bounded per vector; scoring runs in the Arrow kernel",
    "embedding_neardup_lsh_scaled": "scaled-twin construction: one arithmetic perturbation transform per vector (dim-bounded); scoring runs in the Arrow kernel",
    "boilerplate_ngram_ratio": "in-lambda md5 trigram hashing (r12 respell — measured faster than the exploded codegen spelling); usually under the cache subtree, listed for cache-off configs",
    # --- registry-wide extension (round 13, VERDICT r12 next #5) ---
    "ann_topk_quantized": "int8 quantization transform lambdas, dim-bounded per vector; scoring runs in the Arrow kernel",
    "embedding_quantize": "quantization + zip_with round-trip-error lambdas, dim-bounded per vector",
    "source_centroids_q8": "int8 quantization transform lambdas, dim-bounded per vector",
    "source_similarity_q8": "int8 quantization transform lambdas, dim-bounded per vector",
    "chunk_documents": "word_split filter(split(text)) lambda — regex split dominates",
    "corpus_split": "word_split token-count lambda on the split-stat projection",
    "domain_mix_sample": "word_split token-count lambda (budget + per-doc passes)",
    "pmi_bigrams": "word_split filter(split(text)) lambda — regex split dominates",
    "repetition_score": "word_split filter(split(text)) lambda — regex split dominates",
    "textrank_keywords": "word_split filter(split(text)) lambda — regex split dominates",
    "token_count": "word_split token-count lambda — regex split dominates (r12 tier: 0.42x)",
    "doc_fingerprint": "rolling shingle-hash min via nested transform lambdas, doc-bounded",
    "pii_scrub": "regexp_extract_all length-aggregate lambdas — the regex scan dominates",
    "weighted_sample": "per-replica md5 key transform, weight-bounded per doc",
    "weighted_sample_per_source": "per-replica md5 key transform, weight-bounded per doc",
    "props_json_stats": "from_json projection — JsonToStructs is CodegenFallback by design",
    "user_event_pivot": "pivotfirst ImperativeAggregate — pivot HashAggregates cannot whole-stage-codegen",
    "user_event_unpivot": "pivotfirst ImperativeAggregate on the pivot stage it unpivots",
}


def _codegen_uncovered(plan_text: str) -> list[str]:
    """Node strings for every _CODEGEN_EXPECTED node the tree diagram
    prints WITHOUT the ``*`` codegen prefix (= Spark left it outside
    every WholeStageCodegen region — for Project/Filter that means an
    expression in it is CodegenFallback, e.g. a higher-order function,
    and the node evaluates interpreted per row). Nodes under an
    InMemoryRelation are skipped: the cache-build subtree is printed
    from the stored snapshot without codegen assignment — it gets its
    own codegen stages at materialization, invisible statically."""
    nodes = _tree_edges(plan_text)

    def _under_cache(num: int) -> bool:
        p = nodes[num]["parent"]
        while p is not None:
            if nodes[p]["name"].startswith("InMemoryRelation"):
                return True
            p = nodes[p]["parent"]
        return False

    out = []
    for num, nd in nodes.items():
        base = nd["name"].split()[0]
        if base not in _CODEGEN_EXPECTED or _under_cache(num):
            continue
        if not nd["codegen"]:
            out.append(f"{nd['name']} ({num})")
    return out


# Round 13 (VERDICT r12 next #5): the canary runs REGISTRY-WIDE, not
# just over the sf1 tier. All three silent-slowness classes it guards
# against (janino compile fail, HOF fallback on a non-HOF node,
# DontCompileHugeMethods) were found on rows that happened to be hot
# THAT round — the next one may not be in the tier. The scale-killer
# lint already builds every batch plan, so the marginal cost is one
# more formatted-explain per query.
@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_codegen_covers_hot_plans(name, spark):
    # cache-free plan: persisted subtrees registered by earlier tests
    # reshape this query's tree (cache reuse swaps which nodes exist),
    # making the uncovered set order-dependent
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan_text = _plan(spark, name)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    uncovered = _codegen_uncovered(plan_text)
    if name in CODEGEN_HOF_ALLOW:
        uncovered = [
            u
            for u in uncovered
            if not any(
                m
                in _detail_block(
                    plan_text, int(re.search(r"\((\d+)\)$", u).group(1))
                )
                for m in _CODEGEN_FALLBACK_MARKERS
            )
        ]
    assert not uncovered, (
        f"{name}: row-processing node(s) outside every WholeStageCodegen "
        f"region: {uncovered} — interpreted evaluation on a hot path "
        f"(the silent 10x class). Fix the expression, or — if it is a "
        f"deliberate, measured HOF — add the query to CODEGEN_HOF_ALLOW"
    )


def test_codegen_canary_fails_red_when_codegen_disabled(spark):
    """The canary's own canary: with whole-stage codegen artificially
    off (how the r10-class regressions LOOK to the engine), the check
    must flag every expected node — proving it would not silently pass
    a fallen-back plan."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        # a cache-free query: a persisted subtree planned codegen-on by
        # an earlier test would leak `[codegen id` tags into this plan
        plan_text = _plan(spark, "wordcount")
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "[codegen id" not in plan_text
    uncovered = _codegen_uncovered(plan_text)
    assert uncovered, (
        "codegen canary failed to flag a plan with codegen disabled — "
        "the formatted-explain parsing it relies on has changed"
    )


# --- _spread conditional guard (plans/pipeline.py) -----------------------
# The ALLOW_SPREAD exemption above is only sound because _spread skips
# the exchange whenever the input is big enough to scan as
# >= defaultParallelism splits — i.e. on any production input. Since
# round 7 the split count is estimated from on-disk bytes ÷
# maxPartitionBytes (no `.rdd` planning probe — VERDICT r6 #3); these
# tests pin the estimate and both branches.

@pytest.fixture(scope="module")
def spread_dir(spark, tmp_path_factory):
    """A fake sf_dir holding a small documents.parquet (~tens of KB)."""
    d = tmp_path_factory.mktemp("spread_sf")
    spark.range(0, 5000, 1, numPartitions=1).selectExpr(
        "id AS doc_id", "repeat('x', 20) AS text"
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_spread_skips_when_input_scans_wide(spark, spread_dir):
    from storm_bench_spark.plans.pipeline import _spread

    # Shrink the split size so the small fixture file estimates as many
    # splits — the production-scale regime without a production file.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "100")
    try:
        df = spark.read.parquet(f"{spread_dir}/documents.parquet")
        assert _spread(df, spread_dir) is df  # identity — no exchange at all
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_spread_fires_on_small_input(spark, spread_dir):
    from storm_bench_spark.plans.pipeline import _spread

    par = spark.sparkContext.defaultParallelism
    # Default 128 MiB splits: the KB-sized file estimates 1 split.
    df = spark.read.parquet(f"{spread_dir}/documents.parquet")
    out = _spread(df, spread_dir)
    assert out is not df
    assert out.rdd.getNumPartitions() == par


def test_conf_bytes_parses_suffixes(spark):
    from storm_bench_spark.plans.pipeline import _conf_bytes

    for raw, expect in [("134217728b", 128 << 20), ("128m", 128 << 20),
                        ("1g", 1 << 30), ("4096", 4096), ("16k", 16 << 10)]:
        spark.conf.set("spark.sql.files.maxPartitionBytes", raw)
        try:
            assert _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 0) == expect
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")


# --- one owner per Python-boundary decision ---------------------------------
# The vector decode, the dimension-order sums and the multimodal batch
# loop each have one owner (operators/similarity.py's helpers and
# operators/multimodal.py:_map_rows); a second copy is how a kernel
# drifts off the DuckDB oracles' summation order.

_VECTOR_OWNERS = {
    "np.stack": {("operators/similarity.py", "_matrix")},
    "np.outer": {("operators/similarity.py", "_dots")},
    "column sum": {("operators/similarity.py", "_dots"), ("operators/similarity.py", "_row_dots")},
}
# Not a vector decode: the funnel's Python state stacks its four output
# columns into one frame.
_VECTOR_EXEMPT = {("np.stack", "streaming/stateful.py", "_update_funnel")}


def _vector_sites():
    """(kind, file, enclosing function) for every ``np.stack(``,
    ``np.outer(`` and dimension loop ``acc += a[:, i] ...`` in the
    engine package."""
    import ast
    import pathlib

    import storm_bench_spark

    root = pathlib.Path(storm_bench_spark.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()

        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
                if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                    name = f"{getattr(child.func.value, 'id', '')}.{child.func.attr}"
                    if name in ("np.stack", "np.outer"):
                        sites.append((name, rel, fn))
                if isinstance(child, ast.AugAssign) and isinstance(child.op, ast.Add) and any(
                    isinstance(s, ast.Subscript)
                    and isinstance(s.slice, ast.Tuple)
                    and any(isinstance(e, ast.Slice) for e in s.slice.elts)
                    for s in ast.walk(child.value)
                ):
                    sites.append(("column sum", rel, fn))
                visit(child, inner)

        visit(ast.parse(path.read_text()), None)
    return sites


def test_vector_math_has_one_owner():
    stray = [
        s for s in _vector_sites()
        if (s[1], s[2]) not in _VECTOR_OWNERS[s[0]] and s not in _VECTOR_EXEMPT
    ]
    assert not stray, (
        f"vector decode or dimension-order sum outside the helpers in "
        f"operators/similarity.py: {stray} — call _matrix/_dots/_row_dots/_norms"
    )
    assert set(_vector_sites()) >= {(k, f, fn) for k, owners in _VECTOR_OWNERS.items() for f, fn in owners}


def test_multimodal_operators_share_one_batch_map():
    import inspect

    from storm_bench_spark.operators import multimodal as MM

    src = inspect.getsource(MM)
    assert src.count(".mapInPandas(") == 1, "every multimodal operator goes through _map_rows"
    knobs = [
        f"{name}({p})"
        for name, fn in inspect.getmembers(MM, inspect.isfunction)
        if fn.__module__ == MM.__name__
        for p in inspect.signature(fn).parameters
        if p.endswith("_col")
    ]
    assert not knobs, f"column-name parameters no caller sets: {knobs}"
