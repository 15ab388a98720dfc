"""Unit/property tests for the sketch operators (HLL, Bloom, fuzzy):
the correctness gate (tests/test_correctness.py) already replays each
registered query against DuckDB; these tests pin the operator-level
contracts the oracle can't see — merge algebra, no-false-negative
pruning, blocking losslessness on adversarial fixtures.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from storm_bench_spark.operators.sketches import (
    bloom_bitmap,
    bloom_semi_join,
    fuzzy_pairs,
    hll_estimate,
    hll_registers,
)


def _vals(spark, vals, key="k"):
    return spark.createDataFrame([Row(**{key: "g", "v": str(v)}) for v in vals])


def test_hll_estimate_within_error_bound(spark):
    # m=16 registers -> relative error ~ 1.04/sqrt(16) = 26%; allow 3 sigma.
    n = 500
    df = _vals(spark, range(n))
    est = (
        hll_estimate(hll_registers(df, ["k"], "v"), ["k"])
        .collect()[0]["approx_distinct"]
    )
    assert abs(est - n) / n < 0.78


def test_hll_registers_merge_equals_rescan(spark):
    # The sketch's reason to exist: max-merging two halves' registers
    # must equal the registers of the union — bit-for-bit.
    a = _vals(spark, range(0, 300))
    b = _vals(spark, range(200, 500))  # overlapping, like two shards
    merged = (
        hll_registers(a, ["k"], "v")
        .unionByName(hll_registers(b, ["k"], "v"))
        .groupBy("k", "_bucket")
        .agg(F.max("_r").alias("_r"))
    )
    whole = hll_registers(a.unionByName(b), ["k"], "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hll_duplicates_do_not_move_estimate(spark):
    # Idempotence: the same values repeated 10x give the identical sketch.
    once = _vals(spark, range(100))
    many = _vals(spark, list(range(100)) * 10)
    e1 = hll_estimate(hll_registers(once, ["k"], "v"), ["k"]).collect()
    e2 = hll_estimate(hll_registers(many, ["k"], "v"), ["k"]).collect()
    assert e1 == e2


def test_hll_ignores_nulls(spark):
    # COUNT(DISTINCT) semantics: NULL is not a value — rows with NULL
    # must not move the estimate (they'd otherwise shift the
    # empty-register count V).
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("k", StringType()), StructField("v", StringType(), True)]
    )
    clean = spark.createDataFrame([("g", str(i)) for i in range(50)], schema)
    dirty = spark.createDataFrame(
        [("g", str(i)) for i in range(50)] + [("g", None)] * 7, schema
    )
    e1 = hll_estimate(hll_registers(clean, ["k"], "v"), ["k"]).collect()
    e2 = hll_estimate(hll_registers(dirty, ["k"], "v"), ["k"]).collect()
    assert e1 == e2


def test_bloom_semi_join_exact_and_pruning(spark):
    fact = spark.createDataFrame([Row(id=i, payload=i * 2) for i in range(2000)])
    dim = spark.createDataFrame([Row(id=i) for i in range(0, 2000, 100)])
    got = bloom_semi_join(fact, dim, "id")
    want = fact.join(dim, "id", "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bloom_bitmap_prunes_most_nonmembers(spark):
    # 20 keys in an 8192-bit / 3-hash bloom: false-positive rate must be
    # far below 50% — check the bit-test actually rejects rows (i.e. the
    # operator is a filter, not a pass-through).
    from storm_bench_spark.operators.sketches import BLOOM_BITS, BLOOM_K, _bloom_positions

    dim = spark.createDataFrame([Row(id=i) for i in range(20)])
    fact = spark.createDataFrame([Row(id=i) for i in range(20, 4020)])
    bitmap = F.broadcast(bloom_bitmap(dim, "id"))
    probed = fact.crossJoin(bitmap)
    pcols = {f"_bp{i}": p for i, p in enumerate(_bloom_positions(F.col("id"), BLOOM_BITS, BLOOM_K))}
    probed = probed.withColumns(pcols)
    cond = " AND ".join(
        f"(shiftright(coalesce(element_at(_bloom, CAST({p} DIV 64 AS INT)),"
        f" CAST(0 AS BIGINT)), CAST({p} % 64 AS INT)) & 1) = 1"
        for p in pcols
    )
    survivors = probed.where(F.expr(cond)).count()
    assert survivors < 400  # theoretical fp ~ (60/8192*? ) << 10%


@pytest.mark.parametrize(
    "names",
    [
        ["abc", "abd", "abcd", "xbc", "ab", "zzz", "abce", "bbc"],
        ["same", "same2", "sam", "samee", "tame", "fame", "flame"],
    ],
)
def test_fuzzy_pairs_equals_bruteforce(spark, names):
    # Mixed lengths on purpose: insertion/deletion pairs must surface via
    # the identity-variant trick, not just same-length substitutions.
    df = spark.createDataFrame([Row(b=1, name=n) for n in names])
    got = sorted(
        (r["name1"], r["name2"])
        for r in fuzzy_pairs(df, ["b"], "name").collect()
    )
    import itertools

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[len(b)]

    want = sorted(
        tuple(sorted(p)) for p in itertools.combinations(names, 2) if lev(*p) <= 1
    )
    assert got == want


@pytest.mark.parametrize(
    "names",
    [
        ["abcd", "abef", "abce", "xycd", "abcdef", "ab", "zzzz", "acd"],
        ["kitten", "sitten", "sittin", "mitten", "bitten", "kit"],
    ],
)
def test_fuzzy_pairs_d2_equals_bruteforce(spark, names):
    import itertools

    df = spark.createDataFrame([Row(b=1, name=n) for n in names])
    got = sorted(
        (r["name1"], r["name2"])
        for r in fuzzy_pairs(df, ["b"], "name", max_dist=2).collect()
    )

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[len(b)]

    want = sorted(
        tuple(sorted(p)) for p in itertools.combinations(names, 2) if lev(*p) <= 2
    )
    assert got == want


def _lev(a, b):
    d = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, d[0] = d[0], i
        for j, cb in enumerate(b, 1):
            prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
    return d[len(b)]


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("max_dist", [1, 2])
def test_fuzzy_pairs_randomized_bruteforce(spark, seed, max_dist):
    """Randomized exactness check of the id-keyed blocking rewrite: a
    2-letter alphabet over lengths 2-7 makes near-matches DENSE (many
    true pairs, many shared variants, duplicate input rows), so the
    candidate generator, the nid re-attach joins, and the least/
    greatest pair ordering all get exercised against ground truth."""
    import itertools
    import random

    rng = random.Random(seed)
    names = list(
        {
            "".join(rng.choice("ab") for _ in range(rng.randint(2, 7)))
            for _ in range(40)
        }
    )
    rows = [Row(b=rng.randint(1, 2), name=n) for n in names]
    rows += rng.sample(rows, 5)  # duplicate input rows must not dup pairs
    df = spark.createDataFrame(rows).repartition(4)
    got = sorted(
        (r["b"], r["name1"], r["name2"])
        for r in fuzzy_pairs(df, ["b"], "name", max_dist=max_dist).collect()
    )
    by_block = {}
    for r in rows:
        by_block.setdefault(r.b, set()).add(r.name)
    want = sorted(
        (blk, *sorted(p))
        for blk, ns in by_block.items()
        for p in itertools.combinations(sorted(ns), 2)
        if _lev(*p) <= max_dist
    )
    assert got == want


def test_fuzzy_pairs_blocking_respects_blocks(spark):
    df = spark.createDataFrame(
        [Row(b=1, name="abc"), Row(b=2, name="abd"), Row(b=1, name="abe")]
    )
    got = [(r["b"], r["name1"], r["name2"]) for r in fuzzy_pairs(df, ["b"], "name").collect()]
    # cross-block pair (abc, abd) must NOT appear; within-block (abc, abe) must.
    assert got == [(1, "abc", "abe")]


# --- signature truncation (round 7: the candidate fan-in cut) ------------

@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("max_dist,sig_len", [(1, 3), (2, 3), (2, 4)])
def test_fuzzy_pairs_truncated_signature_exact(spark, seed, max_dist, sig_len):
    """Randomized exactness with an AGGRESSIVELY short suffix signature
    (far shorter than the 2-7 char names' spread): truncation must only
    add candidates the levenshtein verify removes, never lose a pair.
    This drives the sig-shorter-than-name path the default sig_len=12
    never hits on short test names."""
    import itertools
    import random

    rng = random.Random(seed)
    names = list(
        {
            "".join(rng.choice("ab") for _ in range(rng.randint(2, 7)))
            for _ in range(40)
        }
    )
    df = spark.createDataFrame([Row(b=1, name=n) for n in names]).repartition(4)
    got = sorted(
        (r["name1"], r["name2"])
        for r in fuzzy_pairs(df, ["b"], "name", max_dist=max_dist, sig_len=sig_len).collect()
    )
    want = sorted(
        tuple(sorted(p))
        for p in itertools.combinations(sorted(names), 2)
        if _lev(*p) <= max_dist
    )
    assert got == want


def test_fuzzy_signature_truncation_theorem():
    """Pure-Python brute force of the losslessness theorem the Spark
    plan relies on (sketches.py:fuzzy_pairs docstring): for any pair at
    edit distance d <= 2 and any signature length P >= d+1, the
    depth-d deletion sets of the length-P suffixes intersect. Random
    short-alphabet strings make near pairs and boundary shifts dense —
    the regime where a truncation bug would lose pairs."""
    import random

    def dels(s, depth):
        out, frontier = {s}, {s}
        for _ in range(depth):
            frontier = {t[:i] + t[i + 1:] for t in frontier for i in range(len(t))}
            out |= frontier
        return out

    rng = random.Random(11)
    checked = 0
    while checked < 4000:
        p = rng.choice([2, 3, 4, 5, 6])
        u = "".join(rng.choice("ab0") for _ in range(rng.randint(0, 9)))
        v = "".join(rng.choice("ab0") for _ in range(rng.randint(0, 9)))
        d = _lev(u, v)
        if d == 0 or d > 2 or p < d + 1:
            continue
        checked += 1
        su, sv = u[-p:] if len(u) > p else u, v[-p:] if len(v) > p else v
        assert dels(su, d) & dels(sv, d), (u, v, d, p)


def test_fuzzy_pairs_rejects_degenerate_sig_len(spark):
    df = spark.createDataFrame([Row(b=1, name="abc")])
    with pytest.raises(ValueError, match="sig_len"):
        fuzzy_pairs(df, ["b"], "name", max_dist=2, sig_len=2)


def test_fuzzy_pairs_large_dict_fallback_exact(spark, monkeypatch):
    """Force the large-dictionary regime (broadcast gate at 0) and
    check the shuffle-attach verify path produces the identical pair
    set the broadcast path does — the branch the sf-sized fixtures
    never take."""
    import itertools
    import random

    from storm_bench_spark.operators import sketches as SK

    rng = random.Random(7)
    names = list(
        {"".join(rng.choice("abc") for _ in range(rng.randint(3, 8))) for _ in range(60)}
    )
    df = spark.createDataFrame([Row(b=1, name=n) for n in names]).repartition(4)
    want = sorted(
        (r["name1"], r["name2"])
        for r in fuzzy_pairs(df, ["b"], "name", max_dist=2).collect()
    )
    monkeypatch.setattr(SK, "VERIFY_BROADCAST_MAX_NAMES", 0)
    got = sorted(
        (r["name1"], r["name2"])
        for r in fuzzy_pairs(df, ["b"], "name", max_dist=2).collect()
    )
    brute = sorted(
        tuple(sorted(p))
        for p in itertools.combinations(sorted(names), 2)
        if _lev(*p) <= 2
    )
    assert got == want == brute


def test_histogram_quantiles_accuracy_and_merge(spark):
    """The sketch's CONTRACT, which the SQL-equality oracle can't
    express: every estimate sits within err_bound of the exact
    percentile (bin lower edge ≤ true quantile < next edge), and the
    __all__ row — built by cell-wise summing per-type tables — equals
    a from-scratch global sketch (mergeability)."""
    import math

    from storm_bench_spark.plans.registry import all_queries
    from storm_bench_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    out = all_queries()["histogram_quantiles"](spark, SF_DIR).toPandas()
    vals = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "value")
        .collect()
    ):
        vals.setdefault(r["event_type"], []).append(r["value"])
        vals.setdefault("__all__", []).append(r["value"])
    qmap = {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    assert set(out["event_type"]) == set(vals)
    for row in out.itertuples():
        xs = sorted(vals[row.event_type])
        # the sketch answers the SMALLEST bin whose cumulative count
        # reaches ceil-ish q*n: the true q-th order statistic lies in
        # that bin, so |est - true| < bin width (est is the lower edge)
        k = max(0, math.ceil(qmap[row.q] * len(xs)) - 1)
        true_q = xs[k]
        assert row.est <= true_q + 1e-9, (row, true_q)
        assert true_q - row.est <= row.err_bound + 1e-6, (row, true_q)
        assert row.n_rows == len(xs)


_CELLS_SCHEMA = "event_type string, bin long, mn double, mx double, cnt long"


def test_hist_quantiles_picks_the_bin_where_the_count_lands_exactly(spark):
    """The finalize answers the FIRST bin whose cumulative count reaches
    q·n_rows, so a count landing exactly on q·n_rows picks that bin,
    not the next one."""
    from storm_bench_spark.plans.sketch_queries import _hist_quantiles

    # n_rows = 100; cumulative counts 50, 95, 99, 100 hit p50/p95/p99 exactly
    cells = spark.createDataFrame(
        [("a", b, 0.0, 256.0, c) for b, c in ((0, 50), (10, 45), (20, 4), (30, 1))],
        _CELLS_SCHEMA,
    )
    got = {r["q"]: r for r in _hist_quantiles(cells, "event_type").collect()}
    assert {q: got[q]["est"] for q in got} == {"p50": 0.0, "p95": 10.0, "p99": 20.0}
    assert all(r["n_rows"] == 100 and r["err_bound"] == 1.0 for r in got.values())


def test_hist_cells_equal_bounds_give_bin_zero_and_zero_error(spark):
    """mx == mn puts every row in bin 0 (no division by a zero width),
    and the finalize reports that single value with err_bound 0."""
    from storm_bench_spark.plans.sketch_queries import _hist_cells, _hist_quantiles

    rows = spark.createDataFrame(
        [("a", 5.0, 5.0, 5.0)] * 3, "event_type string, value double, mn double, mx double"
    )
    cells = _hist_cells(rows, ["event_type"])
    assert [(r["bin"], r["cnt"]) for r in cells.collect()] == [(0, 3)]
    out = _hist_quantiles(cells, "event_type").collect()
    assert len(out) == 3
    assert all(r["est"] == 5.0 and r["err_bound"] == 0.0 and r["n_rows"] == 3 for r in out)


def test_hist_with_all_sums_the_per_type_cells(spark):
    """The __all__ sketch is the cell-wise sum of the per-type tables."""
    from storm_bench_spark.plans.sketch_queries import _with_all

    per_type = spark.createDataFrame(
        [("a", 0, 0.0, 1.0, 2), ("a", 3, 0.0, 1.0, 5), ("b", 3, 0.0, 1.0, 7), ("b", 9, 0.0, 1.0, 1)],
        _CELLS_SCHEMA,
    )
    got = {(r["event_type"], r["bin"]): r["cnt"] for r in _with_all(per_type).collect()}
    assert got == {
        ("a", 0): 2, ("a", 3): 5, ("b", 3): 7, ("b", 9): 1,
        ("__all__", 0): 2, ("__all__", 3): 12, ("__all__", 9): 1,
    }


def test_kmv_resemblance_discriminates(spark):
    """The fixture's per-type user sets coincide (every pair's Jaccard
    is 1.0), so the gated query can't show the estimator DISCRIMINATES.
    Synthetic sets with planted overlaps do: est must track exact
    within the K-min-values error (~2/sqrt(K) here), disjoint pairs
    must estimate 0, identical pairs 1."""
    import hashlib

    from pyspark.sql import Row

    from storm_bench_spark.plans import sketch_queries as SQ

    # planted: A∩B = 50%, A∩C = 0%, B≡D
    sets = {
        "a": range(0, 400),
        "b": range(200, 600),
        "c": range(1000, 1400),
        "d": range(200, 600),
    }
    rows = [
        Row(event_type=t, user_id=u, ts=0)
        for t, us in sets.items()
        for u in us
    ]
    import tempfile

    d = tempfile.mkdtemp(prefix="sbs_kmvres_")
    # only the two columns the query reads; column pruning means the
    # loader never touches the fixture-only columns
    spark.createDataFrame(
        rows, schema="event_type string, user_id long, ts long"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        (r["type_a"], r["type_b"]): (r["est_jaccard"], r["exact_jaccard"])
        for r in SQ.kmv_resemblance(spark, d).collect()
    }
    tol = 2.0 / (SQ.K_KMV ** 0.5)  # ~0.25 at K=64
    for (ta, tb), (est, exact) in out.items():
        assert abs(est - exact) <= tol, (ta, tb, est, exact)
    assert out[("a", "c")] == (0.0, 0.0)          # disjoint
    assert out[("b", "d")] == (1.0, 1.0)          # identical
    assert abs(out[("a", "b")][1] - 1 / 3) < 1e-6  # 200/600 exact


def test_kmv_resemblance_oracle_on_partial_overlap(spark):
    """The gated sf fixture's pair Jaccards are all 0 or 1, where Dice
    == Jaccard — so the driver gate alone could certify a Dice-shaped
    oracle (it did until round 9: the old exact leg joined per-side
    rows without grouping by hash, double-counting the intersection).
    Run the SHIPPED oracle SQL on the planted partial-overlap fixture
    and require frame equality with the engine, so the exact-Jaccard
    formula itself is discriminated, not just the 0/1 endpoints."""
    import tempfile

    import duckdb
    from pyspark.sql import Row

    from storm_bench_spark.plans import sketch_queries as SQ
    from tests.oracle_utils import assert_frames_match

    sets = {
        "a": range(0, 400),      # |a∩b| = 200, |a∪b| = 600 → J = 1/3
        "b": range(200, 600),
        "c": range(1000, 1400),  # disjoint from a
        "d": range(200, 600),    # identical to b
    }
    rows = [
        Row(event_type=t, user_id=u, ts=0) for t, us in sets.items() for u in us
    ]
    d = tempfile.mkdtemp(prefix="sbs_kmvres_oracle_")
    spark.createDataFrame(
        rows, schema="event_type string, user_id long, ts long"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    engine = SQ.kmv_resemblance(spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    oracle = con.execute(SQ._kmv_resemblance_oracle()).fetchdf()
    con.close()
    assert_frames_match(engine, oracle, name="kmv_resemblance_partial_overlap")
    # and the partial pair really is partial: exact strictly between 0 and 1
    ab = engine[(engine.type_a == "a") & (engine.type_b == "b")]
    assert abs(float(ab.exact_jaccard.iloc[0]) - 1 / 3) < 1e-6


def test_hll_wide_form_equals_row_form(spark):
    """Round 10: the wide register-vector form (one m-column row per
    group) must produce BIT-IDENTICAL estimates to the row form on
    every group — same hash, same rho, same integer harmonic sum, same
    literal linear-counting table — across group sizes that exercise
    both the linear-counting and raw-estimator branches."""
    from storm_bench_spark.operators.sketches import (
        hll_estimate_wide,
        hll_registers_wide,
    )

    rows = [
        Row(k=f"g{g}", v=str(v * 7919 + g))
        for g in range(5)
        for v in range(3 + g * 120)  # 3, 123, 243, 363, 483 distincts
    ]
    df = spark.createDataFrame(rows)
    row_form = {
        r["k"]: r["approx_distinct"]
        for r in hll_estimate(hll_registers(df, ["k"], "v"), ["k"]).collect()
    }
    wide_form = {
        r["k"]: r["approx_distinct"]
        for r in hll_estimate_wide(
            hll_registers_wide(df, ["k"], "v"), ["k"]
        ).collect()
    }
    assert row_form == wide_form  # exact float equality, not approx


def test_hll_wide_merge_equals_rescan(spark):
    """Column-wise MAX merge of two shards' wide registers must equal
    the wide registers of the union — the monoid law the window
    fan-out in unique_visitor_approx relies on."""
    from storm_bench_spark.operators.sketches import (
        hll_merge_wide,
        hll_registers_wide,
    )

    a = _vals(spark, range(0, 300))
    b = _vals(spark, range(200, 500))  # overlapping, like two shards
    merged = hll_merge_wide(
        hll_registers_wide(a, ["k"], "v").unionByName(
            hll_registers_wide(b, ["k"], "v")
        ),
        ["k"],
    )
    whole = hll_registers_wide(a.unionByName(b), ["k"], "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hll_overlap_inclusion_exclusion_tracks_truth(spark):
    """Semantic sanity for the audience-overlap estimator (the oracle
    gate certifies cross-engine exactness; this certifies the MATH):
    on planted sets with known intersection, est(A)+est(B)-est(A∪B)
    must land within the compounded m=16 error envelope of the true
    overlap — loose bound (3 estimates at ~26% rel error each, scaled
    by the union) but enough to catch a sign error, a wrong slice, or
    a non-merged union."""
    from pyspark.sql import functions as F

    from storm_bench_spark.operators.sketches import (
        hll_estimate_wide,
        hll_registers_wide,
    )

    # A = 0..499, B = 300..799 → |A∩B| = 200, |A∪B| = 800
    rows = [Row(k="a", v=str(i)) for i in range(500)] + [
        Row(k="b", v=str(i)) for i in range(300, 800)
    ]
    df = spark.createDataFrame(rows)
    regs = hll_registers_wide(df, ["k"], "v")
    est = {
        r["k"]: r["approx_distinct"]
        for r in hll_estimate_wide(regs, ["k"]).collect()
    }
    m = 16
    union_regs = regs.groupBy().agg(
        *[F.max(f"_r{j}").alias(f"_r{j}") for j in range(m)]
    ).withColumn("k", F.lit("u"))
    eu = hll_estimate_wide(union_regs, ["k"]).collect()[0]["approx_distinct"]
    overlap = est["a"] + est["b"] - eu
    assert abs(overlap - 200) < 0.8 * 800, (overlap, est, eu)
