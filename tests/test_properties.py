"""Property-based tests (hypothesis) for the column-function library.

Each property evaluates one Spark job per generated example, so
example counts are kept small; the examples themselves are batched
into a single DataFrame where possible.
"""

import math
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from storm_bench_spark.functions.geo import zone_index
from storm_bench_spark.functions.text import word_split
from storm_bench_spark.operators.flightdist import flight_dist_pairs

# ---------------------------------------------------------------------------
# word_split == Python reference

_texts = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
    ),
    min_size=1,
    max_size=20,
)


def _py_word_split(s: str) -> list[str]:
    # Java's \s is strictly [ \t\n\x0B\f\r] (the reference's
    # String.split("\\s+") semantics, which Spark's JVM regex matches);
    # Python's \s additionally matches Unicode whitespace like \x1f.
    return [w for w in re.split(r"[ \t\n\x0B\f\r]+", s) if w != ""]


@settings(max_examples=8, deadline=None)
@given(_texts)
def test_word_split_matches_python(spark, texts):
    df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(texts)],
                               schema="i long, s string")
    got = {r.i: r.w for r in df.select("i", word_split("s").alias("w")).collect()}
    for i, s in enumerate(texts):
        assert got[i] == _py_word_split(s), repr(s)


# ---------------------------------------------------------------------------
# zone_index == Python reference of the Java band math
# (RollingGeoCount.java:64-76)


def _py_zone(lat, lng):
    if lat is None or lng is None:
        return "no_latlng"
    if not (-80 <= lat < 84 and -180 <= lng < 180):
        return "undefined"
    if lat < -32:
        letter = chr(ord("C") + int(math.floor((lat + 80) / 8)))
    elif lat < 8:
        letter = chr(ord("J") + int(math.floor((lat + 32) / 8)))
    elif lat < 72:
        letter = chr(ord("P") + int(math.floor((lat - 8) / 8)))
    else:
        letter = "X"
    return f"{int(math.floor((lng + 180) / 6)) + 1}{letter}"


_coords = st.lists(
    st.tuples(
        st.one_of(st.none(), st.floats(-90, 90, allow_nan=False)),
        st.one_of(st.none(), st.floats(-180, 180, allow_nan=False)),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(_coords)
def test_zone_index_matches_python(spark, coords):
    df = spark.createDataFrame(
        [Row(i=i, lat=a, lng=b) for i, (a, b) in enumerate(coords)],
        schema="i long, lat double, lng double",
    )
    got = {r.i: r.z for r in df.select("i", zone_index("lat", "lng").alias("z")).collect()}
    for i, (a, b) in enumerate(coords):
        assert got[i] == _py_zone(a, b), (a, b)


# ---------------------------------------------------------------------------
# chord-form pair distance == textbook dead-reckon + haversine
# (independent Python implementation of RollingFlightDist.java:157-187)

_R = 6378.137
_KNOT = 0.000514444


def _py_dead_reckon(lat, lng, brg, d):
    rl, rg, rb = map(math.radians, (lat, lng, brg))
    rel = d / _R
    lat2 = math.asin(
        math.sin(rl) * math.cos(rel) + math.cos(rl) * math.sin(rel) * math.cos(rb)
    )
    lng2 = rg + math.atan2(
        math.sin(rb) * math.sin(rel) * math.cos(rl),
        math.cos(rel) - math.sin(rl) * math.sin(lat2),
    )
    return math.degrees(lat2), math.degrees(lng2)


def _py_haversine(lat1, lng1, lat2, lng2):
    dlat = math.radians(lat2 - lat1)
    dlng = math.radians(lng2 - lng1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
        * math.sin(dlng / 2) ** 2
    )
    return _R * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


_aircraft = st.lists(
    st.tuples(
        st.floats(-75, 75, allow_nan=False),     # lat
        st.floats(-179, 179, allow_nan=False),   # lng
        st.floats(0, 600, allow_nan=False),      # spd knots
        st.floats(0, 359.9, allow_nan=False),    # trak deg
        st.integers(0, 60_000),                  # postime offset ms
    ),
    min_size=2,
    max_size=6,
    unique_by=lambda t: t[4],
)


@settings(max_examples=8, deadline=None)
@given(_aircraft)
def test_flight_dist_matches_textbook_formulas(spark, fleet):
    base = 1_700_000_000_000
    rows = [
        Row(
            event_id=i,
            icao=f"{i:06d}",
            postime=base + pt,
            lat=lat,
            lng=lng,
            spd=spd,
            trak=trak,
        )
        for i, (lat, lng, spd, trak, pt) in enumerate(fleet)
    ]
    df = spark.createDataFrame(
        rows,
        schema="event_id long, icao string, postime long, lat double, "
        "lng double, spd double, trak double",
    )
    got = {
        (r.icao1, r.icao2, r.step): r.dist_km
        for r in flight_dist_pairs(
            df, dist_threshold_km=1e9, speculative_comp_num=2
        ).collect()
    }
    by_icao = {r.icao: r for r in rows}
    for (i1, i2, step), dist in got.items():
        a, b = by_icao[i1], by_icao[i2]
        t = max(a.postime, b.postime) + step * 5000
        da = a.spd * _KNOT * (t - a.postime) / 1000.0
        db = b.spd * _KNOT * (t - b.postime) / 1000.0
        pa = _py_dead_reckon(a.lat, a.lng, a.trak, da)
        pb = _py_dead_reckon(b.lat, b.lng, b.trak, db)
        want = _py_haversine(*pa, *pb)
        assert math.isclose(dist, want, rel_tol=1e-9, abs_tol=1e-6), (
            (i1, i2, step), dist, want
        )
    # every canonical pair × step must be present at the huge threshold
    n = len(rows)
    assert len(got) == n * (n - 1) // 2 * 2


# ---------------------------------------------------------------------------
# jaccard verification == Python set arithmetic

_docs = st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(" ".join),
    min_size=2,
    max_size=6,
)


@settings(max_examples=6, deadline=None)
@given(_docs)
def test_verify_jaccard_matches_python_sets(spark, texts):
    from storm_bench_spark.operators.dedup import shingles, verify_jaccard

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )
    sh = shingles(df)
    n = len(texts)
    all_pairs = spark.createDataFrame(
        [Row(a=i, b=j) for i in range(n) for j in range(i + 1, n)],
        schema="a long, b long",
    )
    got = {
        (r.a, r.b): r.jaccard
        for r in verify_jaccard(all_pairs, sh, threshold=0.0).collect()
    }

    def sh_set(t):
        w = _py_word_split(t)
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()

    for i in range(n):
        for j in range(i + 1, n):
            sa, sb = sh_set(texts[i]), sh_set(texts[j])
            inter = len(sa & sb)
            if not sa or not sb or inter == 0:
                # docs under 3 words have no shingle rows; zero-overlap
                # pairs drop out of the intersection equi-join
                assert (i, j) not in got
            else:
                want = round(inter / len(sa | sb), 6)
                assert math.isclose(got[(i, j)], want, abs_tol=1e-9), (i, j)


# ---------------------------------------------------------------------------
# asof_join / interval_join == brute-force Python references

_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=100),    # sec
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(_events_strategy, _events_strategy)
def test_asof_join_matches_bruteforce(spark, left_rows, right_rows):
    from storm_bench_spark.operators.asof import asof_join

    # unique right rows per (key, sec) — the operator's precondition
    right = {}
    for i, (k, s) in enumerate(right_rows):
        right[(k, s)] = float(i)
    left = [(k, s, i) for i, (k, s) in enumerate(left_rows)]

    ldf = spark.createDataFrame(left, schema="k long, sec long, lid long")
    rdf = spark.createDataFrame(
        [(k, s, v) for (k, s), v in right.items()], schema="k long, sec long, v double"
    )
    out = {
        r["lid"]: (r["v_r"], r["sec_r"])
        for r in asof_join(ldf, rdf, ["k"], "sec", ["v"]).collect()
    }
    for k, s, lid in left:
        cands = [(rs, v) for (rk, rs), v in right.items() if rk == k and rs <= s]
        expect = (None, None)
        if cands:
            rs, v = max(cands)
            expect = (v, rs)
        assert out[lid] == expect, (lid, out[lid], expect)


@settings(max_examples=8, deadline=None)
@given(_events_strategy, _events_strategy)
def test_asof_join_nullable_values_whole_row(spark, left_rows, right_rows):
    """Whole-row as-of semantics under NULLs: every output column must
    come from THE matched right row — a NULL in one value column must
    never be backfilled from an older row (the per-column
    last(ignorenulls) bug class, VERDICT r3 #3)."""
    from storm_bench_spark.operators.asof import asof_join

    right = {}
    for i, (k, s) in enumerate(right_rows):
        # v is NULL on a deterministic third of rows; u never NULL, so
        # cross-row mixing (old v with new u) is detectable
        right[(k, s)] = (None if i % 3 == 0 else float(i), i)
    left = [(k, s, i) for i, (k, s) in enumerate(left_rows)]

    ldf = spark.createDataFrame(left, schema="k long, sec long, lid long")
    rdf = spark.createDataFrame(
        [(k, s, v, u) for (k, s), (v, u) in right.items()],
        schema="k long, sec long, v double, u long",
    )
    out = {
        r["lid"]: (r["v_r"], r["u_r"], r["sec_r"])
        for r in asof_join(ldf, rdf, ["k"], "sec", ["v", "u"]).collect()
    }
    for k, s, lid in left:
        cands = [(rs, vu) for (rk, rs), vu in right.items() if rk == k and rs <= s]
        expect = (None, None, None)
        if cands:
            rs, (v, u) = max(cands)
            expect = (v, u, rs)
        assert out[lid] == expect, (lid, out[lid], expect)


@settings(max_examples=8, deadline=None)
@given(_events_strategy, _events_strategy, st.integers(min_value=1, max_value=30))
def test_interval_join_matches_bruteforce(spark, a_rows, b_rows, delta):
    from storm_bench_spark.operators.asof import interval_join

    a = [(k, s, i) for i, (k, s) in enumerate(a_rows)]
    b = [(k, s, i) for i, (k, s) in enumerate(b_rows)]
    adf = spark.createDataFrame(a, schema="k long, a_sec long, a_id long")
    bdf = spark.createDataFrame(b, schema="k long, b_sec long, b_id long")
    out = {
        (r["a_id"], r["b_id"])
        for r in interval_join(adf, bdf, ["k"], "a_sec", "b_sec", delta).collect()
    }
    expect = {
        (ai, bi)
        for ak, asec, ai in a
        for bk, bsec, bi in b
        if ak == bk and abs(asec - bsec) <= delta
    }
    assert out == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    from storm_bench_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    # Python union-find reference
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, schema="a long, b long")
    out = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert out == expect


# ---------------------------------------------------------------------------
# hash64 == Python md5 reference == DuckDB rendering
# (the portable hash EVERYTHING rides on: dedup keys, split gates,
# sampling gates, minhash permutations)


def _py_hash64(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


_hash_strings = st.lists(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30),
    min_size=1,
    max_size=24,
    unique=True,
)


@settings(max_examples=8, deadline=None)
@given(_hash_strings)
def test_hash64_matches_python_and_duckdb(spark, duck, strings):
    from storm_bench_spark.functions.hashing import (
        MERSENNE_31,
        PERMS_64,
        hash64,
        hash64_sql,
        minhash_perm,
    )

    df = spark.createDataFrame([Row(s=s) for s in strings])
    got = {
        r["s"]: (r["h"], r["p0"], r["p7"])
        for r in df.select(
            "s",
            hash64("s").alias("h"),
            minhash_perm(hash64("s"), 0).alias("p0"),
            minhash_perm(hash64("s"), 7).alias("p7"),
        ).collect()
    }
    for s in strings:
        h = _py_hash64(s)
        a0, b0 = PERMS_64[0]
        a7, b7 = PERMS_64[7]
        assert got[s][0] == h, s
        assert got[s][1] == (h % MERSENNE_31 * a0 + b0) % MERSENNE_31
        assert got[s][2] == (h % MERSENNE_31 * a7 + b7) % MERSENNE_31
        assert 0 <= h < 1 << 60  # 15 hex chars: non-negative, bigint-safe
        # DuckDB renders the identical value from the identical SQL
        (dh,) = duck.execute(
            "SELECT " + hash64_sql("?"), [s]
        ).fetchone()
        assert dh == h, s


# ---------------------------------------------------------------------------
# Morton interleave (functions/zorder.py): Spark column == Python
# reference on random 16-bit pairs, and the curve is order-consistent
# with the bit-interleave definition (bijective on the masked domain).

_xy_pairs = st.lists(
    st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
    min_size=1,
    max_size=24,
)


@settings(max_examples=8, deadline=None)
@given(_xy_pairs)
def test_morton_spark_matches_python(spark, pairs):
    from storm_bench_spark.functions.zorder import morton32, morton32_py

    df = spark.createDataFrame(
        [Row(i=i, x=x, y=y) for i, (x, y) in enumerate(pairs)],
        schema="i long, x long, y long",
    )
    got = {
        r.i: r.z
        for r in df.select(
            "i", morton32(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    for i, (x, y) in enumerate(pairs):
        assert got[i] == morton32_py(x, y), (x, y)
        assert 0 <= got[i] < (1 << 32)


# ---------------------------------------------------------------------------
# Bitmap-block distinct (plans/layout_ops.py): popcount of bit_or'd
# 63-bit blocks == exact distinct count, on random multisets of ids
# chosen to straddle block boundaries.

_id_lists = st.lists(
    st.integers(0, 1000).flatmap(
        lambda base: st.integers(max(0, base * 63 - 2), base * 63 + 2)
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None)
@given(_id_lists, st.integers(1, 3))
def test_bitmap_distinct_matches_set(spark, ids, n_groups):
    from storm_bench_spark.plans.layout_ops import (
        _bitmap_blocks,
        _bitmap_popcount,
    )

    rows = [Row(g=i % n_groups, user_id=v) for i, v in enumerate(ids)]
    df = spark.createDataFrame(rows, schema="g long, user_id long")
    got = {
        r.g: r.n_users
        for r in _bitmap_popcount(_bitmap_blocks(df, ["g"], "user_id"), ["g"]).collect()
    }
    want: dict[int, set] = {}
    for i, v in enumerate(ids):
        want.setdefault(i % n_groups, set()).add(v)
    assert got == {g: len(s) for g, s in want.items()}


# ---------------------------------------------------------------------------
# BMP codec (round 13) == analytic model, pure Python — cheap examples

_bmp_payloads = st.binary(min_size=0, max_size=600)
_bmp_widths = st.integers(min_value=1, max_value=40)


@settings(max_examples=200, deadline=None)
@given(_bmp_payloads, _bmp_widths)
def test_bmp_codec_roundtrip_property(payload, width):
    """encode_bmp24 ∘ decode_bmp24 equals the analytic model for ANY
    payload/width: header fields from the construction parameters,
    mean over the zero-padded raster, first_pixel = payload[0] (the
    bottom-up flip recovered), file length exactly header + stride
    rows."""
    from storm_bench_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    bmp = encode_bmp24(payload, width)
    row = 3 * width
    h = max(1, len(payload) // row)
    stride = (row + 3) // 4 * 4
    raster = (payload + b"\x00" * row)[: row * h]
    assert len(bmp) == 54 + stride * h
    assert decode_bmp24(bmp) == (
        width, h, 24, stride, 54 + stride * h,
        payload[0] if payload else 0,
        sum(raster) / len(raster),
    )


# ---------------------------------------------------------------------------
# dup_span_extents (round 13) == pure-Python islands over random corpora

_span_corpora = st.lists(
    st.lists(
        st.sampled_from("abcde"), min_size=0, max_size=14
    ).map(" ".join),
    min_size=2,
    max_size=6,
)


@settings(max_examples=6, deadline=None)
@given(_span_corpora, st.integers(min_value=2, max_value=4))
def test_dup_span_extents_matches_python_islands(spark, corpus_texts, k):
    """The maximal-span emitter equals a pure-Python replay (window
    multiset -> duplicated starts -> greedy gap-k island merge) on
    random tiny-alphabet corpora, where duplicated windows are dense
    and island boundaries land everywhere."""
    from storm_bench_spark.plans.scrub_ops import dup_span_extents

    corpus = list(enumerate(corpus_texts))
    df = spark.createDataFrame(corpus, schema="doc_id long, text string")
    words = df.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda w: w != F.lit("")).alias("w"),
    )
    rows = dup_span_extents(words, k=k).collect()
    got = {
        (r["doc_id"], r["span_start"]): (r["span_tokens"], r["n_windows"])
        for r in rows
    }

    from collections import Counter

    toks = {d: t.split() for d, t in corpus}
    counts = Counter(
        " ".join(t[i : i + k])
        for t in toks.values()
        for i in range(len(t) - k + 1)
    )
    expect = {}
    for d, t in toks.items():
        spans = []
        for i in range(len(t) - k + 1):
            if counts[" ".join(t[i : i + k])] < 2:
                continue
            if spans and i - spans[-1][1] <= k:
                spans[-1] = (spans[-1][0], i, spans[-1][2] + 1)
            else:
                spans.append((i, i, 1))
        for s, e, nw in spans:
            expect[(d, s)] = (e - s + k, nw)
    assert got == expect


# ---------------------------------------------------------------------------
# packed_order: order-preserving, exact, never null, at any bigint hi

_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1
# the extremes ride along in every example, not only when drawn
_PACK_EXTREMES = [
    (_I64_MIN, 0), (_I64_MIN, _I64_MAX), (-1, _I64_MAX), (0, 0),
    (0, _I64_MAX), (_I64_MAX, 0), (_I64_MAX, _I64_MAX),
]
_pack_pairs = st.lists(
    st.tuples(
        st.one_of(
            st.sampled_from([_I64_MIN, _I64_MIN + 1, -1, 0, 1, _I64_MAX]),
            st.integers(_I64_MIN, _I64_MAX),
        ),
        st.integers(0, _I64_MAX),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(_pack_pairs)
def test_packed_order_sorts_like_the_pair(spark, pairs):
    from storm_bench_spark.operators.windows import packed_order

    pairs = pairs + _PACK_EXTREMES
    df = spark.createDataFrame(
        [Row(i=i, hi=h, lo=lo) for i, (h, lo) in enumerate(pairs)],
        schema="i long, hi long, lo long",
    ).select("i", "hi", "lo", packed_order("hi", "lo").alias("p"))
    rows = df.collect()
    for r in rows:
        # exact hi * 10^19 + lo: no null, no overflow, no rounding
        # (compared as Python ints: Decimal arithmetic rounds to 28 digits)
        assert r.p is not None and int(r.p) == r.hi * 10**19 + r.lo, (r.hi, r.lo, r.p)
    by_pair = [r.i for r in df.orderBy("hi", "lo", "i").collect()]
    by_packed = [r.i for r in df.orderBy("p", "i").collect()]
    assert by_pair == by_packed
