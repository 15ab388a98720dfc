"""Similarity search over embedding columns (array<float>).

Engine extensions for training-data pipelines. Three execution shapes,
chosen by where the per-row work can run fastest:

- Small-reference scoring (brute-force top-k, IVF cell assignment):
  the reference set (query batch, centroid table) is collected to the
  driver and rides in an Arrow kernel's closure — the big vector table
  streams through ONE ArrowEvalPython pass with no join at all.
- LSH banding (the 100 TB near-dup path): band keys from the same
  Arrow kernel style; candidate generation is an equi-join on
  (band, key) — never a cross join — with both self-join sides reading
  one persisted per-vector key table (the kernel runs once per
  vector).
- Per-candidate verification: JVM column expressions. Norms are
  hoisted below the join so the join stage carries only the dim-term
  dot product (codegen-method-size discipline — see _dot_terms).

All vector math is double-precision with every sum accumulated in
dimension order (unrolled left-assoc expressions JVM-side, the
dimension-order helpers ``_dots``/``_row_dots``/``_norms`` in the NumPy
kernels), matching DuckDB's ``list_reduce`` fold bitwise, so cosines
agree exactly before the rounding that outputs carry.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve in module globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storm_bench_spark.functions.hashing import hash64_sql

# --- shared double-precision vector expressions --------------------------

def _dvec(col: str | Column) -> Column:
    # cast, not transform(x -> cast(x)): Cast is a codegen-supported
    # expression, while any higher-order function is CodegenFallback
    # and knocks its whole Project out of whole-stage codegen. Same
    # doubles (float->double widening is exact either way).
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# Fixed-dimension twins: an unrolled sum is a flat codegen'd expression
# (no per-row array allocation, no interpreted lambda steps), ~20× the
# throughput of the fold on 64-dim vectors. Bitwise-identical results:
# the fold's ``(0.0 + x1) + x2 + ...`` equals the unrolled left-assoc
# sum because 0.0 + x == x in IEEE for finite x, so the same DuckDB
# ``list_reduce`` oracle verifies both.
#
# Built as ONE SQL string parsed by a single ``F.expr`` call, not a
# Python loop of Column operators: every ``F.get``/``*``/``+`` is a
# py4j round-trip, and a dim-term tree costs thousands of them —
# measured ~2 s of pure plan-BUILD time per query at dim 64. The
# parsed tree is the same left-associated sum ("a + b + c" parses
# left-assoc), so results and oracles are unchanged. Arguments are
# SQL column references (optionally alias-qualified, e.g. "l.v").

def _dot_terms(a: str, b: str, dim: int) -> str:
    return " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(dim))


def _norm_fixed(a: str, dim: int) -> Column:
    return F.expr(f"SQRT({_dot_terms(a, a, dim)})")


# Norm hoisting: every pairwise scorer precomputes per-vector norms in
# a projection BELOW the join, so the join stage's codegen carries only
# the dim-term dot product — a full inline cosine (3·dim terms) blows
# janino's 64KB method limit inside BNLJ consume and the stage silently
# runs interpreted. The hoisted norm is the same left-assoc double sum
# as the per-pair spelling, so dot/(n1*n2) stays bitwise-equal to the
# SQL oracle's per-pair cosine.

def _with_norm(df: DataFrame, vec: str, out: str, dim: int | None) -> DataFrame:
    n = _norm_fixed(vec, dim) if dim else _norm(F.col(vec))
    return df.withColumn(out, n)


def _pair_cos(a: str, b: str, na: str, nb: str, dim: int | None) -> Column:
    """Cosine of two vectors given precomputed norms.

    Zero-norm guard (ADVICE r11): under ANSI mode a zero norm product
    raised DIVIDE_BY_ZERO, so the composed IVF operator crashed on an
    input class the fused path tolerates. ``nullif`` makes a zero norm
    product yield NULL — which is what the fused path REALLY produces
    for such rows (its Arrow kernel computes 0/0 = NaN, and the
    pandas→Arrow hand-off converts float NaN to null), so NULL
    cosines sort LAST under the desc rankings and a zero-norm vector
    drops out of any top-k with enough real candidates. The two
    certified-equivalent spellings now agree on this input class, and
    every non-zero-norm row is bit-identical (the division itself is
    untouched)."""
    if dim:
        return F.expr(
            f"({_dot_terms(a, b, dim)}) / nullif(({na} * {nb}), 0e0)"
        )
    return _dot(F.col(a), F.col(b)) / F.nullif(
        F.col(na) * F.col(nb), F.lit(0.0)
    )


DOT_SQL = (
    "list_reduce(list_prepend(0e0, list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i])), (s, v) -> s + v)"
)
NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0e0, list_transform({a}, x -> x * x)), "
    "(s, v) -> s + v))"
)


def cosine_sql(a: str, b: str) -> str:
    dot = DOT_SQL.format(a=a, b=b)
    return f"({dot}) / ({NORM_SQL.format(a=a)} * {NORM_SQL.format(a=b)})"


# --- reference-set NumPy scorer ------------------------------------------
# For a SMALL reference set (the query batch, the centroid table), the
# scalable spelling is: collect the references to the driver (k·dim
# doubles — bytes), close over them in an Arrow-batched kernel, and
# score every data vector against all references in one pass. No join
# at all — the "broadcast" is the UDF closure, the per-vector cost is
# a k×dim matrix product in NumPy.
#
# Why not JVM column expressions: an unrolled dim-term dot compiles
# under janino's 64KB source limit, but past ~dim 16 the generated
# processNext() exceeds HotSpot's DontCompileHugeMethods threshold
# (8KB *bytecode*), C2 never JITs it, and the stage runs in the
# bytecode interpreter at ~15µs/row — with no error logged anywhere.
# (Third silent-slowness mechanism after janino-fail and HOF fallback.)


# --- dimension-order NumPy helpers -----------------------------------------
# Every NumPy kernel in the engine decodes its vectors with ``_matrix``
# and sums with the three helpers below; nothing else spells a dot or a
# norm. THE SUMMATION RULE: each dot and each sum of squares is
# accumulated one dimension at a time, ``acc += a[:, i] * b[:, i]`` for
# i = 0, 1, ..., dim-1, vectorized across rows (and references) but
# never across dimensions. That is the left-associated double sum
# ``((0 + a0·b0) + a1·b1) + ...`` which the unrolled JVM expressions
# (``_dot_terms``) and DuckDB's ``list_reduce`` fold (``DOT_SQL``,
# ``NORM_SQL``) also compute — ``0.0 + x == x`` for finite x — so a
# kernel's cosine is bitwise equal to the oracle's before rounding.
# NumPy's ``sum``/``@``/``einsum`` use pairwise or BLAS blocking and
# differ in the last bits (pinned by tests/test_properties.py).
# Each accumulator keeps its own add sequence, so computing a dot and a
# norm in two calls instead of one interleaved loop moves no bit.


def _matrix(s: pd.Series) -> np.ndarray:
    """float64 rows × dim matrix of an Arrow batch's vector column."""
    return np.stack(s.to_numpy()).astype(np.float64)


def _dots(m: np.ndarray, ref: np.ndarray) -> np.ndarray:
    """rows × refs: every row of ``m`` dotted with every row of ``ref``."""
    acc = np.zeros((m.shape[0], ref.shape[0]))
    for i in range(m.shape[1]):
        acc += np.outer(m[:, i], ref[:, i])
    return acc


def _row_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """rows: each row of ``a`` dotted with the same row of ``b``."""
    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc += a[:, i] * b[:, i]
    return acc


def _norms(m: np.ndarray) -> np.ndarray:
    """rows: the L2 norm of each row (``NORM_SQL``)."""
    return np.sqrt(_row_dots(m, m))


def _cosines(m: np.ndarray, ref_m: np.ndarray, ref_n: np.ndarray) -> np.ndarray:
    """rows × refs cosines given the references' norms; a zero-norm
    row or reference gives NaN (0/0)."""
    return _dots(m, ref_m) / (_norms(m)[:, None] * ref_n[None, :])


def _collect_ref(df: DataFrame, id_col: str, vec_col: str):
    """(ids, matrix, norms) of a small reference table, sorted by id."""
    # sort driver-side: an orderBy would add an exchange + AQE stage to
    # what is otherwise a single-stage scan of a tiny table
    rows = sorted(df.select(id_col, vec_col).collect(), key=lambda r: r[0])
    ids = [int(r[0]) for r in rows]
    m = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, m, _norms(m)


def _ref_scores_udf(ref_m, ref_n):
    """array<double>: cosine of the input vector to every reference."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def scores(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_cosines(_matrix(vec), ref_m, ref_n)))

    return scores


def _pair_scores_udf(ref_m, ref_n):
    """double: exact cosine of the input vector to ONE closed-over
    reference, selected per row by reference position ``qi``.

    The paired twin of ``_ref_scores_udf`` for re-rank stages: a
    shortlist row already knows WHICH reference it belongs to, so
    scoring it against all k references (and discarding k-1 scores)
    — or, worse, shipping the reference vectors as a giant literal
    array the JVM projection indexes per row — wastes either Arrow
    bandwidth or Catalyst analysis time. The round-12 ``ann_rerank``
    spelling did the latter: a k×dim literal double matrix plus an
    unrolled dim-term ``_pair_cos`` cost ~0.6 s of per-run plan
    compile at k=10, dim=64 (and an 8.9 s first encounter while C2
    chewed the generated method). This kernel closes over the same
    matrix instead; the plan carries one ArrowEvalPython node.

    Sums follow the dimension-order helpers, and the denominator
    multiplies the two norms before the single division, so every
    finite cosine is bitwise equal to ``_pair_cos`` / the SQL oracle's
    unrolled chain. A zero-norm pair divides 0/0 = NaN, which the
    pandas→Arrow hand-off delivers JVM-side as NULL — the ``nullif``
    agreement point.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(qi: pd.Series, vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=np.float64)
        m = _matrix(vec)
        q = qi.to_numpy().astype(np.int64)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _row_dots(ref_m[q], m) / (ref_n[q] * _norms(m))
        return pd.Series(cos)

    return score


# --- brute-force top-k ---------------------------------------------------

def ann_topk_bruteforce(
    vectors: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors of each query vector (self excluded).

    The query batch rides in the scorer's closure (driver-collected —
    it is small by construction); every data vector is scored against
    all queries in one Arrow pass, so no join and no copy of the
    vector column ever crosses an exchange. Ranking shuffles only
    (qid, nid, cos) rows, keyed by qid.
    """
    from pyspark.sql.window import Window

    qids, qm, qn = _collect_ref(
        queries.select(F.col(id_col).alias("qid"), _dvec(vec_col).alias("qv")),
        "qid", "qv",
    )
    qid_arr = F.array(*[F.lit(q) for q in qids])
    v = vectors.select(F.col(id_col).alias("nid"), _dvec(vec_col).alias("nv"))
    scored = (
        v.select("nid", F.posexplode(_ref_scores_udf(qm, qn)("nv")).alias("qi", "c"))
        .select(
            F.element_at(qid_arr, F.col("qi") + 1).alias("qid"),
            "nid",
            F.round("c", 6).alias("cos"),
        )
        .where(F.col("qid") != F.col("nid"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("nid").alias("neighbor"), "cos", F.col("rank").cast("bigint").alias("rank"))
    )


# --- random-hyperplane LSH (banded OR-of-ANDs) ---------------------------
# B bands of R planes each: a pair is a candidate if ALL R sign bits
# agree in ANY band — the standard amplification that keeps recall
# useful at moderate cosine (single-bucket AND-only collapses to
# p^R recall).
#
# 8×8 sizing: R=8 gives 256 buckets per band, so random (unrelated)
# vectors collide with probability 2^-8 per band — the candidate set
# stays ~N·B·E[bucket]/2 instead of the O(N²/2^R) blowup a narrow key
# space produces (R=4 ⇒ 16 buckets ⇒ ~N²/32 candidate pairs at any
# scale: measured 460k candidates for 2k vectors). B=8 restores
# recall: P(candidate) = 1-(1-p^8)^8 where p = 1-acos(cos)/π, i.e.
# ≈0.93 at cos 0.9, ≈0.99 at cos 0.95 — the near-dup regime. Pairs
# near the low verification threshold are deliberately under-recalled;
# the brute-force twin remains the exact baseline.

N_BANDS = 8
ROWS_PER_BAND = 8

# Scale rule: buckets per band (2^R) must track corpus size or random
# collisions add an N²/2^(R+1) quadratic term per band — measured as a
# 15× wall ratio on a 10× corpus at R=8 with 500k vectors. Size
# R ≈ log2(N / target_bucket_occupancy) and raise B to keep recall
# (P(candidate) = 1 − (1 − p^R)^B). The 16×32 configuration
# (`SCALED_ROWS_PER_BAND`/`SCALED_N_BANDS`) holds recall ≈ 0.94 at
# cos 0.9 and ≈ 0.998 at cos 0.95 while cutting random collisions by
# 2^8 per band — the ≥100k-corpus default. The 8×8 default remains the
# oracle-checked configuration at fixture scale.

SCALED_ROWS_PER_BAND = 16
SCALED_N_BANDS = 32


# Integer row-count thresholds for the sizing rule below: rows R for a
# corpus of N vectors is the SMALLEST R in [8, 24] with N <= _R_LADDER[R]
# (equivalently R = round(log2 N), spelled in integers). The ladder is
# interpolated VERBATIM into the SQL oracle generator
# (:func:`lsh_config_sql_cases`), so the engine's Python and the
# oracle's CASE expression can never disagree at a boundary the way two
# independent float log2's could (an ulp apart exactly when log2 N sits
# next to x.5).
_R_MIN, _R_MAX = 8, 24
_R_LADDER: dict[int, int] = {r: round(2 ** (r + 0.5)) for r in range(_R_MIN, _R_MAX)}


def lsh_config_for(n_vectors: int, target_occupancy: int = 1, recall_bands: int = 32) -> tuple[int, int]:
    """(n_bands, rows_per_band) for a corpus of ``n_vectors``.

    rows R = round(log2(N / occupancy)), clamped to [8, 24] via the
    integer ladder above: keeps expected random bucket occupancy
    ~``target_occupancy`` so candidate counts stay ~N·B·occupancy/2
    (linear in N) instead of N²/2^(R+1). Bands: ``recall_bands`` once
    R > 8, doubled per 2 extra rows past 16 so near-dup recall holds
    (cos 0.9: p^R·amplification gives 0.94 at 16×32 and 0.997 at
    20×128 — each extra row halves per-band match probability and B
    must compensate). Measured: at 500 k vectors R=16 re-saturates
    (BASELINE.md 100× table) and this rule returns (128, 19) there.
    Since round 8 this IS the default path of ``neardup_lsh`` (pass
    ``n_bands/rows_per_band=None``), per VERDICT r7 next #5 — no
    longer a documented-but-manual knob.
    """
    n = max(n_vectors, 1)
    r = _R_MAX
    for cand_r in range(_R_MIN, _R_MAX):
        if n <= int(target_occupancy * _R_LADDER[cand_r]):
            r = cand_r
            break
    if r <= _R_MIN:
        return N_BANDS, r
    b = recall_bands << max(0, (r - 15) // 2)
    return b, r


# Default occupancy target for the AUTO path (neardup_lsh with
# n_bands/rows_per_band=None and its SQL twin): 1, i.e. the rule as
# documented. Measured head-to-head on a 200 k × 64-dim corpus (round
# 8, IDLE box, one session, clearCache between runs):
#   32×16 (old fixed):       79.9 s, 77 313 pairs   (occ 3.05 — saturated)
#   64×18 (occ 1 — THIS):    56.2 s, 67 524 pairs   <- fastest viable
#   32×18 (b not doubled):   30.4 s, 34 387 pairs   (recall collapse)
#   128×19 (occ 0.5):       154.4 s, 88 891 pairs   (recall buys 2.7× wall)
# The same four configs measured in a FIRST probe that overlapped a
# concurrent bench run reordered completely (128×19 "won" at 72.9 s) —
# the box_control.py idle-box warning exists because this almost
# shipped occupancy 0.5 on polluted data. 0.5 and 1 are exact binary
# fractions, so int(occ·threshold) stays deterministic either way.
AUTO_LSH_OCCUPANCY = 1


def lsh_config_sql_cases(cnt_expr: str, target_occupancy: float = 1, recall_bands: int = 32) -> tuple[str, str]:
    """(r_case, b_case) SQL CASE expressions over ``cnt_expr`` that
    replay :func:`lsh_config_for` exactly — generated from the same
    integer ladder (thresholds pre-multiplied by the occupancy target
    and floored to integers HERE, in Python), so any corpus count
    resolves to the same (B, R) on both sides by construction."""
    r_whens, b_whens = [], []
    for r in range(_R_MIN, _R_MAX):
        b = N_BANDS if r <= _R_MIN else recall_bands << max(0, (r - 15) // 2)
        t = int(target_occupancy * _R_LADDER[r])
        r_whens.append(f"WHEN {cnt_expr} <= {t} THEN {r}")
        b_whens.append(f"WHEN {cnt_expr} <= {t} THEN {b}")
    b_max = recall_bands << max(0, (_R_MAX - 15) // 2)
    r_case = "CASE " + " ".join(r_whens) + f" ELSE {_R_MAX} END"
    b_case = "CASE " + " ".join(b_whens) + f" ELSE {b_max} END"
    return r_case, b_case


def _weight_bit(plane: int, dim: int) -> int:
    """Deterministic ±1 hyperplane weight bit (parity of the portable
    hash of 'plane:dim') — shared by the Arrow kernel and the SQL
    oracle so both see identical planes."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return int(h[0], 16) & 1


def band_bucket_sql(vec: str, band: int, dim: int, rows_per_band: int = ROWS_PER_BAND) -> str:
    parts = []
    for r in range(rows_per_band):
        plane = band * rows_per_band + r
        terms = " + ".join(
            f"({vec}[{i + 1}] * {1 if _weight_bit(plane, i) else -1})" for i in range(dim)
        )
        parts.append(f"CASE WHEN ({terms}) >= 0 THEN {1 << r} ELSE 0 END")
    return f"CAST({' + '.join(parts)} AS BIGINT)"


@functools.lru_cache(maxsize=8)
def _plane_weights(n_planes: int, dim: int):
    # cached per process: the kernel calls this once per Arrow BATCH on
    # the executor; uncached that is n_planes·dim md5 hashes per batch
    # (4096 at 64 dims) of pure recomputation
    return np.array(
        [
            [1.0 if _weight_bit(p, i) else -1.0 for i in range(dim)]
            for p in range(n_planes)
        ]
    )


def _band_keys_udf(n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND):
    """Arrow-batched band-key kernel: all ``n_bands`` keys per vector.

    Why a Pandas UDF and not column expressions: the sign math is
    N_BANDS·ROWS_PER_BAND·dim multiply-adds per row (4096 at 64 dims,
    49k at 768). A flat unrolled expression exceeds janino's 64KB
    method limit past ~1k terms, and inside WholeStageCodegen
    ``splitExpressions`` can never split (consume() always passes
    local variables), so every plan containing the projection burns
    seconds in failed compilation *per task* and then runs the
    interpreted tree (~ms/row). A ``bind``/HOF spelling is interpreted
    too. NumPy over Arrow batches is the genuinely fast path — and the
    only one whose cost doesn't grow with codegen limits as dim grows.

    Plane dots follow the dimension-order helpers, so sign bits, and
    therefore bucket keys, match the oracle bitwise.
    """
    from pyspark.sql.functions import pandas_udf

    n_planes = n_bands * rows_per_band
    shifts = np.array([1 << r for r in range(rows_per_band)], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def band_keys(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        m = _matrix(vec)
        acc = _dots(m, _plane_weights(n_planes, m.shape[1]))
        bits = (acc >= 0).astype(np.int64)  # rows × planes
        keys = (
            bits.reshape(m.shape[0], n_bands, rows_per_band) * shifts
        ).sum(axis=2)
        return pd.Series(list(keys))

    return band_keys


def neardup_lsh(
    vectors: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int | None = N_BANDS,
    rows_per_band: int | None = ROWS_PER_BAND,
) -> DataFrame:
    """Near-duplicate vector pairs: same bucket in ANY band, then
    cosine-verified ≥ threshold. Candidates come from an equi-join on
    (band, key) — never a cross join.

    Pass ``n_bands=None, rows_per_band=None`` for AUTO sizing: one
    ``count()`` of the corpus feeds :func:`lsh_config_for` (round 8 —
    the band configuration is derived, not a manual knob; the SQL twin
    :func:`neardup_lsh_grouped_sql_auto` derives the identical config
    from the identical count). The count is one column-pruned pass —
    the same bounded-driver-action class as the k-means centroid
    collect.

    Shuffle discipline: the band self-join and the dedup run on (id,
    band, key) int rows only; the 8·dim-byte vectors are joined back
    onto the deduped pairs, so each vector crosses the wire once per
    *surviving candidate*, not once per band collision. Norms are
    computed once per vector before the pair join (same doubles as a
    per-pair norm, so the oracle's per-pair spelling still matches
    bitwise), leaving only the dot product as per-candidate work.
    """
    from pyspark import StorageLevel

    v = vectors.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v"))
    if n_bands is None or rows_per_band is None:
        n_bands, rows_per_band = lsh_config_for(
            v.count(), target_occupancy=AUTO_LSH_OCCUPANCY
        )
    # Persist the per-vector key arrays BEFORE the explode: the
    # repartition-for-ReuseExchange spelling evaluated the Arrow kernel
    # FOUR times — ``posexplode(udf(...))`` makes Catalyst emit a
    # ``Filter(size(udf) > 0)`` that re-runs the UDF ahead of the
    # Generate (2× per side), and AQE replaces the reused exchange
    # with a broadcast of one banded side, so each side derived the
    # pipeline independently. The (id, ks) cache is B·8 bytes/vector
    # (tiny next to the vectors); both self-join sides and the explode
    # read it, so the kernel runs exactly once per vector. At 100 TB
    # MEMORY_AND_DISK spills rather than recomputing.
    keyed = v.select(
        "id", _band_keys_udf(n_bands, rows_per_band)("v").alias("ks")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    banded = keyed.select("id", F.posexplode("ks").alias("band", "key")).select(
        "id", F.col("band").cast("int").alias("band"), "key"
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    # Verify stage (round 12): the exact-cosine check used to be the
    # dim-term unrolled dot in a projection FUSED into the two
    # vector-fetch joins' codegen method — which exceeds HotSpot's JIT
    # limit and runs in the bytecode interpreter (~18 µs/pair; 12.8 s
    # of this operator's 15.3 s at the R=10 tier — the same
    # DontCompileHugeMethods class semdedup's pair join hit). The
    # joins stay JVM-side (they move each vector to its candidate
    # pairs — LSH-bounded volume), but the dot now runs in ONE Arrow
    # mapInPandas kernel over the joined batches: ``_row_dots``
    # (bit-identical to the unrolled SQL dot) divided by the SAME
    # JVM-computed fixed norms, sparse emit at raw
    # cosine ≥ threshold − 1e-6, exact HALF_UP round-then-filter back
    # on the JVM (rounding moves a value ≤ 5e-7, so the margin cannot
    # drop a round-passing pair). Zero-norm rows produce NaN in the
    # kernel and fail the margin — the same drop as _pair_cos's
    # nullif. Measured: 15.3 s → see BASELINE.md round 12;
    # bit-identical at sf0.01/sf0.1, oracle unchanged.
    margin = threshold - 1e-6

    def score_pairs(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dot = _row_dots(_matrix(pdf["va"]), _matrix(pdf["vb"]))
            with np.errstate(divide="ignore", invalid="ignore"):
                c = dot / (pdf["na"].to_numpy() * pdf["nb"].to_numpy())
            keep = c >= margin  # NaN (zero-norm) fails, matching nullif
            if keep.any():
                yield pd.DataFrame({
                    "a": pdf["a"].to_numpy()[keep],
                    "b": pdf["b"].to_numpy()[keep],
                    "c": c[keep],
                })

    vn = v.select("id", "v", _norm_fixed("v", dim).alias("n"))
    va = vn.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = vn.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .mapInPandas(score_pairs, schema="a long, b long, c double")
        .select("a", "b", F.round("c", 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


# --- IVF (inverted-file) top-k -------------------------------------------
# The coarse-quantizer ANN: assign every vector to its nearest centroid
# (the "cell"), search only the query's n_probe nearest cells. Candidate
# generation is an equi-join on cell id — per query the scan touches
# ~n_probe·N/C vectors instead of N. Centroids here are a deterministic
# sample (vec_id < C) so the DuckDB oracle replays the identical
# algorithm; swap in k-means centroids for production recall.

IVF_CENTROIDS = 32

# semdedup cell-kernel Gram tile budget, in float64 ELEMENTS per tile
# (4M ≈ 32 MB). Module-level so tests can shrink it to force the
# multi-tile path on fixture-sized cells.
SEMDEDUP_TILE_ELEMS = int(4e6)
IVF_NPROBE = 4


def ivf_assign(
    v: DataFrame, centroids: DataFrame, dim: int | None = None, n_assign: int = 1
) -> DataFrame:
    """(id, v, cid): each vector keyed by its nearest centroid
    (max cosine, ties broken by centroid id). ``n_assign > 1`` emits
    one row per vector per nearest cell — multiple assignment, the
    standard IVF boundary-replication recall lever (storage and probe
    cost scale by the factor; candidates must be deduped downstream).

    One narrow pass: the centroid matrix rides in the scorer closure
    (driver-collected — C·dim doubles), each vector's C cosines come
    from one Arrow batch, and ``argmax`` picks the first maximum —
    centroids are sorted by cid, so first-max IS the min-cid
    tie-break. No cross join, no shuffle, nothing but the vector
    table streaming through one ArrowEvalPython node. The previous
    spellings (row_number window; groupBy max_by over a C-way cross
    join) shuffled or materialized C rows per vector and kept the
    dim-term dot in JVM codegen, where it exceeds HotSpot's
    huge-method JIT limit and runs in the bytecode interpreter."""
    from pyspark.sql.functions import pandas_udf

    cids, cm, cn = _collect_ref(centroids, "cid", "cv")
    cid_np = np.array(cids, dtype=np.int64)

    if n_assign == 1:
        @pandas_udf("bigint")
        def nearest(vec: pd.Series) -> pd.Series:
            if len(vec) == 0:
                return pd.Series([], dtype="int64")
            cos = _cosines(_matrix(vec), cm, cn)
            return pd.Series(cid_np[np.argmax(cos, axis=1)])

        return v.withColumn("cid", nearest("v"))

    @pandas_udf("array<bigint>")
    def nearest_cells(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        cos = _cosines(_matrix(vec), cm, cn)
        # stable top-r: argsort is ascending, kind='stable' keeps the
        # min-cid tie-break deterministic (argmax above takes the first
        # maximum; the two differ on NaN rows, so each keeps its own)
        top = np.argsort(-cos, axis=1, kind="stable")[:, :n_assign]
        return pd.Series(list(cid_np[top]))

    return v.select("id", "v", F.explode(nearest_cells("v")).alias("cid"))


# Fixed-point scale for k-means partial sums: a power of two, so the
# scaling multiply is EXACT on float32-origin doubles and the only
# quantization is the floor itself (~2^-21 per element — noise far
# below clustering resolution). Integer sums are associative and
# commutative, so the accumulated per-centroid sums are identical for
# ANY partition count and combine order — the property that makes the
# whole iteration SQL-replayable.
KMEANS_QUANT_SCALE = float(1 << 20)


def kmeans_centroids(
    v: DataFrame, n_centroids: int, n_iter: int = 2
) -> DataFrame:
    """Deterministic distributed Lloyd iterations (spherical k-means).

    ``v`` must yield (id, v:array<double>). Init is the same
    deterministic sample the oracle-checked IVF variant uses
    (id < C, sorted, L2-normalized); each iteration is ONE
    ``mapInPandas`` pass over the vector table that assigns every
    vector to its max-cosine centroid AND emits per-partition partial
    sums — ≤ C rows of (cid, sum, count) per partition, the
    map-side-combine shape — so no per-vector row ever shuffles.

    The partial sums are 2^20 fixed-point INTEGERS
    (``floor(x·2^20 + 0.5)``), not doubles: integer addition is exact
    and order-free, so the combined per-centroid sums are
    bit-identical for any partitioning and any combine order — which
    is what lets DuckDB replay the whole iteration as plain SQL
    (``ann_topk_ivf_kmeans_sql``). Means divide back out
    ``(Σq/2^20)/n``; the mean-norm is ``_norms``; empty cells keep
    their previous centroid; centroids are L2-normalized after each
    mean so assignment cosine ≡ dot with the running mean direction —
    standard spherical k-means.

    Cost per iteration: one scan + C·P tiny rows to the driver. The
    centroid matrix itself stays driver-side between iterations (it
    rides in kernel closures either way).

    Default n_iter=2: a couple of Lloyd rounds move centroids onto
    local density; on weakly-clustered data further rounds tighten
    cells and *cost* probe recall (measured on the fixtures) — the
    recall lever is boundary replication (``n_assign`` in
    :func:`ivf_assign`), not more iterations.
    """
    spark = v.sparkSession
    _, cm, cn = _collect_ref(
        v.where(F.col("id") < n_centroids).select(
            F.col("id").alias("cid"), F.col("v").alias("cv")
        ),
        "cid",
        "cv",
    )
    cm = cm / cn[:, None]
    n_c, dim = cm.shape

    for _ in range(n_iter):
        cm_bc = cm  # closure capture of the current centroid matrix

        def part_sums(batches):
            sums = np.zeros((n_c, dim), dtype=np.int64)
            cnts = np.zeros(n_c, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = _matrix(pdf["v"])
                cos = _dots(m, cm_bc) / _norms(m)[:, None]  # centroids already unit
                assign = np.argmax(cos, axis=1)
                q = np.floor(m * KMEANS_QUANT_SCALE + 0.5).astype(np.int64)
                np.add.at(sums, assign, q)
                np.add.at(cnts, assign, 1)
            yield pd.DataFrame(
                {"cid": range(n_c), "s": list(sums), "cnt": cnts}
            )

        parts = v.select("v").mapInPandas(
            part_sums, schema="cid long, s array<bigint>, cnt long"
        ).collect()
        sums = np.zeros((n_c, dim), dtype=np.int64)
        cnts = np.zeros(n_c, dtype=np.int64)
        for r in parts:  # integer partials: any combine order, same bits
            sums[r["cid"]] += np.array(r["s"], dtype=np.int64)
            cnts[r["cid"]] += r["cnt"]
        nonempty = cnts > 0
        means = (
            sums[nonempty].astype(np.float64) / KMEANS_QUANT_SCALE
        ) / cnts[nonempty, None]
        cm[nonempty] = means / np.maximum(_norms(means), 1e-300)[:, None]

    return spark.createDataFrame(
        [(int(i), [float(x) for x in cm[i]]) for i in range(n_c)],
        schema="cid long, cv array<double>",
    )


def ann_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int = IVF_NPROBE,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    centroids: str = "sample",
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF cell probing.

    Output shape matches ``ann_topk_bruteforce``; results are the exact
    top-k *within the probed cells* (deterministic, oracle-checkable),
    which is the standard IVF recall trade.

    ``centroids="sample"`` (default) is the deterministic id<C sample
    the DuckDB oracle replays, single assignment; ``centroids="kmeans"``
    runs :func:`kmeans_centroids` with 2-nearest-cell multiple
    assignment (boundary replication) for production-grade recall
    (≥ the sampled variant — asserted in pytest; not SQL-replayable,
    so the kmeans mode registers rows-only).

    Zero-norm rows (ADVICE r11): the scoring projection NULL-ranks a
    zero norm product (``_pair_cos``'s nullif guard — NULLs sort last
    under the desc rank window) instead of raising ANSI
    DIVIDE_BY_ZERO, so this composed spelling and the fused id-prefix
    specialization (:func:`ann_topk_ivf_fused`, whose Arrow kernel
    delivers the same rows as NULLs after the pandas→Arrow NaN
    conversion) agree on that input class (pinned in
    tests/test_scale_ops.py::test_ivf_fused_zero_norm_vector)."""
    from pyspark.sql.window import Window

    v = vectors.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v"))
    n_assign = 1
    if centroids == "kmeans":
        # persist for the Lloyd loop's 1 + n_iter full passes plus the
        # assignment pass (the semdedup_pairs r14 fix — without the
        # cache each pass re-reads the parquet and re-casts
        # float→double); sample mode reads v once and skips the cache
        from pyspark.storagelevel import StorageLevel

        v = v.persist(StorageLevel.MEMORY_AND_DISK)
        cent_df = kmeans_centroids(v, n_centroids)
        n_assign = 2
    elif centroids == "sample":
        cent_df = vectors.where(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"), _dvec(vec_col).alias("cv")
        )
    else:
        raise ValueError(f"unknown centroids mode {centroids!r}")
    assigned = _with_norm(ivf_assign(v, cent_df, dim, n_assign=n_assign), "v", "n", dim)

    q = _with_norm(
        queries.select(F.col(id_col).alias("qid"), _dvec(vec_col).alias("qv")),
        "qv", "qn", dim,
    )
    cq = F.broadcast(_with_norm(cent_df, "cv", "cn", dim))
    qs = q.crossJoin(cq).select(
        "qid", "qv", "qn", "cid",
        _pair_cos("qv", "cv", "qn", "cn", dim).alias("ccos"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("cid"))
    probes = (
        qs.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= n_probe)
        .select("qid", "qv", "qn", "cid")
    )

    # probes is tiny (queries × n_probe) — broadcast it so the big
    # assigned side never shuffles for candidate generation.
    cand = F.broadcast(probes).join(assigned, "cid").where(
        F.col("qid") != F.col("id")
    )
    scored = cand.select(
        "qid", F.col("id").alias("nid"),
        F.round(_pair_cos("qv", "v", "qn", "n", dim), 6).alias("cos"),
    )
    if n_assign > 1:
        # a (query, vector) pair can meet through several replicated
        # cells; dedupe the slim scored rows before ranking
        scored = scored.distinct()
    wk = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "qid", F.col("nid").alias("neighbor"), "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _ivf_fused_pass(
    vectors: DataFrame,
    n_queries: int,
    n_probe: int,
    n_centroids: int,
    id_col: str,
    vec_col: str,
):
    """The one corpus pass shared by :func:`ann_topk_ivf_fused` and
    :func:`ann_recall_fused`: ``(qids, probes, scored)``.

    Queries and centroids are both id-prefixes of the same table, so
    ONE reference collect is sliced driver-side (one job, not two).
    Probe selection runs on the driver matrices with the same
    dimension-order sums as the JVM/SQL spellings; the stable argsort on
    -cos orders (desc cos, asc cid). ``scored`` is one Arrow pass per
    corpus vector: ``s`` holds its cosines against ``[queries;
    centroids]`` and ``cid`` its cell (argmax over the centroid slice;
    first max = min cid, centroids sorted). ``probes`` holds each
    query's ``n_probe`` cells as ``(qid, qi, cid)``, ``qi`` being the
    query's position in the ``s`` slice.
    """
    spark = vectors.sparkSession
    v = vectors.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v"))
    pids, pmat, pnorm = _collect_ref(
        v.where(F.col("id") < max(n_queries, n_centroids)), "id", "v"
    )
    qsel = [i for i, p in enumerate(pids) if p < n_queries]
    csel = [i for i, p in enumerate(pids) if p < n_centroids]
    qids, qm, qn = [pids[i] for i in qsel], pmat[qsel], pnorm[qsel]
    cids, cm, cn = [pids[i] for i in csel], pmat[csel], pnorm[csel]
    nq = len(qids)
    ref_m = np.vstack([qm, cm])
    ref_n = np.concatenate([qn, cn])

    ccos = _dots(qm, cm) / (qn[:, None] * cn[None, :])
    probe_rows = [
        (int(qids[qi]), int(qi), int(cids[cpos]))
        for qi in range(nq)
        for cpos in np.argsort(-ccos[qi], kind="stable")[:n_probe]
    ]
    probes = spark.createDataFrame(probe_rows, "qid long, qi int, cid long")

    cid_arr = F.array(*[F.lit(int(c)) for c in cids])
    cslice = F.slice("s", nq + 1, len(cids))
    scored = v.select("id", _ref_scores_udf(ref_m, ref_n)("v").alias("s")).withColumn(
        "cid",
        F.element_at(
            cid_arr, F.array_position(cslice, F.array_max(cslice)).cast("int")
        ),
    )
    return qids, probes, scored


def _ivf_candidates(probes: DataFrame, scored: DataFrame, k: int) -> DataFrame:
    """Each query's top-``k`` probed-cell vectors, ranked by the cosine
    read from the query slice of ``scored.s`` (no re-scoring join):
    ``qid, nid, cos, rank``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        F.broadcast(probes)
        .join(scored, "cid")
        .where(F.col("qid") != F.col("id"))
        .select(
            "qid",
            F.col("id").alias("nid"),
            F.round(F.element_at("s", F.col("qi") + 1), 6).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ann_topk_ivf_fused(
    vectors: DataFrame,
    n_queries: int,
    k: int,
    n_probe: int = IVF_NPROBE,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ann_topk_ivf` (sampled-centroid mode) as ONE corpus pass —
    the id-prefix specialization the registered query uses: the
    candidate leg of :func:`ann_recall_fused`, over the same shared
    pass (:func:`_ivf_fused_pass`, round 10; the generic join-based
    operator remains for arbitrary query / centroid tables and the
    k-means mode).

    The composed spelling ran three driver-sync'd jobs (centroid
    collect, probe broadcast build, final) and scanned the vector
    table three times (centroids, queries, assignment). Here: one
    reference collect (queries ∪ centroids are id-prefixes of the same
    table), probe selection on the driver matrices (queries×centroids
    cosines are bytes), and one Arrow pass per corpus vector yielding
    its cell (argmax over the centroid slice; first-max = min-cid
    tie-break, centroids sorted) and its query cosines (element_at
    into the query slice — no re-scoring join). Bitwise-identical to
    the composed operator — same dimension-order sums — so the
    unchanged SQL oracle certifies the fusion.

    Zero-norm rows (ADVICE r10/r11): a zero-norm corpus vector's
    cosines are 0/0 = NaN in the Arrow kernel, and the pandas→Arrow
    hand-off converts float NaN to NULL — so its score array arrives
    JVM-side as all-NULLs (measured round 12; the r11 docstring's
    "NaN ranks first" claim was wrong — NaN never survives the Arrow
    boundary). NULL cosines sort LAST under the desc rank window, so
    a zero-norm vector drops out of any top-k with enough real
    candidates instead of erroring. Since round 12 the COMPOSED
    operator agrees: ``_pair_cos`` guards the norm product with
    ``nullif`` (NULL, ranks last) instead of raising ANSI
    DIVIDE_BY_ZERO, so the two certified-equivalent spellings return
    identical rows on this input class — pinned by
    tests/test_scale_ops.py::test_ivf_fused_zero_norm_vector.
    """
    _qids, probes, scored = _ivf_fused_pass(
        vectors, n_queries, n_probe, n_centroids, id_col, vec_col
    )
    return _ivf_candidates(probes, scored, k).select(
        "qid",
        F.col("nid").alias("neighbor"),
        "cos",
        F.col("rank").cast("bigint").alias("rank"),
    )


def ann_recall_fused(
    vectors: DataFrame,
    n_queries: int,
    k: int,
    n_probe: int = IVF_NPROBE,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the sampled-centroid IVF index against brute-force
    truth in ONE pass over the corpus.

    Run separately, the two legs cost three corpus-wide stages: the
    brute-force query scoring, the IVF cell assignment, and the
    probed-cell candidate re-scoring. But all three consume cosines of
    each data vector against a SMALL reference set (queries ∪
    centroids), so one Arrow pass scoring every vector against the
    concatenated ``[queries; centroids]`` matrix yields (a) the truth
    scores (query slice), (b) the cell id (argmax over the centroid
    slice — first max = min cid, centroids sorted), and (c) the
    candidate scores (``element_at`` into the query slice — no
    re-scoring join). Probe selection (query × centroid top-``n_probe``)
    moves driver-side onto the already-collected reference matrices:
    queries·centroids cosines are bytes, never cluster work.

    Bitwise-identical to composing :func:`ann_topk_bruteforce` +
    :func:`ann_topk_ivf`: every dot/norm uses the same dimension-order
    helpers, so scores, ranks, and the DuckDB oracle's replay all
    agree exactly — the gate certifies this.

    Shape at scale: one corpus scan (the persisted slim (id, scores,
    cid) table is (Q+C+2)·8 bytes per vector), two slim keyed rankings,
    one broadcast probe join. The separate-legs spelling scans the
    corpus three times.
    """
    from pyspark.sql.window import Window

    qids, probes, scored = _ivf_fused_pass(
        vectors, n_queries, n_probe, n_centroids, id_col, vec_col
    )
    scored.persist()  # the truth and candidate legs both read it

    qid_arr = F.array(*[F.lit(int(q)) for q in qids])
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    truth = (
        scored.select("id", F.posexplode(F.slice("s", 1, len(qids))).alias("qi", "c"))
        .select(
            F.element_at(qid_arr, F.col("qi") + 1).alias("qid"),
            F.col("id").alias("nid"),
            F.round("c", 6).alias("cos"),
        )
        .where(F.col("qid") != F.col("nid"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid")
    )
    cand = _ivf_candidates(probes, scored, k).select("qid", "nid")
    hits = (
        cand.join(truth, ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("nh"))
    )
    return (
        truth.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            (F.coalesce(F.col("nh"), F.lit(0)).cast("double") / k).alias("recall"),
        )
    )


def ann_topk_ivf_sql(
    v_cte: str, n_queries: int, k: int,
    n_probe: int = IVF_NPROBE, n_centroids: int = IVF_CENTROIDS,
) -> str:
    """DuckDB replay of ``ann_topk_ivf``; ``v_cte`` must yield (id, v)."""
    return f"""
WITH v AS ({v_cte}),
c AS (SELECT id AS cid, v AS cv FROM v WHERE id < {n_centroids}),
assigned AS (
  SELECT id, v, cid FROM (
    SELECT v.id, v.v, c.cid,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY {cosine_sql('v.v', 'c.cv')} DESC, c.cid
           ) AS rn
    FROM v CROSS JOIN c
  ) WHERE rn = 1
),
q AS (SELECT id AS qid, v AS qv FROM v WHERE id < {n_queries}),
probes AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY {cosine_sql('q.qv', 'c.cv')} DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {n_probe}
)
SELECT qid, neighbor, cos, rank FROM (
  SELECT qid, a.id AS neighbor, round({cosine_sql('qv', 'a.v')}, 6) AS cos,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY round({cosine_sql('qv', 'a.v')}, 6) DESC, a.id
         ) AS rank
  FROM probes p JOIN assigned a USING (cid)
  WHERE p.qid <> a.id
) WHERE rank <= {k}
"""


def _dot_sql_builders(dim: int):
    """(dot, sumsq) unrolled-term SQL builders shared by the k-means
    replay oracles — 1-based-index left-assoc chains matching the
    kernel's sequential dimension-order sums."""

    def dot(a: str, b: str) -> str:
        return " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(1, dim + 1))

    def sumsq(a: str) -> str:
        return dot(a, a)

    return dot, sumsq


def _lloyd_ctes(
    v_cte: str, dim: int, n_centroids: int, n_iter: int
) -> tuple[list[str], str]:
    """The deterministic Lloyd loop as chained DuckDB CTEs.

    Returns (ctes, final_centroid_cte_name). The loop is replayable
    because every FP-order-sensitive step was made order-free or
    order-pinned (see ``kmeans_centroids``): per-centroid sums are
    exact integers (any order), every dot/norm is the left-assoc
    dimension-order sum (spelled here as unrolled 1-based-index term
    chains), the mean is ``(Σq/2^20)/n`` with the identical division
    order, and ties break by ascending cid (= numpy's first-max /
    stable argsort). Iterations unroll into chained CTEs; empty cells
    COALESCE to the previous centroid."""
    S = f"{int(KMEANS_QUANT_SCALE)}e0"
    dot, sumsq = _dot_sql_builders(dim)

    qsums = ", ".join(
        f"SUM(CAST(floor(v[{i}] * {S} + 5e-1) AS BIGINT)) AS s{i}"
        for i in range(1, dim + 1)
    )
    mean_list = ", ".join(
        f"(CAST(s{i} AS DOUBLE) / {S}) / CAST(cnt AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    ctes = [
        f"v AS ({v_cte})",
        # init: the deterministic id<C sample, L2-normalized
        f"""c0 AS (
  SELECT id AS cid, list_transform(v, x -> x / sqrt({sumsq('v')})) AS cv
  FROM v WHERE id < {n_centroids}
)""",
    ]
    for t in range(1, n_iter + 1):
        p = f"c{t - 1}"
        ctes.append(f"""a{t} AS (
  SELECT id, v, cid FROM (
    SELECT v.id, v.v, c.cid,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY ({dot('v.v', 'c.cv')}) / sqrt({sumsq('v.v')}) DESC, c.cid
           ) AS rn
    FROM v CROSS JOIN {p} c
  ) WHERE rn = 1
)""")
        ctes.append(f"s{t} AS (SELECT cid, count(*) AS cnt, {qsums} FROM a{t} GROUP BY cid)")
        ctes.append(f"m{t} AS (SELECT cid, [{mean_list}] AS mv FROM s{t})")
        ctes.append(f"""c{t} AS (
  SELECT p.cid,
         CASE WHEN m.cid IS NULL THEN p.cv
              ELSE list_transform(m.mv, x -> x / greatest(sqrt({sumsq('m.mv')}), 1e-300))
         END AS cv
  FROM {p} p LEFT JOIN m{t} m USING (cid)
)""")
    return ctes, f"c{n_iter}"


def ann_topk_ivf_kmeans_sql(
    v_cte: str,
    n_queries: int,
    k: int,
    dim: int,
    n_probe: int = IVF_NPROBE,
    n_centroids: int = IVF_CENTROIDS,
    n_iter: int = 2,
    n_assign: int = 2,
) -> str:
    """DuckDB replay of ``ann_topk_ivf(..., centroids='kmeans')`` —
    the Lloyd loop CTEs (see ``_lloyd_ctes`` for why it replays
    bitwise) plus the probe/rank stage."""
    dot, sumsq = _dot_sql_builders(dim)
    ctes, cf = _lloyd_ctes(v_cte, dim, n_centroids, n_iter)
    ctes.append(f"""assigned AS (
  SELECT id, v, cid FROM (
    SELECT v.id, v.v, c.cid,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY ({dot('v.v', 'c.cv')}) / (sqrt({sumsq('v.v')}) * sqrt({sumsq('c.cv')})) DESC, c.cid
           ) AS rn
    FROM v CROSS JOIN {cf} c
  ) WHERE rn <= {n_assign}
)""")
    ctes.append(f"q AS (SELECT id AS qid, v AS qv FROM v WHERE id < {n_queries})")
    ctes.append(f"""probes AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY ({dot('q.qv', 'c.cv')}) / (sqrt({sumsq('q.qv')}) * sqrt({sumsq('c.cv')})) DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN {cf} c
  ) WHERE rn <= {n_probe}
)""")
    ctes.append(f"""scored AS (
  SELECT DISTINCT qid, a.id AS nid,
         round(({dot('qv', 'a.v')}) / (sqrt({sumsq('qv')}) * sqrt({sumsq('a.v')})), 6) AS cos
  FROM probes p JOIN assigned a USING (cid)
  WHERE p.qid <> a.id
)""")
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT qid, nid AS neighbor, cos, rank FROM (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def semdedup_pairs(
    vectors: DataFrame,
    threshold: float,
    dim: int,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means-cluster
    the embeddings, then cosine-compare ONLY within each cluster —
    (a, b, cos) pairs with cos ≥ threshold and a < b.

    This is the SemDeDup decomposition (Abbas et al. 2023, public):
    clustering turns the O(N²) all-pairs comparison into Σ|cell|² —
    with N/C-sized cells, a C-fold reduction. Skewed cells degrade
    toward local quadratic cost; the lever is raising ``n_centroids``
    (cell count), the same knob as IVF.

    Round 12 respell (the tier's dominant row, profiled): the r≤11
    within-cell pairing was a cid-keyed SELF-JOIN whose projection
    carried the dim-term unrolled dot — Spark codegen'd it, but the
    fused join method exceeds HotSpot's JIT limit and the dot ran in
    the BYTECODE INTERPRETER at ~6 µs/pair (measured: 75.9 s for
    12.5M candidate pairs at the R=10 tier — the r10
    DontCompileHugeMethods class again, invisible to the plan-level
    codegen canary because the NODES are codegen'd). Now each cell is
    scored in ONE Arrow ``applyInPandas`` kernel: the cell's vectors
    arrive as one group (ONE cid-keyed exchange of the vector table —
    the join needed the same exchange, twice), the kernel forms the
    cell's full Gram matrix with ``_dots`` (bit-identical to the SQL's
    unrolled dot and to the old projection), takes the upper triangle
    over ids sorted
    ascending (the a < b pairing), and emits only pairs with raw
    cosine ≥ threshold − 1e-6; the exact filter — round(cos, 6) ≥
    threshold, HALF_UP like the old spelling and the oracle — runs
    JVM-side on that sparse output (rounding moves a value ≤ 5e-7, so
    the margin cannot drop a pair that would round-pass). A zero-norm
    vector's cosines are NaN in the kernel and fail the ≥ margin —
    same drop as the nullif spelling. Measured: the 75.9 s pair stage
    → ~1 s; bit-identical (exceptAll both ways = 0) at sf0.01 and
    sf0.1, oracle unchanged. Per-cell kernel memory (since r13, ADVICE
    r12): the Gram accumulation is SUB-BLOCKED over row tiles of
    ≤ ~32 MB, so a normal cell (k ≤ ~2000) computes exactly the
    pre-r13 one-tile Gram (~3.6 MB at the fixture's 671-row max cell)
    while a pathological mega-cell degrades to more tiles instead of
    an executor-OOM-sized dense k×k; the COMPUTE bound is still
    Σ|cell|² and the lever is still n_centroids.

    The k-means is the deterministic Lloyd loop of
    :func:`kmeans_centroids` and the single-nearest assignment of
    :func:`ivf_assign`, so the whole pipeline — clustering included —
    replays in DuckDB (:func:`semdedup_sql`). Dropping duplicates =
    keeping min(a) per connected pair group; composing with
    ``connected_components`` gives canonical keepers (the
    neardup_clusters pattern).
    """
    # Persist the projected double-cast vector table: the Lloyd loop
    # makes 1 + n_iter full passes over it (init sample + one
    # mapInPandas scan per iteration) and ivf_assign a further one —
    # without the cache each pass re-reads the parquet and re-casts
    # float→double (phase_profile: 1.3 s of semdedup's 2.0 s total was
    # these driver-coordinated build jobs at bench SF).
    from pyspark.storagelevel import StorageLevel

    v = vectors.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cent = kmeans_centroids(v, n_centroids)
    assigned = ivf_assign(v, cent, dim, n_assign=1)
    margin = threshold - 1e-6
    # snapshot driver-side so the closure ships the value (tests shrink
    # it to force the multi-tile path; workers re-import the module and
    # would otherwise see the unpatched constant)
    tile_elems = SEMDEDUP_TILE_ELEMS

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "a": pd.Series([], dtype="int64"),
            "b": pd.Series([], dtype="int64"),
            "c": pd.Series([], dtype="float64"),
        })
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        m = _matrix(pdf["v"])
        k = m.shape[0]
        norm = _norms(m)
        # Sub-blocked Gram accumulation (ADVICE r12): tile the outer-
        # product loop over ROW blocks so the peak tile is bs×k doubles
        # (≤ ~32 MB) instead of a dense k×k — a pathological 100k-row
        # mega-cell degrades to more tiles instead of an ~80 GB
        # single-task allocation that OOMs the executor. Cells up to
        # ~4M²-element Grams (k ≤ 2000 at 32 MB) stay one tile, the
        # pre-r13 fast path. Bit-identity: each Gram element acc[a,b]
        # accumulates m[a,i]*m[b,i] in the SAME i order regardless of
        # which tile holds row a, so tiling cannot move a double.
        bs = max(1, tile_elems // k)
        cols = np.arange(k)
        out = []
        for s in range(0, k, bs):
            e = min(s + bs, k)
            with np.errstate(divide="ignore", invalid="ignore"):
                cosb = _dots(m[s:e], m) / (norm[s:e, None] * norm[None, :])
            # upper triangle (a < b by SORTED position = id order) and
            # the margin filter; NaN (zero-norm) fails, matching nullif
            keep = (cols[None, :] > np.arange(s, e)[:, None]) & (
                cosb >= margin
            )
            ra, cb = np.nonzero(keep)
            if len(ra):
                out.append((ids[ra + s], ids[cb], cosb[ra, cb]))
        if not out:
            return empty
        return pd.DataFrame({
            "a": np.concatenate([o[0] for o in out]),
            "b": np.concatenate([o[1] for o in out]),
            "c": np.concatenate([o[2] for o in out]),
        })

    return (
        assigned.groupBy("cid")
        .applyInPandas(cell_pairs, schema="a long, b long, c double")
        .select("a", "b", F.round("c", 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def semdedup_sql(
    v_cte: str,
    dim: int,
    threshold: float,
    n_centroids: int = IVF_CENTROIDS,
    n_iter: int = 2,
) -> str:
    """DuckDB replay of :func:`semdedup_pairs`: the Lloyd CTEs plus a
    single-nearest assignment and the within-cell pair join."""
    dot, sumsq = _dot_sql_builders(dim)
    ctes, cf = _lloyd_ctes(v_cte, dim, n_centroids, n_iter)
    ctes.append(f"""assigned AS (
  SELECT id, v, cid FROM (
    SELECT v.id, v.v, c.cid,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY ({dot('v.v', 'c.cv')}) / (sqrt({sumsq('v.v')}) * sqrt({sumsq('c.cv')})) DESC, c.cid
           ) AS rn
    FROM v CROSS JOIN {cf} c
  ) WHERE rn = 1
)""")
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT a, b, cos FROM (
  SELECT l.id AS a, r.id AS b,
         round(({dot('l.v', 'r.v')}) / (sqrt({sumsq('l.v')}) * sqrt({sumsq('r.v')})), 6) AS cos
  FROM assigned l JOIN assigned r ON l.cid = r.cid AND l.id < r.id
) WHERE cos >= {threshold}
"""


def neardup_lsh_sql(v_cte: str, dim: int, threshold: float) -> str:
    """DuckDB twin of ``neardup_lsh`` (8×8 config); ``v_cte`` must
    yield (id, v). Unrolled per-band key expressions — cheap to parse
    at 8×8 (4k terms)."""
    band_selects = " UNION ALL ".join(
        f"SELECT id, v, {b} AS band, {band_bucket_sql('v', b, dim)} AS key FROM v"
        for b in range(N_BANDS)
    )
    return f"""
WITH v AS ({v_cte}),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
)
SELECT a, b, cos FROM (
  SELECT c.a, c.b, round({cosine_sql('va.v', 'vb.v')}, 6) AS cos
  FROM cand c JOIN v va ON va.id = c.a JOIN v vb ON vb.id = c.b
) WHERE cos >= {threshold}
"""


def neardup_lsh_grouped_sql(
    v_cte: str,
    dim: int,
    threshold: float,
    n_bands: int,
    rows_per_band: int,
) -> str:
    """DuckDB twin of ``neardup_lsh`` for LARGE banding configurations.

    The unrolled per-band spelling costs O(bands·rows·dim) expression
    NODES — at 16×32 that is a ~33k-term tree DuckDB spends ~20 s just
    *planning* (and an ordered list_reduce fold re-spelling costs
    ~70 s of per-element lambda interpretation). This formulation
    moves the plane dimension into DATA and keeps the dim dimension as
    ONE unrolled 64-term expression: plane weights come from the same
    md5-parity rule as the Arrow kernel (``_weight_bit`` — DuckDB's
    ``md5()`` matches hashlib's), pivoted to a list per plane; each
    (vector, plane) row of the cross join evaluates the dot as the
    left-assoc dim-term sum (the kernel's accumulation order —
    ``0e0 + x == x`` in IEEE, so sign bits match bitwise); band keys
    are an integer SUM of per-plane bits (exact, order-free).
    Constant-size plan, vectorized execution, same keys, same pairs."""
    n_planes = n_bands * rows_per_band
    dot_terms = " + ".join(f"(v.v[{i + 1}] * wl.wl[{i + 1}])" for i in range(dim))
    return f"""
WITH v AS ({v_cte}),
w AS (
  SELECT p.p AS plane, d.i AS i,
         CASE WHEN (CAST(concat('0x', substring(md5(concat(CAST(p.p AS VARCHAR), ':', CAST(d.i AS VARCHAR))), 1, 1)) AS INTEGER) % 2) = 1
              THEN 1e0 ELSE -1e0 END AS wgt
  FROM (SELECT unnest(range(0, {n_planes})) AS p) p,
       (SELECT unnest(range(0, {dim})) AS i) d
),
wl AS (SELECT plane, list(wgt ORDER BY i) AS wl FROM w GROUP BY plane),
dots AS (
  SELECT v.id, wl.plane, {dot_terms} AS dot
  FROM v CROSS JOIN wl
),
banded AS (
  SELECT id, plane // {rows_per_band} AS band,
         CAST(SUM(CASE WHEN dot >= 0e0 THEN 1 << (plane % {rows_per_band}) ELSE 0 END) AS BIGINT) AS key
  FROM dots GROUP BY id, plane // {rows_per_band}
),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
)
SELECT a, b, cos FROM (
  SELECT c.a, c.b, round({cosine_sql('va.v', 'vb.v')}, 6) AS cos
  FROM cand c JOIN v va ON va.id = c.a JOIN v vb ON vb.id = c.b
) WHERE cos >= {threshold}
"""


def neardup_lsh_grouped_sql_auto(v_cte: str, dim: int, threshold: float) -> str:
    """AUTO-sized DuckDB twin of ``neardup_lsh(n_bands=None,
    rows_per_band=None)``: the band configuration is DERIVED inside the
    SQL from ``count(*)`` of the corpus CTE via the same integer
    threshold ladder the engine uses (:func:`lsh_config_sql_cases`), so
    oracle and engine resolve the same (B, R) for any corpus size —
    the determinism requirement of VERDICT r7 next #5. Structure
    follows :func:`neardup_lsh_grouped_sql` (planes as DATA, dims as
    one unrolled expression); only the plane count and the band
    arithmetic read from the ``cfg`` row instead of constants."""
    r_case, b_case = lsh_config_sql_cases("cnt", target_occupancy=AUTO_LSH_OCCUPANCY)
    dot_terms = " + ".join(f"(v.v[{i + 1}] * wl.wl[{i + 1}])" for i in range(dim))
    return f"""
WITH v AS ({v_cte}),
cfg AS (SELECT {r_case} AS r, {b_case} AS b
        FROM (SELECT count(*) AS cnt FROM v)),
w AS (
  SELECT p.p AS plane, d.i AS i,
         CASE WHEN (CAST(concat('0x', substring(md5(concat(CAST(p.p AS VARCHAR), ':', CAST(d.i AS VARCHAR))), 1, 1)) AS INTEGER) % 2) = 1
              THEN 1e0 ELSE -1e0 END AS wgt
  FROM (SELECT unnest(range(0, (SELECT b * r FROM cfg))) AS p) p,
       (SELECT unnest(range(0, {dim})) AS i) d
),
wl AS (SELECT plane, list(wgt ORDER BY i) AS wl FROM w GROUP BY plane),
dots AS (
  SELECT v.id, wl.plane, {dot_terms} AS dot
  FROM v CROSS JOIN wl
),
banded AS (
  SELECT id, plane // (SELECT r FROM cfg) AS band,
         CAST(SUM(CASE WHEN dot >= 0e0 THEN 1 << (plane % (SELECT r FROM cfg)) ELSE 0 END) AS BIGINT) AS key
  FROM dots GROUP BY id, plane // (SELECT r FROM cfg)
),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
)
SELECT a, b, cos FROM (
  SELECT c.a, c.b, round({cosine_sql('va.v', 'vb.v')}, 6) AS cos
  FROM cand c JOIN v va ON va.id = c.a JOIN v vb ON vb.id = c.b
) WHERE cos >= {threshold}
"""


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (Johnson-Lindenstrauss)
# ---------------------------------------------------------------------------

PROJECT_COMPONENTS = 16


def project_embeddings(
    df: DataFrame,
    n_components: int = PROJECT_COMPONENTS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto ``n_components`` deterministic ±1 random
    hyperplanes — the JL-style reduction an embedding pipeline runs
    before cheap downstream passes (coarse clustering, visualization,
    pre-filtering). The planes are the SAME md5-parity family the LSH
    banding uses (``_weight_bit``), so engine and oracle derive weights
    from one public rule; components are rounded to 6 dp like every
    cosine in this module.

    Output is LONG FORM — one ``(id, plane, dot)`` row per (vector,
    component) — all scalar columns, so every downstream comparator
    (including pandas-based canonicalizers that cannot hash array
    cells) can sort and hash the result. Wide-form consumers pivot
    with ``groupBy(id).pivot(plane)`` or collect_list ordered by
    plane; the information is identical.

    Arrow-batched kernel, not column expressions, for the same janino
    reason as ``_band_keys_udf`` (n_components·dim multiply-adds per
    row); each component is a ``_dots`` entry, the left-associated
    double sum the SQL twin unrolls — bitwise match before rounding.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def proj(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        m = _matrix(vec)
        return pd.Series(list(_dots(m, _plane_weights(n_components, m.shape[1]))))

    # rounding happens JVM-side (F.round == DuckDB round, the pairing
    # every cosine in this module relies on) — np.round is half-even
    # and a different scaling algorithm, i.e. a cross-engine hazard
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(proj(_dvec(vec_col))).alias("plane", "_dot"),
    ).select(
        "id",
        "plane",
        F.round(F.col("_dot"), 6).alias("dot"),
    )


def project_embeddings_sql(
    v_cte: str, dim: int, n_components: int = PROJECT_COMPONENTS
) -> str:
    """DuckDB twin of :func:`project_embeddings` — the plane-as-data
    spelling (constant plan size in n_components, one unrolled
    dim-term dot per (vector, plane) row), emitted in the same long
    ``(id, plane, dot)`` form as the engine (scalar columns only — the
    driver's pandas canonicalizer cannot hash array cells)."""
    dot_terms = " + ".join(f"(v.v[{i + 1}] * wl.wl[{i + 1}])" for i in range(dim))
    return f"""
WITH v AS ({v_cte}),
w AS (
  SELECT p.p AS plane, d.i AS i,
         CASE WHEN (CAST(concat('0x', substring(md5(concat(CAST(p.p AS VARCHAR), ':', CAST(d.i AS VARCHAR))), 1, 1)) AS INTEGER) % 2) = 1
              THEN 1e0 ELSE -1e0 END AS wgt
  FROM (SELECT unnest(range(0, {n_components})) AS p) p,
       (SELECT unnest(range(0, {dim})) AS i) d
),
wl AS (SELECT plane, list(wgt ORDER BY i) AS wl FROM w GROUP BY plane)
SELECT v.id, CAST(wl.plane AS INTEGER) AS plane, round({dot_terms}, 6) AS dot
FROM v CROSS JOIN wl
"""
