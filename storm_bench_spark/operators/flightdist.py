"""Aircraft pair-distance operator (the reference's only join).

Semantics from DistFilterBolt (RollingFlightDist.java:124-269):
given per-aircraft latest positions, for every canonical pair
(icao1 < icao2 — the reference swaps labels the same way at :246-250)
and every speculative step k ∈ [0, n), dead-reckon both aircraft from
their report positions to ``t_k = max(postime1, postime2) + k·Δt`` and
emit the pair when the great-circle distance ≤ threshold.

Spark-first decomposition (SURVEY.md §2.5):
- latest state     → ``latest_by`` (partial-aggregable max_by)
- allGrouping replication → ``broadcast()`` of the latest-state side
  (it is one row per live aircraft — always small relative to input)
- speculative steps → ``explode(sequence(0, n-1))``
- projection + distance → pure column arithmetic, whole-stage codegen

Performance: the naive formulation (dead-reckon to degrees, then
haversine over degrees) costs ~60 trig calls per pair-step once the
optimizer inlines the shared subtrees. This implementation instead:

1. precomputes sin/cos of lat, lng, track per *aircraft* (A rows, not
   A² pairs) below the join, so the pair-level math sees plain columns;
2. works on 3-D unit vectors: the destination latitude never leaves
   ``sin``-space (sin(asin(x)) = x), the bearing rotation uses
   ``sin/cos(Δλ) = a/√(a²+b²), b/√(a²+b²)`` with no atan2, and the
   final distance is the chord identity ``2R·asin(‖p1−p2‖/2)`` — which
   is algebraically the haversine (sin²(Δσ/2) = ‖p1−p2‖²/4).

Net: 5 trig calls per pair-step (sin/cos of the two angular travel
distances + one asin). ~10× faster than the textbook spelling at
identical results (1e-12 rel; outputs round to 6 dp).

Scale note: the pair space is O(A²) in live aircraft A, not in input
rows — input scales to 100 TB while A stays bounded (aircraft aloft).
The probe side is repartitioned across the cluster before the
broadcast join so the A²·steps arithmetic parallelizes; for very large
A, pre-bucket both sides by coarse ``zone_index`` and join on the
bucket to prune far-apart pairs (the reference does no pruning at all
beyond hash ownership).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storm_bench_spark.functions.geo import (
    EARTH_RADIUS_KM,
    KNOT_TO_KM_PER_SEC,
)
from storm_bench_spark.operators.windows import latest_by


def FLIGHT_ORDER_KEY():
    """Latest-report order key shared by the batch topology and the
    streaming twin (the DuckDB oracles spell the same order as a
    row_number over postime DESC, event_id DESC): lexicographic
    (postime, event_id), packed into one DECIMAL(38,0) via
    ``windows.packed_order`` — order-preserving at ANY bigint range
    (radix 10^19 > 2^63, unlike the ``postime·10^6 + event_id``
    bigint packing this repo rejects), unique per row (event_id is),
    and scalar so ``latest_by`` stays on the HashAggregate path
    (round 15; the struct key forced SortAggregate with a full sort
    on both sides of the exchange)."""
    from storm_bench_spark.operators.windows import packed_order

    return packed_order("postime", "event_id")


def _precompute_side(latest: DataFrame, suffix: str) -> DataFrame:
    """Per-aircraft trig, evaluated once below the join (A rows)."""
    rlat = F.radians("lat")
    rlng = F.radians("lng")
    rtrk = F.radians("trak")
    return latest.select(
        F.col("icao").alias(f"icao{suffix}"),
        F.col("postime").alias(f"pt{suffix}"),
        F.col("spd").alias(f"spd{suffix}"),
        F.sin(rlat).alias(f"sl{suffix}"),
        F.cos(rlat).alias(f"cl{suffix}"),
        F.sin(rtrk).alias(f"st{suffix}"),
        F.cos(rtrk).alias(f"ct{suffix}"),
        F.sin(rlng).alias(f"sg{suffix}"),
        F.cos(rlng).alias(f"cg{suffix}"),
    )


def _unit_vector_steps(df: DataFrame) -> DataFrame:
    """Append unit-vector components (px_i, py_i, pz_i) for both sides.

    Built as a CHAIN of named projections, not one composed Column
    tree: every intermediate (``rel``, ``x``, ``n``, ``sd``/``cd``) is
    referenced several times downstream, so a single expression tree
    duplicates each subtree at every use — ``dist`` ends up inlining
    ``rel`` hundreds of times, the Generate-consume method blows past
    janino's 64KB limit (splitExpressions cannot split: consume()
    passes local variables), and the whole stage silently runs
    interpreted. As chained aliases, CollapseProject keeps non-cheap
    multiply-referenced expressions in separate Projects, so each is
    evaluated once and every codegen method stays small. Same
    arithmetic, same doubles — the oracle still matches bitwise.
    """
    steps = [
        # angular travel distance of each side at probe time t
        {
            f"rel{i}": F.col(f"spd{i}")
            * KNOT_TO_KM_PER_SEC
            * (F.col("t") - F.col(f"pt{i}"))
            / 1000.0
            / EARTH_RADIUS_KM
            for i in "12"
        },
        {f"sr{i}": F.sin(f"rel{i}") for i in "12"}
        | {f"cr{i}": F.cos(f"rel{i}") for i in "12"},
        # sin(lat') and tan(Δλ) numerator
        {
            f"x{i}": F.col(f"sl{i}") * F.col(f"cr{i}")
            + F.col(f"cl{i}") * F.col(f"sr{i}") * F.col(f"ct{i}")
            for i in "12"
        }
        | {
            f"a{i}": F.col(f"st{i}") * F.col(f"sr{i}") * F.col(f"cl{i}")
            for i in "12"
        },
        # cos(lat') (lat' ∈ [-90°, 90°]) and tan(Δλ) denominator
        {f"clat2_{i}": F.sqrt(1.0 - F.col(f"x{i}") * F.col(f"x{i}")) for i in "12"}
        | {
            f"b{i}": F.col(f"cr{i}") - F.col(f"sl{i}") * F.col(f"x{i}")
            for i in "12"
        },
        {
            f"n{i}": F.sqrt(
                F.col(f"a{i}") * F.col(f"a{i}") + F.col(f"b{i}") * F.col(f"b{i}")
            )
            for i in "12"
        },
        # sin/cos(Δλ) without atan2
        {f"sd{i}": F.col(f"a{i}") / F.col(f"n{i}") for i in "12"}
        | {f"cd{i}": F.col(f"b{i}") / F.col(f"n{i}") for i in "12"},
        # sin/cos(lng') via angle-sum identities
        {
            f"slng2_{i}": F.col(f"sg{i}") * F.col(f"cd{i}")
            + F.col(f"cg{i}") * F.col(f"sd{i}")
            for i in "12"
        }
        | {
            f"clng2_{i}": F.col(f"cg{i}") * F.col(f"cd{i}")
            - F.col(f"sg{i}") * F.col(f"sd{i}")
            for i in "12"
        },
        {f"px{i}": F.col(f"clat2_{i}") * F.col(f"clng2_{i}") for i in "12"}
        | {f"py{i}": F.col(f"clat2_{i}") * F.col(f"slng2_{i}") for i in "12"},
    ]
    for cols in steps:
        df = df.withColumns(cols)
    return df  # pz_i is x{i} (sin(lat'))


def latest_positions(positions: DataFrame) -> DataFrame:
    """The flightMap state: newest report per aircraft
    (RollingFlightDist.java:213-219). A streaming caller keeps it in
    the state store and probes the snapshot with
    :func:`flight_dist_from_latest`."""
    return latest_by(
        positions,
        key_cols=["icao"],
        order_key=FLIGHT_ORDER_KEY(),
        payload_cols=["postime", "lat", "lng", "spd", "trak"],
    )


def flight_dist_pairs(
    positions: DataFrame,
    dist_threshold_km: float,
    speculative_comp_num: int = 3,
    speculative_comp_timestep_sec: int = 5,
    bucketed: bool = False,
) -> DataFrame:
    """Colliding-pair rows (dist_km, step, icao1, icao2) from raw position reports.

    ``positions`` needs columns (event_id, icao, postime, lat, lng, spd, trak);
    ``spd`` is in knots, ``postime`` epoch millis. ``bucketed=True``
    routes pair generation through the grid-pruned equi-join
    (:func:`flight_dist_from_latest_bucketed`) — identical results.
    """
    from pyspark.storagelevel import StorageLevel

    latest = latest_positions(positions).persist(StorageLevel.MEMORY_AND_DISK)
    # persisted: the snapshot (one row per aircraft — the smallest
    # cacheable unit in the family) is consumed by BOTH pair sides,
    # and the bucketed path's _grid_spec stats action besides; without
    # the cache the whole positions→parse→latest_by pipeline re-ran
    # per consumer (the broadcast build side re-derives its subtree —
    # the same pathology the LSH family's r14 persists closed).
    impl = flight_dist_from_latest_bucketed if bucketed else flight_dist_from_latest
    return impl(
        latest, dist_threshold_km, speculative_comp_num, speculative_comp_timestep_sec
    )


def flight_dist_from_latest(
    latest: DataFrame,
    dist_threshold_km: float,
    speculative_comp_num: int = 3,
    speculative_comp_timestep_sec: int = 5,
) -> DataFrame:
    """Pair math over an already-reduced latest-position snapshot —
    the probe step DistFilterBolt runs against its flightMap state
    (RollingFlightDist.java:220-260). Streaming callers maintain the
    snapshot with a streaming :func:`latest_positions` (state store) and
    run this per trigger; batch callers use ``flight_dist_pairs``."""
    # Spread the probe side across the cluster: the aggregated state is
    # tiny (A rows) and would otherwise land in one AQE-coalesced
    # partition, serializing the A²·steps arithmetic onto one core.
    parallelism = latest.sparkSession.sparkContext.defaultParallelism
    a = _precompute_side(latest, "1").repartition(parallelism)
    b = F.broadcast(_precompute_side(latest, "2"))
    pairs = a.join(b, F.col("icao1") < F.col("icao2"))
    return _pairs_to_hits(
        pairs, dist_threshold_km, speculative_comp_num, speculative_comp_timestep_sec
    )


def _pairs_to_hits(
    pairs: DataFrame,
    dist_threshold_km: float,
    speculative_comp_num: int,
    speculative_comp_timestep_sec: int,
) -> DataFrame:
    """Speculative steps + chord distance + threshold over candidate pairs."""
    step = F.explode(
        F.sequence(F.lit(0), F.lit(speculative_comp_num - 1))
    ).alias("step")
    stepped = pairs.select("*", step).withColumn(
        "t",
        F.greatest("pt1", "pt2")
        + F.col("step") * (speculative_comp_timestep_sec * 1000),
    )

    uv = _unit_vector_steps(stepped)
    dx = F.col("px1") - F.col("px2")
    dy = F.col("py1") - F.col("py2")
    dz = F.col("x1") - F.col("x2")
    half_chord_sq = (dx * dx + dy * dy + dz * dz) / 4.0
    dist = 2.0 * EARTH_RADIUS_KM * F.asin(F.least(F.sqrt(half_chord_sq), F.lit(1.0)))

    # dist_km goes through a Generate barrier: a plain alias would let
    # PushDownPredicates substitute the threshold filter below every
    # intermediate Project, re-inlining the whole expression tree into
    # one Filter condition (the exact blowup the chain above avoids).
    # Predicates on a generator's output cannot push through Generate.
    return uv.select(
        "icao1", "icao2", "step", F.explode(F.array(dist)).alias("dist_km")
    ).where(F.col("dist_km") <= dist_threshold_km)


_KM_PER_DEG = EARTH_RADIUS_KM * math.pi / 180.0


# Above this |lat| the longitude grid stops paying: cos(φ) shrinks the
# usable cell count toward the degenerate fallback anyway, and meridian
# convergence makes lon adjacency a poor proxy for proximity. The
# all-pairs join is the honest (and still exact) plan for such
# snapshots — great-circle math has no polar exemption
# (RollingFlightDist.java:157-187), so neither does the operator.
_POLAR_FALLBACK_DEG = 85.0


def _grid_spec(
    latest: DataFrame,
    dist_threshold_km: float,
    speculative_comp_num: int,
    speculative_comp_timestep_sec: int,
) -> tuple[int, int] | None:
    """Cell counts (n_lat, n_lon) for a provably lossless candidate grid.

    A pair can come within ``threshold`` during the probe horizon only
    if its *report* positions are within
    ``required = threshold + 2·max_travel`` km, where ``max_travel``
    bounds any aircraft's dead-reckoned displacement:
    ``max_spd · ((max_pt − min_pt) + (n−1)·Δt)`` (the probe time t_k is
    at most ``max_pt + (n−1)·Δt`` and every report is ≥ ``min_pt``).

    Latitude: great-circle distance dominates R·|Δφ| (the meridian is a
    great circle), so lat cells of ≥ required km are lossless.

    Longitude: for any pair with |lat| ≤ φmax, the central angle σ
    satisfies ``sin(σ/2) ≥ cos(φmax)·sin(Δλ/2)`` (cos σ =
    sinφ₁sinφ₂ + cosφ₁cosφ₂cosΔλ is maximized over the |φ|≤φmax box at
    φ₁=φ₂=±φmax, where it reduces to that identity). Hence a
    qualifying pair has ``Δλ ≤ Δλmax = 2·asin(s/cos φmax)`` with
    ``s = sin(required/2R)`` — the EXACT envelope. The linear spelling
    ``required/(R·cosφmax)`` under-sizes Δλmax (asin curvature) and
    breaks outright near the poles / at antipodal longitudes, so it is
    not used. Two regimes get no grid at all (return None → caller
    falls back to the exact all-pairs join):

    - ``φmax > _POLAR_FALLBACK_DEG``: near-polar snapshot;
    - ``s ≥ cos(φmax)``: the envelope reaches over the pole, every
      longitude qualifies.

    With cells sized ≥ Δλmax (lon, wrap-adjacent) and ≥ required km
    (lat), any qualifying pair lands in the same or an 8-adjacent cell
    — the equi-join on cells misses nothing.

    The one tiny driver-side action here is a 4-value aggregate (max
    |lat|, max spd, min/max postime) over the already-reduced snapshot.
    Returns None when the snapshot is empty. Stale snapshots (large
    postime spread) degrade to one cell — still exact, no pruning,
    which is the honest envelope.
    """
    stats = latest.agg(
        F.max(F.abs(F.col("lat"))).alias("mal"),
        F.max("spd").alias("ms"),
        F.max("postime").alias("maxpt"),
        F.min("postime").alias("minpt"),
    ).first()
    if stats is None or stats["mal"] is None:
        return None
    if stats["mal"] > _POLAR_FALLBACK_DEG:
        return None
    horizon_sec = (stats["maxpt"] - stats["minpt"]) / 1000.0 + (
        (speculative_comp_num - 1) * speculative_comp_timestep_sec
    )
    max_travel_km = (stats["ms"] or 0.0) * KNOT_TO_KM_PER_SEC * horizon_sec
    required_km = dist_threshold_km + 2.0 * max_travel_km
    n_lat = max(1, int(180.0 * _KM_PER_DEG // required_km))
    # sin clamps at π/2: required ≥ half the circumference ⇒ s = 1 ⇒
    # s ≥ cos(φmax) ⇒ fallback, which is right (nothing is prunable).
    s = math.sin(min(required_km / (2.0 * EARTH_RADIUS_KM), math.pi / 2.0))
    cos_cap = math.cos(math.radians(stats["mal"]))
    if s >= cos_cap:
        return None
    dlam_max = 2.0 * math.asin(s / cos_cap)
    n_lon = max(1, int((2.0 * math.pi) // dlam_max))
    return n_lat, n_lon


def flight_dist_from_latest_bucketed(
    latest: DataFrame,
    dist_threshold_km: float,
    speculative_comp_num: int = 3,
    speculative_comp_timestep_sec: int = 5,
) -> DataFrame:
    """Grid-pruned twin of :func:`flight_dist_from_latest` — identical
    output, candidate pairs generated by an equi-join on coarse grid
    cells instead of the all-pairs theta join.

    The reference probes ALL owned state per tuple with no spatial
    pruning (RollingFlightDist.java:220-260); at bounded aircraft
    counts the O(A²) broadcast join is fine, but for very large A this
    variant is the 100 TB insurance: build side emits one row per cell
    plus its distinct 8-neighbors (≤9×A rows, still broadcast-small),
    probe side joins on its own cell — a BroadcastHashJoin on the cell
    key, so the pair space shrinks to aircraft sharing a neighborhood.
    Longitude cells wrap (±180 adjacency); latitude cells clamp at the
    poles. Cell sizing (:func:`_grid_spec`) guarantees no qualifying
    pair is pruned, so results equal the unbucketed operator exactly.
    """
    spec = _grid_spec(
        latest, dist_threshold_km, speculative_comp_num, speculative_comp_timestep_sec
    )
    if spec is None or (spec[0] <= 3 and spec[1] <= 3):
        # degenerate grid (≤3 cells per axis ⇒ every cell neighbors every
        # other): the equi-join would be the all-pairs join with extra
        # steps — use the direct formulation.
        return flight_dist_from_latest(
            latest, dist_threshold_km, speculative_comp_num, speculative_comp_timestep_sec
        )
    n_lat, n_lon = spec
    lat_cell = F.least(
        F.lit(n_lat - 1),
        F.floor((F.col("lat") + 90.0) / F.lit(180.0 / n_lat)),
    ).cast("int")
    lon_cell = (
        F.floor((F.col("lng") + 180.0) / F.lit(360.0 / n_lon)).cast("int") % n_lon
    )
    cells = latest.withColumn("_clat", lat_cell).withColumn("_clon", lon_cell)

    parallelism = latest.sparkSession.sparkContext.defaultParallelism
    a = _precompute_with_cols(
        cells, "1", [F.col("_clat").alias("jlat"), F.col("_clon").alias("jlon")]
    ).repartition(parallelism)

    # Build side replicates each aircraft into its distinct ≤3×3 cell
    # neighborhood (lat clamps at the poles, lon wraps at ±180), so the
    # probe joins only on its OWN cell and each qualifying pair matches
    # exactly once — a's cell appears at most once in b's distinct
    # neighbor set.
    neigh_lat = F.array_distinct(
        F.array(
            *[
                F.greatest(F.lit(0), F.least(F.lit(n_lat - 1), F.col("_clat") + d))
                for d in (-1, 0, 1)
            ]
        )
    )
    neigh_lon = F.array_distinct(
        F.array(*[((F.col("_clon") + d) % n_lon + n_lon) % n_lon for d in (-1, 0, 1)])
    )
    b = _precompute_with_cols(
        cells.withColumn("jlat", F.explode(neigh_lat)).withColumn(
            "jlon", F.explode(neigh_lon)
        ),
        "2",
        [F.col("jlat"), F.col("jlon")],
    )
    b = F.broadcast(b)

    pairs = a.join(b, ["jlat", "jlon"]).where(F.col("icao1") < F.col("icao2")).drop(
        "jlat", "jlon"
    )
    return _pairs_to_hits(
        pairs, dist_threshold_km, speculative_comp_num, speculative_comp_timestep_sec
    )


def _precompute_with_cols(latest: DataFrame, suffix: str, extra) -> DataFrame:
    """_precompute_side plus extra projected columns (grid keys)."""
    rlat = F.radians("lat")
    rlng = F.radians("lng")
    rtrk = F.radians("trak")
    return latest.select(
        *extra,
        F.col("icao").alias(f"icao{suffix}"),
        F.col("postime").alias(f"pt{suffix}"),
        F.col("spd").alias(f"spd{suffix}"),
        F.sin(rlat).alias(f"sl{suffix}"),
        F.cos(rlat).alias(f"cl{suffix}"),
        F.sin(rtrk).alias(f"st{suffix}"),
        F.cos(rtrk).alias(f"ct{suffix}"),
        F.sin(rlng).alias(f"sg{suffix}"),
        F.cos(rlng).alias(f"cg{suffix}"),
    )
