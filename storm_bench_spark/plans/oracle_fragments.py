"""DuckDB SQL fragment generators mirroring the engine's column functions.

Each generator emits SQL that performs the SAME floating-point operation
sequence as the matching Spark expression in ``functions/geo.py``, so
oracle comparison is exact up to libm ulp (masked by round-to-6dp in
query outputs).

Double literals use exponent notation (``6378.137e0``) — DuckDB types
bare decimal literals as DECIMAL, which would silently switch the whole
expression to decimal arithmetic.
"""

from __future__ import annotations

R = "6378.137e0"  # EARTH_RADIUS_KM
KNOT = "0.000514444e0"  # KNOT_TO_KM_PER_SEC


def sql_zone(lat: str, lng: str) -> str:
    """Mirror of functions.geo.zone_index."""
    letter = (
        f"CASE WHEN {lat} < -32 THEN chr(CAST(67 + floor(({lat} + 80) / 8) AS INTEGER)) "
        f"WHEN {lat} < 8 THEN chr(CAST(74 + floor(({lat} + 32) / 8) AS INTEGER)) "
        f"WHEN {lat} < 72 THEN chr(CAST(80 + floor(({lat} - 8) / 8) AS INTEGER)) "
        f"ELSE 'X' END"
    )
    band = f"CAST(CAST(floor(({lng} + 180) / 6) + 1 AS INTEGER) AS VARCHAR)"
    return (
        f"CASE WHEN {lat} IS NULL OR {lng} IS NULL THEN 'no_latlng' "
        f"WHEN NOT ({lat} >= -80 AND {lat} < 84 AND {lng} >= -180 AND {lng} < 180) THEN 'undefined' "
        f"ELSE concat({band}, {letter}) END"
    )
