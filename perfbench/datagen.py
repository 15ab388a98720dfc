"""Seeded input generation for the benchmark's workloads.

Every input is made from ``--seed`` alone: the same seed gives
byte-identical tables, another seed gives different ones. The tables
follow the engine's fixture layout (one ``<table>.parquet`` file per
table, the columns and types ``storm_bench_spark.sources.tables``
loads), so the engine only ever sees a directory path.

- ``catalog``: one base set at sf0.01 (60,000 lineitem rows).
- ``stream``: a pool of sf0.1 ``events`` in event-time order, which the
  load generator cuts into part-files at run time.

Generated sets are cached per (workload, seed) under the work directory
with a provenance marker written last; a set whose marker does not match
the generator's own source hash is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SF = 0.01
STREAM_SF = 0.1

EMB_DIM = 64
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

EVENTS_T0_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400 * 10**6
ORDERS_D0 = np.datetime64("1995-01-01")
ORDERS_DAYS = 2404  # through 2001-08-01
SHIP_D0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2499  # through 2001-11-04

MARKER = "_PROVENANCE.json"


def _rng(seed: int, table: str) -> np.random.Generator:
    # One independent stream per table: adding a table never shifts
    # another table's values for the same seed.
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(d0: np.datetime64, rng: np.random.Generator, span: int, n: int) -> pa.Array:
    days = d0 + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _events(seed: int, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    rng = _rng(seed, "events")
    # Distinct microsecond stamps, so (ts, event_id) order is total and
    # every windowed or latest-by result is tie-free.
    ts = np.unique(rng.integers(0, EVENTS_SPAN_US, n + n // 10))
    ts = np.sort(rng.choice(ts, n, replace=False)) + EVENTS_T0_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, int(15_000 * sf), n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(seed: int, sf: float) -> pa.Table:
    n = max(500, int(50_000 * sf))
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    # About 5% of documents are a near copy of an earlier one (" dup"
    # appended) and 0.2% an exact copy: the dedup and similarity queries
    # need both kinds to have work to do.
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(seed: int, sf: float) -> pa.Table:
    n = max(500, int(20_000 * sf))
    rng = _rng(seed, "embeddings")
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf``, from ``seed``."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    rc, rs, rp = _rng(seed, "customer"), _rng(seed, "supplier"), _rng(seed, "part")
    ro, rl = _rng(seed, "orders"), _rng(seed, "lineitem")
    part_names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rc.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rc, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rc.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rs, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(part_names[rp.integers(0, len(part_names), n_part)]),
                "p_brand": pa.array([f"Brand#{b}" for b in rp.integers(1, 26, n_part)]),
                "p_type": pa.array(np.array(PART_TYPES)[rp.integers(0, 6, n_part)]),
                "p_size": pa.array(rp.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(ro.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[ro.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(_money(ro, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _days(ORDERS_D0, ro, ORDERS_DAYS, n_ord),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[ro.integers(0, 5, n_ord)]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rl.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rl.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rl.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rl.integers(1, 8, n_li), pa.int32()),
                "l_quantity": pa.array(rl.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rl, 900.0, 105_000.0, n_li)),
                "l_discount": pa.array(rl.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rl.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rl.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rl.integers(0, 2, n_li)]),
                "l_shipdate": _days(SHIP_D0, rl, SHIP_DAYS, n_li),
            }
        ),
        "events": _events(seed, sf),
        "documents": _documents(seed, sf),
        "embeddings": _embeddings(seed, sf),
    }


def _generator_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _build(workload: str, seed: int) -> dict[str, pa.Table]:
    if workload == "catalog":
        return base_tables(seed, CATALOG_SF)
    if workload == "stream":
        return {"events": _events(seed, STREAM_SF)}
    raise ValueError(f"unknown workload {workload!r}")


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Directory holding ``workload``'s inputs for ``seed``, generated
    unless a matching provenance marker proves it is already there."""
    dst = os.path.join(root, f"{workload}-{seed}")
    want = {"workload": workload, "seed": seed, "generator": _generator_hash()}
    try:
        with open(os.path.join(dst, MARKER)) as f:
            if {k: v for k, v in json.load(f).items() if k in want} == want:
                return dst
    except (OSError, ValueError):
        pass
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    rows = {}
    for name, table in _build(workload, seed).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
        rows[name] = table.num_rows
    with open(os.path.join(dst, MARKER), "w") as f:
        json.dump({**want, "rows": rows}, f)
    return dst
