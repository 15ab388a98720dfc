"""Custom keyed-state operator: per-key running count.

This is WordCount.Count's actual semantics (WordCount.java:74-100): an
unwindowed HashMap of cumulative counts, updated per input and emitted
as it grows — state that never expires. Built-in streaming aggregation
gives the same *final* state; this operator exists to cover the
arbitrary-keyed-state capability (flightMap-style upserts —
RollingFlightDist.java:154,216-218) via ``applyInPandasWithState``:
Arrow-batched, partitioned by key, state store local to each task.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

OUTPUT_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("cnt", LongType())]
)
STATE_SCHEMA = StructType([StructField("cnt", LongType())])


def _update_running_count(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    current = state.get[0] if state.exists else 0
    added = sum(len(p) for p in pdfs)
    total = current + added
    state.update((total,))
    yield pd.DataFrame({"key": [key[0]], "cnt": [total]})


def running_count(keyed: DataFrame, key_col: str) -> DataFrame:
    """Cumulative count per key, emitted once per micro-batch.

    ``keyed`` must be a streaming DataFrame; emissions are per-batch
    (the documented per-tuple → per-trigger semantic mapping,
    SURVEY.md §4.3.1), so the cumulative count is monotone per key and
    the final value per key equals the batch groupBy count.
    """
    renamed = keyed.select(F.col(key_col).alias("key"))
    return renamed.groupBy("key").applyInPandasWithState(
        _update_running_count,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- sequential-pattern state machine: funnel stage tracking -------------

# Users hash onto FUNNEL_SHARDS state keys, one stage machine per shard
# per micro-batch. The shard is part of the checkpointed state key, so
# this is a constant: changing it orphans every existing checkpoint.
FUNNEL_SHARDS = 64
# A null user_id has no hash; it forms its own one-user shard.
_NULL_USER_SHARD = -1

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("v", LongType()),
        StructField("c", LongType()),
        StructField("p", LongType()),
    ]
)
# One row per shard: its users in ascending user_id order and, per
# user, the stage timestamps (null until matched) plus the high-water
# mark of processed (sec, event_id) — the machine's cross-batch
# ordering precondition, enforced, not assumed.
_FUNNEL_STATE_FIELDS = ("user_id", "v", "c", "p", "max_sec", "max_eid")
FUNNEL_STATE_SCHEMA = StructType(
    [StructField(name, ArrayType(LongType())) for name in _FUNNEL_STATE_FIELDS]
)


def _masked(values: list) -> tuple[np.ndarray, np.ndarray]:
    """A nullable long list as (int64 values, 0 where null; is-set mask)."""
    arr = np.array(values, dtype=object)
    is_set = ~np.equal(arr, None)
    return np.where(is_set, arr, 0).astype(np.int64), is_set


def _nullable(values: np.ndarray, is_set: np.ndarray) -> np.ndarray:
    """The inverse of ``_masked``: an object array with None where unset."""
    out = values.astype(object)
    out[~is_set] = None
    return out


def _first(cand: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Per segment (``starts`` = first row of each), the row index of the
    first True in ``cand``, or ``len(cand)`` when there is none."""
    n = len(cand)
    return np.minimum.reduceat(np.where(cand, np.arange(n), n), starts)


def _update_funnel(key, pdfs, state):
    """Advance the view→click→purchase machine of every user in one shard.

    Per user, a greedy single pass over the batch's events in
    (sec, event_id) order: first view, then the first click after
    that row with sec >= v, then the first purchase after the click's
    row with sec >= c — the greedy matches are the minima the batch
    funnel computes, so final state == batch answer. The pass runs for
    all the shard's users at once: rows sort by (user_id, sec,
    event_id), and each stage is one masked first-match per user
    segment. Cross-batch correctness needs each user's events to
    arrive in chronological batches (the same contract as
    streaming/cdc_stream.py); within a batch the sort handles arbitrary
    arrival order. The precondition is ENFORCED per user: state
    carries each user's high-water (sec, event_id) mark, and a batch
    holding an event earlier than its user's mark RAISES instead of
    silently diverging from the batch oracle (an out-of-order view
    after a click would never be matched — fail loudly, not wrongly).
    Emits one (user_id, v, c, p) row per user with events in the batch.
    """
    frames = list(pdfs)
    rows = frames[0] if len(frames) == 1 else pd.concat(frames)
    null_shard = key[0] == _NULL_USER_SHARD
    n = len(rows)
    # the null shard's one user runs under the stand-in id 0; its id is
    # stored and emitted as null (the is-set mask below)
    uid = np.zeros(n, np.int64) if null_shard else rows["user_id"].to_numpy(np.int64)
    sec = rows["sec"].to_numpy(np.int64)
    eid = rows["event_id"].to_numpy(np.int64)
    order = np.lexsort((eid, sec, uid))
    uid, sec, eid = uid[order], sec[order], eid[order]
    et = rows["event_type"].to_numpy()[order]
    new_user = np.empty(n, bool)
    new_user[0] = True
    np.not_equal(uid[1:], uid[:-1], out=new_user[1:])
    starts = np.flatnonzero(new_user)
    seg = np.cumsum(new_user) - 1
    users, m = uid[starts], len(starts)

    # the batch's users, each starting from its carried state (if any):
    # field -> (int64 values, is-set mask)
    cur = {f: (np.zeros(m, np.int64), np.zeros(m, bool)) for f in _FUNNEL_STATE_FIELDS}
    cur["user_id"] = (users, np.full(m, not null_shard))
    if state.exists:
        old = {f: _masked(v) for f, v in zip(_FUNNEL_STATE_FIELDS, state.get)}
        old_uid = old["user_id"][0]
        at = np.searchsorted(old_uid, users)
        found = at < len(old_uid)
        found[found] = old_uid[at[found]] == users[found]
        at = at[found]
        for f in _FUNNEL_STATE_FIELDS[1:]:
            cur[f][0][found], cur[f][1][found] = old[f][0][at], old[f][1][at]
        hw_sec, hw_eid = cur["max_sec"][0], cur["max_eid"][0]
        first_sec, first_eid = sec[starts], eid[starts]
        back = found & (
            (first_sec < hw_sec) | ((first_sec == hw_sec) & (first_eid < hw_eid))
        )
        if back.any():
            i = int(np.argmax(back))
            who = None if null_shard else int(users[i])
            raise RuntimeError(
                f"funnel_state: out-of-order micro-batch for key ({who},): event "
                f"({first_sec[i]}, {first_eid[i]}) arrived after high-water mark "
                f"({hw_sec[i]}, {hw_eid[i]}). The stage machine requires "
                f"chronologically ordered batches (single-file source or an "
                f"event-time-ordered feed); results would silently diverge "
                f"from the batch funnel otherwise."
            )

    # each stage: the first row of its type after the previous stage's
    # row (any row when that stage was matched in an earlier batch) and
    # not earlier in time than the previous stage's timestamp
    pos = np.arange(n)
    prev_set, prev_val, prev_row = np.ones(m, bool), np.zeros(m, np.int64), np.full(m, -1)
    for f, event_type in (("v", "view"), ("c", "click"), ("p", "purchase")):
        vals, is_set = cur[f]
        cand = (
            (et == event_type)
            & prev_set[seg]
            & (pos > prev_row[seg])
            & (sec >= prev_val[seg])
        )
        hit = _first(cand, starts)
        newly = ~is_set & (hit < n)
        vals[newly] = sec[hit[newly]]
        is_set |= newly
        prev_set, prev_val, prev_row = is_set, vals, np.where(newly, hit, -1)
    ends = np.append(starts[1:], n) - 1
    cur["max_sec"] = (sec[ends], np.ones(m, bool))
    cur["max_eid"] = (eid[ends], np.ones(m, bool))

    # the shard's next state: its users untouched by the batch, then the
    # batch's users, back in user_id order
    nxt = cur
    if state.exists:
        keep = np.ones(len(old_uid), bool)
        keep[at] = False
        nxt = {
            f: (np.append(old[f][0][keep], cur[f][0]), np.append(old[f][1][keep], cur[f][1]))
            for f in _FUNNEL_STATE_FIELDS
        }
    by_uid = np.argsort(nxt["user_id"][0], kind="stable")
    state.update(
        tuple(_nullable(v[by_uid], k[by_uid]).tolist() for v, k in nxt.values())
    )
    out = ("user_id", "v", "c", "p")
    yield pd.DataFrame(np.stack([_nullable(*cur[f]) for f in out], axis=1), columns=out)


def funnel_state(events: DataFrame) -> DataFrame:
    """Per-user funnel stage timestamps as arbitrary keyed state.

    ``events`` must be a streaming DataFrame with (user_id, sec,
    event_id, event_type). Emits the current (v, c, p) stage
    timestamps per user per batch — a sequential-pattern matcher that
    no built-in windowed aggregation expresses (stage k's predicate
    depends on stage k−1's MATCH TIME, not on a fixed window).

    The state key is a user shard, ``pmod(hash(user_id),
    FUNNEL_SHARDS)`` (null user_id: its own shard), not the user:
    PySpark's per-group wrapper (Arrow slice to pandas, state decode,
    one output frame) then runs once per shard per batch instead of
    once per user, and ``_update_funnel`` advances the shard's users
    together in numpy. The emitted rows are still per user.

    CONTRACT (since round 14): only users with ≥1 funnel event
    (view/click/purchase) emit rows. Users whose events are all other
    types never reach the state machine and produce NO output row —
    do not count users from this function's output. (Before round 14
    such users emitted an all-NULL (v, c, p) row; every consumer
    filters stages with isNotNull, so results were identical, but the
    per-user-row shape is now part of the contract.)
    """
    # The machine only reacts to the three funnel stages; dropping the
    # other event types BEFORE the keyed Python state stage is
    # result-identical (the per-event loop ignores them, and a user
    # with no funnel events contributes all-NULL stages that every
    # consumer already filters) and keeps 40% of the fixture's rows
    # out of the Arrow boundary, the per-key sort, and the high-water
    # bookkeeping. The filter also reaches the streaming scan as a
    # pushed predicate.
    sel = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        F.when(F.col("user_id").isNull(), F.lit(_NULL_USER_SHARD))
        .otherwise(F.pmod(F.hash("user_id"), F.lit(FUNNEL_SHARDS)))
        .alias("shard"),
        "user_id",
        "sec",
        "event_id",
        "event_type",
    )
    return sel.groupBy("shard").applyInPandasWithState(
        _update_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- bottom-k (KMV) sketch state ------------------------------------------

KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_kept", LongType()),
        StructField("kth_hash", LongType()),
    ]
)
KMV_STATE_SCHEMA = StructType([StructField("hs", ArrayType(LongType()))])


def _make_kmv_update(k: int):
    def _update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        held = list(state.get[0]) if state.exists else []
        seen = set(held)
        for p in pdfs:
            # a null h (e.g. hash64 of a null user_id) must never reach
            # int(); a batch whose rows for this key are all-null would
            # otherwise raise inside the state fn and kill the stream
            seen.update(int(v) for v in p["h"].dropna())
        merged = sorted(seen)[:k]
        state.update((merged,))
        if merged:
            yield pd.DataFrame(
                {"key": [key[0]], "n_kept": [len(merged)], "kth_hash": [merged[-1]]}
            )

    return _update


def bottomk_state(keyed: DataFrame, key_col: str, hash_col: str, k: int) -> DataFrame:
    """KMV sketch as arbitrary keyed state: per key, the K smallest
    distinct hash values seen so far (applyInPandasWithState, state =
    ONE bounded array row per key — the sketch's defining property;
    contrast ``streaming_dedup``'s one-row-per-distinct-key state).

    Bottom-K accumulation is a set-min fold — associative, commutative,
    idempotent — so the final state is independent of micro-batch
    boundaries and arrival order. Per-batch emissions are monotone in
    ``n_kept`` (the kept set only grows), but ``kth_hash`` is only
    non-increasing ONCE the sketch is full (n_kept == k); while
    unfilled, each new distinct hash raises it. The final sketch per
    key must therefore be read as the LATEST emission —
    ``max(struct(n_kept, -kth_hash))`` — never as field-wise
    ``(max(n_kept), min(kth_hash))``. Batches whose rows for a key are
    all-null update nothing and emit nothing.
    """
    renamed = keyed.select(F.col(key_col).alias("key"), F.col(hash_col).alias("h"))
    return renamed.groupBy("key").applyInPandasWithState(
        _make_kmv_update(k),
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- bounded top-n state (streaming A-ES weighted sample) -----------------
# State per shard = the n best (k, doc_id, wt) triples seen so far —
# a set-max fold (associative, commutative, idempotent), so the final
# state is independent of micro-batch boundaries and arrival order,
# exactly like the bottom-K sketch above but at the other end of the
# order. ``seq`` stamps each emission so the final snapshot is read as
# the LATEST emission per shard (emissions are not row-wise monotone:
# a better key can evict an earlier top-n member).

TOPN_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("doc_id", LongType()),
        StructField("wt", LongType()),
        StructField("k", LongType()),
    ]
)
TOPN_STATE_SCHEMA = StructType(
    [
        StructField("ks", ArrayType(LongType())),
        StructField("ids", ArrayType(LongType())),
        StructField("wts", ArrayType(LongType())),
        StructField("seq", LongType()),
    ]
)


def _make_topn_update(n: int):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            ks, ids, wts, seq = state.get
            held = list(zip(ks, ids, wts))
        else:
            held, seq = [], 0
        for p in pdfs:
            held.extend(
                (int(k), int(d), int(w))
                for k, d, w in zip(p["k"], p["doc_id"], p["wt"])
            )
        # top-n by (k desc, doc_id asc) — the batch query's exact order
        held.sort(key=lambda t: (-t[0], t[1]))
        held = held[:n]
        seq += 1
        state.update(
            ([t[0] for t in held], [t[1] for t in held], [t[2] for t in held], seq)
        )
        if held:
            yield pd.DataFrame(
                {
                    "shard": [key[0]] * len(held),
                    "seq": [seq] * len(held),
                    "doc_id": [t[1] for t in held],
                    "wt": [t[2] for t in held],
                    "k": [t[0] for t in held],
                }
            )

    return _update


def topn_state(keyed: DataFrame, n: int) -> DataFrame:
    """Bounded top-n keyed state: per ``shard``, the n largest
    (k, doc_id, wt) rows seen so far (applyInPandasWithState; state =
    ONE bounded row of three n-length arrays per shard). The sharding
    is the scale lever: P shards × n rows of state at ANY input
    volume, P-way parallel updates, and a P·n-row final merge — the
    streaming spelling of TakeOrderedAndProject."""
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_topn_update(n),
        outputStructType=TOPN_OUTPUT_SCHEMA,
        stateStructType=TOPN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
