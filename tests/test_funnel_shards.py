"""Differential test of the sharded funnel stage machine.

``stateful._update_funnel`` advances every user of one shard per call.
This test drives it and a per-user reference machine (the original
one-call-per-user body, kept here) over the same random multi-batch
feeds, and requires the same per-batch emissions, the same final
per-user state and, on an out-of-order feed, the same error.
"""

import pickle
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from storm_bench_spark.streaming.stateful import (
    _NULL_USER_SHARD,
    FUNNEL_SHARDS,
    _update_funnel,
)
from storm_bench_spark.streaming.streams import python_stateful_partitions

_SHARDS = 3  # few shards, so every shard holds many users


def _reference_update(key, pdfs, state):
    """The per-user machine: one call per user_id, a Python loop over
    the user's events in (sec, event_id) order."""
    if state.exists:
        v, c, p, max_sec, max_eid = state.get
    else:
        v, c, p, max_sec, max_eid = None, None, None, None, None
    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["sec", "event_id"])
    secs = rows["sec"].tolist()
    eids = rows["event_id"].tolist()
    if max_sec is not None and secs and (secs[0], eids[0]) < (max_sec, max_eid):
        raise RuntimeError(
            f"funnel_state: out-of-order micro-batch for key {key}: event "
            f"({secs[0]}, {eids[0]}) arrived after high-water mark "
            f"({max_sec}, {max_eid}). The stage machine requires "
            f"chronologically ordered batches (single-file source or an "
            f"event-time-ordered feed); results would silently diverge "
            f"from the batch funnel otherwise."
        )
    for sec, et in zip(secs, rows["event_type"].tolist()):
        if et == "view" and v is None:
            v = sec
        elif et == "click" and v is not None and c is None and sec >= v:
            c = sec
        elif et == "purchase" and c is not None and p is None and sec >= c:
            p = sec
    if secs:
        max_sec, max_eid = secs[-1], eids[-1]
    state.update((v, c, p, max_sec, max_eid))
    yield pd.DataFrame(
        {"user_id": [key[0]], "v": [v], "c": [c], "p": [p]}, dtype="object"
    )


def _group_state(value):
    """A GroupState as the Python worker builds it: the stored value
    comes back through pickle, as it does from the JVM."""
    return GroupState(
        optionalValue=None if value is None else pickle.loads(pickle.dumps(value)),
        batchProcessingTimeMs=0,
        eventTimeWatermarkMs=-1,
        timeoutConf=GroupStateTimeout.NoTimeout,
        hasTimedOut=False,
        watermarkPresent=False,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=-1,
        keyAsUnsafe=b"",
        valueSchema=None,
    )


def _shard_of(uid):
    return _NULL_USER_SHARD if uid is None else uid % _SHARDS


def _frame(rows, shard):
    """A group's rows as the Arrow-to-pandas step hands them over: an
    all-null user_id column arrives as float NaN."""
    pdf = pd.DataFrame(rows, columns=["user_id", "sec", "event_id", "event_type"])
    pdf.insert(0, "shard", shard)
    if shard == _NULL_USER_SHARD:
        pdf["user_id"] = np.nan
    return pdf.astype({"sec": "int64", "event_id": "int64"})


def _rows_of(frames):
    out = pd.concat(list(frames)).astype(object)
    rows = [
        tuple(None if pd.isna(x) else int(x) for x in r)
        for r in out[["user_id", "v", "c", "p"]].itertuples(index=False)
    ]
    return sorted(rows, key=lambda r: [(x is None, x or 0) for x in r])


def _run_sharded(batches, chunks):
    states, emitted = {}, []
    for batch in batches:
        out = []
        for shard in sorted({_shard_of(r[0]) for r in batch}):
            rows = [r for r in batch if _shard_of(r[0]) == shard]
            pdf = _frame(rows, shard)
            parts = np.array_split(np.arange(len(pdf)), min(chunks, len(pdf)))
            st_ = _group_state(states.get(shard))
            out.extend(_update_funnel((shard,), [pdf.iloc[i] for i in parts], st_))
            states[shard] = st_.get
        emitted.append(_rows_of(out))
    final = {}
    for shard, value in states.items():
        uids = value[0]
        if shard != _NULL_USER_SHARD:
            assert uids == sorted(set(uids)), "shard users must stay sorted"
        for i, uid in enumerate(uids):
            final[uid] = tuple(col[i] for col in value[1:])
    return emitted, final


def _run_reference(batches):
    states, emitted = {}, []
    for batch in batches:
        out = []
        users = {r[0] for r in batch}
        # the sharded machine names the first offending user in
        # (shard, user_id) order; visit users in that order too
        for uid in sorted(users, key=lambda u: (_shard_of(u), u or 0)):
            rows = [r for r in batch if r[0] == uid]
            pdf = pd.DataFrame(rows, columns=["user_id", "sec", "event_id", "event_type"])
            st_ = _group_state(states.get(uid))
            out.extend(_reference_update((uid,), [pdf.drop(columns="user_id")], st_))
            states[uid] = st_.get
        emitted.append(_rows_of(out))
    return emitted, {u: tuple(v) for u, v in states.items()}


def _outcome(run):
    try:
        return run()
    except RuntimeError as exc:
        return str(exc)


_STAGES = st.sampled_from(["view", "click", "purchase"])


@st.composite
def _feeds(draw):
    """Multi-batch feeds over a few shards: per user, events with many
    same-second ties; event ids unique and shuffled, so within a second
    the id order, not the draw order, decides; each user's events split
    into chronological batches (unless ``disorder`` picks the user),
    while different users' time ranges interleave freely; rows shuffled
    within a batch; sometimes one null user_id."""
    uids = draw(
        st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=12, unique=True)
    )
    if draw(st.booleans()):
        uids.append(None)
    n_batches = draw(st.integers(1, 4))
    disorder = {draw(st.sampled_from(uids))} if draw(st.integers(0, 4)) == 0 else set()
    events = []  # (uid, sec, event_type)
    for uid in uids:
        base = draw(st.integers(0, 30))
        n = draw(st.integers(1, 8))
        for _ in range(n):
            events.append((uid, base + draw(st.integers(0, 4)), draw(_STAGES)))
    eids = draw(st.permutations(range(1000, 1000 + len(events))))
    rows = [(u, s, e, t) for (u, s, t), e in zip(events, eids)]
    batches = [[] for _ in range(n_batches)]
    for uid in uids:
        mine = sorted((r for r in rows if r[0] == uid), key=lambda r: (r[1], r[2]))
        picks = [draw(st.integers(0, n_batches - 1)) for _ in mine]
        if uid not in disorder:
            picks.sort()
        for r, b in zip(mine, picks):
            batches[b].append(r)
    batches = [b for b in batches if b]
    return [draw(st.permutations(b)) for b in batches], draw(st.integers(1, 3))


@settings(max_examples=300, deadline=None)
@given(_feeds())
def test_sharded_funnel_matches_per_user_reference(feed):
    batches, chunks = feed
    got = _outcome(lambda: _run_sharded(batches, chunks))
    want = _outcome(lambda: _run_reference(batches))
    assert got == want


def test_same_second_ties_and_interleaved_shard_neighbours():
    """The two cases the feeds above must keep reaching: a same-second
    click ordered before its view by event_id (it does not count), and
    a user whose next batch is older than a shard neighbour's
    high-water mark but newer than its own (it does not raise)."""
    tie = [
        [(7, 10, 5, "view"), (7, 10, 4, "click")],
        [(7, 11, 8, "click"), (7, 11, 6, "purchase")],
    ]
    got, final = _run_sharded(tie, 1)
    assert got == [[(7, 10, None, None)], [(7, 10, 11, None)]]
    assert final == {7: (10, 11, None, 11, 8)}
    assert _run_reference(tie) == (got, final)

    # users 1 and 4 share shard 1; user 4's batch 2 is older than
    # user 1's high-water mark but newer than its own
    interleaved = [
        [(1, 50, 1, "view"), (4, 10, 2, "view")],
        [(4, 20, 3, "click"), (1, 60, 4, "click")],
    ]
    assert _shard_of(1) == _shard_of(4)
    got, final = _run_sharded(interleaved, 2)
    assert got == [[(1, 50, None, None), (4, 10, None, None)],
                   [(1, 50, 60, None), (4, 10, 20, None)]]
    assert final == {1: (50, 60, None, 60, 4), 4: (10, 20, None, 20, 3)}


def test_sharded_funnel_names_the_user_that_went_backwards():
    batches = [
        [(1, 50, 1, "view"), (4, 10, 2, "view")],
        [(4, 20, 3, "click"), (1, 40, 4, "click")],
    ]
    with pytest.raises(RuntimeError, match=r"for key \(1,\): event \(40, 4\)"):
        _run_sharded(batches, 1)


def test_python_stateful_width_is_capped_at_the_shards():
    def session(cores):
        return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))

    assert python_stateful_partitions(session(4)) == 4
    assert python_stateful_partitions(session(32)) == 32
    assert python_stateful_partitions(session(256)) == FUNNEL_SHARDS == 64
