"""Bench-harness contract: the driver records BENCH from bench.py's
stdout, so a HEADLINE entry that no longer resolves in the registry
(rename, removed query) would crash the whole per-round bench run.
Catch that at pytest time instead.
"""

from bench import HEADLINE
from storm_bench_spark.plans.registry import all_oracles, all_queries


def test_headline_names_resolve():
    missing = [n for n in HEADLINE if n not in all_queries()]
    assert not missing, f"bench.py HEADLINE references unknown queries: {missing}"


def test_headline_has_no_duplicates():
    dupes = {n for n in HEADLINE if HEADLINE.count(n) > 1}
    assert not dupes, f"bench.py HEADLINE lists queries twice: {dupes}"


def test_headline_queries_are_oracle_checked():
    # Every timed query must also be correctness-gated — a bench row
    # without an oracle would let a wrong-but-fast plan look like a win.
    missing = [n for n in HEADLINE if n not in all_oracles()]
    assert not missing, f"HEADLINE queries without oracles: {missing}"


def test_compact_summary_line_fits_driver_tail():
    """The driver parses bench.py's LAST stdout line from a 2 KB tail
    capture (BENCH_r04 was lost to an over-long line). The compact line
    is top-5-only so it does not grow with registry COUNT, but it does
    grow with query-NAME length: feed the real line builder the worst
    case the current registry could emit — the five longest names as
    the slowest rows, max-width values, every optional field switched
    on — and assert it clears the 2 KB tail with headroom. Adding a
    verbose field or switching back to the full dict fails here before
    it loses a round's BENCH."""
    import json

    from bench import _emit

    names = sorted(all_queries(), key=len, reverse=True)
    wide = {n: 99999.999 for n in names}
    rec = {
        "sf": 0.001,
        "runs": 3,
        "parallelism": 9999,
        "master": "local[9999]",
        "cpu_probe_spark_s": 99999.999,
        "probes": {"pair_start": 1.0, "pair_end": 10.999},
        "pair_id": "2026-01-01T00:00:00",
        "headline": {
            "queries": wide,
            "spreads": wide,
            "first_samples": wide,
            "stream_floor_sec": {n: 0.001 for n in names},
            "duck": {n: 0.007 for n in names},
            "duck_spreads": wide,
        },
        "annex": {"total": 99999.999},
        "scale_tier": {
            "matched_spark_total": 99999.999,
            "duck_total": 99999.999,
            "ratio_total": 99.999,
            "duck": {str(i): 1.0 for i in range(999)},
            "sf1_partial": True,
        },
        "deadline_skipped": ["annex", "sf1_tier"],
        "pending": ["sf1_tier"],
    }
    _, out = _emit(rec)
    assert list(out["queries"]) == names[:5]
    optional = {
        "ratio_vs_duck_processing", "probe_drift", "annex_total", "sf1_partial",
        "deadline_skipped", "retake_recommended",
    }
    assert optional <= set(out), f"worst case misses {optional - set(out)}"
    assert "; " in out["retake_recommended"]  # both retake reasons
    worst_line = json.dumps(out)
    assert len(worst_line.encode()) < 1536, (
        f"compact bench line could reach {len(worst_line)} B; the driver "
        f"tail-captures 2048 B — trim fields or name lengths"
    )


def test_duck_twin_subset_mode_guards(tmp_path, monkeypatch):
    """ADVICE r7 (low): DUCK_QUERIES subset mode must refuse to run
    without an existing full-run DUCK_DETAIL.json (a subset-only sum
    would masquerade as the full-run metric) and must refuse cross-SF
    merges; a legal merge keeps the full-run rows, replaces the
    re-measured ones, and records per-query run counts."""
    import json

    import pytest

    from scripts import duck_twin as DT

    detail = tmp_path / "DUCK_DETAIL.json"
    monkeypatch.setattr(DT, "DETAIL", str(detail))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    # fast subset so main() measures one real oracle, not 132
    monkeypatch.setenv("DUCK_QUERIES", "wordcount")
    with pytest.raises(SystemExit, match="full-run"):
        DT.main()  # no detail file yet -> refuse
    # a "full run" recorded at a DIFFERENT sf -> refuse
    detail.write_text(json.dumps(
        {"sf": 0.01, "runs": 2, "queries": {"wordcount": 0.5, "grep": 0.1}}
    ))
    with pytest.raises(SystemExit, match="refusing to merge"):
        DT.main()
    # legal merge: same sf — keeps grep, replaces wordcount, records
    # per-query run counts for both generations
    detail.write_text(json.dumps(
        {"sf": 0.001, "runs": 2, "queries": {"wordcount": 0.5, "grep": 0.1}}
    ))
    DT.main()
    merged = json.loads(detail.read_text())
    assert set(merged["queries"]) == {"wordcount", "grep"}
    assert merged["queries"]["grep"] == 0.1
    assert merged["queries"]["wordcount"] != 0.5  # re-measured
    assert merged["runs_by_query"] == {"grep": 2, "wordcount": 1}
    assert "pair_id" not in merged  # standalone subset breaks pairing


def test_scale_tier_env_selection_validated(monkeypatch):
    """ADVICE r11 (low): a typo in SPARK_GRAFT_SCALE_TIER_QUERIES must
    fail BEFORE the expensive R=10 replica build, not KeyError mid-tier.
    run_scale_tier validates the selection against the registry first —
    so with a bogus name it exits without ever touching spark (passing
    spark=None proves no Spark work preceded the check)."""
    import pytest

    from bench import run_scale_tier

    monkeypatch.setenv("SPARK_GRAFT_SCALE_TIER_QUERIES", "no_such_query")
    with pytest.raises(SystemExit, match="no_such_query"):
        run_scale_tier(None, {"wordcount": None}, {}, "/nonexistent")


def test_scale_tier_names_resolve():
    # same failure mode as HEADLINE: a renamed query in the sf1 tier
    # list would crash the bench's tier leg at driver time
    from bench import SF1_TIER, SF1_TIER_SPARK_ONLY

    qs, osql = all_queries(), all_oracles()
    missing = [n for n in SF1_TIER + sorted(SF1_TIER_SPARK_ONLY) if n not in qs]
    assert not missing, f"sf1 tier references unknown queries: {missing}"
    # ratio rows must have oracles (they carry the 2x adjudication);
    # spark-only rows are the documented quadratic-oracle set
    no_oracle = [n for n in SF1_TIER if n not in osql]
    assert not no_oracle, f"sf1 ratio rows without oracles: {no_oracle}"
    overlap = set(SF1_TIER) & set(SF1_TIER_SPARK_ONLY)
    assert not overlap, f"rows listed both ratio and spark-only: {overlap}"
    dupes = {n for n in SF1_TIER if SF1_TIER.count(n) > 1}
    assert not dupes, f"sf1 tier lists queries twice: {dupes}"


def test_scale_tier_warm_lap_protocol(spark, tmp_path, monkeypatch):
    """Every stage times its rows through bench.measure, and each row's
    per-leg execution count is the protocol's:
    - headline: 1 warm-lap run + `runs` timed runs on Spark, `runs` on
      DuckDB;
    - annex: min(2, `runs`) on each leg;
    - sf1 tier: SCALE_RUNS on each leg — a full warm lap first, whose
      run COUNTS as the row's first timed sample.
    Counted through delegating wrappers around the query functions and
    duck_twin.time_oracle, end to end on sf0.001-based data so the
    assertion covers the real loops, not a mock; the tier part also
    checks sample counts, warmed flags, the recorded protocol fields,
    and replica reuse via the marker."""
    from collections import Counter

    import bench as B
    from scripts import duck_twin as DT
    from scripts.scale_smoke import read_replica_marker

    base = "/root/testdata/sf0.001"
    oracles = all_oracles()
    spark_execs: Counter = Counter()
    duck_execs: Counter = Counter()

    def counted(name, fn):
        def run(sp, d):
            spark_execs[name] += 1
            return fn(sp, d)
        return run

    queries = {n: counted(n, fn) for n, fn in all_queries().items()}
    real_oracle = DT.time_oracle

    def oracle_counted(con, sql, runs):
        duck_execs[sql] += runs
        return real_oracle(con, sql, runs)

    monkeypatch.setattr(DT, "time_oracle", oracle_counted)

    # headline + annex, through the same functions main() calls
    runs = 3
    annex_row = "expand_words"
    assert annex_row not in B.HEADLINE
    con = DT.connect(base)
    try:
        B.warm_lap(spark, queries, base, ["wordcount"])
        h = B.run_headline(spark, queries, oracles, con, base, ["wordcount"], runs)
        a = B.run_annex(spark, queries, oracles, con, base, [annex_row], runs)
    finally:
        con.close()
    assert spark_execs["wordcount"] == 1 + runs
    assert duck_execs[oracles["wordcount"]] == runs
    assert set(h["queries"]) == set(h["duck"]) == {"wordcount"}
    assert h["first_samples"]["wordcount"] >= h["queries"]["wordcount"]
    assert spark_execs[annex_row] == 2 and duck_execs[oracles[annex_row]] == 2
    assert a["runs"] == 2 and set(a["ratio"]) == {annex_row}

    # sf1 tier
    spark_execs.clear()
    duck_execs.clear()
    dst = str(tmp_path / "tier_replica")
    monkeypatch.setenv("SPARK_GRAFT_SCALE_DIR", dst)
    monkeypatch.setenv("SPARK_GRAFT_SCALE_TIER_QUERIES", "wordcount")
    out = B.run_scale_tier(spark, queries, oracles, base)
    assert out["warm_run"] is True and out["runs"] == B.SCALE_RUNS == 2
    assert out["warmed"] == {"wordcount": True}
    # warm run = first timed sample: exactly SCALE_RUNS samples AND
    # exactly SCALE_RUNS executions per leg
    assert out["n_samples"] == {"wordcount": 2}
    assert out["duck_n_samples"] == {"wordcount": 2}
    assert spark_execs["wordcount"] == 2
    assert duck_execs[oracles["wordcount"]] == 2
    assert out["ratio"]["wordcount"] is not None
    assert out["sf1_partial"] is False
    assert out["deadline_dropped"] == [] and out["deadline_degraded"] == []
    marker = read_replica_marker(dst)
    assert marker == {"base": base, "r": out["r"]}

    # a second run reuses the replica without a rebuild
    out2 = B.run_scale_tier(spark, queries, oracles, base)
    assert out2["n_samples"] == {"wordcount": 2}
    assert out2["replicate_build_s"] < 1.0  # marker hit — no rebuild


def test_full_sweep_settle_guard_pieces(monkeypatch):
    """The settle guard's primitives: MemAvailable parses to a float
    (or inf without procfs), the JVM scan never lists this python
    process, and settle() returns promptly on an idle box instead of
    sleeping toward its timeout."""
    import time

    from scripts import full_sweep as FS

    avail = FS._mem_available_gib()
    assert avail > 0
    monkeypatch.setattr(FS, "_mem_available_gib", lambda: float("inf"))
    monkeypatch.setattr(FS, "_other_jvms", lambda: [])
    t0 = time.time()
    FS.settle(max_wait_s=30.0)
    assert time.time() - t0 < 2.0


def test_other_jvms_ppid_exclusion(tmp_path):
    """ADVICE r13: _other_jvms must exclude a java process whose
    PARENT is this process (our own child JVM — the old code compared
    java PIDs to os.getpid(), which is a python PID and never matched)
    while still counting a java process owned by someone else. Proven
    with a /bin/sleep copy named 'java' (comm follows the executable
    name): a direct child is excluded, a grandchild via an intermediate
    sh (foreign PPID) is counted."""
    import shutil
    import subprocess
    import time

    from scripts import full_sweep as FS

    fake = tmp_path / "java"
    shutil.copy("/bin/sleep", fake)
    fake.chmod(0o755)
    child = subprocess.Popen([str(fake), "30"])
    gsh = subprocess.Popen(["sh", "-c", f"'{fake}' 30; true"])
    try:
        time.sleep(0.5)  # let both exec
        jvms = FS._other_jvms()
        pids = [int(ln.split(None, 2)[0]) for ln in jvms]
        ppids = [int(ln.split(None, 2)[1]) for ln in jvms]
        assert child.pid not in pids, "own child JVM counted as foreign"
        assert gsh.pid in ppids, "foreign java (grandchild) not detected"
    finally:
        child.kill()
        gsh.kill()
        child.wait()
        gsh.wait()


# ---------------------------------------------------------------------------
# Round 14 (VERDICT r13 next #1/#2/#6/#7): the un-killable-bench contract
# ---------------------------------------------------------------------------


def test_alternating_halves_rotation_membership():
    """Rotation rows must (a) exist in SF1_TIER, (b) never include a
    watch row or a row touched in the last round, (c) sit in exactly
    one parity half, and (d) leave the adjudication rows intact on
    both parities."""
    from bench import (
        SF1_TIER,
        SF1_TIER_SKIP_ON_EVEN,
        SF1_TIER_SKIP_ON_ODD,
        _apply_rotation,
    )

    both = set(SF1_TIER_SKIP_ON_EVEN) | set(SF1_TIER_SKIP_ON_ODD)
    unknown = [n for n in both if n not in SF1_TIER]
    assert not unknown, f"rotation rows not in the tier: {unknown}"
    dup = set(SF1_TIER_SKIP_ON_EVEN) & set(SF1_TIER_SKIP_ON_ODD)
    assert not dup, f"rows in both parity halves: {dup}"
    # watch rows + rows with a standing VERDICT ask stay EVERY round
    must_stay = {
        "line_dedup", "chunk_dedup", "exact_dup_spans", "dup_ngram_spans",
        "boilerplate_ngram_ratio", "ann_rerank", "multimodal_bmp_meta",
        "semdedup",
    }
    overlap = must_stay & both
    assert not overlap, f"watch rows must not rotate out: {overlap}"
    kept_e, rotated_e = _apply_rotation(list(SF1_TIER), False, 14)
    assert set(rotated_e) == set(SF1_TIER_SKIP_ON_EVEN)
    assert must_stay <= set(kept_e)
    kept_o, rotated_o = _apply_rotation(list(SF1_TIER), False, 15)
    assert set(rotated_o) == set(SF1_TIER_SKIP_ON_ODD)
    assert must_stay <= set(kept_o)
    # every stable row runs on exactly one parity
    assert both <= set(kept_e) | set(kept_o)
    # r14-touched rows needing odd-round corroboration DO run on odd
    assert {"corpus_curate", "ann_topk_ivf_kmeans"} <= set(kept_o)
    # unknown round / explicit selection -> no skip
    assert _apply_rotation(list(SF1_TIER), False, None)[1] == []
    assert _apply_rotation(list(SF1_TIER), True, 14)[1] == []


def test_bench_knobs_are_the_documented_ones():
    """The SPARK_GRAFT_* names bench.py reads must be exactly the list
    README.md's "Bench knobs" section documents, so a knob cannot creep
    back undocumented (or linger in the docs after it is gone)."""
    import ast
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "bench.py")) as f:
        tree = ast.parse(f.read())
    # every knob name is a string literal of its own, whether it is
    # read in place or passed on (e.g. to _selection)
    read = {
        node.value for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and re.fullmatch(r"SPARK_GRAFT_\w+", node.value)
    }
    with open(os.path.join(repo, "README.md")) as f:
        readme = f.read()
    assert "### Bench knobs" in readme
    section = readme.split("### Bench knobs", 1)[1].split("\n#", 1)[0]
    documented = set(re.findall(r"`(SPARK_GRAFT_\w+)", section))
    assert read, "found no knob reads in bench.py — the pattern is stale"
    assert read == documented, (
        f"read but undocumented: {sorted(read - documented)}; "
        f"documented but not read: {sorted(documented - read)}"
    )


def test_engine_knobs_are_the_documented_ones():
    """The SPARK_GRAFT_* names the engine (storm_bench_spark/) reads
    must be exactly README.md's "Engine knobs" list."""
    import ast
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    read = set()
    for root, _dirs, files in os.walk(os.path.join(repo, "storm_bench_spark")):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    tree = ast.parse(f.read())
                read |= {
                    node.value for node in ast.walk(tree)
                    if isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and re.fullmatch(r"SPARK_GRAFT_\w+", node.value)
                }
    with open(os.path.join(repo, "README.md")) as f:
        readme = f.read()
    assert "### Engine knobs" in readme
    section = readme.split("### Engine knobs", 1)[1].split("\n#", 1)[0]
    documented = set(re.findall(r"`(SPARK_GRAFT_\w+)", section))
    assert read, "found no knob reads in storm_bench_spark/ — the pattern is stale"
    assert read == documented, (
        f"read but undocumented: {sorted(read - documented)}; "
        f"documented but not read: {sorted(documented - read)}"
    )


def test_infer_round_from_bench_artifacts():
    """_infer_round reads the committed BENCH_r{N}.json files — the
    same files the driver writes — so the rotation parity needs no
    extra env contract. In this tree it must be max(N)+1."""
    import glob
    import os
    import re

    from bench import _infer_round

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # mirror bench._infer_round's filter: the glob also catches
    # non-round artifacts like BENCH_r14_c8.json (the driver's low-core
    # leg), which must not crash the parse or drive the parity
    ms = [
        re.search(r"BENCH_r(\d+)\.json$", p)
        for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
    ]
    ns = [int(m.group(1)) for m in ms if m]
    assert ns, "no BENCH_r*.json in the repo — rotation would disable"
    assert _infer_round() == max(ns) + 1


def test_snapshot_line_fallback_parses():
    """The kill handler's output must parse even when the kill lands
    before the first emit (the minimal-marker branch)."""
    import json

    import bench as B

    old = B._LAST_SNAPSHOT
    try:
        B._LAST_SNAPSHOT = None
        d = json.loads(B._snapshot_line())
        assert d["killed_before_first_snapshot"] is True
        assert d["final"] is False
        B._LAST_SNAPSHOT = '{"metric": "x"}'
        assert B._snapshot_line() == '{"metric": "x"}'
    finally:
        B._LAST_SNAPSHOT = old


def test_tier_deadline_drops_rows(spark, tmp_path, monkeypatch):
    """With the wall budget already spent, the tier must refuse every
    row, record what it dropped, and still return a well-formed result
    (sf1_partial true) instead of crashing or running anyway."""
    from bench import run_scale_tier

    monkeypatch.setenv("SPARK_GRAFT_SCALE_DIR", str(tmp_path / "replica"))
    monkeypatch.setenv("SPARK_GRAFT_SCALE_TIER_QUERIES", "wordcount,grep")
    # BENCH_T0 is minutes old by the time pytest gets here, so any
    # tiny positive budget is already spent
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DEADLINE", "0.001")
    out = run_scale_tier(spark, all_queries(), all_oracles(), "/root/testdata/sf0.001")
    assert out["sf1_partial"] is True
    assert out["deadline_dropped"] == ["wordcount", "grep"]
    assert out["queries"] == {} and out["duck"] == {}
    assert out["ratio_total"] is None


def _wait_for(path, needle, proc, timeout_s):
    import time

    t0 = time.time()
    while time.time() - t0 < timeout_s:
        try:
            if needle in path.read_text(errors="ignore"):
                return True
        except OSError:
            pass
        if proc.poll() is not None:
            return False
        time.sleep(2)
    return False


def _settle_after_subprocess_jvm():
    """Wait for the subprocess bench's JVM to fully exit and its
    memory to be released before the NEXT test module's DuckDB work
    starts. Without this, the dying JVM's asynchronous multi-GB
    release races the oracle allocator — the r7/r12/r13 transient,
    which these subprocess tests otherwise trigger SYSTEMATICALLY
    (the first full-suite run of round 14 failed 11 test_correctness
    rows this way, all green isolated). full_sweep.settle's foreign-JVM
    scan is PPID-aware, so the pytest session's own resident JVM does
    not block it; the orphaned bench JVM (reparented away from us)
    does, until it exits."""
    from scripts.full_sweep import settle

    settle(max_wait_s=120.0, min_avail_gib=8.0)


def test_bench_deadline_and_kill_end_to_end(tmp_path):
    """The whole round-14 contract in one subprocess run: a bench whose
    deadline expires after the headline leg must (a) skip the annex and
    tier, (b) print a final=true line naming the skipped stages, and
    (c) when SIGTERMed afterward (the external wall-clock kill), re-print
    that snapshot as the true last stdout line via the kill handler —
    the exact failure that made BENCH_r13.json parse as null."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_HEADLINE_QUERIES="wordcount",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_DEADLINE="1",
        SPARK_GRAFT_TEST_HANG_S="240",
        SPARK_GRAFT_DETAIL_DIR=str(tmp_path),
        SPARK_GRAFT_SCALE_DIR=str(tmp_path / "replica"),
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM="3g",
    )
    out_path, err_path = tmp_path / "out.txt", tmp_path / "err.txt"
    with open(out_path, "wb") as out_f, open(err_path, "wb") as err_f:
        proc = subprocess.Popen(
            [sys.executable, "bench.py"],
            cwd=repo, env=env, stdout=out_f, stderr=err_f,
            start_new_session=True,
        )
        try:
            hooked = _wait_for(err_path, "# test hook: hanging", proc, 300)
            assert hooked, (
                f"bench never reached the hang hook (rc={proc.poll()}):\n"
                f"{err_path.read_text(errors='ignore')[-2000:]}"
            )
            os.killpg(proc.pid, signal.SIGTERM)
            rc = proc.wait(timeout=30)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    _settle_after_subprocess_jvm()
    assert rc == 0, f"kill handler must exit 0, got {rc}"
    lines = [ln for ln in out_path.read_text().splitlines() if ln.strip()]
    last = json.loads(lines[-1])  # the driver's LAST-LINE-WINS parse
    assert last["final"] is True
    assert set(last["deadline_skipped"]) == {"annex", "sf1_tier"}
    assert "sf1_total" not in last
    assert last["n_queries"] == 1
    # the handler re-printed the snapshot verbatim: the last TWO
    # final=true lines are identical
    finals = [ln for ln in lines if '"final": true' in ln]
    assert len(finals) >= 2 and finals[-1] == finals[-2]
    # detail artifact went to the redirected dir, not the repo root
    assert (tmp_path / "BENCH_DETAIL.json").exists()


def test_tier_smoke_mode(tmp_path):
    """SPARK_GRAFT_TIER_SMOKE=1 (VERDICT r13 next #7): spark-side-only
    execution of the Arrow-kernel tier rows on the replica — the ~90 s
    'does the tier crash organically?' discriminator the r13 judge had
    to hand-write. Subset here for test wall; rc 0 + one parseable
    tier_smoke line is the contract."""
    import json
    import os
    import subprocess
    import sys

    from bench import TIER_SMOKE_ROWS

    # the default smoke set must resolve and be Arrow-kernel tier rows
    missing = [n for n in TIER_SMOKE_ROWS if n not in all_queries()]
    assert not missing, f"tier-smoke rows not in the registry: {missing}"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_TIER_SMOKE="1",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_SCALE_DIR=str(tmp_path / "replica"),
        SPARK_GRAFT_SCALE_TIER_QUERIES="multimodal_bmp_meta,ann_rerank",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM="3g",
    )
    res = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    _settle_after_subprocess_jvm()
    assert res.returncode == 0, res.stderr[-2000:]
    lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
    last = json.loads(lines[-1])
    assert last["metric"] == "tier_smoke"
    assert last["rows"] == 2
    assert last["failures"] == {}
    assert last["final"] is True
