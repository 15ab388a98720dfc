"""Tests of the benchmark itself: seeded inputs, the latency
computation, the status-store parsers, and the printed result line.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402


def _tables(path: str) -> dict:
    return {
        f: pq.read_table(os.path.join(path, f))
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    }


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _tables(datagen.ensure_inputs(str(tmp_path / "a"), "catalog", 7))
    b = _tables(datagen.ensure_inputs(str(tmp_path / "b"), "catalog", 7))
    c = _tables(datagen.ensure_inputs(str(tmp_path / "c"), "catalog", 8))
    assert a.keys() == b.keys() == c.keys()
    assert all(a[f].equals(b[f]) for f in a)
    # every generated table depends on the seed (region/nation are fixed)
    varying = [f for f in a if f not in ("region.parquet", "nation.parquet")]
    assert varying and not any(a[f].equals(c[f]) for f in varying)


def test_inputs_cache_reuses_matching_marker(tmp_path):
    d = datagen.ensure_inputs(str(tmp_path), "stream", 5)
    marker = os.path.join(d, datagen.MARKER)
    mtime = os.path.getmtime(marker)
    assert datagen.ensure_inputs(str(tmp_path), "stream", 5) == d
    assert os.path.getmtime(marker) == mtime
    with open(marker) as f:
        assert json.load(f)["rows"] == {"events": 100_000}


def _synthetic_checkpoint(root) -> str:
    ckpt = root / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    (ckpt / "offsets").mkdir()
    entry = lambda f, b: json.dumps({"path": f"file:///src/{f}", "timestamp": 0, "batchId": b})  # noqa: E731
    # batches 0-1 compacted into one log file, batch 2 on its own,
    # batch 3 listed but never committed
    (ckpt / "sources" / "0" / "1.compact").write_text(
        "v1\n" + "\n".join([entry("part-00000.parquet", 0), entry("part-00001.parquet", 1),
                            entry("part-00002.parquet", 1)])
    )
    (ckpt / "sources" / "0" / "2").write_text("v1\n" + entry("part-00003.parquet", 2))
    (ckpt / "sources" / "0" / "3").write_text("v1\n" + entry("part-00004.parquet", 3))
    for batch, t in ((0, 100.5), (1, 101.25), (2, 103.0)):
        p = ckpt / "commits" / str(batch)
        p.write_text("v1\n{}")
        os.utime(p, (t, t))
        (ckpt / "offsets" / str(batch)).write_text(
            "v1\n" + json.dumps({"batchWatermarkMs": 1000 * (batch + 1), "batchTimestampMs": 0})
        )
    return str(ckpt)


def test_latency_from_synthetic_checkpoint(tmp_path):
    ckpt = _synthetic_checkpoint(tmp_path)
    due = {f"part-0000{i}.parquet": 100.0 + 0.5 * i for i in range(5)}
    lat = W.file_latencies(due, W.batch_commits(ckpt))
    assert lat == pytest.approx(
        {
            "part-00000.parquet": 0.5,  # due 100.0, batch 0 commits at 100.5
            "part-00001.parquet": 0.75,  # due 100.5, batch 1 at 101.25
            "part-00002.parquet": 0.25,  # due 101.0, batch 1 at 101.25
            "part-00003.parquet": 1.5,  # due 101.5, batch 2 at 103.0
        }
    )
    assert "part-00004.parquet" not in lat  # its batch never committed
    assert W.final_watermark_s(ckpt) == 3.0


def test_weighted_quantiles_count_each_event():
    # one file of 1 event at 10 s and one of 3 events at 1 s: most
    # events waited 1 s
    assert W.weighted_quantiles([10.0, 1.0], [1, 3], (0.5,)) == [1.0]
    assert W.weighted_quantiles([1.0, 2.0, 3.0], [1, 1, 1]) == pytest.approx([2.0, 2.8])


def test_metric_strings_and_plan_dot():
    assert tracing.metric_value("723 ms") == pytest.approx(0.723)
    assert tracing.metric_value("16.2 MiB") == pytest.approx(16.2 * 2**20)
    assert tracing.metric_value("10,000") == 10_000
    assert tracing.metric_value(
        "total (min, med, max (stageId: taskId))\\n1.5 s (0 ms, 5 ms, 1.2 s (stage 3.0: task 5))"
    ) == pytest.approx(1.5)
    dot = (
        '4 [id="node4" labelType="html" label="<b>HashAggregate</b><br><br>'
        'time in aggregation build: 10 ms<br>number of output rows: 7" tooltip="x"];\n'
        '10 [id="node10" labelType="html" label="<b>ArrowEvalPython</b><br><br>'
        'data sent to Python workers total (min, med, max (stageId: taskId))<br>'
        '3.6 KiB (1008.0 B, 1344.0 B, 1344.0 B (stage 23.0: task 18))<br>'
        'number of output rows: 10,000" tooltip="y"];'
    )
    nodes = tracing.parse_plan_dot(dot)
    assert nodes == [
        ("HashAggregate", {"time in aggregation build": 0.01, "number of output rows": 7.0}),
        ("ArrowEvalPython", {"data sent to Python workers": 3.6 * 1024, "number of output rows": 10_000.0}),
    ]


def test_covered_counts_overlaps_once():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1.0


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric_with_its_unit(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "catalog",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {k: v["unit"] for k, v in result["metrics"].items()}
    assert result["attempted"] >= 1


def test_catalog_latency_is_over_each_querys_median():
    import run

    passes = [
        W.PassResult(wall=w, walls={"a": a, "b": 1.0, "c": 2.0})
        for w, a in ((3.0, 0.1), (9.0, 5.0), (4.0, 0.3))
    ]
    metrics, _ = run.end_to_end("catalog", {"setup_s": 1.0, "setups": [1.0]}, 0, passes)
    # per-query medians 0.3, 1.0, 2.0: one slow pass of "a" moves nothing
    assert metrics["latency_p50_s"] == pytest.approx(1.0)
    assert metrics["latency_p90_s"] == pytest.approx(1.8)
    assert metrics["pass_wall_s"] == 4.0


def test_pass_counts_scale_with_seconds():
    import run

    assert run.pass_counts("catalog", 45) == run.PASSES_AT_45_S["catalog"]
    assert run.pass_counts("stream", 90) == tuple(2 * n for n in run.PASSES_AT_45_S["stream"])
    assert run.pass_counts("catalog", 1) == (0, 1)
