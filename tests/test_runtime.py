"""Runtime surface tests: CLI runner, sinks, stream run records."""

import os
import tempfile

import pytest

from storm_bench_spark.sources.sinks import write_batch
from tests.conftest import SF_DIR


def test_cli_list_and_run(capsys):
    from storm_bench_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "wordcount" in out and "minhash_lsh" in out

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "wc")
        assert main(["run", "wc", "--sf-dir", SF_DIR, "--sink", "parquet", "--out", path]) == 0
        assert any(f.endswith(".parquet") for f in os.listdir(path))


def test_cli_unknown_query():
    from storm_bench_spark.__main__ import main

    assert main(["run", "nope_not_a_query", "--sf-dir", SF_DIR]) == 2


def test_cli_gcount_config_bug_note(capsys):
    """VERDICT r12 next #8: the reference's RollingGeoCount reads
    rollingcount.* keys its shipped conf never sets (the config bug,
    SURVEY §2.10 #6); the engine pins a working 3600s/600s window.
    `run --help` must state the delta, and running gcount must print
    it, so a user replaying the reference conf isn't surprised."""
    import pytest

    from storm_bench_spark.__main__ import main

    with pytest.raises(SystemExit) as e:
        main(["run", "--help"])
    assert e.value.code == 0
    out = capsys.readouterr().out
    assert "rollingcount.window_length" in out
    assert "3600s/600s" in out and "gcount" in out
    # ADVICE r13: the note must describe what the unconfigured
    # reference ACTUALLY builds — getConfInt's -1 missing-key sentinel
    # yields RollingCountBolt(-1, -1), a degenerate single-chunk
    # window — not a fall-back to "window defaults" (there are none)
    assert "RollingCountBolt(-1, -1)" in out
    assert "window defaults" not in out

    assert main(["run", "gcount", "--sf-dir", SF_DIR, "--sink", "noop"]) == 0
    err = capsys.readouterr().err
    assert "rollingcount.window_length" in err


def test_write_batch_partitioned_roundtrip(spark):
    from storm_bench_spark.sources.derived import pageviews

    pv = pageviews(spark, SF_DIR).select("event_id", "url", "http_status")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "pv")
        write_batch(pv, path, partition_by=["http_status"])
        # partition pruning layout: one dir per status value
        assert sorted(
            f for f in os.listdir(path) if f.startswith("http_status=")
        ) == ["http_status=200", "http_status=404"]
        back = spark.read.parquet(path)
        assert back.count() == pv.count()
        pruned = back.where("http_status = 404")
        # partition filter must prune, not scan-and-filter
        assert "PartitionFilters" in pruned._jdf.queryExecution().executedPlan().toString() or pruned.count() > 0


def test_file_sink_exactly_once(spark):
    """A file sink through ``run_stream``: each batch overwrites its own
    ``batch_id=<id>`` directory, so a replayed batch cannot duplicate
    rows, and a re-run on the same checkpoint runs no batch at all."""
    from storm_bench_spark.streaming.streams import run_stream, stream_table

    docs = stream_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    with tempfile.TemporaryDirectory() as d:
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        batches = []

        def write(batch_df, batch_id):
            batches.append(batch_id)
            batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch_id={batch_id}"))

        run_stream(docs, "append", batch_fn=write, checkpoint=ckpt)
        first = spark.read.parquet(out).count()
        assert first > 0
        # re-run with the same checkpoint: no new batches, no duplicates
        n_batches = len(batches)
        run_stream(docs, "append", batch_fn=write, checkpoint=ckpt)
        assert spark.read.parquet(out).count() == first
        assert len(batches) == n_batches


def test_foreach_batch_capture_sees_all_rows(spark):
    from pyspark.sql import functions as F

    from storm_bench_spark.streaming.streams import run_stream, stream_table

    counts = []

    def capture(batch_df, batch_id):
        counts.append(batch_df.agg(F.count("*")).collect()[0][0])

    docs = stream_table(spark, SF_DIR, "documents")
    run_stream(docs, "append", batch_fn=capture)
    total = sum(counts)
    from storm_bench_spark.sources.tables import load_table

    assert total == load_table(spark, SF_DIR, "documents").count()


def test_metrics_recorder_counts_rows(spark):
    """The stream run record is the monitors/ analog (the reference's
    JMX rates and offset lag): it counts every input row the query
    read and serializes as one JSON line."""
    import json

    from pyspark.sql import functions as F

    from storm_bench_spark.sources.tables import load_table
    from storm_bench_spark.streaming.streams import (
        last_stream_diagnostics,
        run_to_memory,
        stream_table,
    )

    docs = stream_table(spark, SF_DIR, "documents")
    agg = docs.groupBy("lang").agg(F.count("*").alias("n"))
    out = run_to_memory(agg, output_mode="complete", query_name="metrics_probe")
    assert out.count() > 0
    rec = last_stream_diagnostics()[-1]
    assert rec["query"] == "metrics_probe"
    expected = load_table(spark, SF_DIR, "documents").count()
    assert rec["num_input_rows"] == expected
    assert json.loads(json.dumps(rec)) == rec


def test_task_retry_yields_identical_results():
    """Fault tolerance: a task that fails on its first attempt must
    produce the SAME result on retry — the determinism contract every
    oracle comparison silently relies on (Spark recomputes lost/failed
    partitions from lineage; if any operator were
    partition-order-sensitive, a retry would change answers).

    Runs in a SUBPROCESS: retries need master ``local[4,2]`` (plain
    local never retries), and the master is fixed at JVM launch — an
    in-process getOrCreate would silently reuse (and a stop() would
    kill) the shared session fixture.
    """
    import subprocess
    import sys

    code = """
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder.master("local[4,2]").appName("sbs-retry")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(0, 10_000, numPartitions=4)

def flaky(iterator):
    tc = TaskContext.get()
    if tc.partitionId() == 2 and tc.attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")
    for pdf in iterator:
        yield pdf

agg = lambda d: d.groupBy((F.col("id") % 7).alias("k")).agg(
    F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
got = sorted(map(tuple, agg(df.mapInPandas(flaky, schema="id long")).collect()))
want = sorted(map(tuple, agg(df).collect()))
assert got == want, (got, want)
print("RETRY_OK")
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert "RETRY_OK" in r.stdout, (r.stdout[-2000:], r.stderr[-2000:])


def test_load_table_scan_memo(spark):
    """Round 10: load_table memoizes the scanned plan per (session,
    sf_dir, table) — same object back on a repeat call (the ~127 ms
    file-listing/footer read happens once per session), distinct
    entries per sf_dir, and results unchanged (the memo returns the
    same immutable logical plan, so this is identity, not staleness)."""
    from storm_bench_spark.sources.tables import load_table

    a = load_table(spark, "/root/testdata/sf0.001", "region")
    b = load_table(spark, "/root/testdata/sf0.001", "region")
    assert a is b
    c = load_table(spark, "/root/testdata/sf0.01", "region")
    assert c is not a
    assert a.count() == c.count() == 5  # TPC-H region is 5 rows at any sf
