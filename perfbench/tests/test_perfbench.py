"""Tests of the benchmark's own code: the event-log reducer, the op loop's
failure accounting, and the refusal to run without the engine source.

    python3 -m pytest perfbench/tests -q

The Spark tests start three local[2] sessions (about a minute in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import ledger, run, workloads  # noqa: E402


def _traced_run(tmp_path, monkeypatch, name: str) -> tuple[dict, int]:
    """A tiny traced run: four labelled calls over two ops -- a shuffle,
    a Python (mapInArrow) job, a job submitted from a worker thread,
    which does not inherit the job description, and a compress_blocks
    pass. Returns (ledger, stored bytes of the compress_blocks pass)."""
    from pyspark.sql import functions as F

    from tersets_spark.operators.compress import compress_blocks
    from tersets_spark.sources.synth import synth_tokens

    monkeypatch.setattr(run, "CORES", 2)
    work = str(tmp_path / name)
    os.makedirs(os.path.join(work, "tmp"))
    ctx = run.Ctx(work, seed=1, trace=True)
    try:
        spark = ctx.spark

        def plus_one(batches):
            for b in batches:
                yield b

        with ctx.tracer.span("op", op_id=0):
            with ctx.call(0, "shuffle"):
                spark.range(20000, numPartitions=4).groupBy(F.col("id") % 7).count().collect()
            with ctx.call(0, "python"):
                spark.range(5000, numPartitions=4).mapInArrow(plus_one, "id long").count()
        with ctx.tracer.span("op", op_id=1):
            with ctx.call(1, "threaded"), ThreadPoolExecutor(1) as pool:
                pool.submit(lambda: spark.range(1000, numPartitions=2).count()).result()
            with ctx.call(1, "compress"):
                corpus = synth_tokens(spark, 12, seed=3, max_len=3000, partitions=2)
                stored = compress_blocks(corpus).agg(F.sum("bytes")).first()[0]
    finally:
        ctx.stop()
    return ledger.reduce(ctx.events, ctx.tracer.spans, 2), int(stored)


@pytest.fixture(scope="module")
def two_runs(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    mp.setenv("SPARK_DRIVER_MEMORY", "1g")
    tmp = tmp_path_factory.mktemp("traced")
    try:
        yield _traced_run(tmp, mp, "a"), _traced_run(tmp, mp, "b")
    finally:
        mp.undo()


def test_reducer_reconciles_with_wall_time(two_runs):
    (led, _), _ = two_runs
    total = led["total"]
    # labelled calls cover the op spans, and within each call the job
    # spans plus driver time account for the call's wall time
    assert total["reconcile"] == pytest.approx(1.0, abs=0.1)
    for row in led["layers"].values():
        assert 0 <= row["driver_s"] <= row["wall_s"]
    assert led["layers"]["python"]["py_s"] > 0
    assert led["layers"]["python"]["arrow_bytes"] > 0
    assert led["layers"]["shuffle"]["shuffle_bytes"] > 0
    assert led["layers"]["shuffle"]["py_s"] == 0
    # the worker-thread job has no description; it is attributed by time
    assert led["layers"]["threaded"]["jobs"] >= 1
    assert total["unlabelled_jobs"] >= 1


def test_token_corpus_rows_are_synth_tokens_rows(tmp_path, monkeypatch):
    """The set-up generates the chosen rows in the driver; they must be
    the rows synth_tokens itself yields for those doc ids."""
    from pyspark.sql import functions as F

    from perfbench import inputs
    from tersets_spark.sources.synth import synth_tokens

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    monkeypatch.setattr(run, "CORES", 2)
    os.makedirs(tmp_path / "tmp")
    ctx = run.Ctx(str(tmp_path), seed=7, trace=False)
    try:
        spark = ctx.spark
        got = inputs.token_corpus(
            spark, str(tmp_path / "c"), 7, {"short": 2, "mid": 1}, pool=400, files=3
        )
        want = synth_tokens(spark, 400, seed=7).filter(F.col("doc_id").isin(list(got))).collect()
        table = spark.read.parquet(str(tmp_path / "c")).collect()
    finally:
        ctx.stop()
    assert len(got) == len(want) == len(table) == 12
    for r in want:
        assert list(got[r.doc_id]) == list(r.tokens)
    assert {(r.doc_id, tuple(r.tokens), r.n_tok, r.source) for r in table} == {
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source) for r in want
    }


def test_exact_counts_repeat_across_traced_runs(two_runs):
    (a, stored_a), (b, stored_b) = two_runs
    assert stored_a == stored_b > 0
    for layer in a["layers"]:
        for k in ("jobs", "tasks", "shuffle_bytes", "arrow_bytes"):
            assert a["layers"][layer][k] == b["layers"][layer][k], (layer, k)


class _NoSpark:
    """Just enough of ``run.Ctx`` for the op loop, without a session."""

    def __init__(self):
        from perfbench.trace import Tracer

        self.tracer = Tracer(False)


def test_forced_check_failure_is_counted_not_fatal():
    def good(ctx, op_id, timed):
        with timed():
            pass
        return workloads.Outcome(tokens=10, stored=4, raw=40)

    def bad_check(ctx, op_id, timed):
        with timed():
            pass
        return workloads.Outcome(tokens=10, problems=["forced failure"])

    def raises(ctx, op_id, timed):
        with timed():
            raise RuntimeError("forced")

    rotation = [("good", good), ("bad_check", bad_check), ("raises", raises)]
    records = run.measure(_NoSpark(), rotation, rounds=1)
    assert [r["ok"] for r in records] == [True, False, False]
    metrics = run.end_to_end(records, [1.0], 2**20)
    assert metrics["ok_ratio"]["value"] == pytest.approx(1 / 3)
    assert metrics["stored_bytes_ratio"]["value"] == pytest.approx(0.1)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "write", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
