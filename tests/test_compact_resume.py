"""In-process crash/resume of jobs/compact.py and the bookkeeping rows it
relies on.

A crash is injected through ``append_metrics``: right before a stage's
commit row (its output written, not yet committed) or right after it.
Rerunning with the same run id must reproduce the no-crash outputs; a
rerun with every stage committed must leave the tiers and ``raw_hot``
alone. tests/test_resume_kill.py keeps the end-to-end SIGKILL check.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from jobs import compact
from tersets_spark.operators import lineage
from tersets_spark.sources.synth import synth_tokens

RUN_ID = "crashrun"
STAGES = ["tier_1m", "tier_1h", "tier_1d", "raw_hot"]
OUTPUTS = [*STAGES, "blocks", "lineage"]


class Crash(Exception):
    pass


@pytest.fixture(autouse=True)
def keep_session(monkeypatch):
    """``compact.main`` stops its session at the end; the tests share one."""
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("compact") / "corpus")
    synth_tokens(spark, 24, max_len=4000, partitions=4).write.parquet(path)
    return path


def _run(corpus: str, out: str) -> None:
    compact.main(
        [
            "--out", out, "--run-id", RUN_ID, "--input", corpus,
            "--raw-retention", "256", "--n-buckets", "4", "--cores", "8",
        ]
    )


def _rows(path: str, drop: tuple[str, ...] = ()) -> list[tuple]:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = [c for c in t.column_names if c not in drop]
    return sorted(tuple(r[c] for c in cols) for r in t.select(cols).to_pylist())


def _outputs(out: str) -> dict:
    got = {d: _rows(f"{out}/{d}") for d in OUTPUTS if d != "lineage"}
    got["lineage"] = _rows(f"{out}/lineage", drop=("started_ts", "finished_ts"))
    got["stages"] = {r["stage"] for r in pq.read_table(f"{out}/metrics").to_pylist()}
    return got


def _files(path: str) -> dict[str, tuple[str, int]]:
    """relative path -> (content digest, mtime_ns) for every file."""
    got = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                digest = hashlib.blake2b(fh.read(), digest_size=16).hexdigest()
            got[os.path.relpath(full, path)] = (digest, os.stat(full).st_mtime_ns)
    return got


@pytest.fixture(scope="module")
def reference(spark, corpus, tmp_path_factory):
    """A run that never crashed."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SparkSession, "stop", lambda self: None)
        out = str(tmp_path_factory.mktemp("compact") / "ref")
        _run(corpus, out)
    return out


def _crash_at(monkeypatch, stage: str, after_marker: bool) -> None:
    real = lineage.append_metrics

    def crashing(spark, path, rows):
        hit = any(r["stage"] == stage for r in rows)
        if hit and after_marker:
            real(spark, path, rows)
        if hit:
            raise Crash(stage)
        real(spark, path, rows)

    monkeypatch.setattr(lineage, "append_metrics", crashing)


@pytest.mark.parametrize("after_marker", [False, True], ids=["before_marker", "after_marker"])
@pytest.mark.parametrize("stage", STAGES)
def test_crash_then_resume_matches_clean_run(
    spark, corpus, reference, tmp_path, monkeypatch, stage, after_marker
):
    out = str(tmp_path / "out")
    with monkeypatch.context() as mp:
        _crash_at(mp, stage, after_marker)
        with pytest.raises(Crash):
            _run(corpus, out)
    committed = STAGES[: STAGES.index(stage) + after_marker]
    assert lineage.read_done_stages(spark, f"{out}/metrics", RUN_ID) == set(committed)
    assert os.path.isdir(f"{out}/{stage}")  # the write landed either way
    before = {d: _files(f"{out}/{d}") for d in committed}

    _run(corpus, out)

    assert _outputs(out) == _outputs(reference)
    # committed stages were skipped, not rewritten
    assert {d: _files(f"{out}/{d}") for d in committed} == before


def test_resume_with_all_stages_committed_touches_nothing(spark, reference, corpus, tmp_path):
    out = str(tmp_path / "out")
    shutil.copytree(reference, out)
    before = {d: _files(f"{out}/{d}") for d in STAGES}
    n_lineage = pq.read_table(f"{out}/lineage").num_rows
    n_stage_rows = sum(r["stage"] != "compact" for r in pq.read_table(f"{out}/metrics").to_pylist())

    _run(corpus, out)

    assert {d: _files(f"{out}/{d}") for d in STAGES} == before
    assert pq.read_table(f"{out}/lineage").num_rows == n_lineage
    metrics = pq.read_table(f"{out}/metrics").to_pylist()
    assert sum(r["stage"] != "compact" for r in metrics) == n_stage_rows
    assert _outputs(out) == _outputs(reference)


def test_failed_tier_write_leaves_no_persisted_rdd(spark, corpus, tmp_path, monkeypatch):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    real = lineage.append_metrics
    held = []

    def crashing(spark_, path, rows):
        if rows[0]["stage"] == "tier_1h":
            held.append(set(jsc.getPersistentRDDs().keySet()) - before)
            raise Crash("tier_1h")
        real(spark_, path, rows)

    monkeypatch.setattr(lineage, "append_metrics", crashing)
    with pytest.raises(Crash):
        _run(corpus, str(tmp_path / "out"))
    assert held and held[0], "the base tier was not cached during the tier writes"
    assert set(jsc.getPersistentRDDs().keySet()) == before
    if not before:
        assert jsc.getPersistentRDDs().isEmpty()


_MODE = "spark.sql.sources.partitionOverwriteMode"


def test_run_with_lineage_restores_overwrite_mode(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 3), ("b", 5), ("c", 7)], "doc_id string, n_tok int"
    )
    prev = spark.conf.get(_MODE)
    assert prev.lower() != "dynamic"

    lineage.run_with_lineage(
        spark,
        df,
        lambda sl: sl.select("doc_id", "n_tok", "pb"),
        out_path=str(tmp_path / "out"),
        lineage_path=str(tmp_path / "lineage"),
        n_buckets=2,
    )
    assert spark.conf.get(_MODE) == prev

    def fail(_):
        raise RuntimeError("process failed")

    with pytest.raises(RuntimeError, match="process failed"):
        lineage.run_with_lineage(
            spark,
            df,
            fail,
            out_path=str(tmp_path / "out2"),
            lineage_path=str(tmp_path / "lineage2"),
            n_buckets=2,
        )
    assert spark.conf.get(_MODE) == prev


def test_empty_buckets_commit_and_are_not_replayed(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 3), ("b", 5), ("c", 7)], "doc_id string, n_tok int"
    )
    calls = []

    def process(sl):
        calls.append(1)
        return sl.select("doc_id", "n_tok", "pb")

    kw = dict(out_path=str(tmp_path / "out"), lineage_path=str(tmp_path / "lineage"),
              run_id="r", n_buckets=8, buckets_per_batch=3)
    lineage.run_with_lineage(spark, df, process, **kw)
    assert lineage.read_done_buckets(spark, kw["lineage_path"], "r") == set(range(8))
    rows = pq.read_table(kw["lineage_path"]).to_pylist()
    assert sum(r["n_series"] for r in rows) == 3
    assert sum(r["n_tokens"] for r in rows) == 15
    calls.clear()
    lineage.run_with_lineage(spark, df, process, **kw)
    assert not calls


def test_bookkeeping_rows_roundtrip_over_arrow(spark, tmp_path, monkeypatch):
    def no_list_path(*a, **k):
        raise AssertionError("bookkeeping rows took the createDataFrame(list) path")

    monkeypatch.setattr(spark, "_create_dataframe", no_list_path)
    t0 = 1_760_000_000.123456
    lineage_rows = [
        {
            "run_id": "r", "partition_id": 3, "doc_id_min": "doc_a", "doc_id_max": "doc_b",
            "n_series": 2, "n_tokens": 1234, "out_bytes": None, "status": "done",
            "started_ts": lineage._ts(t0), "finished_ts": lineage._ts(t0 + 1.5),
        },
        {
            "run_id": "r", "partition_id": 4, "doc_id_min": "doc_c", "doc_id_max": "doc_c",
            "n_series": 1, "n_tokens": 7, "out_bytes": 99, "status": "done",
            "started_ts": lineage._ts(t0 + 2), "finished_ts": lineage._ts(t0 + 3),
        },
    ]
    metrics_rows = [
        {
            "run_id": "r", "stage": "tier_1m", "tokens_per_sec": None,
            "compress_ratio": None, "wall_ms": 12, "parallelism": 8,
        },
        {
            "run_id": "r", "stage": "compact", "tokens_per_sec": 1.5e6,
            "compress_ratio": 3.25, "wall_ms": 3400, "parallelism": 8,
        },
    ]
    for rows, ddl, name, write in (
        (lineage_rows, lineage.LINEAGE_SCHEMA, "lineage", lineage.append_lineage),
        (metrics_rows, lineage.METRICS_SCHEMA, "metrics", lineage.append_metrics),
    ):
        path = str(tmp_path / name)
        write(spark, path, rows)
        assert spark.read.parquet(path).schema == StructType.fromDDL(ddl)
        # pyarrow reads the stored instants as naive UTC, whatever the
        # process or session time zone
        key = lambda r: (r.get("partition_id"), r.get("stage"))  # noqa: E731
        assert sorted(pq.read_table(path).to_pylist(), key=key) == sorted(rows, key=key)

    first = pq.read_table(str(tmp_path / "lineage")).to_pylist()
    started = min(r["started_ts"] for r in first)
    assert started == datetime.datetime(2025, 10, 9, 8, 53, 20, 123456)
