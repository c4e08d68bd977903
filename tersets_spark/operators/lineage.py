"""Per-partition lineage + resumable checkpoints.

Engine feature from BASELINE.json.north_rule: "resumable from checkpoint
with per-partition lineage + metrics — a killed job replays only
unfinished partitions."

Work unit: a deterministic *partition bucket*
``pb = pmod(xxhash64(doc_id), n_buckets)`` — stable across runs, cluster
sizes and retries (never Spark's physical partition id, which is not).
The orchestrator processes buckets in driver-side batches; each batch is
one distributed job that (1) writes its output parquet with dynamic
partition overwrite (idempotent on retry) and (2) appends one lineage
row per bucket, an empty one included, only after the write commits.
A killed run leaves ``status='done'`` rows only for committed buckets;
the next run anti-joins them away and replays the rest.

Metrics rows double as stage commits: a job that writes whole outputs
(jobs/compact.py's tiers and ``raw_hot``) appends one ``METRICS_SCHEMA``
row per output after its write commits, with the output's name in
``stage``; ``read_done_stages`` returns those names for a run id, and the
next run with that id skips them.

Both tables take their rows through Arrow (``_rows_df``): a one-row
``createDataFrame(list)`` would start a Python worker just to unpickle
it, which costs about a second the first time in a session.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, partition_id int, doc_id_min string, doc_id_max string, "
    "n_series long, n_tokens long, out_bytes long, status string, "
    "started_ts timestamp, finished_ts timestamp"
)

METRICS_SCHEMA = (
    "run_id string, stage string, tokens_per_sec double, compress_ratio double, "
    "wall_ms long, parallelism int"
)

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"

#: lineage stats of a bucket with no input rows
_EMPTY_BUCKET = Row(dmin=None, dmax=None, n_series=0, n_tokens=0)


def with_partition_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "pb", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def read_done_buckets(spark: SparkSession, lineage_path: str, run_id: str) -> set[int]:
    try:
        rows = (
            spark.read.parquet(lineage_path)
            .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("partition_id")
            .collect()
        )
    except Exception:  # first run: lineage table absent
        return set()
    return {r.partition_id for r in rows}


def read_done_stages(spark: SparkSession, metrics_path: str, run_id: str) -> set[str]:
    """Stages with a metrics row for ``run_id``: outputs whose write has
    committed."""
    try:
        rows = (
            spark.read.parquet(metrics_path)
            .filter(F.col("run_id") == run_id)
            .select("stage")
            .collect()
        )
    except AnalysisException:  # first run: metrics table absent
        return set()
    return {r.stage for r in rows}


def _rows_df(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """``rows`` as a DataFrame of schema ``ddl``, built from an Arrow
    table so no Python worker starts. Missing keys are null; naive
    datetimes are UTC, as ``_ts`` makes them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def append_lineage(spark: SparkSession, lineage_path: str, rows: list[dict]) -> None:
    if not rows:
        return
    _rows_df(spark, rows, LINEAGE_SCHEMA).write.mode("append").parquet(lineage_path)


def append_metrics(spark: SparkSession, metrics_path: str, rows: list[dict]) -> None:
    if not rows:
        return
    _rows_df(spark, rows, METRICS_SCHEMA).write.mode("append").parquet(metrics_path)


def run_with_lineage(
    spark: SparkSession,
    df: DataFrame,
    process_fn,
    out_path: str,
    lineage_path: str,
    run_id: str | None = None,
    n_buckets: int = 64,
    buckets_per_batch: int = 16,
) -> str:
    """Process ``df`` bucket-batch-wise with checkpoint/resume.

    ``process_fn(bucket_df) -> DataFrame`` must produce the output rows
    for the given slice and carry ``doc_id``; output parquet is
    partitioned by ``pb`` and overwritten per-partition (idempotent).
    Returns the run_id.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    prev_mode = spark.conf.get(_OVERWRITE_MODE)
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        work = with_partition_bucket(df, n_buckets)
        done = read_done_buckets(spark, lineage_path, run_id)
        pending = [b for b in range(n_buckets) if b not in done]
        for i in range(0, len(pending), buckets_per_batch):
            batch = pending[i : i + buckets_per_batch]
            started = time.time()
            slice_df = work.filter(F.col("pb").isin(batch))
            out = process_fn(slice_df)
            if "pb" not in out.columns:
                out = with_partition_bucket(out, n_buckets)
            out.write.mode("overwrite").partitionBy("pb").parquet(out_path)
            # lineage rows reflect what was just committed; a bucket
            # with no rows commits too, or every resume would replay it
            stats = dict.fromkeys(batch, _EMPTY_BUCKET) | {
                int(r.pb): r
                for r in slice_df.groupBy("pb")
                .agg(
                    F.min("doc_id").alias("dmin"),
                    F.max("doc_id").alias("dmax"),
                    F.count("*").alias("n_series"),
                    F.sum(F.coalesce(F.col("n_tok"), F.lit(0)).cast("long")).alias(
                        "n_tokens"
                    ),
                )
                .collect()
            }
            now = time.time()
            append_lineage(
                spark,
                lineage_path,
                [
                    {
                        "run_id": run_id,
                        "partition_id": b,
                        "doc_id_min": r.dmin,
                        "doc_id_max": r.dmax,
                        "n_series": int(r.n_series),
                        "n_tokens": int(r.n_tokens or 0),
                        "out_bytes": None,
                        "status": "done",
                        "started_ts": _ts(started),
                        "finished_ts": _ts(now),
                    }
                    for b, r in stats.items()
                ],
            )
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev_mode)
    return run_id


def _ts(epoch: float):
    import datetime

    return datetime.datetime.fromtimestamp(epoch, tz=datetime.timezone.utc).replace(
        tzinfo=None
    )
