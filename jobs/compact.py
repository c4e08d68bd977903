"""spark-submit entry: the full compress + rollup + retention pipeline
with lineage/resume.

Usage:
    spark-submit --py-files tersets_spark.zip jobs/compact.py \
        --out /data/out --run-id nightly-2026-08-16 \
        --n-docs 100000 --tiers 1m,1h,1d --method chimp64 \
        --raw-retention 86400 --n-buckets 256

At cluster scale the same script runs unchanged on N or 4N executors:
parallelism comes from spark.sql.shuffle.partitions and the input split
count, work distribution from the deterministic partition buckets
(lineage.py).

Resume: a killed run re-submitted with the same --run-id redoes only what
had not committed. Blocks resume per partition bucket through the
lineage table. Each tier and ``raw_hot`` is written whole and then
committed by a stage row in the metrics table (stage ``tier_<name>`` or
``raw_hot``, see lineage.py); a rerun skips every committed stage. A
crash between a write and its stage row only repeats that idempotent
overwrite. A run without --run-id gets a fresh id, so it redoes all.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid

# allow running without --py-files when launched from the repo checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--input", default=None, help="parquet token table; default: synth")
    p.add_argument("--n-docs", type=int, default=10000)
    p.add_argument("--tiers", default="1m,1h,1d")
    p.add_argument("--method", default="delta", choices=["delta", "chimp64", "chimp128", "rle"])
    p.add_argument("--raw-retention", type=int, default=86400)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from tersets_spark.methods import Method
    from tersets_spark.operators.compress import compress_blocks
    from tersets_spark.operators.lineage import (
        append_metrics,
        read_done_stages,
        run_with_lineage,
    )
    from tersets_spark.operators.retention import split_aged
    from tersets_spark.operators.rollup import TIERS, rollup_tokens_base, tiers_from_base
    from tersets_spark.session import get_spark
    from tersets_spark.sources.synth import synth_tokens

    method = {
        "delta": Method.BitPackedDeltaEncoding,
        "chimp64": Method.Chimp64,
        "chimp128": Method.Chimp128,
        "rle": Method.RunLengthEncoding,
    }[args.method]
    spark = get_spark("tersets_compact", cores=args.cores)
    t0 = time.time()
    run_id = args.run_id or uuid.uuid4().hex[:12]
    metrics_path = f"{args.out}/metrics"
    done = read_done_stages(spark, metrics_path, run_id)
    df = (
        spark.read.parquet(args.input)
        if args.input
        else synth_tokens(spark, args.n_docs)
    )
    tiers = {t: TIERS[t] for t in args.tiers.split(",")}

    def write_stage(stage: str, out) -> None:
        """Write one whole output, then commit it with its stage row."""
        started = time.time()
        out.write.mode("overwrite").parquet(f"{args.out}/{stage}")
        append_metrics(
            spark,
            metrics_path,
            [
                {
                    "run_id": run_id,
                    "stage": stage,
                    "wall_ms": int((time.time() - started) * 1000),
                    "parallelism": spark.sparkContext.defaultParallelism,
                }
            ],
        )

    # 1) tier rollups: the finest tier is the one Python pass; every
    # coarser tier re-aggregates it from the cache
    pending = [t for t in tiers if f"tier_{t}" not in done]
    if pending:
        base = rollup_tokens_base(df, min(tiers.values())).persist()
        try:
            rolls = tiers_from_base(base, tiers)
            for name in pending:
                write_stage(f"tier_{name}", rolls[name])
        finally:
            base.unpersist()

    # 2) retention split + block compaction, bucketed with lineage/resume
    kept, aged = split_aged(df, args.raw_retention)
    if "raw_hot" not in done:
        write_stage("raw_hot", kept)

    def process(bucket_df):
        return compress_blocks(bucket_df.select("doc_id", "tokens"), method)

    run_with_lineage(
        spark,
        aged,
        process,
        out_path=f"{args.out}/blocks",
        lineage_path=f"{args.out}/lineage",
        run_id=run_id,
        n_buckets=args.n_buckets,
    )
    wall = time.time() - t0
    total_tokens = df.agg(F.sum("n_tok")).collect()[0][0] or 0
    append_metrics(
        spark,
        metrics_path,
        [
            {
                "run_id": run_id,
                "stage": "compact",
                "tokens_per_sec": total_tokens / wall if wall else 0.0,
                "compress_ratio": None,
                "wall_ms": int(wall * 1000),
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        ],
    )
    print(f"run_id={run_id} tokens={total_tokens} wall_s={wall:.1f}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
