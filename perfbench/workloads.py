"""The three workloads. Each has a set-up that writes its input tables
(``inputs``, repeated to time set-up), a one-off ``prep`` that derives
state and expected answers from those tables, and a fixed rotation of
op types: one round, of nominal length ``round_s`` seconds. An op type
is a function ``op(ctx, op_id, timed)``: work before ``with timed():``
is untimed preparation, the block is the timed, labelled call into the
engine, and the rest checks the output. It returns an :class:`Outcome`;
a failed check is listed in ``problems``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from . import inputs

LOSSY_BOUND = 2.0


@dataclass
class Outcome:
    tokens: int = 0  # input values the op processed
    stored: int = 0  # compressed bytes written or read
    raw: int = 0  # uncompressed bytes of the same values (4 per token)
    problems: list[str] = field(default_factory=list)


def _arrow_rows(tbl, *cols):
    return [tbl.column(c).to_pylist() for c in cols]


def _flat_tokens(tbl) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, offsets) of the Arrow list<int> column ``tokens``."""
    toks = tbl.column("tokens").combine_chunks()
    return toks.flatten().to_numpy(zero_copy_only=False), toks.offsets.to_numpy()


# ------------------------------------------------------------------ ingest


class Ingest:
    """Fused compress + in-kernel round-trip verify + 1m/1h/1d rollup."""

    per_source = {"short": 90, "mid": 9, "tail": 1}

    def inputs(self, ctx) -> None:
        self.path = ctx.path("ingest_corpus")
        self.tokens = inputs.token_corpus(
            ctx.spark, self.path, ctx.seed, self.per_source, pool=8000, files=8
        )

    def prep(self, ctx) -> None:
        n = np.array([a.size for a in self.tokens.values()], dtype=np.int64)
        self.expect = {
            "n_values": int(n.sum()),
            0: int(np.ceil(n / 60).sum()),  # grouping id of the 1m tier
            1: int(np.ceil(n / 3600).sum()),  # 1h
            3: int(np.ceil(n / 86400).sum()),  # 1d
        }

    def rotation(self):
        from tersets_spark.methods import Method

        return [
            ("delta", lambda c, i, t: self.op(c, i, t, Method.BitPackedDeltaEncoding)),
            ("chimp64", lambda c, i, t: self.op(c, i, t, Method.Chimp64)),
        ]

    def op(self, ctx, op_id, timed, method) -> Outcome:
        from tersets_spark.operators.pipeline import flagship_summary, fused_compress_rollup

        with timed(), ctx.call(op_id, "operators.pipeline"):
            df = ctx.spark.read.parquet(self.path)
            rows = flagship_summary(fused_compress_rollup(df, method)).collect()
        res = {r["gid"]: r for r in rows}
        out = Outcome()
        total = res.get(15)
        if total is None:
            out.problems.append("no grand-total row")
            return out
        out.tokens, out.stored = int(total["n_values"]), int(total["bytes"])
        out.raw = 4 * out.tokens
        if total["all_ok"] != 1:
            out.problems.append("round-trip verify failed")
        if out.tokens != self.expect["n_values"]:
            out.problems.append(f"n_values {out.tokens} != {self.expect['n_values']}")
        for gid in (0, 1, 3):
            got = res[gid]["rows"] if gid in res else None
            if got != self.expect[gid]:
                out.problems.append(f"tier gid={gid}: {got} rows != {self.expect[gid]}")
        return out


# ----------------------------------------------------------------- catalog


def catalog_methods():
    """(name, method, config): the lossy methods at LOSSY_BOUND, then the
    lossless ones."""
    from tersets_spark.methods import Method as M

    lossy = {"abs_error_bound": LOSSY_BOUND}
    return [
        ("pmc_mean", M.PoorMansCompressionMean, lossy),
        ("pmc_midrange", M.PoorMansCompressionMidrange, lossy),
        ("swing", M.SwingFilter, lossy),
        ("slide", M.SlideFilter, lossy),
        ("sim_piece", M.SimPiece, lossy),
        ("mix_piece", M.MixPiece, lossy),
        ("chimp128", M.Chimp128, None),
        ("rle", M.RunLengthEncoding, None),
    ]


class Catalog:
    """compress_blocks -> decompress_blocks, one catalog method per op."""

    per_source = {"short": 36, "mid": 2}

    def inputs(self, ctx) -> None:
        self.path = ctx.path("catalog_corpus")
        self.tokens = inputs.token_corpus(
            ctx.spark, self.path, ctx.seed, self.per_source, pool=4000, files=8
        )

    def prep(self, ctx) -> None:
        self.n_tokens = sum(a.size for a in self.tokens.values())

    def rotation(self):
        return [
            (name, lambda c, i, t, m=m, cfg=cfg: self.op(c, i, t, m, cfg))
            for name, m, cfg in catalog_methods()
        ]

    def op(self, ctx, op_id, timed, method, cfg) -> Outcome:
        from pyspark.sql import functions as F

        from tersets_spark.operators.compress import compress_blocks, decompress_blocks

        blocks = None
        try:
            with timed():
                with ctx.call(op_id, "operators.compress.encode"):
                    df = ctx.spark.read.parquet(self.path)
                    blocks = compress_blocks(df, method, cfg).persist()
                    stored = blocks.agg(F.sum("bytes")).first()[0]
                with ctx.call(op_id, "operators.compress.decode"):
                    dec = decompress_blocks(blocks).select(
                        "doc_id", "first_pos", "tokens"
                    ).toArrow()
        finally:
            if blocks is not None:
                blocks.unpersist()
        out = Outcome(stored=int(stored or 0))
        docs, pos = _arrow_rows(dec, "doc_id", "first_pos")
        flat, offs = _flat_tokens(dec)
        err, n = 0.0, 0
        for i, (d, p) in enumerate(zip(docs, pos)):
            got = flat[offs[i] : offs[i + 1]].astype(np.float64)
            ref = self.tokens[d][p : p + got.size]
            if ref.size != got.size:
                out.problems.append(f"{d}@{p}: {got.size} values != {ref.size}")
                continue
            n += got.size
            if got.size:
                err = max(err, float(np.max(np.abs(got - ref))))
        out.tokens, out.raw = n, 4 * n
        bound = cfg["abs_error_bound"] if cfg else 0.0
        if err > bound:
            out.problems.append(f"max error {err} > bound {bound}")
        if n != self.n_tokens:
            out.problems.append(f"decoded {n} values != {self.n_tokens}")
        return out


class Write:
    """The encode paths in one rotation: ingest's fused pipeline (delta
    and Chimp64, twice each) and the eight catalog methods."""

    round_s = 12.0  # nominal seconds per round on a 4-vCPU host at local[2]
    warmup = 3  # delta, Chimp64 and the first catalog method

    def __init__(self):
        self.ingest, self.catalog = Ingest(), Catalog()

    def inputs(self, ctx) -> None:
        self.ingest.inputs(ctx)
        self.catalog.inputs(ctx)

    def prep(self, ctx) -> None:
        self.ingest.prep(ctx)
        self.catalog.prep(ctx)

    def rotation(self):
        ingest = self.ingest.rotation()
        return ingest + self.catalog.rotation() + ingest


# -------------------------------------------------------------------- read


def _summary_exprs(df):
    """Row count and exact integer column sums of a query result."""
    from pyspark.sql import functions as F

    exprs = [F.count(F.lit(1)).alias("n")]
    for name, typ in df.dtypes:
        c = F.col(name)
        if typ == "boolean":
            exprs.append(F.sum(c.cast("long")).alias(name))
        elif typ in ("double", "float"):
            exprs.append(F.sum(F.round(F.coalesce(c, F.lit(0.0)) * 10000).cast("long")).alias(name))
        else:
            exprs.append(F.sum(c.cast("long")).alias(name))
    return exprs


def _pandas_summary(pdf) -> dict:
    out = {"n": len(pdf)}
    for name in pdf.columns:
        col = pdf[name]
        if col.dtype.kind == "f":
            out[name] = int(np.round(np.nan_to_num(col.to_numpy(dtype=float)) * 10000).astype(np.int64).sum())
        else:
            out[name] = int(col.astype("int64").sum())
    return out


class Read:
    """Decode what ingest encodes, plus the pure-Catalyst gap-fill and
    events-rollup paths, over data compacted during set-up."""

    per_source = {"short": 90, "mid": 9, "tail": 1}
    round_s = 4.0
    warmup = 4  # a whole round: each query's first run generates its code
    queries = {
        "gapfill": ("gapfill_locf_1h", "gapfill_linear_1d"),
        "rollup_events": ("rollup_events_catalog",),
    }

    def inputs(self, ctx) -> None:
        self.corpus = ctx.path("corpus")
        self.tokens = inputs.token_corpus(
            ctx.spark, self.corpus, ctx.seed, self.per_source, pool=8000, files=8
        )
        self.sf_dir = ctx.path("events")
        inputs.events_table(self.sf_dir, ctx.seed, rows=20_000, users=100)

    def prep(self, ctx) -> None:
        import duckdb

        import __spark_entry__ as entry
        from tersets_spark.methods import Method
        from tersets_spark.operators.compress import compress_blocks
        from tersets_spark.operators.retention import compact_tier
        from tersets_spark.operators.rollup import tier_rollups

        spark = ctx.spark
        df = spark.read.parquet(self.corpus)
        self.blocks = ctx.path("blocks")
        compress_blocks(df, Method.BitPackedDeltaEncoding).write.parquet(self.blocks)
        self.tier = ctx.path("tier_1m")
        roll = tier_rollups(df, {"1m": 60})["1m"]
        compact_tier(roll, Method.Chimp64).write.parquet(self.tier)
        # expected restore: the rollup's stat values, keyed and sorted
        r = roll.select("doc_id", "bucket", "vmin", "vmax", "vmean").toPandas()
        r = r.melt(id_vars=["doc_id", "bucket"], var_name="stat", value_name="value")
        self.tier_expect = r.sort_values(["doc_id", "stat", "bucket"]).reset_index(drop=True)
        self.tier_bytes = _dir_parquet_sum(self.tier, ("bytes",))
        self.block_bytes = _dir_parquet_sum(self.blocks, ("bytes",))
        self.n_tokens = sum(a.size for a in self.tokens.values())
        # expected query answers from the DuckDB oracles
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf_dir}/events.parquet')"
        )
        oracles = entry.oracle_sql()
        self.oracle = {q: con.execute(oracles[q]).fetchdf() for qs in self.queries.values() for q in qs}
        con.close()
        self.expect = {q: _pandas_summary(pdf) for q, pdf in self.oracle.items()}
        self.n_events = pq.read_metadata(f"{self.sf_dir}/events.parquet").num_rows

    def rotation(self):
        return [
            ("restore_tier", self.restore_tier),
            ("decode_blocks", self.decode_blocks),
            ("gapfill", lambda c, i, t: self.query_op(c, i, t, "gapfill", "operators.gapfill")),
            ("rollup_events", lambda c, i, t: self.query_op(c, i, t, "rollup_events", "operators.rollup")),
        ]

    def restore_tier(self, ctx, op_id, timed) -> Outcome:
        from tersets_spark.operators.retention import restore_tier

        with timed(), ctx.call(op_id, "operators.retention"):
            tbl = restore_tier(ctx.spark.read.parquet(self.tier)).toArrow()
        got = tbl.to_pandas().sort_values(["doc_id", "stat", "bucket"]).reset_index(drop=True)
        exp = self.tier_expect
        out = Outcome(tokens=len(got), stored=self.tier_bytes, raw=4 * len(got))
        if len(got) != len(exp):
            out.problems.append(f"restored {len(got)} values != {len(exp)}")
        elif not (
            (got["doc_id"].to_numpy() == exp["doc_id"].to_numpy()).all()
            and (got["bucket"].to_numpy() == exp["bucket"].to_numpy()).all()
            and np.array_equal(got["value"].to_numpy().view(np.uint64), exp["value"].to_numpy(dtype=np.float64).view(np.uint64))
        ):
            out.problems.append("restored tier values differ from the rollup")
        return out

    def decode_blocks(self, ctx, op_id, timed) -> Outcome:
        from tersets_spark.operators.compress import decompress_blocks, reassemble

        with timed(), ctx.call(op_id, "operators.compress.decode"):
            tbl = reassemble(decompress_blocks(ctx.spark.read.parquet(self.blocks))).toArrow()
        (docs,) = _arrow_rows(tbl, "doc_id")
        flat, offs = _flat_tokens(tbl)
        out = Outcome(tokens=int(flat.size), stored=self.block_bytes, raw=4 * int(flat.size))
        bad = [d for i, d in enumerate(docs) if not np.array_equal(flat[offs[i] : offs[i + 1]], self.tokens[d])]
        if bad or len(docs) != len(self.tokens):
            out.problems.append(f"{len(bad)} docs decode wrong; {len(docs)}/{len(self.tokens)} docs")
        return out

    def query_op(self, ctx, op_id, timed, kind, layer) -> Outcome:
        import __spark_entry__ as entry

        qs = entry.queries()
        got = {}
        with timed():
            for q in self.queries[kind]:
                with ctx.call(op_id, layer):
                    df = qs[q](ctx.spark, self.sf_dir)
                    got[q] = df.agg(*_summary_exprs(df)).first().asDict()
        out = Outcome(tokens=self.n_events * len(self.queries[kind]))
        for q, summary in got.items():
            summary = {k: int(v or 0) for k, v in summary.items()}
            if summary != self.expect[q]:
                out.problems.append(f"{q}: {summary} != oracle {self.expect[q]}")
        return out

    def full_check(self, ctx) -> list[str]:
        """Once per run, untimed: whole results against the oracles."""
        import __spark_entry__ as entry
        from tools.check_oracle import compare

        problems = []
        qs = entry.queries()
        for q, duck in self.oracle.items():
            problems += [f"{q}: {p}" for p in compare(q, qs[q](ctx.spark, self.sf_dir).toPandas(), duck)]
        return problems


def _dir_parquet_sum(path: str, cols: tuple[str, ...]) -> int:
    t = pq.read_table(path, columns=list(cols))
    return int(sum(np.asarray(t.column(c)).sum() for c in cols))


def _tree_digest(path: str) -> str:
    h = hashlib.blake2b(digest_size=16)
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------- maintain


class Maintain:
    """The resumable compaction job (jobs/compact.py) and its resume."""

    per_source = {"short": 8, "mid": 3}
    raw_retention = 1024
    round_s = 20.0
    warmup = 1  # the first compaction runs cold, at about 1.5x its later time

    def inputs(self, ctx) -> None:
        self.corpus = ctx.path("corpus")
        self.tokens = inputs.token_corpus(
            ctx.spark, self.corpus, ctx.seed, self.per_source, pool=8000, files=4
        )

    def prep(self, ctx) -> None:
        self.aged_tokens = sum(max(a.size - self.raw_retention, 0) for a in self.tokens.values())
        self.last_out = None

    def rotation(self):
        return [
            ("compact_job", self.compact_job),
            ("compact_resume", self.compact_resume),
        ]

    def _job_args(self, ctx, out):
        return [
            "--out", out, "--run-id", "perfbench", "--input", self.corpus,
            "--raw-retention", str(self.raw_retention), "--n-buckets", "8",
            "--cores", str(ctx.cores),
        ]

    def compact_job(self, ctx, op_id, timed) -> Outcome:
        from jobs.compact import main

        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        out_dir, self.last_out = ctx.path(f"compact_{op_id}"), None
        ctx.spark  # a live session: main() reuses it, then stops it
        with timed(), ctx.call(op_id, "jobs.compact.fresh"):
            main(self._job_args(ctx, out_dir))
        self.last_out = out_dir
        out = Outcome(tokens=self.aged_tokens, raw=4 * self.aged_tokens)
        blocks = pq.read_table(f"{out_dir}/blocks", columns=["n_values", "bytes"])
        out.stored = int(np.asarray(blocks.column("bytes")).sum())
        n_blocks = int(np.asarray(blocks.column("n_values")).sum())
        lineage = pq.read_table(f"{out_dir}/lineage", columns=["n_tokens"])
        n_lineage = int(np.asarray(lineage.column("n_tokens")).sum())
        if n_blocks != self.aged_tokens or n_lineage != self.aged_tokens:
            out.problems.append(
                f"blocks {n_blocks} / lineage {n_lineage} tokens != aged {self.aged_tokens}"
            )
        return out

    def compact_resume(self, ctx, op_id, timed) -> Outcome:
        from jobs.compact import main

        out_dir = self.last_out
        if out_dir is None:
            return Outcome(problems=["no completed compaction to resume"])
        before = (_lineage_rows(out_dir), _tree_digest(f"{out_dir}/blocks"))
        ctx.spark  # a live session, as for the fresh job
        with timed(), ctx.call(op_id, "jobs.compact.resume"):
            main(self._job_args(ctx, out_dir))
        after = (_lineage_rows(out_dir), _tree_digest(f"{out_dir}/blocks"))
        out = Outcome(tokens=self.aged_tokens)
        if after[0] != before[0]:
            out.problems.append(f"resume appended lineage rows: {before[0]} -> {after[0]}")
        if after[1] != before[1]:
            out.problems.append("resume rewrote blocks")
        return out


def _lineage_rows(out_dir: str) -> int:
    return pq.read_table(f"{out_dir}/lineage", columns=["partition_id"]).num_rows


WORKLOADS = {"write": Write, "read": Read, "maintain": Maintain}
