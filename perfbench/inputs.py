"""Seeded input generation: every table the engine sees is written here,
during set-up, from ``--seed`` alone.

Token corpora come from ``sources.synth.synth_tokens`` (all four source
families). A plain ``synth_tokens(n)`` sample would make the corpus size a
lottery at small ``n``: one 1% tail doc is 32k-262k tokens. So the corpus
is *stratified*: a pool of doc ids is sized by replaying the generator's
length draw, and each (source, length class) cell takes a fixed number of
docs at evenly spaced length quantiles. Every seed then gets the same
shape -- same skew, similar token count -- with different data.

Tables are written with pyarrow, one file per split, so set-up time is
spent on the inputs and not on Spark's write path.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "code", "chat", "synth")
#: length classes of the synth generator: 90% short, 9% mid, 1% tail
CLASSES = ("short", "mid", "tail")


def _length_class(row_seed: int, max_len: int) -> tuple[int, int]:
    """(class index, length) of one synth doc, replaying the generator's
    first two draws (sources/synth.py ``_gen_tokens_batch``). Used only
    to *select* doc ids; the written table's real ``n_tok`` is what the
    checks use."""
    rng = np.random.default_rng(np.random.PCG64(row_seed))
    u = rng.random()
    if u < 0.90:
        cls, n = 0, int(rng.integers(64, 2048))
    elif u < 0.99:
        cls, n = 1, int(rng.integers(2048, 32768))
    else:
        cls, n = 2, int(rng.integers(32768, 262144))
    return cls, min(n, max_len)


def _quantile_picks(items: list[tuple[int, str]], k: int) -> list[str]:
    """k doc ids at evenly spaced length quantiles of ``items``."""
    if k <= 0:
        return []
    if len(items) < k:
        raise ValueError(f"pool too small: need {k}, have {len(items)}")
    items = sorted(items)
    idx = [int((i + 0.5) * len(items) / k) for i in range(k)]
    return [items[i][1] for i in idx]


def token_corpus(
    spark, path: str, seed: int, per_source: dict[str, int], pool: int,
    files: int, max_len: int = 262144,
) -> dict[str, np.ndarray]:
    """Write a stratified ``synth_tokens`` table to ``path`` (parquet,
    ``files`` files) and return {doc_id: tokens}.

    ``per_source`` maps a length class to the number of docs taken from
    it for each of the four sources. Row seeds come from the same Spark
    expression ``synth_tokens`` uses; the chosen rows are then generated
    in this process by the generator ``synth_tokens`` runs in its UDF, so
    the table holds exactly the rows ``synth_tokens`` would produce for
    those doc ids (a test pins this)."""
    from pyspark.sql import functions as F

    from tersets_spark.sources.synth import _gen_tokens_batch, synth_tokens

    ids = synth_tokens(spark, pool, seed=seed, max_len=max_len, partitions=4).select(
        "doc_id", "source", F.abs(F.xxhash64("doc_id", F.lit(seed))).alias("s")
    ).collect()
    cells: dict[tuple[str, int], list[tuple[int, str]]] = {}
    row = {}
    for r in ids:
        cls, n = _length_class(int(r.s), max_len)
        cells.setdefault((r.source, cls), []).append((n, r.doc_id))
        row[r.doc_id] = (int(r.s), r.source)
    chosen: list[str] = []
    for src in SOURCES:
        for ci, cname in enumerate(CLASSES):
            chosen += _quantile_picks(cells.get((src, ci), []), per_source.get(cname, 0))
    chosen.sort()
    seeds = pd.Series(np.array([row[d][0] for d in chosen], dtype=np.uint64))
    sources = pd.Series([row[d][1] for d in chosen])
    tokens = list(_gen_tokens_batch(seeds, sources, max_len))
    # largest-first onto the lightest file: every seed gets the same file
    # balance, so the tail docs shape the tasks alike from seed to seed
    load, members = [0] * files, [[] for _ in range(files)]
    for i in sorted(range(len(chosen)), key=lambda i: -tokens[i].size):
        f = load.index(min(load))
        load[f] += tokens[i].size
        members[f].append(i)
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        sel = sorted(members[f])
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([chosen[i] for i in sel]),
                    "tokens": pa.array([tokens[i] for i in sel], type=pa.list_(pa.int32())),
                    "n_tok": pa.array([tokens[i].size for i in sel], type=pa.int32()),
                    "source": pa.array([sources[i] for i in sel]),
                }
            ),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )
    return dict(zip(chosen, tokens))


def events_table(path: str, seed: int, rows: int, users: int, days: int = 30) -> None:
    """Write ``events.parquet`` in the schema of the driver's events
    table: (event_id, ts, user_id, event_type, value, props)."""
    rng = np.random.default_rng(seed)
    secs = np.sort(rng.uniform(0, days * 86400, rows))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + (secs * 1e6).astype("timedelta64[us]")
    types = np.array(["click", "view", "purchase", "signup", "error"])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, rows).astype(np.int64)),
            "event_type": pa.array(types[rng.integers(0, types.size, rows)]),
            "value": pa.array(np.round(rng.exponential(50.0, rows), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
