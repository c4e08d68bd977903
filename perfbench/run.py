"""Benchmark entry point.

    python3 perfbench/run.py --workload write --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. One closed-loop client
drives the engine's public functions in this process at local[2]. The run
writes its input tables (several times, to time set-up), derives expected
answers, measures whole rounds of the workload's op rotation (as many as fit
``--seconds`` at the workload's nominal round time), checks every op's output and prints one JSON line last.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and reports the per-layer ledger instead. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
CORES = min(2, os.cpu_count() or 2)
DRIVER_MEMORY = "1536m"
#: input-table set-ups per run; setup_s is their median
SETUP_REPS = 3


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ctx:
    """Session, paths and tracing shared by a workload's ops."""

    def __init__(self, work: str, seed: int, trace: bool):
        from perfbench.trace import Tracer

        self.root, self.work, self.seed, self.trace = ROOT, work, seed, trace
        self.cores = CORES
        self.tracer = Tracer(trace)
        self.events = os.path.join(work, "eventlog")
        self._spark = None
        self.start_s: list[float] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, "data", name)

    def conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        heap = os.environ.get("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident size no longer
            # follows when its collector chooses to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
        if self.trace:
            os.makedirs(self.events, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.events,
                }
            )
        return conf

    @property
    def spark(self):
        """The live session; a new one if the last was stopped (the
        compaction job stops the session it runs in)."""
        from pyspark import SparkContext

        if self._spark is None or SparkContext._active_spark_context is None:
            from tersets_spark.session import get_spark

            t0 = time.perf_counter()
            self._spark = get_spark("perfbench", cores=self.cores, extra_conf=self.conf())
            self.start_s.append(time.perf_counter() - t0)
            self._ship_package()
            self.tracer.sc = self._spark.sparkContext
        return self._spark

    def _ship_package(self) -> None:
        """Ship tersets_spark to the Python workers the way
        ``__spark_entry__._ensure_pkg`` does, but with the zip under the
        run's work directory, and register the context with it so the
        contract queries do not ship a second copy."""
        import __spark_entry__ as entry

        zpath = os.path.join(self.work, "tersets_spark_pkg.zip")
        if not os.path.exists(zpath):
            with zipfile.ZipFile(zpath, "w") as zf:
                for root, _dirs, files in os.walk(os.path.join(ROOT, "tersets_spark")):
                    for f in sorted(files):
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            zf.write(full, os.path.relpath(full, ROOT))
        sc = self._spark.sparkContext
        sc.addPyFile(zpath)
        entry._PKG_SHIPPED.add(id(sc))

    def call(self, op_id: int, layer: str):
        return self.tracer.call(op_id, layer)

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until every process the
        run started (JVM, Python daemon and workers) has exited."""
        from pyspark import SparkContext

        from perfbench.trace import descendants

        started = descendants(os.getpid())
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        alive = started
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for p in alive:
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)


def run_op(ctx: Ctx, kind: str, fn, op_id: int) -> dict:
    """One op: untimed prep, timed labelled call, untimed checks. An op
    that raises or fails a check is counted as failed, not fatal."""
    rec = {"op": op_id, "kind": kind, "seconds": None, "ok": False, "problems": []}

    @contextlib.contextmanager
    def timed():
        with ctx.tracer.span(kind, op_id=op_id):
            t0 = time.perf_counter()
            yield
            rec["seconds"] = time.perf_counter() - t0

    try:
        out = fn(ctx, op_id, timed)
        rec.update(tokens=out.tokens, stored=out.stored, raw=out.raw, problems=out.problems)
        rec["ok"] = rec["seconds"] is not None and not out.problems
    except Exception as ex:  # counted in `failed`; the run goes on
        rec["problems"] = [f"{type(ex).__name__}: {ex}"]
        _log(traceback.format_exc())
    if not rec["ok"]:
        _log(f"op {op_id} {kind} FAILED: {rec['problems']}")
    return rec


def measure(ctx: Ctx, rotation, rounds: int) -> list[dict]:
    """``rounds`` whole rounds of the rotation."""
    records = []
    for op_id, (kind, fn) in enumerate(rotation * rounds):
        records.append(run_op(ctx, kind, fn, op_id))
    return records


def _m(value, unit):
    return {"value": value, "unit": unit}


def _by_kind(records: list[dict]) -> dict[str, list[dict]]:
    """The ok records, by op type."""
    out: dict[str, list[dict]] = {}
    for r in records:
        if r["ok"]:
            out.setdefault(r["kind"], []).append(r)
    return out


def op_p50(records: list[dict]) -> float:
    """Per-op-type median latency of the ok ops, combined by geometric
    mean: a mix of op types whose latencies differ 10x has no stable
    overall median."""
    kinds = _by_kind(records).values()
    if not kinds:
        return 0.0
    return math.exp(statistics.fmean(math.log(statistics.median(r["seconds"] for r in rs)) for rs in kinds))


def tokens_per_s(records: list[dict]) -> float:
    """Input values of one median op of each type over their seconds: a
    round of the rotation at per-type median speed, so one slow op moves
    it no more than it moves ``op_p50``."""
    kinds = _by_kind(records).values()
    secs = sum(statistics.median(r["seconds"] for r in rs) for rs in kinds)
    return sum(statistics.median(r["tokens"] for r in rs) for rs in kinds) / secs if secs else 0.0


def end_to_end(records: list[dict], setup: list[float], peak_rss: int) -> dict:
    ok = [r for r in records if r["ok"]]
    raw = sum(r["raw"] for r in ok if r.get("stored"))
    stored = sum(r["stored"] for r in ok if r.get("stored"))
    return {
        "setup_s": _m(statistics.median(setup), "s"),
        "op_p50_s": _m(op_p50(records), "s"),
        "tokens_per_s": _m(tokens_per_s(records), "tokens/s"),
        "stored_bytes_ratio": _m(stored / raw if raw else 0.0, "ratio"),
        "ok_ratio": _m(len(ok) / len(records) if records else 0.0, "ratio"),
        "peak_rss_mb": _m(peak_rss / 2**20, "MB"),
    }


def kernel_probes() -> dict:
    """Single-thread kernel throughput on a fixed synth sample (16 docs of
    at most 4096 tokens, the same for every seed, one per CHUNK): the
    baseline the Spark layers are compared with. Median of 5 timings,
    Mtok/s."""
    import numpy as np
    import pandas as pd

    from tersets_spark.kernels import registry
    from tersets_spark.kernels.batch import compress_batch, decompress_batch
    from tersets_spark.methods import Method as M
    from tersets_spark.sources.synth import SOURCES, _gen_tokens_batch

    from perfbench.workloads import catalog_methods

    seeds = pd.Series(np.arange(16, dtype=np.uint64))
    docs = _gen_tokens_batch(seeds, pd.Series([SOURCES[i % 4] for i in range(16)]), 4096)
    flat = np.concatenate(list(docs)).astype(np.float64)
    offs = np.concatenate(([0], np.cumsum([d.size for d in docs]))).astype(np.int64)
    mtok = flat.size / 1e6

    def rate(fn) -> float:
        t0 = time.perf_counter()
        fn()  # warm-up; sizes the repetitions to >= 50 ms per timing
        reps = max(1, math.ceil(0.05 / max(time.perf_counter() - t0, 1e-6)))
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(reps):
                fn()
            times.append((time.perf_counter() - t0) / reps)
        return mtok / statistics.median(times)

    out = {}
    for name, m in (("delta", M.BitPackedDeltaEncoding), ("chimp64", M.Chimp64)):
        blobs = compress_batch(flat, offs, m)
        out[f"kernels.batch.{name}_enc_mtok_s"] = rate(lambda: compress_batch(flat, offs, m))
        out[f"kernels.batch.{name}_dec_mtok_s"] = rate(lambda: decompress_batch(blobs))
    for name, m, cfg in catalog_methods():
        out[f"kernels.registry.{name}_mtok_s"] = rate(
            lambda: [registry.compress(flat[offs[i] : offs[i + 1]], m, cfg) for i in range(16)]
        )
    return out


def sort_probe_ms() -> float:
    """Single-core host-speed diagnostic: median np.sort of 1e6 floats."""
    import numpy as np

    x = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.sort(x)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


def per_layer(ctx: Ctx, records, setup, prep_s, ledger, kernels, sort_ms) -> dict:
    from perfbench.ledger import FIELDS

    tot = ledger["total"]
    out = {
        "session.start_s": _m(ctx.start_s[0], "s"),
        "sources.gen_s": _m(statistics.median(setup), "s"),
        "setup.prep_s": _m(prep_s, "s"),
        "host.sort_probe_ms": _m(sort_ms, "ms"),
        "ops.samples": _m(sum(r["ok"] for r in records), "count"),
        "ops.traced_op_p50_s": _m(op_p50(records), "s"),
    }
    units = {**FIELDS, "reconcile": "ratio", "unlabelled_jobs": "count"}
    for k, unit in units.items():
        out[f"ops.{k}"] = _m(tot[k], unit)
    for k, v in kernels.items():
        out[k] = _m(v, "Mtok/s")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for need in ("tersets_spark", "__spark_entry__.py", "jobs", "tools"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _log(f"perfbench: engine source {need!r} not found under {ROOT}")
            return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no JVM (launcher or driver) writes its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from perfbench.trace import RssSampler

    ctx = Ctx(work, args.seed, bool(args.trace))
    wl = WORKLOADS[args.workload]()
    sort_ms = sort_probe_ms()
    _log(f"perfbench: workload={args.workload} seed={args.seed} cores={CORES} "
         f"nproc={os.cpu_count()} heap={DRIVER_MEMORY} sort_probe_ms={sort_ms:.1f}")
    t_run = time.perf_counter()

    def phase(name: str) -> None:
        _log(f"perfbench: {name} done at {time.perf_counter() - t_run:.1f} s")

    try:
        with RssSampler() as rss:
            ctx.spark  # the JVM and the session: session.start_s
            phase("session start")
            setup = []
            for _ in range(SETUP_REPS):
                shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
                t0 = time.perf_counter()
                wl.inputs(ctx)
                setup.append(time.perf_counter() - t0)
            phase("input set-up")
            t0 = time.perf_counter()
            wl.prep(ctx)
            prep_s = time.perf_counter() - t0
            phase("prep")
            # --seconds buys whole rounds at the workload's nominal round
            # time, not a deadline: op times still fall over a run's first
            # ops (JIT), so every run must take the same ops in the same
            # order, or a host-speed-dependent op count would move medians
            rotation = wl.rotation()
            rounds = max(1, round(args.seconds / wl.round_s))
            # the rotation's first ``warmup`` ops, untimed: lazy imports,
            # worker start, each query's first code generation
            warm = [run_op(ctx, k, fn, -1 - i) for i, (k, fn) in enumerate(rotation[: wl.warmup])]
            phase("warm-up")
            records = measure(ctx, rotation, rounds)
            phase("measure")
            full = wl.full_check(ctx) if hasattr(wl, "full_check") else None
        kernels = kernel_probes() if ctx.trace else None
    finally:
        ctx.stop()
        phase("stop")
    # the warm-up ops and the once-per-run full check count as attempts
    attempted = len(records) + len(warm) + (full is not None)
    failed = sum(not r["ok"] for r in records + warm) + bool(full)
    if full:
        _log(f"perfbench: full oracle check FAILED: {full}")
    _report(args, records)
    if ctx.trace:
        from perfbench.ledger import reduce

        t0 = time.perf_counter()
        # the measured ops only, as in the end-to-end metrics: the warm-up
        # ops (negative ids) carry the run's cold start
        ledger = reduce(ctx.events, [s for s in ctx.tracer.spans if s["op"] >= 0], CORES)
        _print_ledger(ledger, time.perf_counter() - t0)
        metrics = per_layer(ctx, records, setup, prep_s, ledger, kernels, sort_ms)
        _save(args, {"ledger": ledger, "spans": ctx.tracer.spans, "records": records})
    else:
        metrics = end_to_end(records, setup, rss.peak)
        _save(args, {"records": records, "metrics": metrics})
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _report(args, records) -> None:
    """Human-readable per-op-type timings, with sample counts."""
    kinds: dict[str, list[dict]] = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r)
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {len(records)} ops")
    for kind, rs in kinds.items():
        secs = [r["seconds"] for r in rs if r["ok"]]
        p50 = statistics.median(secs) if secs else float("nan")
        print(f"#   {kind:16s} p50 {p50:8.3f} s  n={len(secs)}  failed={len(rs) - len(secs)}")


def _print_ledger(ledger, reduce_s) -> None:
    cols = ("wall_s", "driver_s", "jobs", "exec_cpu_s", "py_s", "arrow_bytes", "shuffle_bytes", "task_skew", "slot_util", "out_bytes")
    print("# layer ledger: " + " ".join(cols) + f"   (reduced in {reduce_s:.2f} s)")
    for layer, row in {**ledger["layers"], "TOTAL": ledger["total"]}.items():
        vals = " ".join(f"{row[c]:.4g}" for c in cols)
        extra = f" phases={ {k: round(v, 3) for k, v in row['phase_s'].items()} }" if "phase_s" in row else ""
        print(f"#   {layer:40s} {vals}{extra}")
    t = ledger["total"]
    print(f"#   reconcile (labelled wall / op wall) = {t['reconcile']:.4f}; unlabelled jobs attributed by time = {t['unlabelled_jobs']}")


def _save(args, payload) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(payload, f, default=str)


if __name__ == "__main__":
    sys.exit(main())
