"""Reduce Spark's event log to the per-layer ledger.

Input: the rolling event logs Spark writes with ``spark.eventLog.enabled``
(one ``eventlog_v2_<app>/events_*`` directory per SparkContext; set
``spark.eventLog.compress=false``) and the benchmark's spans. Each job is
attributed to a labelled call span:

* by its job description ``"<op_id>:<layer>"`` (``Tracer.call`` sets it);
* otherwise -- jobs submitted from engine-side thread pools, which do not
  inherit the description -- to the innermost labelled span open at the
  job's submission time. These are counted as ``unlabelled_jobs``.

Jobs outside every labelled span (set-up, checks) are ignored.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

#: SQL metrics of the Python plan nodes (MapInArrow, ArrowEvalPython, ...)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

#: the ledger set, with units
FIELDS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "py_s": "s", "arrow_bytes": "bytes",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s",
    "peak_exec_mb": "MB", "task_skew": "ratio", "slot_util": "ratio",
    "out_bytes": "bytes",
}


def _read_events(log_dir: str):
    """Yield (app key, event) from every event log under ``log_dir``."""
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = sorted(
            glob.glob(os.path.join(app, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        for part in parts:
            with open(part) as f:
                for line in f:
                    yield app, json.loads(line)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse(log_dir: str) -> list[dict]:
    """Jobs, with their stages' task metrics, from the event logs."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    sql_plans: dict[tuple, str] = {}
    for app, ev in _read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            key = (app, ev["Job ID"])
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            jobs[key] = {
                "desc": props.get("spark.job.description"),
                "sql": (app, int(exec_id)) if exec_id is not None else None,
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": defaultdict(list),
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault((app, sid), key)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get((app, ev["Job ID"]))
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = stage_job.get((app, ev["Stage ID"]))
            if key is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            acc = defaultdict(float)
            for a in info.get("Accumulables", []):
                if a.get("Name") in (PY_TIME, PY_SENT, PY_RECV):
                    acc[a["Name"]] += float(a.get("Update") or 0)
            jobs[key]["stages"][ev["Stage ID"]].append(
                {
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "peak": m.get("Peak Execution Memory", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "py_ms": acc[PY_TIME],
                    "arrow": acc[PY_SENT] + acc[PY_RECV],
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_plans[(app, ev["executionId"])] = ev.get("physicalPlanDescription", "")
    for job in jobs.values():
        job["plan"] = sql_plans.get(job["sql"], "") if job["sql"] else ""
        if job["end"] is None:
            job["end"] = job["start"]
    return list(jobs.values())


def attribute(jobs: list[dict], spans: list[dict]) -> tuple[dict, int]:
    """Map each job to a label; returns ({label: [jobs]}, unlabelled)."""
    labels = {s["label"] for s in spans if s["label"]}
    labelled_spans = sorted(
        (s for s in spans if s["label"]), key=lambda s: s["end"] - s["start"]
    )
    out: dict[str, list[dict]] = defaultdict(list)
    unlabelled = 0
    for job in jobs:
        if job["desc"] in labels:
            out[job["desc"]].append(job)
            continue
        # innermost (shortest) labelled span open at submission, with
        # 5 ms of slack for the millisecond timestamps of the log
        for s in labelled_spans:
            if s["start"] - 0.005 <= job["start"] <= s["end"] + 0.005:
                out[s["label"]].append(job)
                unlabelled += 1
                break
    return out, unlabelled


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def ledger_row(jobs: list[dict], spans: list[dict], cores: int) -> dict:
    """The ledger set for one label (or a set of labels)."""
    wall = sum(s["end"] - s["start"] for s in spans)
    inside = []
    for j in jobs:
        for s in spans:
            lo, hi = max(j["start"], s["start"]), min(j["end"], s["end"])
            if hi > lo:
                inside.append((lo, hi))
    tasks = [t for j in jobs for ts in j["stages"].values() for t in ts]
    # skew of the stage that holds the most task time
    stages = [ts for j in jobs for ts in j["stages"].values() if ts]
    skew = 0.0
    if stages:
        big = max(stages, key=lambda ts: sum(t["dur"] for t in ts))
        durs = [t["dur"] for t in big]
        skew = max(durs) / _p50(durs) if _p50(durs) > 0 else 1.0
    run = sum(t["run"] for t in tasks)
    return {
        "wall_s": wall,
        "driver_s": wall - _union(inside),
        "jobs": len(jobs),
        "tasks": len(tasks),
        "exec_run_s": run,
        "exec_cpu_s": sum(t["cpu"] for t in tasks),
        "py_s": sum(t["py_ms"] for t in tasks) / 1000.0,
        "arrow_bytes": int(sum(t["arrow"] for t in tasks)),
        "shuffle_bytes": int(sum(t["shuffle_w"] for t in tasks)),
        "spill_bytes": int(sum(t["spill"] for t in tasks)),
        "gc_s": sum(t["gc"] for t in tasks),
        "peak_exec_mb": max((t["peak"] for t in tasks), default=0) / 2**20,
        "task_skew": skew,
        "slot_util": run / (wall * cores) if wall > 0 else 0.0,
        "out_bytes": int(sum(t["out"] for t in tasks)),
    }


#: write-path markers of jobs/compact.py outputs, in match order
PHASES = ("tier_", "raw_hot", "lineage", "blocks", "metrics")


def write_phases(jobs: list[dict]) -> dict[str, float]:
    """Seconds of job time per output path of a compaction job, grouped
    by the write path named in each SQL execution's plan."""
    spans: dict[str, list] = defaultdict(list)
    for j in jobs:
        phase = next((p.rstrip("_") for p in PHASES if f"/{p}" in j["plan"]), "other")
        spans[phase].append((j["start"], j["end"]))
    return {p: _union(iv) for p, iv in spans.items()}


def reduce(log_dir: str, spans: list[dict], cores: int) -> dict:
    """The full ledger: per label, per layer (labels grouped across ops),
    totals over all labelled calls, and the reconciliation with op wall."""
    by_label, unlabelled = attribute(parse(log_dir), spans)
    call_spans = defaultdict(list)
    for s in spans:
        if s["label"]:
            call_spans[s["label"]].append(s)
    by_layer_jobs, by_layer_spans = defaultdict(list), defaultdict(list)
    for label, ss in call_spans.items():
        layer = label.split(":", 1)[1]
        by_layer_spans[layer] += ss
        by_layer_jobs[layer] += by_label.get(label, [])
    layers = {
        layer: ledger_row(by_layer_jobs[layer], by_layer_spans[layer], cores)
        for layer in sorted(by_layer_spans)
    }
    for layer in layers:
        if layer.startswith("jobs.compact"):
            layers[layer]["phase_s"] = write_phases(by_layer_jobs[layer])
    all_calls = [s for ss in call_spans.values() for s in ss]
    all_jobs = [j for js in by_label.values() for j in js]
    total = ledger_row(all_jobs, all_calls, cores)
    op_wall = sum(s["end"] - s["start"] for s in spans if s["parent"] is None and s["op"] is not None)
    # calls never nest, so labelled self time == labelled wall time; the
    # reconciliation asks how much of op wall the labelled calls cover
    total["reconcile"] = total["wall_s"] / op_wall if op_wall > 0 else 0.0
    total["unlabelled_jobs"] = unlabelled
    return {"layers": layers, "total": total}
