"""Tracing for the benchmark: harness spans, Spark event-log stage rows,
UDF-profiler splits and process-tree peak memory.

Spans are recorded by the benchmark around its own calls into the
program (never inside it). They stay in memory and are written once at
the end of a run. Spark's own event log supplies per-stage executor
numbers; each stage is attributed to the innermost harness span open when
it was submitted, so the layer names below are the span names.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the time its children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def innermost(self, t: float) -> str | None:
        """Name of the innermost span open at epoch time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["name"] if best else None


# -- Spark event log ----------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_b",
    "internal.metrics.memoryBytesSpilled": "spill_b",
    "internal.metrics.diskBytesSpilled": "spill_b",
    "internal.metrics.input.bytesRead": "input_b",
    "internal.metrics.output.bytesWritten": "output_b",
    "internal.metrics.input.recordsRead": "records_in",
}


def _event_files(log_dir: str) -> list[str]:
    files = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))
    ]
    return sorted(files)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Parse an uncompressed event log into (stage rows, job rows).

    A stage row carries wall, executor run/CPU time, shuffle, spill and
    input bytes, task count and max/median task run time; a job row its
    submission time and stage ids. Spark names DataFrame stages after a
    JVM frame, not the Python call site, so layers come from the harness
    spans instead (``attribute``).
    """
    stages: dict[int, dict] = {}
    tasks: dict[int, list[int]] = {}
    jobs: list[dict] = []
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(run_ms)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    row = {
                        "stage_id": info["Stage ID"],
                        "name": info.get("Stage Name", ""),
                        "submitted": info.get("Submission Time", 0) / 1000.0,
                        "completed": info.get("Completion Time", 0) / 1000.0,
                        "n_tasks": info.get("Number of Tasks", 0),
                        "python": any(
                            "Python" in (r.get("Scope") or "") or "Pandas" in (r.get("Scope") or "")
                            or "Arrow" in (r.get("Scope") or "")
                            for r in info.get("RDD Info", [])
                        ),
                        **{v: 0 for v in _ACC.values()},
                    }
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is not None:
                            row[key] += int(acc.get("Value") or 0)
                    stages[row["stage_id"]] = row
                elif kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "job_id": ev["Job ID"],
                            "submitted": ev.get("Submission Time", 0) / 1000.0,
                            "stage_ids": ev.get("Stage IDs", []),
                        }
                    )
    for sid, row in stages.items():
        t = tasks.get(sid, [])
        row["task_max_ms"] = max(t) if t else 0
        row["task_median_ms"] = statistics.median(t) if t else 0
    return sorted(stages.values(), key=lambda r: r["stage_id"]), jobs


def attribute(rows: list[dict], tracer: Tracer) -> None:
    """Tag each event-log row with the layer (span name) it ran under."""
    for r in rows:
        r["layer"] = tracer.innermost(r["submitted"])


def spark_layers(tracer, stages, jobs, cores, walls) -> dict[str, float]:
    """Per-job Spark numbers over the traced jobs, from the event log."""
    spans = [s for s in tracer.spans if s["name"] == "job"]
    reps = len(spans)

    def in_job(t):
        return any(s["start"] <= t <= s["end"] for s in spans)

    js = [r for r in stages if in_job(r["submitted"])]
    run_s = sum(r["run_ms"] for r in js) / 1000.0
    py = [r for r in js if r["python"]]
    heavy = max(py, key=lambda r: r["run_ms"]) if py else None
    cover = []
    for s in spans:
        iv = sorted((r["submitted"], r["completed"]) for r in js if s["start"] <= r["submitted"] <= s["end"])
        covered, end = 0.0, float("-inf")
        for a, b in iv:
            if b > end:
                covered += b - max(a, end)
                end = b
        cover.append(covered)
    by_layer = {}
    for r in stages:
        by_layer.setdefault(r.get("layer"), []).append(r)
    job_s = statistics.median(walls)
    return {
        "spark.executor_run_s": run_s / reps,
        "spark.executor_cpu_s": sum(r["cpu_ns"] for r in js) / 1e9 / reps,
        "spark.shuffle_write_mb": sum(r["shuffle_write_b"] for r in js) / 2**20 / reps,
        "spark.spill_mb": sum(r["spill_b"] for r in js) / 2**20 / reps,
        "spark.jobs": sum(1 for j in jobs if in_job(j["submitted"])) / reps,
        "spark.stages": len(js) / reps,
        "spark.idle_core_share": 1.0 - run_s / (sum(s["end"] - s["start"] for s in spans) * cores),
        "pipeline.ocr_task_max_over_median": (
            heavy["task_max_ms"] / heavy["task_median_ms"] if heavy and heavy["task_median_ms"] else 0.0
        ),
        "pipeline.spread_shuffle_mb": sum(r["shuffle_write_b"] for r in by_layer.get("pipeline.spread", [])) / 2**20,
        "sources.input_mb": sum(r["input_b"] for r in by_layer.get("sources.scan", [])) / 2**20,
        "trace.job_s": job_s,
        "trace.unaccounted_s": job_s - statistics.median(cover),
    }


# -- UDF profiler -------------------------------------------------------------


def profile_split(spark, dump_dir: str, stage_fn: str, inner_fn: str) -> tuple[float, float]:
    """(cumulative s in ``stage_fn``, cumulative s in ``inner_fn``) summed
    over every Python UDF profile Spark collected (udf profiler = perf)."""
    import pstats
    import shutil

    shutil.rmtree(dump_dir, ignore_errors=True)
    spark.profile.dump(dump_dir)
    outer = inner = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        stats = pstats.Stats(path).stats
        for (_file, _line, fn), (_cc, _nc, _tt, ct, _callers) in stats.items():
            if fn == stage_fn:
                outer += ct
            elif fn == inner_fn:
                inner += ct
    spark.profile.clear()
    return outer, inner


# -- memory -------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over ``root`` and its descendants:
    the Spark driver, the JVM and the Python worker daemon with its workers."""
    todo, total_kb = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            todo += _children(pid)
        except OSError:
            continue
    return total_kb / 1024.0
