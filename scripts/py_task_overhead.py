#!/usr/bin/env python
"""Per-task Python-worker overhead: run 32 no-op Python tasks at
local[nproc] and print one JSON line with the median gap between two
tasks on the same (reused) worker and the Python-worker CPU per task,
read from /proc for every process below the JVM.

    python scripts/py_task_overhead.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import xhs_ocr_spark  # noqa: E402
from xhs_ocr_spark.session import get_spark  # noqa: E402

TASKS = 32


def noop(_):
    start = time.time()
    # naming the package makes the worker import it when this function
    # unpickles, as it does for every repo UDF
    yield os.getpid(), start, time.time(), xhs_ocr_spark.__name__


def tree_cpu_s(root: int) -> float:
    """utime+stime (own and reaped children) summed over root's descendants."""
    kids, total = {}, 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append((int(pid), sum(map(int, fields[11:15]))))
    todo = [root]
    while todo:
        for pid, ticks in kids.get(todo.pop(), []):
            total += ticks
            todo.append(pid)
    return total / os.sysconf("SC_CLK_TCK")


def main() -> None:
    nproc = os.cpu_count()
    spark = get_spark("py-task-overhead", cores=nproc)
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    run = lambda: sc.parallelize(range(TASKS), TASKS).mapPartitions(noop).collect()  # noqa: E731
    run()  # spawn the workers and import the package on each
    cpu0, t0 = tree_cpu_s(jvm), time.perf_counter()
    spans = run()
    wall, cpu = time.perf_counter() - t0, tree_cpu_s(jvm) - cpu0
    by_worker = {}
    for pid, start, end, _ in spans:
        by_worker.setdefault(pid, []).append((start, end))
    gaps = []
    for mine in map(sorted, by_worker.values()):
        gaps += [b[0] - a[1] for a, b in zip(mine, mine[1:])]
    print(json.dumps({
        "python": sys.version.split()[0], "cores": nproc, "tasks": TASKS,
        "workers": len(by_worker), "job_s": round(wall, 3),
        "median_gap_s": round(statistics.median(gaps), 4) if gaps else None,
        "worker_cpu_s_per_task": round(cpu / TASKS, 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
