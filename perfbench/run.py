#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload flagship_extract --seed 1 --seconds 10 --trace 0

Run it from the repository root. Set-up builds the seeded inputs and the
reference outputs, then the workload's job runs back to back (a closed
loop, one job at a time, at local[nproc]) for ``--seconds``, and the
outputs are checked. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under ``--trace 0`` and the per-layer metrics
under ``--trace 1``. The traced run enables Spark's event log and the
Python UDF profiler, records spans around every layer call the benchmark
makes, and writes them with the event-log stage rows to
``.perfbench_work/trace-<workload>-s<seed>.json``. Workload rationale and
the layer -> end-to-end map are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import tracing
import workloads
from workloads import FUNNEL_STAGES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3  # input staging runs this often per run; setup_s takes the median
DRIVER_MEM = "2g"

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s"}

PER_LAYER = {
    "sources.scan_s": "s", "sources.input_mb": "MB", "sources.mask_broadcast_s": "s",
    "pipeline.spread_s": "s", "pipeline.spread_shuffle_mb": "MB", "pipeline.classify_s": "s",
    "pipeline.reassemble_s": "s", "pipeline.ocr_stage_s": "s", "pipeline.ocr_conv_share": "ratio",
    "pipeline.ocr_task_max_over_median": "ratio",
    "raw_image.us_per_image": "us", "raw_image.decode_us": "us", "raw_image.blocks_us": "us",
    "semantics.order_normalize_us": "us",
    "spark.idle_core_share": "ratio", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.jobs": "count",
    "spark.stages": "count",
    "checkpointed.wave_s": "s", "checkpointed.overhead_s": "s", "checkpointed.jobs_per_wave": "count",
    "checkpointed.resume_s": "s", "checkpointed.reprocessed_docs": "count",
    "sink.commit_s": "s", "sink.read_s": "s", "sink.bytes_written_mb": "MB",
    "sink.files_written": "count", "sink.write_amp": "ratio",
    **{f"funnel.{s}_s": "s" for s in FUNNEL_STAGES},
    **{f"funnel.{s}_rows_out": "count" for s in FUNNEL_STAGES},
    "assembly.select_s": "s", "assembly.pack_s": "s",
    "dedup_fuzzy.candidate_pairs": "count", "dedup_fuzzy.pair_yield": "ratio",
    "check.failed_doc_share": "ratio", "scaling.scaling_eff": "ratio", "memory.peak_rss_mb": "MB",
    "trace.job_s": "s", "trace.unaccounted_s": "s", "trace.overhead_share": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--cores", type=int, default=None, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def pin_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # the previous run's package zips
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None


def session_conf(event_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def measure(w, seconds: float, tracer) -> list[float]:
    """Run the workload's job back to back until ``seconds`` have passed
    (at least once); wall seconds per job."""
    walls: list[float] = []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        with tracer.span("job"):
            walls.append(w.job())
    return walls


def scaling_child(args) -> float:
    """docs/s of the same workload and seed at local[1], in its own JVM,
    from one warm job (a longer child run would not fit the run's time)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "1", "--trace", "0",
           "--size", args.size, "--cores", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=170, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["docs_per_s"]["value"]


def broken_probes(w, metrics: dict[str, float]) -> list[str]:
    """Layers the workload exercises that read 0, and the faults its
    probes reported. A probe that can no longer see its layer (a renamed
    function, a moved call site) reads 0 rather than raising, so a traced
    run with any of these is not correct."""
    return [n for n in w.exercises if not metrics.get(n)] + w.probe_faults


def main(argv=None) -> int:
    args = parse_args(argv)
    pin_environment()
    sys.path.insert(0, ROOT)
    try:
        from xhs_ocr_spark.session import get_spark
        from xhs_ocr_spark.sources.mask_library import broadcast_mask_library
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = args.cores or os.cpu_count()
    traced = bool(args.trace)
    tracer = tracing.Tracer(enabled=traced)
    event_dir = None
    if traced:
        event_dir = os.path.join(WORK, f"eventlog-{tracer.run_id}")
        os.makedirs(event_dir)

    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                          extra_conf=session_conf(event_dir))
    with tracer.span("sources.mask_broadcast"):
        tb = time.perf_counter()
        broadcast_mask_library(spark)
        mask_broadcast_s = time.perf_counter() - tb
    session_s = time.perf_counter() - t0
    w = workloads.WORKLOADS[args.workload](spark, WORK, args.seed, args.size, tracer)
    staging = []
    # only untraced runs report setup_s; the traced run and the scaling
    # child (--cores) stage once
    for _ in range(SETUP_REPEATS if not traced and args.cores is None else 1):
        with tracer.span("setup.inputs"):
            t = time.perf_counter()
            w.stage_inputs()
            staging.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tracer.span("setup.warm_up"):
        w.warm_up()
    setup_s = session_s + statistics.median(staging) + time.perf_counter() - t

    log(f"session {session_s:.2f}s, staging {[round(x, 2) for x in staging]}, "
        f"setup {setup_s:.2f}s")
    metrics: dict[str, float] = {}
    if not traced:
        walls = measure(w, args.seconds, tracer)
        metrics["docs_per_s"] = w.n_docs / statistics.median(walls)
        metrics["setup_s"] = setup_s
        attempted, failed = w.check()
    else:
        # first half untraced, second half traced: the difference is the
        # tracing overhead (the event log is on for both halves)
        tracer.enabled = False
        w.job()  # both halves measure warm jobs
        walls_u = measure(w, args.seconds / 2, tracer)
        tracer.enabled = True
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        walls = measure(w, args.seconds / 2, tracer)
        ocr_s, engine_s = tracing.profile_split(
            spark, os.path.join(WORK, "udf-profile"), "ocr_routed", "extract_batch")
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        attempted, failed = w.check()
        metrics.update(workloads.extraction_layers(w))
        metrics.update(workloads.raw_image_layers())
        metrics.update(w.layers())
        for a, f in w.probe_checks:
            attempted, failed = attempted + a, failed + f
        metrics.update({
            "memory.peak_rss_mb": tracing.tree_peak_rss_mb(),
            "sources.mask_broadcast_s": mask_broadcast_s,
            "pipeline.ocr_stage_s": ocr_s / len(walls),
            # 0 when the profiler missed either function: the probe is broken
            "pipeline.ocr_conv_share": 1.0 - engine_s / ocr_s if ocr_s and engine_s else 0.0,
            "check.failed_doc_share": failed / attempted,
            "trace.overhead_share": statistics.median(walls) / statistics.median(walls_u) - 1.0,
        })
        docs_per_s_n = w.n_docs / statistics.median(walls_u)
    log(f"jobs {[round(x, 2) for x in walls]}, checked {attempted}, failed {failed}")
    stop_spark(spark)

    if traced:
        stages, jobs = tracing.read_event_log(event_dir)
        tracing.attribute(stages, tracer)
        metrics.update(tracing.spark_layers(tracer, stages, jobs, cores, walls))
        if "checkpointed.waves" in metrics:
            legs = [s for s in tracer.spans if s["name"].startswith("checkpointed.")]
            n_jobs = sum(1 for j in jobs if any(s["start"] <= j["submitted"] <= s["end"] for s in legs))
            metrics["checkpointed.jobs_per_wave"] = n_jobs / metrics.pop("checkpointed.waves")
        if args.workload == "flagship_extract":
            metrics["scaling.scaling_eff"] = docs_per_s_n / (cores * scaling_child(args))
        with open(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "self_s": tracer.self_times(), "stages": stages,
                       "jobs": jobs, "metrics": metrics}, f)
        shutil.rmtree(event_dir, ignore_errors=True)
        names = PER_LAYER
        broken = broken_probes(w, metrics)
        if broken:
            log(f"broken probes: {broken}")
    else:
        names = END_TO_END
        broken = []
    out = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit} for name, unit in names.items()}
    correct = failed == 0 and not broken
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
