"""Self-test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench -q

Runs every workload once untraced and once traced, and asserts that every
metric prints with its unit and that each run checks clean. It also shows
that a corrupted output is caught, and that the benchmark refuses to run
without the program next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_metric_prints_with_its_unit(workload, trace):
    proc = bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["check.failed_doc_share"] == 0.0
        assert m["checkpointed.reprocessed_docs"] == 0.0
        assert [n for n in workloads.WORKLOADS[workload].exercises if not m[n]] == []


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = bench("flagship_extract", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_a_probe_that_reads_zero_fails_the_traced_run():
    class W:
        exercises = ("pipeline.ocr_stage_s", "funnel.input_s")
        probe_faults: list[str] = []

    assert run.broken_probes(W, {"pipeline.ocr_stage_s": 1.5, "funnel.input_s": 0.2}) == []
    assert run.broken_probes(W, {"pipeline.ocr_stage_s": 0.0, "funnel.input_s": 0.2}) == [
        "pipeline.ocr_stage_s"
    ]
    assert run.broken_probes(W, {"pipeline.ocr_stage_s": 1.5}) == ["funnel.input_s"]
    W.probe_faults = ["funnel stage marks ['input'], expected [...]"]
    assert run.broken_probes(W, {"pipeline.ocr_stage_s": 1.5, "funnel.input_s": 0.2}) == W.probe_faults


def test_corrupted_output_is_caught():
    expected = {"d1": [("text", "a b", "", 0), ("media", "x=1", "mem://d1/1", 1)], "d2": []}
    assert workloads.compare(expected, {"d1": list(expected["d1"])}) == 0
    perturbed = {"d1": [("text", "a c", "", 0), ("media", "x=1", "mem://d1/1", 1)]}
    assert workloads.compare(expected, perturbed) == 1
    assert workloads.compare(expected, {}) == 1  # d1 missing
    assert workloads.compare(expected, {"d1": expected["d1"], "d2": [("text", "z", "", 0)]}) == 1


def test_corrupted_span_text_fails_the_flagship_check():
    """A perturbed span text in real program output makes
    failed_doc_share > 0, and a perturbed funnel row breaks its golden."""
    run.pin_environment()
    sys.path.insert(0, ROOT)
    from xhs_ocr_spark.session import get_spark

    import tracing

    spark = get_spark("perfbench-selftest", cores=2, extra_conf=run.session_conf(None))
    try:
        w = workloads.FlagshipExtract(spark, run.WORK, 5, "tiny", tracing.Tracer(False))
        w.stage_inputs()
        w.warm_up()
        assert w.check() == (len(w.expected), 0)
        got = w.sample_output()
        doc = next(d for d, spans in got.items() if spans)
        kind, text, ref, order = got[doc][0]
        got[doc][0] = (kind, text + " corrupted", ref, order)
        w.sample_output = lambda: got
        attempted, failed = w.check()
        assert failed / attempted > 0

        f = workloads.CorpusFunnel(spark, run.WORK, 5, "tiny", tracing.Tracer(False))
        f.stage_inputs()
        f.job()
        assert f.check()[1] == 0
        row = f.rows[0].asDict()
        row["n_tokens"] += 1
        f.rows[0] = tuple(row.values())
        assert f.check()[1] > 0
    finally:
        run.stop_spark(spark)
