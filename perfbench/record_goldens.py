#!/usr/bin/env python3
"""Record the corpus_funnel goldens: q61's row count and sorted-row md5
for every input variant, at both sizes, into perfbench/goldens.json.

    python3 perfbench/record_goldens.py

Before recording, q61's funnel and assembly tail run in Spark over the
committed sf0.01 flagship fixture and must match the DuckDB twin from
``oracle_sql()`` on the same fixture; the goldens are written only if
they do. Re-record only when a change is meant to alter q61's output.
"""

from __future__ import annotations

import json
import os
import sys

import run

GOLDENS = os.path.join(run.HERE, "goldens.json")


def duckdb_cross_check(spark) -> tuple[int, str]:
    """(rows, md5) of q61 over the fixture, equal in Spark and DuckDB."""
    import duckdb

    from xhs_ocr_spark import queries as Q
    from xhs_ocr_spark.plans.corpus_pipeline import corpus_assembly, doc_text_from_spans

    import workloads

    fixture = spark.read.parquet(Q._flagship_fixture_path())
    rows = corpus_assembly(doc_text_from_spans(fixture)).collect()
    got = (len(rows), workloads.rows_md5(rows))
    expected_rows = duckdb.connect().execute(Q.oracle_sql()["q61_corpus_assembly"]).fetchall()
    expected = (len(expected_rows), workloads.rows_md5(expected_rows))
    if got != expected:
        raise SystemExit(f"q61 cross-check failed: spark {got} vs duckdb {expected}")
    return got


def main() -> int:
    run.pin_environment()
    sys.path.insert(0, run.ROOT)
    from xhs_ocr_spark.session import get_spark

    import tracing
    import workloads

    spark = get_spark("perfbench-goldens", cores=os.cpu_count(), extra_conf=run.session_conf(None))
    rows, md5 = duckdb_cross_check(spark)
    run.log(f"q61 fixture cross-check: {rows} rows, md5 {md5}, spark == duckdb")
    goldens = {}
    for size in ("tiny", "full"):
        for variant in range(workloads.FUNNEL_VARIANTS):
            w = workloads.CorpusFunnel(spark, run.WORK, variant, size, tracing.Tracer(False))
            w.stage_inputs()
            w.job()
            goldens[f"{size}/{variant}"] = w.result_key()
            run.log(f"{size}/{variant}: {goldens[f'{size}/{variant}']}")
    run.stop_spark(spark)
    with open(GOLDENS, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
