"""The benchmark's workloads and traced probes.

Each workload is one closed-loop batch job run back to back by a single
Spark driver process. ``stage_inputs`` builds the seeded inputs and the
reference the check compares against; ``job`` runs the program once and
returns its wall seconds; ``check`` counts documents that are missing or
differ from the reference; ``layers`` runs the workload's traced probes.

The program is called, never changed. Per-layer times come from spans the
benchmark records around its own calls (see tracing.py); the extraction
probes call the pipeline's own ``_spread_flat`` and ``_extracted`` so they
time exactly the steps ``extract_spans`` runs.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import sys
import time

import numpy as np
import pyspark.sql.functions as F

import inputs
import tracing as tr

HERE = os.path.dirname(os.path.abspath(__file__))

# sizes: the full run, and the tiny one the self-test uses
SIZES = {
    "full": {"flagship_base": 500, "flagship_replicas": 12, "flagship_sample": 400,
             "skewed_docs": 1000, "funnel_docs": 5000},
    "tiny": {"flagship_base": 40, "flagship_replicas": 4, "flagship_sample": 40,
             "skewed_docs": 200, "funnel_docs": 400},
}
STAGE_FILES = 16  # parquet files per staged input
# one wave before the crash, then the resume splits the 8 buckets left into
# 2 waves of 4: every commit after the first is copy-on-write (a wave that
# touched half the buckets or more would switch the sink to merge-on-read)
SKEW_BUCKETS, SKEW_WAVES, SKEW_CRASH_AFTER = 16, 2, 1
FUNNEL_VARIANTS = 16  # seed % 16 picks the 90% subset; one golden each


def noop(df) -> None:
    """Consume every row without Catalyst pruning any of the plan."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) stored under ``path``, each inode counted once —
    a hard-linked carry-forward file adds nothing."""
    seen: dict[int, int] = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            seen[st.st_ino] = st.st_size
    return sum(seen.values()), len(seen)


def spans_of(rows) -> dict[str, list[tuple]]:
    """Per-document span sequences from flat (doc_id, kind, text,
    media_ref, order) rows."""
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r["doc_id"], []).append((r["kind"], r["text"], r["media_ref"], r["order"]))
    return {d: sorted(v, key=lambda s: s[3]) for d, v in out.items()}


def compare(expected: dict[str, list[tuple]], got: dict[str, list[tuple]]) -> int:
    """Documents whose span sequence differs from the reference. A doc
    whose reference is empty must be absent from the output."""
    return sum(1 for d, spans in expected.items() if got.get(d, []) != spans)


def rows_md5(rows) -> str:
    """md5 of the sorted row reprs (the query_output_hash method)."""
    keyed = sorted(tuple(repr(v) for v in r) for r in rows)
    h = hashlib.md5()
    for r in keyed:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


# layers every workload's traced run measures; a probe that reads 0 on a
# layer its workload exercises has broken, and fails the run
EXTRACTION_LAYERS = (
    "sources.scan_s", "sources.input_mb", "sources.mask_broadcast_s",
    "pipeline.spread_s", "pipeline.spread_shuffle_mb", "pipeline.classify_s",
    "pipeline.reassemble_s", "pipeline.ocr_stage_s", "pipeline.ocr_conv_share",
    "pipeline.ocr_task_max_over_median",
    "raw_image.us_per_image", "raw_image.decode_us", "raw_image.blocks_us",
    "semantics.order_normalize_us",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_write_mb",
    "spark.jobs", "spark.stages", "memory.peak_rss_mb", "trace.job_s",
)
FUNNEL_STAGES = (  # corpus_pipeline.STAGES
    "input", "quality_gate", "repetition_gate", "exact_dedup", "paragraph_dedup",
    "neardup_dedup", "decontam", "stratified_sample",
)
FUNNEL_MARKS = ["input", "exact_dedup", "paragraph_dedup", "neardup_dedup", "decontam", "assembly.select"]


class Workload:
    name = ""
    n_docs = 0
    exercises: tuple[str, ...] = EXTRACTION_LAYERS

    def __init__(self, spark, work: str, seed: int, size: str, tracer: tr.Tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.size_name, self.size = size, SIZES[size]
        self.probe_checks: list[tuple[int, int]] = []  # (attempted, failed) of traced probes
        self.probe_faults: list[str] = []  # traced probes that could not observe their layer

    def stage_inputs(self) -> None:
        raise NotImplementedError

    def job(self) -> float:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        raise NotImplementedError

    def warm_up(self) -> None:
        pass

    def scan_frame(self):
        """The workload's input as read from its source."""
        return self.docs

    def extraction_input(self):
        """The (doc_id, spans) frame this workload feeds to extraction."""
        return self.docs

    def layers(self) -> dict[str, float]:
        """Workload-specific traced probes; extraction probes run for all."""
        return {}


# -- flagship_extract ---------------------------------------------------------


class FlagshipExtract(Workload):
    """OCR-bound, read-only, uniform documents: a seed-chosen sample of the
    sf0.1 documents table, replicated with seed-salted doc_ids and staged
    to multi-file parquet with raw RGBA bytes on every media span; each
    job runs extract_spans."""

    name = "flagship_extract"
    exercises = EXTRACTION_LAYERS + ("scaling.scaling_eff",)

    def stage_inputs(self) -> None:
        from xhs_ocr_spark.extraction.datagen import attach_media_bytes, corpus_from_documents
        from xhs_ocr_spark.sources.docs_table import read_docs

        base, reps = self.size["flagship_base"], self.size["flagship_replicas"]
        self.n_docs = base * reps
        d = inputs.input_dir(os.path.join(self.work, "inputs"), self.name, self.seed)
        table = inputs.sample_rows(inputs.documents(), base, self.seed)
        inputs.write_documents(table, os.path.join(d, "sf"))
        raw = self.spark.read.parquet(os.path.join(d, "sf", "documents.parquet"))
        # images render once per base doc; replicas share their payloads and
        # differ in doc_id only, so every replica span is OCR'd on its own
        corpus = attach_media_bytes(corpus_from_documents(raw))
        salts = self.spark.range(reps).select(
            F.concat(F.lit(f"s{self.seed}r"), F.col("id").cast("string")).alias("salt")
        )
        staged = os.path.join(d, "staged")
        (
            corpus.crossJoin(salts)
            .select(F.concat_ws("#", "doc_id", "salt").alias("doc_id"), "spans")
            .repartition(STAGE_FILES)
            .write.mode("overwrite")
            .parquet(staged)
        )
        self.docs = read_docs(self.spark, staged)
        rng = np.random.default_rng(self.seed)
        ids = [f"{b}#s{self.seed}r{r}" for b in table["doc_id"].to_pylist() for r in range(reps)]
        self.sample = sorted(ids[i] for i in rng.choice(len(ids), self.size["flagship_sample"], replace=False))
        self.expected = self._oracle(self.sample)

    def _oracle(self, sample: list[str]) -> dict[str, list[tuple]]:
        from xhs_ocr_spark.extraction import oracle

        rows = self.docs.where(F.col("doc_id").isin(sample)).collect()
        got = oracle.extract_corpus(
            [(r["doc_id"], [s.asDict() for s in r["spans"]]) for r in rows]
        )
        return {d: got.get(d, []) for d in sample}

    def warm_up(self) -> None:
        self.job()

    def job(self) -> float:
        from xhs_ocr_spark.extraction.pipeline import extract_spans

        t0 = time.perf_counter()
        noop(extract_spans(self.docs))
        return time.perf_counter() - t0

    def sample_output(self) -> dict[str, list[tuple]]:
        """The program's span sequences for the sample docs, from a pass
        run after the timed jobs in the same session. The filter sits
        above the Python stage, so the pass runs the whole pipeline over
        every document."""
        from xhs_ocr_spark.extraction.pipeline import extract_spans

        rows = extract_spans(self.docs).where(F.col("doc_id").isin(self.sample)).collect()
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
            for r in rows
        }

    def check(self) -> tuple[int, int]:
        """Span-sequence equality on the seeded sample."""
        return len(self.expected), compare(self.expected, self.sample_output())


# -- the resume path (a traced-run probe) ----------------------------------------


class TimedSink:
    """Passes every call through to the span sink, recording a span around
    each ``insert_ignore`` commit."""

    def __init__(self, sink, tracer: tr.Tracer) -> None:
        self._sink, self._tracer = sink, tracer

    def __getattr__(self, name):
        return getattr(self._sink, name)

    def insert_ignore(self, updates, keys=None):
        with self._tracer.span("sink.commit"):
            return self._sink.insert_ignore(updates, keys)


class ResumeProbe:
    """The resume path as a traced-run probe: generated documents from a
    seed-chosen index (every 53rd one a 48-span media-heavy doc) through
    CheckpointedExtraction into a BucketedMergeTable sink, crashed after
    its first wave and resumed to completion; the result is read back from
    the sink and checked against the oracle on every document."""

    def __init__(self, w: Workload) -> None:
        from xhs_ocr_spark.extraction import datagen, oracle
        from xhs_ocr_spark.sources.docs_table import read_docs

        self.spark, self.tracer = w.spark, w.tracer
        n = w.size["skewed_docs"]
        start = int(np.random.default_rng(w.seed).integers(0, 1_000_000))
        with self.tracer.span("resume_probe.inputs"):
            rows = [datagen.corpus_rows(i) for i in range(start, start + n)]
            ref = oracle.extract_corpus(rows)
            self.expected = {d: ref[d] for d, _ in rows}
            d = inputs.input_dir(os.path.join(w.work, "inputs"), "resume_probe", w.seed)
            staged = os.path.join(d, "staged")
            self.spark.createDataFrame(rows, datagen.DOCS_SCHEMA).repartition(STAGE_FILES).write.parquet(staged)
        self.docs = read_docs(self.spark, staged)
        self.run_dir = os.path.join(d, "run")

    def _leg(self, **kw):
        from xhs_ocr_spark.extraction.checkpointed import CheckpointedExtraction, make_span_sink

        sink = TimedSink(make_span_sink(self.spark, os.path.join(self.run_dir, "sink"), SKEW_BUCKETS), self.tracer)
        ce = CheckpointedExtraction(self.spark, self.run_dir, SKEW_BUCKETS, SKEW_WAVES, span_sink=sink)
        return ce, ce.run(self.docs, **kw)

    def run(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("checkpointed.crash_leg"):
            try:
                self._leg(fail_after_waves=SKEW_CRASH_AFTER)
            except RuntimeError as e:
                if "simulated crash" not in str(e):
                    raise
            else:
                raise RuntimeError("the crash leg did not stop after its waves")
        t1 = time.perf_counter()
        with self.tracer.span("checkpointed.resume_leg"):
            self.ce, result = self._leg()
            with self.tracer.span("sink.read"):
                noop(result)
        self.legs_s, self.resume_s = time.perf_counter() - t0, time.perf_counter() - t1
        self.result = result

    def reprocessed_docs(self) -> int:
        """Docs whose bucket was completed by both legs."""
        by_run: dict[str, dict[int, int]] = {}
        for r in self.ce.lineage().collect():
            by_run.setdefault(r["run_id"], {})[r["bucket"]] = r["docs_in"]
        legs = list(by_run.values())
        if len(legs) != 2:
            raise RuntimeError(f"expected lineage from 2 legs, got {len(legs)}")
        return sum(legs[1][b] for b in set(legs[0]) & set(legs[1]))

    def check(self) -> tuple[int, int]:
        got = spans_of(self.result.collect())
        return len(self.expected), compare(self.expected, got) + self.reprocessed_docs()

    def layers(self) -> dict[str, float]:
        waves = {(r["run_id"], r["wall_ms"]) for r in self.ce.lineage().collect()}
        wave_s = [ms / 1000.0 for _, ms in waves]
        run_bytes, _ = dir_bytes(self.run_dir)
        sink = self.ce.span_sink
        table_bytes, _ = dir_bytes(sink._snap_path(sink._latest_id()))
        sink_bytes, sink_files = dir_bytes(os.path.join(self.run_dir, "sink"))
        return {
            "checkpointed.wave_s": statistics.median(wave_s),
            "checkpointed.overhead_s": self.legs_s - sum(wave_s),
            "checkpointed.waves": float(len(waves)),
            "checkpointed.resume_s": self.resume_s,
            "checkpointed.reprocessed_docs": float(self.reprocessed_docs()),
            "sink.commit_s": self.tracer.total("sink.commit"),
            "sink.read_s": self.tracer.total("sink.read"),
            "sink.bytes_written_mb": sink_bytes / 2**20,
            "sink.files_written": float(sink_files),
            "sink.write_amp": run_bytes / table_bytes,
        }


# -- corpus_funnel ------------------------------------------------------------


class CorpusFunnel(Workload):
    """JVM-shuffle-bound: q61 (extraction, gates, exact/paragraph/LSH
    near-dup dedup, components, decontam, budget selection, packing) over
    a seed-chosen ~90% subset of the sf0.1 documents table (of its first
    rows at the self-test's size)."""

    name = "corpus_funnel"
    exercises = EXTRACTION_LAYERS + (
        *(f"funnel.{s}_{m}" for s in FUNNEL_STAGES for m in ("s", "rows_out")),
        "assembly.select_s", "assembly.pack_s",
        "dedup_fuzzy.candidate_pairs", "dedup_fuzzy.pair_yield",
        "checkpointed.wave_s", "checkpointed.overhead_s", "checkpointed.jobs_per_wave",
        "checkpointed.resume_s",
        "sink.commit_s", "sink.read_s", "sink.bytes_written_mb", "sink.files_written",
        "sink.write_amp",
    )

    def stage_inputs(self) -> None:
        n = self.size["funnel_docs"]
        self.variant = self.seed % FUNNEL_VARIANTS
        table = inputs.documents().slice(0, n)
        table = table.filter(inputs.subset_mask(n, self.variant))
        self.n_docs = table.num_rows
        d = inputs.input_dir(os.path.join(self.work, "inputs"), self.name, self.seed)
        self.sf_dir = os.path.join(d, "sf")
        inputs.write_documents(table, self.sf_dir)
        with open(os.path.join(HERE, "goldens.json")) as f:
            goldens = json.load(f)
        self.golden = goldens.get(f"{self.size_name}/{self.variant}")
        self.rows = None

    def scan_frame(self):
        from xhs_ocr_spark.sources.docs_table import read_docs

        return read_docs(self.spark, os.path.join(self.sf_dir, "documents.parquet"))

    def extraction_input(self):
        """The interleaved corpus q61 derives, materialised so the probes
        time extraction, not payload rendering."""
        from xhs_ocr_spark.extraction.datagen import attach_media_bytes, corpus_from_documents

        return attach_media_bytes(corpus_from_documents(self.scan_frame())).localCheckpoint()

    def job(self) -> float:
        from xhs_ocr_spark import queries as Q

        # the output is a few hundred rows: collect() consumes all of it
        # (nothing pruned) and hands it to the check without a second pass
        spies = funnel_spies(self.spark) if self.tracer.enabled else contextlib.nullcontext()
        t0 = time.perf_counter()
        with spies as rec:
            self.rows = Q.q_corpus_assembly(self.spark, self.sf_dir).collect()
        self.spied = rec
        return time.perf_counter() - t0

    def result_key(self) -> dict:
        return {"rows": len(self.rows), "md5": rows_md5(self.rows)}

    def check(self) -> tuple[int, int]:
        """Row count plus md5 of the sorted rows against the golden; a
        mismatch fails every output row."""
        if self.golden is None:
            raise RuntimeError(f"no golden recorded for variant {self.variant}")
        ok = self.result_key() == self.golden
        return self.golden["rows"], 0 if ok else self.golden["rows"]

    def layers(self) -> dict[str, float]:
        marks = [name for name, _ in self.spied["marks"]]
        if marks != FUNNEL_MARKS:
            self.probe_faults.append(f"funnel stage marks {marks}, expected {FUNNEL_MARKS}")
        out = funnel_layers(self.spied, self.tracer)
        probe = ResumeProbe(self)
        probe.run()
        self.probe_checks.append(probe.check())
        return {**out, **probe.layers()}


@contextlib.contextmanager
def funnel_spies(spark):
    """Observe q61's stage boundaries from outside while it runs.

    corpus_stages materialises its post-shuffle stages with
    ``localCheckpoint``; the spy wraps that method and records when each
    stage's checkpoint returns, so a stage's time is the interval since
    the previous one (the gates run fused into exact_dedup's interval,
    stratified_sample into assembly.select's). The stage frames and the
    LSH candidate pairs are captured the same way, to be counted after
    the job."""
    from xhs_ocr_spark.operators import dedup_fuzzy
    from xhs_ocr_spark.plans import corpus_pipeline as CP

    DataFrame = type(spark.range(0))  # the concrete class, not pyspark.sql.DataFrame
    rec: dict = {"marks": [], "start": time.time()}
    orig = DataFrame.localCheckpoint, CP.corpus_stages, dedup_fuzzy.lsh_candidate_pairs
    staged_names = ["exact_dedup", "paragraph_dedup", "neardup_dedup", "decontam"]

    def ckpt(self, *a, **kw):
        caller = sys._getframe(1).f_code.co_name
        out = orig[0](self, *a, **kw)
        name = {"corpus_stages": "input", "corpus_assembly": "assembly.select"}.get(caller)
        if caller == "stage":
            n_staged = sum(1 for m, _ in rec["marks"] if m in staged_names)
            name = staged_names[n_staged] if n_staged < len(staged_names) else "stage"
        if name is not None:
            rec["marks"].append((name, time.time()))
        return out

    def stages(*a, **kw):
        rec["stages"] = orig[1](*a, **kw)
        return rec["stages"]

    def pairs(*a, **kw):
        rec["pairs"] = orig[2](*a, **kw)
        return rec["pairs"]

    DataFrame.localCheckpoint, CP.corpus_stages, dedup_fuzzy.lsh_candidate_pairs = ckpt, stages, pairs
    try:
        yield rec
    finally:
        DataFrame.localCheckpoint, CP.corpus_stages, dedup_fuzzy.lsh_candidate_pairs = orig
        rec["end"] = time.time()


def funnel_layers(rec: dict, tracer: tr.Tracer) -> dict[str, float]:
    """Per-stage times and rows out from one spied q61 job. The stages
    that are not checkpointed also get their own ``noop`` over their
    (checkpointed) parent."""
    from xhs_ocr_spark.plans import corpus_pipeline as CP

    out: dict[str, float] = {}
    prev = rec["start"]
    for name, t in rec["marks"]:
        key = name if name.startswith("assembly.") else f"funnel.{name}"
        out[f"{key}_s"] = t - prev
        prev = t
    out["assembly.pack_s"] = rec["end"] - prev
    frames = rec["stages"]
    for name in CP.STAGES:
        out[f"funnel.{name}_rows_out"] = float(frames[name].count())
        if f"funnel.{name}_s" not in out:
            with tracer.span(f"funnel.{name}"):
                t = time.perf_counter()
                noop(frames[name])
                out[f"funnel.{name}_s"] = time.perf_counter() - t
    n_pairs = rec["pairs"].count()
    removed = out["funnel.paragraph_dedup_rows_out"] - out["funnel.neardup_dedup_rows_out"]
    out["dedup_fuzzy.candidate_pairs"] = float(n_pairs)
    out["dedup_fuzzy.pair_yield"] = removed / n_pairs if n_pairs else 0.0
    return out


def extraction_layers(w: Workload) -> dict[str, float]:
    """Extraction layers timed one call at a time over the workload's own
    input: the source scan, the span spread (explode + the (doc_id,
    offset) exchange), the text classifier over materialised text rows,
    and reassembly over a materialised extracted frame."""
    from xhs_ocr_spark.extraction import pipeline as P

    out: dict[str, float] = {}

    def timed(name: str, df) -> None:
        with w.tracer.span(name):
            t = time.perf_counter()
            noop(df)
            out[name + "_s"] = time.perf_counter() - t

    timed("sources.scan", w.scan_frame())
    docs = w.extraction_input()
    timed("pipeline.spread", P._spread_flat(docs, None))
    text = P.explode_spans(docs).where(F.col("kind") == "text").select("text").localCheckpoint()
    timed("pipeline.classify", text.select(P.classify_text_expr(F.col("text"))))
    flat = P._extracted(docs, None).where(F.col("text").isNotNull()).localCheckpoint()
    timed("pipeline.reassemble", P.reassemble(flat))
    return out


def raw_image_layers(n_images: int = 400, repeats: int = 5) -> dict[str, float]:
    """Single-thread microseconds per image over a fixed payload sample
    (independent of the seed), split into the steps of extract_from_bytes:
    decode (header + hardware), block decode, reading order + text
    normalisation. Medians over ``repeats`` passes."""
    from xhs_ocr_spark.extraction import raw_image as RI
    from xhs_ocr_spark.extraction import semantics as S

    masks = RI.masks_by_key(RI.mask_library())
    payloads = [RI.render_media_image(f"mem://perfbench/{i}") for i in range(n_images)]
    imgs = [RI.decode_image(p) for p in payloads]
    heads = [RI.read_header(img) for img in imgs]
    blocks = [RI.decode_blocks(img, n) for img, (_, _, n) in zip(imgs, heads)]

    def order_normalize():
        for bl, (tag, app, _) in zip(blocks, heads):
            for b in S.reading_order(bl):
                S.normalize_ocr_text(str(b["text"]), tag, app)

    steps = {
        "raw_image.us_per_image": lambda: [RI.extract_from_bytes(p, masks) for p in payloads],
        "raw_image.decode_us": lambda: [
            (RI.read_header(img), RI.read_hw(img)) for img in map(RI.decode_image, payloads)
        ],
        "raw_image.blocks_us": lambda: [
            RI.decode_blocks(img, n) for img, (_, _, n) in zip(imgs, heads)
        ],
        "semantics.order_normalize_us": order_normalize,
    }
    out = {}
    for name, fn in steps.items():
        runs = []
        for _ in range(repeats):
            t = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t)
        out[name] = statistics.median(runs) / n_images * 1e6
    return out


WORKLOADS = {c.name: c for c in (FlagshipExtract, CorpusFunnel)}
