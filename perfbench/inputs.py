"""Seeded benchmark inputs, staged in set-up and keyed against staleness.

Every input is drawn from ``data/documents.parquet``, a byte-identical copy
of the sf0.1 ``documents`` table (5,000 docs: doc_id, text, lang, source,
n_chars), chosen by the workload seed. The staging directory is named after
the seed and an md5 over the table and the source of every module that
shapes a staged input (this file plus the program's ``datagen`` and
``raw_image``), and set-up always rebuilds it, so a run can never measure
a corpus left over from an older generator.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def generator_hash() -> str:
    """md5 over the documents table and the source of every module that
    shapes a staged input."""
    from xhs_ocr_spark.extraction import datagen, raw_image

    h = hashlib.md5()
    for path in (DOCUMENTS, __file__, datagen.__file__, raw_image.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def input_dir(root: str, workload: str, seed: int) -> str:
    """A fresh, empty staging directory keyed by workload, seed and
    generator hash; older stagings of the workload are removed."""
    os.makedirs(root, exist_ok=True)
    name = f"{workload}-s{seed}-g{generator_hash()}"
    for old in os.listdir(root):
        if old.startswith(workload + "-"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    path = os.path.join(root, name)
    os.makedirs(path)
    return path


def documents() -> pa.Table:
    """The sf0.1 ``documents`` table, in doc_id order."""
    return pq.read_table(DOCUMENTS)


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """Write ``table`` as ``<sf_dir>/documents.parquet``, the layout the
    program's query registry reads."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


def sample_rows(table: pa.Table, n: int, seed: int) -> pa.Table:
    """``n`` rows chosen by ``seed``, kept in table order."""
    rng = np.random.default_rng(seed)
    return table.take(np.sort(rng.choice(table.num_rows, n, replace=False)))


def subset_mask(n_docs: int, variant: int) -> np.ndarray:
    """A deterministic ~90% row subset, one of a fixed set of variants."""
    rng = np.random.default_rng(10_000 + variant)
    return rng.integers(0, 10, n_docs) < 9
