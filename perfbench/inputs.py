"""Benchmark inputs: the sf0.1 ``documents`` table, replicated by seed.

``data/documents.parquet`` is a byte-for-byte copy of the sf0.1
``documents`` table the tests, ``bench.py`` and the jobs read
(doc_id, text, lang, source, n_chars; 5,000 rows). It is kept inside the
benchmark so a run reads nothing outside its checkout.

The replicated workloads map replica r of document d to
``doc_id' = offset + d * reps + r``, as ``bench._replicated_lines`` does.
The offset comes from the seed, so reject rows, severities and days
differ from seed to seed while the texts stay those of the table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")


def documents(n_docs: int) -> pa.Table:
    """The first n_docs rows of the documents table."""
    table = pq.read_table(DOCUMENTS)
    if n_docs > table.num_rows:
        raise ValueError(f"{DOCUMENTS} has {table.num_rows} rows, "
                         f"{n_docs} asked for")
    return table.slice(0, n_docs)


def replica_offset(seed: int) -> int:
    """A seed-chosen doc_id offset, small enough that every synthesis
    rule stays far from BIGINT overflow."""
    return int(np.random.default_rng([seed, 1]).integers(0, 10**9))


def replica_ids(n_docs: int, reps: int, offset: int) -> np.ndarray:
    """Every replica's doc_id: offset + [0, n_docs * reps)."""
    return offset + np.arange(n_docs * reps, dtype=np.int64)


def replicated(docs: pa.Table, reps: int, offset: int,
               ids: np.ndarray | None = None) -> pa.Table:
    """The replicas with the given doc_ids (by default all reps copies of
    every document), each row the text of its source document."""
    if ids is None:
        ids = replica_ids(docs.num_rows, reps, offset)
    out = docs.take((ids - offset) // reps)
    return out.set_column(0, "doc_id", pa.array(ids, pa.int64()))


def write(table: pa.Table, path: str, files: int) -> None:
    """A parquet directory of `files` files, so Spark reads it with at
    least that many partitions."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
