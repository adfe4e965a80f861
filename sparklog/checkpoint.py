"""Checkpoint/resume for the batch pipeline (north-rule stage D9).

Unit of work = one ``warc_day`` partition of the pages table (the Iceberg
``days(warc_ts)`` partition spec): each chunk's scan is PARTITION-PRUNED to
that day's files, so resuming never rescans completed days.

Protocol:
  1. planned chunks = the table's partition values; done = manifest entries.
  2. each run processes only pending chunks; after a chunk's sinks are
     written, its manifest entry (chunk key, rows_in, rows_ok,
     rows_rejected, per-partition lineage, content fingerprint) is written
     ATOMICALLY (tmp file + rename) — a crash mid-chunk leaves no entry, so
     the chunk reruns idempotently (sink writes go to per-chunk
     subdirectories, overwrite mode). The counters, the lineage and the
     fingerprint all come from one aggregation
     (``metrics.partition_metrics``, which folds ``content_fingerprint``
     per partition); the chunk fingerprint is the sum of the
     per-partition ones.
  3. resume = ``pending_chunks``: a Python list filter keeping the planned
     chunks that have no manifest entry — restart-safe.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, MANIFEST_DIR)


def _safe_key(chunk) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", str(chunk))


def done_chunks(checkpoint_dir: str) -> dict[str, dict]:
    mdir = manifest_path(checkpoint_dir)
    if not os.path.isdir(mdir):
        return {}
    out: dict[str, dict] = {}
    for fn in os.listdir(mdir):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                entry = json.load(f)
            out[str(entry["chunk"])] = entry
    return out


def write_manifest_entry(checkpoint_dir: str, entry: dict) -> None:
    """Atomic: write to a temp file in the same dir, then rename."""
    mdir = manifest_path(checkpoint_dir)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"chunk-{_safe_key(entry['chunk'])}.json")
    fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(entry, f)
    os.replace(tmp, final)


def remove_manifest_entry(checkpoint_dir: str, chunk) -> None:
    os.remove(
        os.path.join(manifest_path(checkpoint_dir),
                     f"chunk-{_safe_key(chunk)}.json")
    )


def pending_chunks(checkpoint_dir: str, planned) -> list:
    """planned: iterable of chunk keys (day strings or ints)."""
    done = done_chunks(checkpoint_dir)
    return [c for c in planned if str(c) not in done]


def content_fingerprint() -> F.Column:
    """The content fingerprint aggregate: an order-independent hash of
    parsed rows, the sum of per-row xxhash64(doc_id, parse_error) folded
    to 31 bits (keeps the ANSI-mode long sum safe for up to 2^32 rows per
    chunk). A sum, so per-partition fingerprints add up to the chunk's:
    ``metrics.partition_metrics`` evaluates it in the lineage groupBy."""
    row_hash = F.xxhash64(
        F.col("doc_id"), F.coalesce(F.col("parse_error"), F.lit(""))
    )
    return F.sum(F.pmod(row_hash, F.lit(2147483647)))
