"""Checkpoint resume + per-partition lineage/metrics tests (D9/D10)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from sparklog import checkpoint as CK
from sparklog import metrics as M
from sparklog import synth
from sparklog.udf import parse_df

from conftest import SF_SMOKE


def test_manifest_atomic_roundtrip(tmp_path):
    ck = str(tmp_path / "ckpt")
    days = ["2016-01-10", "2016-01-11", "2016-01-12"]
    assert CK.pending_chunks(ck, days) == days
    CK.write_manifest_entry(ck, {"chunk": "2016-01-11", "rows_in": 10})
    assert CK.pending_chunks(ck, days) == ["2016-01-10", "2016-01-12"]
    assert CK.done_chunks(ck)["2016-01-11"]["rows_in"] == 10
    # idempotent rewrite
    CK.write_manifest_entry(ck, {"chunk": "2016-01-11", "rows_in": 11})
    assert CK.done_chunks(ck)["2016-01-11"]["rows_in"] == 11
    CK.remove_manifest_entry(ck, "2016-01-11")
    assert CK.pending_chunks(ck, days) == days


def test_partition_metrics_conservation(spark):
    lines = synth.lines_df(spark, SF_SMOKE, corrupt=True).repartition(4)
    parsed = parse_df(lines, tag_lineage=True)
    mx = M.partition_metrics(parsed).collect()
    assert len(mx) == 4
    total_in = sum(r["rows_in"] for r in mx)
    assert total_in == lines.count()
    for r in mx:
        assert r["rows_in"] == r["rows_ok"] + r["rows_rejected"]
        assert r["bytes_in"] > 0
    assert sum(r["rows_rejected"] for r in mx) > 0


def _run_pipeline(args):
    return subprocess.run(
        [sys.executable, "/root/repo/jobs/run_pipeline.py", *args],
        capture_output=True, text=True, timeout=600,
    )


def test_run_pipeline_resume(tmp_path):
    """Full job in two halves: pre-mark one day done (simulating a prior
    run), run, then clear it and resume; final manifest totals must equal
    a single-shot run's. Chunks are warc_day partitions (pruned scans)."""
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    common = ["--input", SF_SMOKE, "--output", out, "--checkpoint", ck,
              "--parallelism", "4", "--corrupt"]

    fake_day = "2016-01-11"
    CK.write_manifest_entry(ck, {"chunk": fake_day, "rows_in": -1,
                                 "rows_ok": -1, "rows_rejected": -1,
                                 "sink_counts": {}})
    r1 = _run_pipeline(common)
    assert r1.returncode == 0, r1.stderr[-2000:]
    pending_line = next(
        ln for ln in r1.stdout.splitlines() if ln.startswith("chunks pending")
    )
    assert f"'{fake_day}'" not in pending_line, pending_line

    # clear the fake entry and resume: ONLY that day runs
    CK.remove_manifest_entry(ck, fake_day)
    r2 = _run_pipeline(common)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert f"chunks pending: ['{fake_day}']" in r2.stdout

    done = CK.done_chunks(ck)
    summary = json.loads(r2.stdout.strip().splitlines()[-1])
    assert summary["chunks_done"] == len(done) >= 7  # 7-day synth window
    assert summary["rows_in"] == 500  # sf0.001 documents
    assert summary["rows_ok"] + summary["rows_rejected"] == 500
    assert summary["rows_rejected"] > 0
    # per-day lineage recorded
    assert all("partitions" in e for e in done.values())


def test_build_corpus_job_end_to_end(tmp_path):
    """The corpus-build CLI wires clean -> split -> decontam + LM gates
    -> balance -> per-split pack -> partitioned lake; stats line must be
    conservative (each stage keeps <= previous, gate quarantine counts
    reconcile exactly) and the lake must be partition-pruned by split."""
    import json

    out = subprocess.run(
        [sys.executable, "/root/repo/jobs/build_corpus.py",
         "--input", "/root/testdata/sf0.001",
         "--output", str(tmp_path), "--parallelism", "8",
         # gates ON: thresholds loose enough that the tiny corpus keeps
         # some docs, tight enough to be non-vacuous on synthetic text
         "--decontam-threshold", "0.95", "--lm-threshold", "20.0",
         "--lm-vocab-k", "5000",
         # parent-domain block: drops every node-*.example.net page
         "--blocklist", "example.net"],
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    # stage conservation including the gates
    assert stats["docs_url_blocked"] > 0  # example.net pages exist
    assert stats["docs_in"] - stats["docs_url_blocked"] >= stats["docs_clean"]
    assert stats["docs_gated"] == (stats["docs_clean"]
                                   - stats["docs_decontaminated"]
                                   - stats["docs_lm_dropped"])
    assert stats["docs_gated"] >= stats["docs_balanced"]
    assert stats["docs_balanced"] == stats["docs_written"] > 0
    assert stats["docs_decontaminated"] >= 0
    assert stats["docs_lm_dropped"] >= 0
    assert stats["tokens_total"] > 0 and stats["shards"] >= 1
    assert set(stats["splits"]) <= {"train", "valid", "test"}
    assert sum(stats["splits"].values()) == stats["docs_written"]
    # split is a physical partition column -> pruned scans for a trainer
    lake = stats["lake"]
    assert any(d.startswith("split=") for d in os.listdir(lake))

    # per-split packing contract: within each split, pack ids are
    # gap-free from 0 and the cumulative token numbering restarts —
    # a trainer reading ONE split sees full-budget shards (ADVICE r4)
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT split, min(pack_id) AS lo, max(pack_id) AS hi, "
        f"count(DISTINCT pack_id) AS n, min(cum_tokens - n_tokens) AS c0 "
        f"FROM read_parquet('{lake}/*/*/*.parquet', "
        f"hive_partitioning=true) GROUP BY split"
    ).fetchall()
    assert rows
    for split, lo, hi, n, c0 in rows:
        assert lo == 0, (split, lo)
        assert n == hi + 1, f"{split}: pack ids have gaps ({n} ids, max {hi})"
        assert c0 == 0, f"{split}: cum_tokens does not restart at 0"
