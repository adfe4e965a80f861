"""Checkpoint resume + per-partition lineage/metrics tests (D9/D10)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from sparklog import checkpoint as CK
from sparklog import metrics as M
from sparklog import synth
from sparklog.udf import parse_df

from conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parents[1]
# 5000 documents: ~700 lines in one day-chunk's one input partition
SF_BENCH = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


def _run_script(path, args, timeout):
    """Run a script of this checkout (path relative to its root) with the
    checkout as cwd, so its workers import this checkout's sparklog."""
    return subprocess.run(
        [sys.executable, str(ROOT / path), *args],
        capture_output=True, text=True, timeout=timeout, cwd=ROOT,
    )


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
    # the chunk fingerprint is the sum of the per-partition ones
    whole = parsed.select(CK.content_fingerprint()).collect()[0][0]
    assert sum(r["fingerprint"] for r in mx) == whole > 0


def test_partition_metrics_one_exchange_no_sort(spark):
    """The lineage record is one groupBy: one Exchange, on partition_id,
    and no Sort (callers sort the few collected rows)."""
    parsed = parse_df(synth.lines_df(spark, SF_SMOKE), tag_lineage=True)
    plan = M.partition_metrics(parsed)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(partition_id#" in plan, plan
    assert "Sort" not in plan, plan


def test_empty_and_all_reject_partitions_lineage(spark):
    """8 input partitions, 4 of them empty and one all rejects: the
    lineage table has exactly the 4 non-empty partitions, the all-reject
    one counts only rejects, and rows are conserved."""
    ok = "<34>1 2003-10-11T22:14:15.003Z host app - ID47 - m"
    bad = "<34>Oct 11 22:14:15 host app: m"
    rows = ([(0, i, ok) for i in range(5)] + [(2, 10, bad), (2, 11, ok)]
            + [(5, 20 + i, bad) for i in range(3)] + [(7, 30, ok)])
    rdd = (spark.sparkContext.parallelize(rows, 1)
           .keyBy(lambda r: r[0]).partitionBy(8, lambda k: k).values()
           .map(lambda r: r[1:]))
    lines = spark.createDataFrame(rdd, "doc_id long, line string")
    assert lines.rdd.getNumPartitions() == 8
    parsed = parse_df(lines, tag_lineage=True)
    mx = {r["partition_id"]: r for r in
          M.partition_metrics(parsed).collect()}
    assert sorted(mx) == [0, 2, 5, 7]
    assert (mx[5]["rows_in"], mx[5]["rows_ok"], mx[5]["rows_rejected"]) \
        == (3, 0, 3)
    assert (mx[2]["rows_ok"], mx[2]["rows_rejected"]) == (1, 1)
    assert sum(r["rows_in"] for r in mx.values()) == len(rows)
    assert sum(r["bytes_in"] for r in mx.values()) == sum(
        len(r[2].encode()) for r in rows)


def test_retries_leave_the_chunk_record_unchanged(tmp_path):
    """Injected first-attempt task failures, under local[4,2], upstream
    of route_write's Observation (and in the lineage groupBy) and after
    its salted Exchange: sink counts, read-back sink rows, per-partition
    records and the fingerprint equal a clean run's. In a subprocess:
    the session fixture's local[8] does not retry tasks."""
    r = _run_script("tests/retry_chunk_job.py", [SF_BENCH, str(tmp_path)],
                    600)
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    clean = res["clean"]
    assert clean["readback"] == clean["sink_counts"]
    assert sum(clean["sink_counts"].values()) == clean["rows_in"] > 0
    assert clean["rows_rejected"] > 0
    # each injection really failed a task; python UDFs take rows in
    # batches of 100, so the batches before the poison row had already
    # reached the Observation
    assert res["fired"]["upstream"] >= 1 and res["fired"]["exchange"] >= 1
    assert res["rows_before_poison"] > 100
    assert res["upstream"] == clean
    assert res["exchange"] == clean


def _run_pipeline(args):
    return _run_script("jobs/run_pipeline.py", args, 600)


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

    out = _run_script(
        "jobs/build_corpus.py",
        ["--input", SF_SMOKE,
         "--output", str(tmp_path), "--parallelism", "8",
         # gates ON: thresholds loose enough that the tiny corpus keeps
         # some docs, tight enough to be non-vacuous on synthetic text
         "--decontam-threshold", "0.95", "--lm-threshold", "20.0",
         "--lm-vocab-k", "5000",
         # parent-domain block: drops every node-*.example.net page
         "--blocklist", "example.net"],
        420,
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
