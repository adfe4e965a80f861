"""spark-submit entry point: the full checkpoint-resumable pipeline.

Usage:
    spark-submit --py-files sparklog.zip jobs/run_pipeline.py \
        --input /root/testdata/sf0.01 --output /tmp/out \
        --checkpoint /tmp/ckpt [--parallelism 32] [--corrupt]

Stage 0 (once): materialize pages partitioned by days(warc_ts) — the
Iceberg-style layout. Unit of work = one warc_day partition; each chunk's
scan is PARTITION-PRUNED to that day's files (never rescans completed
days on resume).

Per chunk (SURVEY.md §2D): pruned scan -> synth -> tag lineage -> parse
(vectorized UDF) -> enrich (join-free projections) -> salted route write
(per-severity sinks + rejects) -> hourly agg -> lineage record -> ATOMIC
manifest commit. The lineage record (per-partition counters and content
fingerprints) is one groupBy; the chunk's totals and fingerprint are sums
of its collected rows. Re-running after a crash processes only pending
days.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# running as a plain script puts jobs/ on sys.path; add the repo root so
# `sparklog` imports without --py-files in local runs
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sparklog import checkpoint as CK
    from sparklog import metrics as M
    from sparklog import pipeline as PL
    from sparklog import synth
    from sparklog.session import build_spark
    from sparklog.udf import parse_df

    master = f"local[{args.parallelism}]" if args.parallelism else None
    spark = build_spark(app="sparklog-pipeline", master=master,
                        shuffle_partitions=args.parallelism)

    # stage 0: day-partitioned pages (Iceberg days(warc_ts) analog)
    pages_dir = os.path.join(args.output, "_pages")
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        synth.write_pages_partitioned(spark, args.input, pages_dir)
    pages = spark.read.parquet(pages_dir)

    planned = sorted(
        str(r["warc_day"]) for r in pages.select("warc_day").distinct().collect()
    )
    pending = CK.pending_chunks(args.checkpoint, planned)
    print(f"chunks pending: {pending}")

    for day in pending:
        t0 = time.perf_counter()
        # partition-pruned scan: only this day's files are read
        day_pages = pages.filter(F.col("warc_day") == day).select(
            "doc_id", "text", "lang"
        )
        chunk_lines = synth.lines_from_docs(day_pages, corrupt=args.corrupt)
        # lineage tagging fused into the parse pass: ONE Python crossing
        parsed = parse_df(chunk_lines, tag_lineage=True)
        # ONE parse per chunk: route_write, hourly_agg and partition_metrics
        # all consume the same persisted frame (uncached, each would
        # re-execute synth -> parse)
        enriched = PL.enrich(parsed, spark, with_lang=False).persist()
        try:
            sink_dir = os.path.join(args.output, f"chunk={day}")
            counts = PL.route_write(enriched, sink_dir)

            agg = PL.hourly_agg(enriched.filter(F.col("parse_error").isNull()))
            agg.write.mode("overwrite").parquet(
                os.path.join(args.output, f"agg/chunk={day}")
            )
            metrics_rows = sorted(
                (r.asDict() for r in M.partition_metrics(enriched).collect()),
                key=lambda r: r["partition_id"],
            )

            rows_in = sum(r["rows_in"] for r in metrics_rows)
            rows_ok = sum(r["rows_ok"] for r in metrics_rows)
            rows_rej = sum(r["rows_rejected"] for r in metrics_rows)
            # conservation law: every input row lands in exactly one sink
            assert sum(counts.values()) == rows_in, (counts, rows_in)

            CK.write_manifest_entry(args.checkpoint, {
                "chunk": day,
                "rows_in": rows_in,
                "rows_ok": rows_ok,
                "rows_rejected": rows_rej,
                "sink_counts": counts,
                "fingerprint": sum(r["fingerprint"] for r in metrics_rows),
                "partitions": metrics_rows,
                "wall_sec": round(time.perf_counter() - t0, 3),
            })
        finally:
            enriched.unpersist()
        print(f"chunk {day}: in={rows_in} ok={rows_ok} rej={rows_rej}")

    done = CK.done_chunks(args.checkpoint)
    summary = {
        "chunks_done": len(done),
        "rows_in": sum(e["rows_in"] for e in done.values()),
        "rows_ok": sum(e["rows_ok"] for e in done.values()),
        "rows_rejected": sum(e["rows_rejected"] for e in done.values()),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
