"""One chunk of jobs/run_pipeline.py, clean and under injected task retries.

Usage: python tests/retry_chunk_job.py <sf_dir> <work_dir>

Runs the job three times in one local[4,2] session (two attempts per
task), each over the same single day-chunk (the other days are
pre-marked done in the checkpoint):

  clean     no injection;
  upstream  a nondeterministic Python-UDF filter on the frames that
            route_write and partition_metrics read, so it runs before
            route_write's Observation and in the lineage groupBy;
  exchange  the same filter after route_write's salted Exchange, on the
            rows the write task writes.

The filter raises on a poison row (late in its input partition) when
TaskContext.attemptNumber() == 0, after the task has already passed
earlier rows downstream; the retry then succeeds. Each firing leaves a
marker file. Prints one JSON line: per run, the manifest entry without
wall_sec and the per-sink row counts read back from the sink files; the
number of injected failures per mode; and how many rows precede the
poison row in its partition.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(sf_dir: str, work: str) -> None:
    from pyspark import TaskContext
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sparklog import checkpoint as CK
    from sparklog import metrics as M
    from sparklog import pipeline as PL
    from sparklog import synth
    from sparklog.session import build_spark

    spark = build_spark(app="retry-chunk", master="local[4,2]",
                        shuffle_partitions=4)
    job = importlib.import_module("jobs.run_pipeline")
    out = os.path.join(work, "out")
    argv = ["--input", sf_dir, "--output", out, "--parallelism", "4",
            "--corrupt"]

    def run(mode: str) -> dict:
        ck = os.path.join(work, f"ck_{mode}")
        for d in os.listdir(out):
            if d != "_pages":
                shutil.rmtree(os.path.join(out, d))
        for d in days[1:]:
            CK.write_manifest_entry(ck, {"chunk": d, "rows_in": 0,
                                         "rows_ok": 0, "rows_rejected": 0})
        sys.argv = ["run_pipeline.py", *argv, "--checkpoint", ck]
        with contextlib.redirect_stdout(io.StringIO()):
            job.main()
        entry = CK.done_chunks(ck)[days[0]]
        del entry["wall_sec"]
        back = spark.read.parquet(os.path.join(out, f"chunk={days[0]}"))
        entry["readback"] = {
            r["sink"]: r["count"] for r in back.groupBy("sink").count().collect()
        }
        return entry

    # the day-partitioned pages, written once for all three runs
    synth.write_pages_partitioned(spark, sf_dir, os.path.join(out, "_pages"))
    pages = spark.read.parquet(os.path.join(out, "_pages"))
    days = sorted(str(r["warc_day"])
                  for r in pages.select("warc_day").distinct().collect())
    result = {"clean": run("clean")}

    # poison: the row at 90% of input partition 0 of the chunk, read the
    # way run_pipeline reads it
    day_lines = synth.lines_from_docs(
        pages.filter(F.col("warc_day") == days[0]).select(
            "doc_id", "text", "lang"),
        corrupt=True,
    )
    part0 = [r["doc_id"] for r in day_lines.select(
        "doc_id", F.spark_partition_id().alias("p"),
        F.monotonically_increasing_id().alias("i"),
    ).filter("p = 0").orderBy("i").collect()]
    poison = part0[len(part0) * 9 // 10]

    def injected(mode: str):
        marks = os.path.join(work, f"fired_{mode}")
        os.makedirs(marks, exist_ok=True)

        def keep(doc_id):
            ctx = TaskContext.get()
            if doc_id == poison and ctx.attemptNumber() == 0:
                open(os.path.join(marks, f"{ctx.stageId()}-"
                                  f"{ctx.partitionId()}"), "w").close()
                raise RuntimeError("injected first-attempt failure")
            return True

        udf = F.udf(keep, T.BooleanType()).asNondeterministic()
        return lambda df: df.filter(udf("doc_id")), marks

    route_write, partition_metrics, salted = (
        PL.route_write, M.partition_metrics, PL.salted)
    try:
        flt, marks_up = injected("upstream")
        PL.route_write = lambda df, out_dir: route_write(flt(df), out_dir)
        M.partition_metrics = lambda df: partition_metrics(flt(df))
        result["upstream"] = run("upstream")
        PL.route_write, M.partition_metrics = route_write, partition_metrics

        flt, marks_ex = injected("exchange")
        PL.salted = lambda df, *a, **k: flt(salted(df, *a, **k))
        result["exchange"] = run("exchange")
    finally:
        PL.route_write, M.partition_metrics, PL.salted = (
            route_write, partition_metrics, salted)
    result["fired"] = {"upstream": len(os.listdir(marks_up)),
                       "exchange": len(os.listdir(marks_ex))}
    result["rows_before_poison"] = part0.index(poison)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:3])
