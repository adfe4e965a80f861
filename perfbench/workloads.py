"""The benchmark workloads.

``ingest_agg`` and ``chunked_ingest`` are timed end to end.
``neardup_pages`` is measured only in the traced run, for the textops
layer (see README.md for why it is not timed end to end).

Each workload stages its inputs once (``stage``), then runs the same
job any number of times (``run``). ``check`` compares a run's outputs
with values fixed at set-up and returns the failed checks. ``layers``
runs the per-layer measurements of the traced run.

Only public functions of ``sparklog`` and ``jobs/run_pipeline.py`` are
called. Sizes come from a ``Scale``; ``FULL`` is what the benchmark
measures, ``TINY`` is for the self-test.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import io
import os
import shutil
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.tracing import NullTracer, Tracer


@dataclass(frozen=True)
class Scale:
    n_docs: int          # base corpus the replicated workloads copy
    ingest_rows: int     # ingest_agg input lines
    chunked_rows: int    # chunked_ingest pages replicated, before the day cut
    chunked_days: int    # chunked_ingest backlog: pages of the first N days
    neardup_docs: int    # neardup_pages corpus
    kernel_lines: int    # single-thread parse sample of the traced run


# chunked_ingest: ~150k pages in each of 2 day-chunks, so a chunk's rows
# outweigh the ~1.7 s its fixed Spark jobs cost (README.md)
FULL = Scale(n_docs=5000, ingest_rows=200_000, chunked_rows=1_050_000,
             chunked_days=2, neardup_docs=1200, kernel_lines=50_000)
# rounds of the ingest_agg prefix cuts in the traced run
CUT_ROUNDS = 2


TINY = Scale(n_docs=50, ingest_rows=500, chunked_rows=700, chunked_days=2,
             neardup_docs=50, kernel_lines=500)


@dataclass
class Ctx:
    spark: object
    work: str            # scratch directory inside the checkout
    seed: int
    scale: Scale
    cpus: int


class Workload:
    name = ""
    rows = 0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def stage(self) -> None:
        raise NotImplementedError

    def run(self, tr: Tracer = NullTracer()) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def layers(self, tr: Tracer) -> dict[str, float]:
        raise NotImplementedError

    def traced_run(self, tr: Tracer) -> dict:
        out = self.run(tr)
        problems = self.check(out)
        if problems:
            raise RuntimeError(f"traced {self.name} run: {problems}")
        return out


def _expect(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


class IngestAgg(Workload):
    """parse_df -> split_rejects -> enrich -> hourly_agg -> collect over
    replicated lines staged to parquet; no sink."""

    name = "ingest_agg"

    def stage(self) -> None:
        from sparklog import synth

        c = self.ctx
        reps = max(1, c.scale.ingest_rows // c.scale.n_docs)
        docs = inputs.replicated(
            inputs.documents(c.scale.n_docs).select(
                ["doc_id", "text", "lang"]),
            reps, inputs.replica_offset(c.seed))
        inputs.write(docs, os.path.join(c.work, "ingest_docs"), 2 * c.cpus)
        self.path = os.path.join(c.work, "ingest_lines")
        synth.lines_from_docs(c.spark.read.parquet(
            os.path.join(c.work, "ingest_docs"))).write.parquet(self.path)
        self.lines = c.spark.read.parquet(self.path)
        self.rows = docs.num_rows
        # uncorrupted synthesis: every line is well-formed
        self.expected = {"rows_ok": self.rows}

    def run(self, tr: Tracer = NullTracer()) -> dict:
        from sparklog import pipeline as PL
        from sparklog.udf import parse_df

        with tr.span("ingest_agg.run"):
            ok, _ = PL.split_rejects(parse_df(self.lines))
            rows = PL.hourly_agg(PL.enrich(ok, self.ctx.spark)).collect()
        return {"rows_ok": sum(r["n"] for r in rows), "groups": len(rows)}

    def check(self, out: dict) -> list[str]:
        problems: list[str] = []
        _expect(problems, "sum(n)", out["rows_ok"], self.expected["rows_ok"])
        return problems

    def layers(self, tr: Tracer) -> dict[str, float]:
        from sparklog import pipeline as PL
        from sparklog.parse import parse_lines
        from sparklog.udf import parse_df

        spark, lines = self.ctx.spark, self.lines
        self.traced_run(tr)
        # single-thread kernel on a fixed sample read without Spark
        sample = (pq.read_table(self.path, columns=["line"]).column("line")
                  .slice(0, self.ctx.scale.kernel_lines).to_pandas())
        parse_lines(sample.iloc[:1000])
        with tr.span("parse.parse_lines"):
            parse_lines(sample)
        kernel_s = tr.total("parse.parse_lines")

        # prefix cuts, each forced by a cheap consumer; CUT_ROUNDS
        # interleaved rounds, the fastest of each cut counts
        parsed = parse_df(lines)
        ok, _ = PL.split_rejects(parsed)
        enriched = PL.enrich(ok, spark)
        cuts = {
            "scan": lambda: lines.agg(F.sum(F.length("line"))).collect(),
            "parse_df": lambda: parsed.agg(F.count(F.lit(1))).collect(),
            # the enrich columns hourly_agg reads; it never reads
            # lang_name, so column pruning drops that from the run
            "enrich": lambda: enriched.agg(
                F.count("facility_name"), F.count("severity_name")).collect(),
            "hourly_agg": lambda: PL.hourly_agg(enriched).collect(),
        }
        for _ in range(CUT_ROUNDS):
            for name, action in cuts.items():
                with tr.span(f"cut.{name}"):
                    rows = action()
                if name == "parse_df":
                    n_parsed = rows[0][0]
        scan, parse, enrich, agg = (min(tr.durations(f"cut.{k}"))
                                    for k in cuts)
        return {
            "parse.parse_lines.rows_per_s": len(sample) / kernel_s,
            "scan.s": scan,
            "udf.parse_df.s": parse - scan,
            "udf.parse_df.rows": n_parsed,
            "pipeline.enrich.s": enrich - parse,
            "pipeline.hourly_agg.s": agg - enrich,
        }


def _day_index(doc_ids: np.ndarray) -> np.ndarray:
    """Day of the synthesized warc_ts (synthrules.WARC_SECS) counted from
    synthrules.EPOCH_START, which is a UTC midnight."""
    from sparklog import synthrules as R

    return (doc_ids * 7919) % R.WEEK_SECONDS // 86400


class _TimedCollect:
    """Stands in for a lazy frame whose only consumer calls collect();
    times that collect as a span."""

    def __init__(self, df, tr: Tracer, name: str) -> None:
        self.df, self.tr, self.name = df, tr, name

    def collect(self):
        with self.tr.span(self.name):
            return self.df.collect()


class ChunkedIngest(Workload):
    """jobs/run_pipeline.py --corrupt, in-process, over day-partitioned
    pages; every run starts from an empty output and checkpoint."""

    name = "chunked_ingest"

    def stage(self) -> None:
        from sparklog import synthrules as R

        c = self.ctx
        reps = max(1, c.scale.chunked_rows // c.scale.n_docs)
        offset = inputs.replica_offset(c.seed)
        ids = inputs.replica_ids(c.scale.n_docs, reps, offset)
        day = _day_index(ids)
        keep = day < c.scale.chunked_days
        ids, day = ids[keep], day[keep]
        docs = inputs.replicated(inputs.documents(c.scale.n_docs), reps,
                                 offset, ids)
        self.input = os.path.join(c.work, "chunked_in")
        self.output = os.path.join(c.work, "chunked_out")
        self.ckpt = os.path.join(c.work, "chunked_ckpt")
        inputs.write(docs, os.path.join(self.input, "documents.parquet"),
                     2 * c.cpus)
        self.rows = len(ids)
        first = np.datetime64(R.EPOCH_START, "s").astype("datetime64[D]")
        self.expected = {
            "rows_in": self.rows,
            "rows_rejected": int(np.count_nonzero(ids % 23 == 9)),
            "chunks": [str(first + d) for d in sorted(set(day))],
            "fingerprints": None,  # taken from the first run
        }
        self.pipeline = importlib.import_module("jobs.run_pipeline")

    def _reset(self) -> None:
        """Empty output and checkpoint; the staged _pages table stays."""
        if os.path.isdir(self.output):
            for d in os.listdir(self.output):
                if d != "_pages":
                    shutil.rmtree(os.path.join(self.output, d))
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def run(self, tr: Tracer = NullTracer()) -> dict:
        from sparklog import checkpoint as CK

        self._reset()
        argv = sys.argv
        sys.argv = ["run_pipeline.py", "--input", self.input,
                    "--output", self.output, "--checkpoint", self.ckpt,
                    "--parallelism", str(self.ctx.cpus), "--corrupt"]
        log = io.StringIO()
        try:
            with tr.span("chunked_ingest.run"), \
                    contextlib.redirect_stdout(log):
                self.pipeline.main()
        finally:
            sys.argv = argv
        done = CK.done_chunks(self.ckpt)
        files = glob.glob(os.path.join(self.output, "chunk=*", "sink=*",
                                       "*.parquet"))
        return {
            "chunks": sorted(done),
            "rows_in": sum(e["rows_in"] for e in done.values()),
            "rows_rejected": sum(e["rows_rejected"] for e in done.values()),
            "sink_rows": sum(sum(e["sink_counts"].values())
                             for e in done.values()),
            "fingerprints": {k: e["fingerprint"] for k, e in done.items()},
            "chunk_wall_s": [e["wall_sec"] for e in done.values()],
            "input_bytes": sum(p["bytes_in"] for e in done.values()
                               for p in e["partitions"]),
            "sink_files": len(files),
            "sink_bytes": sum(os.path.getsize(f) for f in files),
        }

    def check(self, out: dict) -> list[str]:
        want = self.expected
        if want["fingerprints"] is None:
            want["fingerprints"] = out["fingerprints"]
        problems: list[str] = []
        _expect(problems, "manifest chunks", out["chunks"], want["chunks"])
        _expect(problems, "rows_in", out["rows_in"], want["rows_in"])
        _expect(problems, "sink rows", out["sink_rows"], want["rows_in"])
        _expect(problems, "rows_rejected", out["rows_rejected"],
                want["rows_rejected"])
        _expect(problems, "fingerprints", out["fingerprints"],
                want["fingerprints"])
        return problems

    def layers(self, tr: Tracer) -> dict[str, float]:
        from sparklog import checkpoint as CK
        from sparklog import metrics as M
        from sparklog import pipeline as PL
        from sparklog import synth

        patches = [
            (PL, "route_write", tr.wrap("pipeline.route_write",
                                        PL.route_write)),
            (M, "partition_metrics",
             lambda df, f=M.partition_metrics: _TimedCollect(
                 f(df), tr, "metrics.partition_metrics")),
            (CK, "content_fingerprint",
             tr.wrap("checkpoint.content_fingerprint",
                     CK.content_fingerprint)),
            (CK, "write_manifest_entry",
             tr.wrap("checkpoint.write_manifest_entry",
                     CK.write_manifest_entry)),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        try:
            for mod, attr, fn in patches:
                setattr(mod, attr, fn)
            out = self.traced_run(tr)
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

        # synthesis of one chunk's lines, minus the scan of its pages
        pages = self.ctx.spark.read.parquet(
            os.path.join(self.output, "_pages"))
        day = pages.filter(F.col("warc_day") == out["chunks"][0]).select(
            "doc_id", "text", "lang")
        with tr.span("cut.day_scan"):
            day.agg(F.sum(F.length("text"))).collect()
        with tr.span("cut.lines_from_docs"):
            synth.lines_from_docs(day, corrupt=True).agg(
                F.sum(F.length("line"))).collect()
        return {
            "pipeline.route_write.s": tr.total("pipeline.route_write"),
            "pipeline.route_write.files": out["sink_files"],
            "pipeline.route_write.bytes": out["sink_bytes"],
            "metrics.partition_metrics.s":
                tr.total("metrics.partition_metrics"),
            "checkpoint.content_fingerprint.s":
                tr.total("checkpoint.content_fingerprint"),
            "checkpoint.write_manifest_entry.s":
                tr.total("checkpoint.write_manifest_entry"),
            "synth.lines_from_docs.s": tr.total("cut.lines_from_docs")
            - tr.total("cut.day_scan"),
            "chunked_ingest.chunk_commit_s":
                float(np.median(out["chunk_wall_s"])),
            "chunked_ingest.sink_bytes_per_input_byte":
                out["sink_bytes"] / out["input_bytes"],
            "chunked_ingest.wall_s": tr.total("chunked_ingest.run"),
        }


class NeardupPages(Workload):
    """minhash_neardup then simhash_neardup over the native corpus: JVM
    only, no parse, no Python boundary, no sink."""

    name = "neardup_pages"

    def stage(self) -> None:
        c = self.ctx
        path = os.path.join(c.work, "neardup_docs")
        inputs.write(inputs.documents(c.scale.neardup_docs), path, 2 * c.cpus)
        self.docs = c.spark.read.parquet(path)
        self.rows = c.scale.neardup_docs
        self.expected = {"minhash_pairs": None, "simhash_pairs": None}

    def run(self, tr: Tracer = NullTracer()) -> dict:
        from sparklog import textops

        with tr.span("neardup_pages.run"):
            with tr.span("textops.minhash_neardup"):
                mh = textops.minhash_neardup(self.docs).count()
            with tr.span("textops.simhash_neardup"):
                sh = textops.simhash_neardup(self.docs).count()
        return {"minhash_pairs": mh, "simhash_pairs": sh}

    def check(self, out: dict) -> list[str]:
        problems: list[str] = []
        for k, want in self.expected.items():
            if want is None:
                self.expected[k] = out[k]
            else:
                _expect(problems, k, out[k], want)
        return problems

    def layers(self, tr: Tracer) -> dict[str, float]:
        from sparklog import textops

        with tr.span("textops.minhash_signature"):
            textops.minhash_signature(self.docs).agg(
                F.count(F.lit(1))).collect()
        out = self.traced_run(tr)
        return {
            "textops.minhash_signature.s":
                tr.total("textops.minhash_signature"),
            "textops.minhash_neardup.s": tr.total("textops.minhash_neardup"),
            "textops.minhash_neardup.pairs": out["minhash_pairs"],
            "textops.simhash_neardup.s": tr.total("textops.simhash_neardup"),
            "textops.simhash_neardup.pairs": out["simhash_pairs"],
        }


WORKLOADS = {w.name: w for w in (IngestAgg, ChunkedIngest)}
LAYER_ONLY = {w.name: w for w in (NeardupPages,)}
