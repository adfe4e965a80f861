"""Optimization-round measurement harness (bench.py stays FROZEN).

Runs any subset of the bench legs — same leg bodies, same staging, same
session — with a configurable run count, and can dump
``.explain("formatted")`` for each leg's DataFrame to plans/.

Usage:
    python bench_extra.py leg1 leg2 ...      # time selected legs (default 3 runs)
    python bench_extra.py --runs 5 leg1      # more runs
    python bench_extra.py --explain DIR leg1 # dump plans to DIR/<leg>.txt
    python bench_extra.py --all              # every leg

Prints one JSON line {"queries": {leg: median}, "samples": {...}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = sys.argv[1:]
    runs = 3
    explain_dir = None
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i:i + 2]
    if "--explain" in args:
        i = args.index("--explain")
        explain_dir = args[i + 1]
        del args[i:i + 2]

    import bench
    from sparklog import ann, textops
    from sparklog import pipeline as PL
    from sparklog.synth import load_documents
    from sparklog.udf import parse_df

    spark = bench._spark(cpus)
    stage_dir = tempfile.mkdtemp(prefix="sparklog_benchx_lines_")
    try:
        lines, n_rows = bench._replicated_lines(
            spark, sf_dir, 2_000_000, cpus, stage_dir)
        parsed = parse_df(lines)
        docs = load_documents(spark, sf_dir)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

        def e2e():
            ok, _ = PL.split_rejects(parse_df(lines))
            PL.hourly_agg(PL.enrich(ok, spark)).collect()

        def route():
            out_dir = tempfile.mkdtemp(prefix="sparklog_benchx_route_")
            try:
                ok, _ = PL.split_rejects(parse_df(lines))
                PL.route_write(PL.enrich(ok, spark, with_lang=False), out_dir)
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)

        html_pages = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            F.concat(F.lit("<html><body>"), F.col("text"),
                     F.lit("</body></html>")).cast("binary").alias("html"),
        )
        legs = {
            "parse_count": lambda: parsed.agg(
                F.sum(F.when(F.col("parse_error").isNull(), 1).otherwise(0))
            ).collect(),
            "parse_enrich_agg": e2e,
            "parse_enrich_route_write": route,
            "minhash_neardup": lambda: textops.minhash_neardup(docs).count(),
            "simhash_neardup": lambda: textops.simhash_neardup(docs).count(),
            "fingerprint": lambda: textops.fingerprint(docs).count(),
            "dedup_exact": lambda: textops.dedup_exact(docs).count(),
            "clean_corpus_full":
                lambda: textops.clean_corpus_full(docs).count(),
            "pii_scrub": lambda: textops.pii_scrub(docs).agg(
                F.sum("n_emails")).collect(),
            "repetition": lambda: textops.repetition_score(docs).agg(
                F.sum("top_word_n")).collect(),
            "pack_assign": lambda: textops.pack_assign(docs).agg(
                F.max("cum_tokens")).collect(),
            "dup_passages": lambda: textops.dup_passages(docs).agg(
                F.sum("n_dup")).collect(),
            "line_filter": lambda: textops.line_filter(docs).agg(
                F.sum("n_kept")).collect(),
            "line_dedup": lambda: textops.line_dedup(docs).agg(
                F.sum("n_kept")).collect(),
            "ngram_topk": lambda: textops.ngram_topk(docs).count(),
            "html_extract": lambda: textops.html_to_text(html_pages).agg(
                F.sum(F.length("extracted_text"))).collect(),
            "ann_topk": lambda: ann.brute_force_topk(emb).count(),
            "lsh_topk": lambda: ann.lsh_topk(emb).count(),
            "ivf_topk": lambda: ann.ivf_topk(emb, quantizer="sample").count(),
        }
        frames = {
            "parse_count": lambda: parsed,
            "parse_enrich_agg": lambda: PL.hourly_agg(
                PL.enrich(PL.split_rejects(parse_df(lines))[0], spark)),
            "minhash_neardup": lambda: textops.minhash_neardup(docs),
            "simhash_neardup": lambda: textops.simhash_neardup(docs),
            "fingerprint": lambda: textops.fingerprint(docs),
            "dedup_exact": lambda: textops.dedup_exact(docs),
            "clean_corpus_full": lambda: textops.clean_corpus_full(docs),
            "pii_scrub": lambda: textops.pii_scrub(docs),
            "repetition": lambda: textops.repetition_score(docs),
            "pack_assign": lambda: textops.pack_assign(docs),
            "dup_passages": lambda: textops.dup_passages(docs),
            "line_filter": lambda: textops.line_filter(docs),
            "line_dedup": lambda: textops.line_dedup(docs),
            "ngram_topk": lambda: textops.ngram_topk(docs),
            "html_extract": lambda: textops.html_to_text(html_pages),
            "ann_topk": lambda: ann.brute_force_topk(emb),
            "lsh_topk": lambda: ann.lsh_topk(emb),
            "ivf_topk": lambda: ann.ivf_topk(emb, quantizer="sample"),
        }

        wanted = list(legs) if "--all" in args else [a for a in args
                                                    if a in legs]
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            for name in wanted:
                if name in frames:
                    df = frames[name]()
                    with open(os.path.join(explain_dir, f"{name}.txt"),
                              "w") as f:
                        f.write(df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"))
            print(json.dumps({"explained": wanted, "dir": explain_dir}))
            return

        # warm-up
        parse_df(lines.limit(20000)).agg(F.count("parse_error")).collect()
        samples = {name: [] for name in wanted}
        for _ in range(runs):
            for name in wanted:
                spark.sparkContext.setJobDescription(f"benchx:{name}")
                t0 = time.perf_counter()
                legs[name]()
                samples[name].append(time.perf_counter() - t0)
                spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "queries": {k: round(_median(v), 3) for k, v in samples.items()},
            "min": {k: round(min(v), 3) for k, v in samples.items()},
            "samples": {k: [round(x, 3) for x in v]
                        for k, v in samples.items()},
            "rows": n_rows,
        }))
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
