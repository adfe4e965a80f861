"""spark-submit entry point: the training-corpus build pipeline.

Usage:
    spark-submit --py-files sparklog.zip jobs/build_corpus.py \
        --input /root/testdata/sf0.01 --output /tmp/corpus \
        [--parallelism 32] [--budget 4096] [--domain-cap 20] \
        [--decontam-threshold 0.8] [--lm-threshold 9.0] [--lm-vocab-k 50000]

The webtext side of the engine composed into the deliverable a training
run actually consumes:

  0. url gate    — optional (--blocklist): textops.url_filter drops pages
                   whose host or any parent domain is listed, BEFORE any
                   text work is spent on them.
  1. clean       — textops.clean_corpus_full: PII scrub + quality + lang +
                   repetition gates + exact dedup, ONE scan + ONE shuffle.
  2. split       — textops.split_assign: content-keyed train/valid/test
                   (stable under re-crawls; eval never leaks into train).
                   Computed BEFORE the gates so the job's own test split
                   can serve as the decontamination eval set.
  3. decontam    — optional (--decontam-threshold): textops.contamination
                   of every train/valid doc vs the TEST split's k-shingles;
                   docs at/above the threshold are quarantined. Test docs
                   are the eval set and are never self-quarantined.
                   The planner broadcasts the eval shingle set or
                   shuffles both sides, from its measured size.
  4. lm gate     — optional (--lm-threshold): textops.lm_score with a
                   bounded vocabulary (--lm-vocab-k); docs whose mean
                   negative log-prob exceeds the threshold (gibberish /
                   boilerplate tail) are quarantined.
  5. balance     — textops.salted_topk caps docs per domain (skew-safe
                   two-phase rank; a hot domain never pins one task).
  6. pack        — textops.pack_assign(group_cols=["split"]): token-budget
                   shard ids via the distributed prefix-sum, numbered PER
                   SPLIT — a trainer reading one split sees gap-free pack
                   ids whose token totals meet --budget (pack ids never
                   span splits).
  7. write       — one parquet lake partitioned by (split, pack-bucket):
                   a trainer reads its split with partition pruning and
                   streams shards in pack order.

Every stage is the SAME operator the driver's DuckDB oracle checks
query-by-query; this job only wires them together and writes the lake.
Prints one JSON line of corpus stats (doc counts per stage including
gate quarantine counts, token totals, shard count) — the numbers a data
engineer checks before a run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--budget", type=int, default=4096,
                    help="tokens per pack/shard (per split)")
    ap.add_argument("--domain-cap", type=int, default=20)
    ap.add_argument("--decontam-threshold", type=float, default=None,
                    help="quarantine train/valid docs whose shingle overlap "
                         "with the test split is >= this rate (off if unset)")
    ap.add_argument("--lm-threshold", type=float, default=None,
                    help="quarantine docs with mean_neg_logprob above this "
                         "(off if unset)")
    ap.add_argument("--lm-vocab-k", type=int, default=50_000,
                    help="bounded LM vocabulary size (broadcast side)")
    ap.add_argument("--blocklist", default=None,
                    help="comma-separated blocked domains; a host or any "
                         "parent domain matching drops the page (off if "
                         "unset)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sparklog import synth, textops
    from sparklog.session import build_spark

    master = f"local[{args.parallelism}]" if args.parallelism else None
    spark = build_spark(app="sparklog-build-corpus", master=master,
                        shuffle_partitions=args.parallelism)

    pages = synth.pages_df(spark, args.input)
    docs = pages.select("doc_id", "url", "text")
    n_in = docs.count()

    # 0. optional URL blocklist gate — cheapest filter first: a blocked
    # page never reaches the regex/shingle stages
    n_url_blocked = 0
    if args.blocklist:
        bl = spark.createDataFrame(
            [(d.strip(),) for d in args.blocklist.split(",") if d.strip()],
            "domain STRING",
        )
        verdicts = textops.url_filter(docs, bl)
        blocked_ids = verdicts.filter(
            F.col("blocked") == 1).select("doc_id")
        n_url_blocked = blocked_ids.count()
        docs = docs.join(blocked_ids, "doc_id", "left_anti")

    # 1. clean (the fused five-stage pass keyed on scrubbed text)
    survivors = textops.clean_corpus_full(docs.select("doc_id", "text"))
    scrubbed = textops.pii_scrub(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    clean = survivors.select("doc_id").join(scrubbed, "doc_id").join(
        docs.select("doc_id", "url"), "doc_id"
    )
    n_clean = clean.count()

    # 2. content-keyed split, BEFORE the gates: the job's own test
    # split doubles as the decontamination eval set
    clean = clean.join(textops.split_assign(clean), "doc_id")

    # 3. optional decontamination gate (train/valid vs test shingles)
    n_decontam = 0
    if args.decontam_threshold is not None:
        ev = clean.filter(F.col("split") == "test").select("doc_id", "text")
        cand = clean.filter(F.col("split") != "test")
        rates = textops.contamination(cand.select("doc_id", "text"), ev)
        dirty = rates.filter(
            F.col("contamination_rate") >= args.decontam_threshold
        ).select("doc_id")
        n_decontam = dirty.count()
        clean = clean.join(dirty, "doc_id", "left_anti")

    # 4. optional LM quality gate (bounded-vocab unigram perplexity)
    n_lm_dropped = 0
    if args.lm_threshold is not None:
        scores = textops.lm_score(
            clean.select("doc_id", "text"), vocab_k=args.lm_vocab_k
        )
        bad = scores.filter(
            F.col("mean_neg_logprob") > args.lm_threshold
        ).select("doc_id")
        n_lm_dropped = bad.count()
        clean = clean.join(bad, "doc_id", "left_anti")

    # 5. per-domain balance (skew-safe two-phase rank)
    domain = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    balanced = textops.salted_topk(
        clean.withColumn("domain", domain),
        "domain",
        [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")],
        k=args.domain_cap,
    ).drop("rnk")
    n_balanced = balanced.count()

    # 6. token-budget packing, numbered per split (pack ids never span
    # splits, so every split's shards meet the budget on their own)
    packed = textops.pack_assign(
        balanced, budget=args.budget, group_cols=["split"]
    ).drop("split")
    out = (
        balanced.join(packed, "doc_id")
        # bucket pack ids so partition count stays bounded at any scale
        .withColumn("pack_bucket", F.expr("pack_id div 64"))
    )

    # 7. the lake a trainer reads: prune to split, stream shards in order
    lake = os.path.join(args.output, "corpus")
    (
        out.repartition(F.col("split"), F.col("pack_bucket"))
        .write.mode("overwrite")
        .partitionBy("split", "pack_bucket")
        .parquet(lake)
    )

    back = spark.read.parquet(lake)
    stats = {
        "docs_in": n_in,
        "docs_url_blocked": n_url_blocked,
        "docs_clean": n_clean,
        "docs_decontaminated": n_decontam,
        "docs_lm_dropped": n_lm_dropped,
        "docs_gated": n_clean - n_decontam - n_lm_dropped,
        "docs_balanced": n_balanced,
        "docs_written": back.count(),
        "tokens_total": back.agg(F.sum("n_tokens")).collect()[0][0],
        "shards": back.select("split", "pack_id").distinct().count(),
        "splits": {
            r["split"]: r["n"]
            for r in back.groupBy("split").agg(
                F.count(F.lit(1)).alias("n")).collect()
        },
        "lake": lake,
    }
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
