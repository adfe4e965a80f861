"""Text-analysis / dedup / similarity operators with controlled fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparklog import ann as ANN
from sparklog import textops as TX

from conftest import SF_CORRECT, SF_SMOKE


@pytest.fixture(scope="module")
def toy_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (0, base),
        (1, base),                                   # exact dup of 0
        (2, base.replace("lazy", "sleepy")),         # near dup of 0
        (3, "completely different content about spark shuffles and joins"),
        (4, "der hund und die katze sind nicht ein gutes paar im haus"),
        (5, ""),                                     # empty
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_token_count(toy_docs):
    got = {r["doc_id"]: r["n_tokens"] for r in TX.token_count(toy_docs).collect()}
    assert got[0] == 14
    assert got[5] == 1  # split('') -> [''] (matches DuckDB string_split)


def test_dedup_exact_finds_only_exact(toy_docs):
    rows = TX.dedup_exact(toy_docs).collect()
    assert len(rows) == 1
    assert rows[0]["n_dups"] == 2 and rows[0]["keep_doc_id"] == 0


def test_minhash_finds_near_dup(toy_docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in TX.minhash_neardup(toy_docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert not any({a, b} & {3, 4} for a, b in pairs)


def test_simhash_near_dup(spark):
    base = " ".join(f"token{i} word{i % 7} item{i % 5}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),                                # exact dup: hamming 0
            (2, base.replace("token7", "tokenX")),    # one-token sub: hamming 1
            (3, "completely different content about spark shuffles and joins"),
        ],
        "doc_id LONG, text STRING",
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in TX.simhash_neardup(docs, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 3
    assert not any(3 in p for p in pairs)


def test_lang_id_markers(toy_docs):
    got = {r["doc_id"]: r["pred_lang"] for r in TX.lang_id(toy_docs).collect()}
    assert got[0] == "en"
    assert got[4] == "de"
    assert got[5] == "und"


def test_fingerprint_normalizes_whitespace_case(spark):
    docs = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "hello worlds")],
        "doc_id LONG, text STRING",
    )
    fps = {r["doc_id"]: r["fp"] for r in TX.fingerprint(docs).collect()}
    assert fps[0] == fps[1] != fps[2]


def test_ann_brute_force_exact(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]), (4, [0.7, 0.7]),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    rows = ANN.brute_force_topk(emb, n_queries=1, k=2).collect()
    assert [r["neighbor_id"] for r in rows] == [1, 4]
    assert rows[0]["cos_sim"] > 0.99


def test_ann_gate_configs_recall_is_one(spark):
    """Regression guard for the driver gate: the pinned LSH_GATE/IVF_GATE
    parameterizations must reproduce the EXACT top-k at sf0.01 — that is
    what lets __spark_entry__ attach the exact DuckDB oracle to the two
    approximate paths. If a code change drops recall below 1.0 here, the
    driver row goes red; this test fails first and loudly."""
    import __spark_entry__ as E

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
             for r in ANN.brute_force_topk(emb, n_queries=8, k=5).collect()}
    lsh = {(r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
           for r in ANN.lsh_topk(emb, n_queries=8, k=5, **E.LSH_GATE).collect()}
    ivf = {(r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
           for r in ANN.ivf_topk(emb, n_queries=8, k=5, **E.IVF_GATE).collect()}
    assert lsh == exact, "LSH gate config no longer reproduces exact top-k"
    assert ivf == exact, "IVF gate config no longer reproduces exact top-k"


def _clustered_emb(spark, n=400, n_clusters=8, dim=32, noise=0.05):
    """Deterministic clustered corpus: the realistic ANN case (real
    embedding spaces are clustered; the sf0.01 gate vectors are
    near-uniform, where recall ~= probed fraction for ANY method)."""
    import numpy as np

    rng = np.random.default_rng(0)
    cents = rng.normal(size=(n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = [
        (i, [float(x) for x in cents[i % n_clusters]
             + noise * rng.normal(size=dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_ann_scale_paths_prune_hard_on_clustered_data(spark):
    """On clustered data both scale paths reach recall 1.0 while probing a
    small fraction: IVF probes 2/16 lists (12.5%); LSH uses 6-bit tables
    (each table probes the query's bucket and its 6 Hamming-1 neighbors:
    4*(6+1)/64 = 44% worst-case, far less realized because same-cluster
    vectors share signatures)."""
    emb = _clustered_emb(spark)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in ANN.brute_force_topk(emb, n_queries=6, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ANN.ivf_topk(emb, n_queries=6, k=5, n_centroids=16,
                                 n_probe=2).collect()}
    lsh = {(r["query_id"], r["neighbor_id"])
           for r in ANN.lsh_topk(emb, n_queries=6, k=5, n_bits=6,
                                 n_tables=4).collect()}
    assert len(exact & ivf) / len(exact) == 1.0
    assert len(exact & lsh) / len(exact) == 1.0


def test_lsh_auto_bits_bounds_candidate_fraction():
    """The derived signature width keeps the expected probed fraction
    under budget at EVERY corpus size (r2 critique: fixed 4-bit tables
    probed ~37% of the corpus per query)."""
    for n in (1_000, 1_000_000, 1_000_000_000):
        b = ANN._auto_bits(n, ANN.LSH_TABLES)
        frac = ANN.LSH_TABLES * (b + 1) / (1 << b)
        assert frac <= ANN.LSH_TARGET_FRACTION, (n, b, frac)
    # bucket-granularity bound kicks in at huge n
    assert ANN._auto_bits(10**9, 4) >= 17  # 1e9/4096 -> >=2^17 buckets
    assert ANN._auto_bits(10**9, 4) <= 24


def test_lsh_measured_candidate_fraction_at_bench_sf(spark):
    """Auto-derived params measured, not just modeled: at the bench-scale
    embeddings the deduped candidate set per query must stay under 5% of
    the corpus."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n = emb.count()
    n_q = 8
    cand = ANN._lsh_join(emb, n_queries=n_q, n_bits=None,
                         n_tables=ANN.LSH_TABLES).count()
    frac = cand / (n_q * n)
    assert frac <= 0.05, f"candidate fraction {frac:.3f} exceeds 5%"


def test_minhash_lsh_one_shuffle_shape(spark, toy_docs):
    """Plan audit: candidate generation in every band_pairs caller must be
    an equi-join on band keys (shuffled hash join / SMJ on band_key),
    never a cartesian product."""
    for df in (TX.minhash_neardup(toy_docs), TX.simhash_neardup(toy_docs),
               ANN.embedding_neardup(_clustered_emb(spark, n=40))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_dup_passages_and_line_dedup_one_shuffled_hash_join(spark):
    """Plan pin for the shuffle_hash hints: before execution, the plans
    of dup_passages and line_dedup each hold exactly one
    ShuffledHashJoin (the membership join back onto the per-key table).
    Without the hint the planner broadcasts that table at sf0.01 and the
    count is 0."""
    from sparklog.synth import load_documents

    docs = load_documents(spark, SF_CORRECT)
    for df in (TX.dup_passages(docs), TX.line_dedup(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ShuffledHashJoin") == 1, plan


def test_simhash_fingerprint_plans_are_jvm_only(spark, toy_docs):
    """The round-1 Python kernels are gone: no Arrow/pandas nodes anywhere
    in the simhash or fingerprint plans."""
    for df in (TX.simhash(toy_docs), TX.fingerprint(toy_docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan


def test_minhash_band_exchange_carries_no_shingles(spark, toy_docs):
    """Scale audit: the band-key shuffle must move (doc_id, band_id,
    band_key) only — the shingle array joins back AFTER candidate dedup."""
    plan = TX.minhash_neardup(toy_docs)._jdf.queryExecution() \
        .optimizedPlan().toString()
    # the optimized plan's band-join keys reference band_key; _sh may only
    # appear in the later verification joins (by doc_id), so any join ON
    # band_key must not carry _sh in its output column set
    import re
    joins = [seg for seg in plan.split("Join")
             if "band_key" in seg.split("\n")[0]]
    assert joins, "band-key join missing from plan"
    assert all("_sh" not in seg.split("\n")[0] for seg in joins)


def test_fingerprint_is_oracle_friendly_md5(spark):
    docs = spark.createDataFrame([(0, "A  b\tC")], "doc_id LONG, text STRING")
    import hashlib
    want = hashlib.md5(b"a b c").hexdigest()
    assert TX.fingerprint(docs).collect()[0]["fp"] == want


def test_documents_ascii_safe_for_json_oracle(spark):
    """Precondition the json_serialize oracle relies on: document text at
    every SF is printable ASCII with no quote/backslash, so msg embeds
    into JSON verbatim."""
    for sf in ("/root/testdata/sf0.001", SF_CORRECT):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        bad = docs.filter(
            F.col("text").rlike('["\\\\]')
            | F.col("text").rlike("[^\\x20-\\x7e]")
        ).count()
        assert bad == 0, f"{sf}: {bad} docs break the verbatim-msg assumption"


def test_ann_ivf_recall_vs_exact(spark):
    """IVF with n_probe/n_centroids = 1/4 of the corpus partitions must
    still recover most exact neighbors (and all of them for a query's own
    cluster neighborhood)."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in ANN.brute_force_topk(emb, n_queries=4, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ANN.ivf_topk(emb, n_queries=4, k=5,
                                 n_centroids=8, n_probe=4).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ann_ivf_returns_k_rows_per_query(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    rows = ANN.ivf_topk(emb, n_queries=3, k=4, n_centroids=8, n_probe=3).collect()
    per = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 5)) for v in per.values())


def test_neardup_components_transitive(spark, toy_docs):
    """0 and 1 are exact dups, 2 is a near-dup of both -> one component
    {0,1,2} with canonical 0; everything else is a singleton. Also
    exercises convergence in <= 2 label-propagation rounds."""
    rows = {r["doc_id"]: (r["component_id"], r["is_canonical"])
            for r in TX.neardup_components(toy_docs).collect()}
    assert rows[0] == (0, 1)
    assert rows[1] == (0, 0)
    assert rows[2] == (0, 0)
    for d in (3, 4, 5):
        assert rows[d] == (d, 1)
    assert len(rows) == 6


def test_clean_corpus_composition(spark, toy_docs):
    """Quality+lang+dedup composition: toy docs 0/1 are identical English
    text but fail the length gate (<100 chars), so with relaxed gates they
    dedup to one survivor and with default gates nothing survives."""
    out = {r["doc_id"]: r["n_copies"]
           for r in TX.clean_corpus(toy_docs, min_chars=10,
                                    min_words=5).collect()}
    assert out.get(0) == 2          # 0 and 1 merged, canonical 0
    assert 1 not in out
    assert 3 in out                 # english-ish filler passes relaxed gate
    assert 4 not in out             # german
    assert TX.clean_corpus(toy_docs).count() == 0  # default gates: too short


def test_clean_corpus_is_one_scan_one_shuffle(spark, toy_docs):
    """Plan audit: the composition must fuse the filters into the scan —
    NO joins between the component operators, exactly one Exchange (the
    16-byte md5 groupBy key)."""
    plan = TX.clean_corpus(toy_docs)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_clean_corpus_full_fused_and_every_gate_bites(spark):
    """The five-stage composition stays ONE scan + ONE shuffle (no joins
    between component ops), and on the gate corpus every gate is
    non-vacuous: PII was scrubbed (n_pii > 0 somewhere), dups collapsed
    (n_copies = 2 somewhere), and the repetition gate dropped docs that
    pass quality+lang (full < clean_corpus survivor count)."""
    from sparklog.synth import load_documents

    docs = load_documents(spark, "/root/testdata/sf0.01")
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    ).withColumn(
        "text",
        F.expr(
            "text || CASE WHEN (doc_id % 1000000) % 5 = 0"
            " THEN ' contact user' || CAST((doc_id % 1000000) % 97"
            " AS STRING) || '@mail.example.com' ELSE '' END"
        ),
    )
    out = TX.clean_corpus_full(aug)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1

    rows = out.collect()
    assert any(r["n_pii"] > 0 for r in rows)
    assert any(r["n_copies"] == 2 for r in rows)
    base = TX.clean_corpus(aug.select("doc_id", "text")).count()
    assert 0 < len(rows) < base  # repetition gate dropped some survivors


def test_split_assign_deterministic_and_reasonable(spark, toy_docs):
    """Content-keyed splits: identical text -> identical split (docs 0/1);
    assignment is partitioning-independent; salt rotates it."""
    a = {r["doc_id"]: r["split"] for r in TX.split_assign(toy_docs).collect()}
    b = {r["doc_id"]: r["split"]
         for r in TX.split_assign(toy_docs.repartition(7)).collect()}
    assert a == b
    assert a[0] == a[1]  # same text, same split — re-crawl stability
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    frac = {r["split"]: r["n"] for r in TX.split_assign(docs)
            .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(frac.values())
    assert frac["train"] / n > 0.8          # ~90% nominal
    assert 0 < frac.get("valid", 0) < n * 0.15
    salted = {r["doc_id"]: r["split"]
              for r in TX.split_assign(docs, salt="v2").collect()}
    plain = {r["doc_id"]: r["split"] for r in TX.split_assign(docs).collect()}
    assert salted != plain


def test_components_property_vs_union_find(spark):
    """Property check for the iterative label-propagation core: on random
    graphs (incl. chains longer than one hop, and no edges at all, which
    runs the placeholder self-pair) the Spark result must equal a
    reference union-find, for several seeded shapes; the one canonical
    doc per component is its min."""
    import random

    for seed, n, m in ((1, 60, 40), (2, 80, 15), (3, 50, 80), (4, 5, 0)):
        rng = random.Random(seed)
        pairs = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(m)})
        # reference union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: min(u for u in range(n) if find(u) == find(v))
                for v in range(n)}

        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id LONG")
        pdf = spark.createDataFrame(pairs or [(0, 0)], "doc_a LONG, doc_b LONG")
        out = TX.components_from_pairs(nodes, pdf).collect()
        got = {r["doc_id"]: r["component_id"] for r in out}
        assert got == want, f"seed={seed}"
        assert all(r["is_canonical"] == (r["doc_id"] == r["component_id"])
                   for r in out), f"seed={seed}"


def test_pii_scrub_known_values(spark):
    docs = spark.createDataFrame(
        [
            (0, "mail me at bob.smith@corp.example.org today"),
            (1, "server 192.168.1.20 and 10.0.0.7 rebooted"),
            (2, "call 415-555-0123 or 415-555-9999"),
            (3, "plain text no pii"),
            (4, "a@b.io from 1.2.3.4 dial 212-555-0000"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in TX.pii_scrub(docs).collect()}
    assert rows[0]["clean_text"] == "mail me at <EMAIL> today"
    assert rows[0]["n_emails"] == 1
    assert rows[1]["clean_text"] == "server <IP> and <IP> rebooted"
    assert rows[1]["n_ips"] == 2
    assert rows[2]["clean_text"] == "call <PHONE> or <PHONE>"
    assert rows[2]["n_phones"] == 2
    assert rows[3]["clean_text"] == "plain text no pii"
    assert (rows[3]["n_emails"], rows[3]["n_ips"], rows[3]["n_phones"]) \
        == (0, 0, 0)
    assert rows[4]["clean_text"] == "<EMAIL> from <IP> dial <PHONE>"
    # map-only JVM pass: no Python eval nodes, no shuffle
    plan = TX.pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Exchange" not in plan


def test_repetition_score_known_values(spark):
    docs = spark.createDataFrame(
        [
            (0, "a a a b"),          # top word a=3/4, bigram 'a a'=2/3
            (1, "x"),                # one word: no bigrams
            (2, ""),                 # no words at all
            (3, "p q p q"),          # bigrams: p q (2), q p (1)
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in TX.repetition_score(docs).collect()}
    assert rows[0]["n_words"] == 4 and rows[0]["n_distinct"] == 2
    assert rows[0]["top_word_n"] == 3 and rows[0]["top_bigram_n"] == 2
    assert rows[0]["top_word_frac"] == 0.75
    assert rows[0]["top_bigram_frac"] == 2 / 3
    assert rows[1]["n_words"] == 1 and rows[1]["top_bigram_frac"] is None
    assert rows[2]["n_words"] == 0 and rows[2]["distinct_ratio"] is None
    assert rows[2]["top_word_n"] == 0
    assert rows[3]["top_bigram_n"] == 2 and rows[3]["top_bigram_frac"] == 2 / 3
    # the fold is pure JVM array math: no Python nodes, no shuffle
    plan = (TX.repetition_score(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Exchange" not in plan


def test_salted_topk_equals_naive_window_on_skewed_key(spark):
    """salted_topk must return EXACTLY the naive hot-window result (rows
    AND ranks) on a Zipf-ish input: one domain with 500 docs, a few tiny
    ones. This is the domain_balance scale rewrite's correctness gate."""
    from pyspark.sql import Window

    rows = [(i, "hot.example.com") for i in range(500)]
    rows += [(1000 + i, f"d{i}.example.com") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, domain STRING")
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]

    w = Window.partitionBy("domain").orderBy(*order)
    want = {
        (r["doc_id"], r["domain"], r["rnk"])
        for r in df.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20).collect()
    }
    got_df = TX.salted_topk(df, "domain", order, k=20)
    got = {(r["doc_id"], r["domain"], r["rnk"]) for r in got_df.collect()}
    assert got == want

    # skew evidence: phase 1 windows by (domain, _salt) — the hot domain
    # spreads over many salt buckets instead of one window partition —
    # and the plan has exactly the two narrow Window nodes
    salts = (
        df.filter(F.col("domain") == "hot.example.com")
        .select(F.pmod(F.xxhash64(*order), F.lit(16)).alias("s"))
        .distinct().count()
    )
    assert salts > 8, f"hot domain only occupies {salts} salt buckets"
    # after execution AQE prints "Final Plan" AND "Initial Plan" — count
    # nodes only in the final section
    plan = (got_df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Window [row_number()") == 2
    assert "_salt" in plan
    # Spark 4's rank-limit pushdown: each phase gets a map-side
    # (Partial) WindowGroupLimit, so at most K rows per group per map
    # partition ever cross the shuffle — pin it so a plan regression
    # (e.g. an expression change breaking the pushdown) fails loudly
    assert "row_number(), 20, Partial" in plan


def test_contamination_known_rates(spark):
    """Exact rates on hand-built overlap: a verbatim eval copy is 1.0,
    disjoint text 0.0, partial overlap counts shared 5-shingles, short
    docs get NULL, and the membership side broadcasts. The join has no
    hint, so the broadcast is AQE's run-time choice from the measured
    size: the plan is read after collect(), i.e. the final adaptive plan."""
    ev = spark.createDataFrame(
        [(100, "abcdefgh")], "doc_id LONG, text STRING"
    )
    tr = spark.createDataFrame(
        [
            (0, "abcdefgh"),     # verbatim -> 1.0
            (1, "zzzzzzzzzz"),   # disjoint -> 0.0
            (2, "abcdexyzw"),    # shares only shingle 'abcde' -> 1/5
            (3, "abc"),          # too short -> NULL
        ],
        "doc_id LONG, text STRING",
    )
    df = TX.contamination(tr, ev)
    out = {r["doc_id"]: r for r in df.collect()}
    assert out[0]["contamination_rate"] == 1.0
    assert out[1]["contamination_rate"] == 0.0
    assert out[2]["n_shingles"] == 5 and out[2]["n_hits"] == 1
    assert out[2]["contamination_rate"] == 0.2
    assert out[3]["n_shingles"] == 0
    assert out[3]["contamination_rate"] is None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_canonical_url_known_cases(spark):
    """Pin the normalizer on the cases regex-based strippers get wrong:
    CONSECUTIVE utm params (a one-pass regex consumes the separator of
    the next match and leaves the second param behind — split/filter
    doesn't), utm-only queries, host casing, ports, fragments."""
    cases = [
        ("https://a.b/p?utm_a=1&utm_b=2&x=3", "https://a.b/p?x=3"),
        ("HTTP://X.Y/p#f", "http://x.y/p"),
        ("https://h/p?utm_only=1", "https://h/p"),
        ("https://H.D:8080/a?b=1&utm_z=9#frag", "https://h.d:8080/a?b=1"),
        ("https://plain.example.com/p/7", "https://plain.example.com/p/7"),
        ("https://h/p?a=1&b=2", "https://h/p?a=1&b=2"),  # order preserved
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "doc_id LONG, url STRING"
    )
    got = {r["doc_id"]: r["canonical_url"]
           for r in TX.canonical_url(df).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)
    plan = (TX.canonical_url(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_lm_score_fixed_point_known_values(spark):
    """Hand-computed micro-nat arithmetic on a 3-token corpus, NULL for
    the empty doc, and the ordering property the filter exists for:
    common-token docs score lower than rare-token docs."""
    import math

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a a a"), (2, "b"), (3, "")],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in TX.lm_score(docs).collect()}
    # counts: a=5, b=2, total=7
    lp_a = math.floor(math.log(5 / 7) * 1e6)
    lp_b = math.floor(math.log(2 / 7) * 1e6)
    assert out[0]["sum_lp_micro"] == 2 * lp_a + lp_b
    assert out[0]["n_tokens"] == 3
    assert out[0]["mean_neg_logprob"] == -(2 * lp_a + lp_b) / 3e6
    assert out[3]["n_tokens"] == 0
    assert out[3]["mean_neg_logprob"] is None
    # all-common doc 1 scores LOWER than rare-token doc 2
    assert out[1]["mean_neg_logprob"] < out[2]["mean_neg_logprob"]


def test_lm_score_bounded_vocab(spark):
    """vocab_k bounds the broadcast vocab (the 100-TB knob): only the
    top-k tokens score in-vocab, the tail gets the OOV log-prob, and
    in-vocab probabilities keep the FULL corpus total (no
    renormalization over the head)."""
    import math

    docs = spark.createDataFrame(
        [(0, "a a a b b c")], "doc_id LONG, text STRING"
    )
    # counts: a=3, b=2, c=1, total=6; vocab_k=2 keeps {a, b}; c -> OOV
    out = TX.lm_score(docs, vocab_k=2).collect()[0]
    lp_a = math.floor(math.log(3 / 6) * 1e6)
    lp_b = math.floor(math.log(2 / 6) * 1e6)
    oov = math.floor(math.log(1 / 6) * 1e6)
    assert out["sum_lp_micro"] == 3 * lp_a + 2 * lp_b + oov


def test_quantize_embeddings_bound_and_edges(spark):
    """Floor-quantizer invariants: dequantized values within 1 ULP
    (scale/127) of the original, extremes hit ±127 exactly, zero vector
    quantizes to zeros with scale 0, and the op is a map-only JVM
    projection (no shuffle, no Python)."""
    from sparklog import ann as ANN

    rows = [
        (0, [1.0, -1.0, 0.5, -0.25]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-2.0, 0.1, 0.0, 1.99]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = {r["vec_id"]: r for r in ANN.quantize_embeddings(emb).collect()}
    assert out[0]["q"] == [127, -127, 63, -32]  # floor(-0.25*127)=-32
    assert out[1]["scale"] == 0.0 and out[1]["q"] == [0, 0, 0, 0]
    assert out[2]["q"][0] == -127  # the negative extreme clamps exactly
    for vid, vec in rows:
        s = out[vid]["scale"]
        if s == 0:
            continue
        for x, q in zip(vec, out[vid]["q"]):
            assert abs(x - q * s / 127) <= s / 127 + 1e-12
    plan = (ANN.quantize_embeddings(emb)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_capped_sample_matches_naive_with_cap_table(spark):
    """Per-group caps from a table: survivors must equal the naive
    window+cap-join result — including a cap-0 group (dropped) and a
    group absent from the caps table (dropped)."""
    from pyspark.sql import Window

    rows = [(i, "big.com") for i in range(40)]
    rows += [(100 + i, "mid.com") for i in range(10)]
    rows += [(200 + i, "zero.com") for i in range(5)]
    rows += [(300 + i, "nocap.com") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id LONG, domain STRING")
    caps = spark.createDataFrame(
        [("big.com", 3), ("mid.com", 7), ("zero.com", 0)],
        "domain STRING, cap INT",
    )
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]

    w = Window.partitionBy("domain").orderBy(*order)
    want = {
        (r["doc_id"], r["domain"], r["rnk"])
        for r in df.withColumn("rnk", F.row_number().over(w).cast("int"))
        .join(caps, "domain").filter(F.col("rnk") <= F.col("cap")).collect()
    }
    got = {
        (r["doc_id"], r["domain"], r["rnk"])
        for r in TX.capped_sample(df, caps, "domain", order).collect()
    }
    assert got == want
    assert len(got) == 3 + 7  # big: 40 docs capped at 3; mid: 10 capped at 7
    doms = {d for _, d, _ in got}
    assert "zero.com" not in doms and "nocap.com" not in doms


def test_pack_assign_matches_naive_global_window(spark):
    """The distributed prefix-sum (nibble buckets + offsets) must equal
    the naive single global window bit-for-bit, and pack boundaries must
    respect the budget arithmetic."""
    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 11))) for i in range(300)],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in TX.pack_assign(docs, budget=50).collect()}

    key = F.md5(F.col("doc_id").cast("string"))
    w = (Window.orderBy(key, "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    nt = F.size(F.split("text", " ")).cast("long")
    want = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", nt.alias("n_tokens"),
            F.sum(nt).over(w).alias("cum_tokens"),
        ).withColumn(
            "pack_id", F.expr("(cum_tokens - n_tokens) div 50")
        ).collect()
    }
    assert set(got) == set(want)
    for did in want:
        for c in ("n_tokens", "cum_tokens", "pack_id"):
            assert got[did][c] == want[did][c], (did, c)
    # every pack's docs start inside the budget window of that pack
    total = sum(r["n_tokens"] for r in got.values())
    assert max(r["cum_tokens"] for r in got.values()) == total
    # the big window is bucketed, never global over the full data, and
    # the corpus-order sort happens exactly ONCE (the totals pass is
    # agg-only — no second sort/window over the data)
    plan = (TX.pack_assign(docs, budget=50)._jdf.queryExecution()
            .executedPlan().toString().split("== Initial Plan ==")[0])
    assert "_b" in plan
    big_sorts = [ln for ln in plan.splitlines()
                 if "Sort [" in ln and "_k" in ln]
    assert len(big_sorts) == 1, big_sorts


def test_components_long_chain_converges_within_default_iters(spark):
    """Adversarial diameter: a 60-node path (diameter 59) must converge
    inside the DEFAULT max_iters=10 — pointer jumping makes the reach
    roughly double per round (2^(r+1)-1 hops after r rounds), so ~6
    rounds suffice where plain hash-min would need 59 and silently
    return split components."""
    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id LONG")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a LONG, doc_b LONG"
    )
    got = {r["doc_id"]: r["component_id"]
           for r in TX.components_from_pairs(nodes, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_components_raises_instead_of_returning_split_labels(spark):
    """If the fixpoint is NOT reached in max_iters rounds the operator
    must raise, never return wrong component ids (ADVICE r3): a 60-hop
    chain cannot close in 2 rounds even with jumping (reach 2^3-1=7)."""
    import pytest

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id LONG")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a LONG, doc_b LONG"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        TX.components_from_pairs(nodes, pairs, max_iters=2).collect()


def test_oov_rate_toy_and_plan(spark):
    """Known-vocab corpus: with k=2 the top vocab is {'a','b'} (ties to
    text order), so doc 1's 'z' tokens are OOV; empty doc -> NULL rate.
    Plan audit: distributed top-k (TakeOrderedAndProject) + broadcast
    membership join — no global sort, no shuffled vocab join."""
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a z z b"), (2, "")],
        "doc_id LONG, text STRING",
    )
    out = TX.oov_rate(docs, k=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["n_oov"] == 0 and rows[0]["oov_rate"] == 0.0
    assert rows[1]["n_oov"] == 2 and rows[1]["oov_rate"] == 0.5
    assert rows[2]["n_tokens"] == 0 and rows[2]["oov_rate"] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_contamination_broadcast_off_same_rows_no_bcast_plan(spark):
    """The terabyte-eval shape: with auto-broadcast disabled the
    membership join must shuffle on the shingle key (no BroadcastExchange
    anywhere in the plan) and return the exact same rows as the
    broadcast plan."""
    ev = spark.createDataFrame(
        [(100, "abcdefgh")], "doc_id LONG, text STRING"
    )
    tr = spark.createDataFrame(
        [(0, "abcdefgh"), (1, "zzzzzzzzzz"), (2, "abcdexyzw"), (3, "abc")],
        "doc_id LONG, text STRING",
    )
    want = sorted(
        TX.contamination(tr, ev).collect(), key=lambda r: r["doc_id"]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = TX.contamination(tr, ev)
        got = sorted(out.collect(), key=lambda r: r["doc_id"])
        plan = (out._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])
        assert "BroadcastExchange" not in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_capped_sample_heterogeneous_caps_prune_per_group(spark):
    """Heterogeneous caps {hot: 10_000, tail: 3}: phase 1 must prune
    each group to its OWN cap (pre-joined broadcast caps), so the tail
    groups carry at most salts*3 rows into phase 2 — not salts*10_000
    as global-max pruning would. Result still equals the naive
    window + cap join exactly."""
    import re

    from pyspark.sql import Window

    rows = [(i, "hot.com") for i in range(60)]
    rows += [(1000 + 100 * d + i, f"t{d}.com")
             for d in range(4) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id LONG, domain STRING")
    cap_rows = [("hot.com", 10_000)] + [(f"t{d}.com", 3) for d in range(4)]
    caps = spark.createDataFrame(cap_rows, "domain STRING, cap INT")
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]

    w = Window.partitionBy("domain").orderBy(*order)
    want = {
        (r["doc_id"], r["domain"], r["rnk"])
        for r in df.withColumn("rnk", F.row_number().over(w).cast("int"))
        .join(caps, "domain").filter(F.col("rnk") <= F.col("cap")).collect()
    }
    out = TX.capped_sample(df, caps, "domain", order)
    got = {(r["doc_id"], r["domain"], r["rnk"]) for r in out.collect()}
    assert got == want
    assert len(got) == 60 + 4 * 3  # hot uncapped (60 < 10k), tails at 3

    # plan evidence: phase-1 prune compares the rank to the CAP COLUMN
    # (per-group), caps arrive via a broadcast join below both windows
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert re.search(r"_r1#\d+ <= cap#", plan), plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window [row_number()") == 2

    # quantitative bound, measured with the operator's own arithmetic:
    # per-tail-domain phase-1 survivors <= salts * own_cap = 48 (global-
    # max pruning would have passed all 100 rows of every tail domain)
    w1 = Window.partitionBy("domain", "_salt").orderBy(*order)
    surv = (
        df.join(caps, "domain")
        .withColumn("_salt", F.pmod(F.xxhash64(*order), F.lit(16)))
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= F.col("cap"))
        .groupBy("domain").count().collect()
    )
    by_dom = {r["domain"]: r["count"] for r in surv}
    for d in range(4):
        assert by_dom[f"t{d}.com"] <= 16 * 3


def test_pii_scrub_counts_match_emitted_placeholders(spark):
    """Sequential counting (ADVICE r4): a phone-shaped email local part
    is consumed whole by the email replacement — ONE <EMAIL>, zero
    <PHONE> — and the counts must agree with the emitted placeholders
    (n_phones=0), not with what the original text happened to match."""
    docs = spark.createDataFrame(
        [
            (0, "reach me at 123-456-7890@a.bc ok"),
            (1, "ip-in-email 1.2.3.4@x.yz here"),
            (2, "real phone 415-555-0000 and mail a@b.io"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in TX.pii_scrub(docs).collect()}
    assert rows[0]["clean_text"] == "reach me at <EMAIL> ok"
    assert (rows[0]["n_emails"], rows[0]["n_phones"]) == (1, 0)
    assert rows[1]["clean_text"] == "ip-in-email <EMAIL> here"
    assert (rows[1]["n_emails"], rows[1]["n_ips"]) == (1, 0)
    assert (rows[2]["n_emails"], rows[2]["n_phones"]) == (1, 1)
    n_pii = rows[0]["n_emails"] + rows[0]["n_ips"] + rows[0]["n_phones"]
    assert n_pii == rows[0]["clean_text"].count("<")


def test_pack_assign_group_cols_equals_per_group_runs(spark):
    """pack_assign(group_cols=["split"]) must equal running pack_assign
    independently on each split's subset: numbering restarts per group,
    pack ids never span groups."""
    docs = spark.createDataFrame(
        [(i, ["train", "valid", "test"][i % 3],
          " ".join(["w"] * (3 + i % 11))) for i in range(240)],
        "doc_id LONG, split STRING, text STRING",
    )
    got = {
        (r["split"], r["doc_id"]): (r["n_tokens"], r["cum_tokens"],
                                    r["pack_id"])
        for r in TX.pack_assign(docs, budget=37,
                                group_cols=["split"]).collect()
    }
    want = {}
    for s in ["train", "valid", "test"]:
        sub = docs.filter(F.col("split") == s).drop("split")
        for r in TX.pack_assign(sub, budget=37).collect():
            want[(s, r["doc_id"])] = (r["n_tokens"], r["cum_tokens"],
                                      r["pack_id"])
    assert got == want
    for s in ["train", "valid", "test"]:
        packs = sorted({p for (sp, _), (_, _, p) in got.items() if sp == s})
        assert packs[0] == 0 and packs == list(range(len(packs)))


def test_line_filter_known_values(spark):
    """Each C4 line gate on hand-built lines: min-words, terminal
    punctuation, banned phrases; counts reconcile; map-only JVM plan."""
    docs = spark.createDataFrame(
        [
            (0, "good line with words.\nno punct line\nok.\n"
                "another good one here!"),
            (1, "lorem ipsum dolor sit amet.\nreal content stays here."),
            (2, "Powered by JavaScript widgets.\nkeep this sentence."),
            (3, ""),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in TX.line_filter(docs).collect()}
    assert rows[0]["clean_text"] == ("good line with words.\n"
                                     "another good one here!")
    assert (rows[0]["n_lines"], rows[0]["n_kept"]) == (4, 2)
    assert rows[1]["clean_text"] == "real content stays here."
    assert rows[2]["clean_text"] == "keep this sentence."
    assert rows[3]["clean_text"] == "" and rows[3]["n_kept"] == 0
    plan = TX.line_filter(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dup_passages_known_values(spark):
    """Exact copies share every shingle (rate 1.0); a doc sharing only a
    passage gets the fractional rate; unique docs 0.0; short docs
    NULL."""
    boiler = "this exact passage is duplicated across"  # 40 chars
    docs = spark.createDataFrame(
        [
            (0, "a" * 10 + boiler),
            (1, "b" * 10 + boiler),          # shares the boiler passage
            (2, "totally unique content with nothing shared at all 2"),
            (3, "x" * 30),                   # unique
            (4, "short"),                    # < k -> NULL
            (5, "a" * 10 + boiler),          # exact copy of doc 0
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in TX.dup_passages(docs, k=20).collect()}
    assert rows[0]["dup_rate"] == 1.0 and rows[5]["dup_rate"] == 1.0
    assert 0.0 < rows[1]["dup_rate"] < 1.0
    assert rows[1]["n_dup"] == rows[1]["n_shingles"] - \
        ("b" * 10 + boiler).index(boiler)  # prefix shingles unique
    assert rows[2]["dup_rate"] == 0.0 and rows[3]["dup_rate"] == 0.0
    assert rows[4]["dup_rate"] is None and rows[4]["n_shingles"] == 0


def test_winnow_fingerprints_guarantee_and_sketch_size(spark):
    """The winnowing guarantee: two docs sharing a substring of length
    >= k + w - 1 (= 8 at k=5, w=4) share at least one fingerprint;
    disjoint docs share none; the sketch is much smaller than the gram
    count; short docs get empty sketches. Map-only JVM plan."""
    shared = "common shared passage here"
    docs = spark.createDataFrame(
        [
            (0, "aaaa " + shared + " tail one"),
            (1, "bbbbbbb " + shared + " other end"),
            (2, "zzzzzzzzzzzz completely different body"),
            (3, "tiny"),  # < k
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in
           TX.winnow_fingerprints(docs).collect()}
    assert set(out[0]["fps"]) & set(out[1]["fps"])
    assert not (set(out[0]["fps"]) & set(out[2]["fps"]))
    assert out[3]["n_grams"] == 0 and out[3]["n_fps"] == 0
    for d in (0, 1, 2):
        assert 0 < out[d]["n_fps"] < out[d]["n_grams"]
        assert out[d]["fps"] == sorted(set(out[d]["fps"]))
    plan = TX.winnow_fingerprints(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_winnow_guarantee_property_batch(spark):
    """Batched property test of the winnowing guarantee (Schleimer et
    al. thm): for 60 seeded random pairs sharing a planted substring of
    length >= k + w - 1 = 8, both docs must share >= 1 fingerprint.
    One Spark job for all pairs (per-example Spark runs would be
    seconds each); rng strings use a small alphabet to stress repeated
    k-grams, the regime where naive min-hash selection breaks."""
    import random

    rng = random.Random(99)
    alpha = "abcd "
    rows = []
    for pid in range(60):
        shared = "".join(rng.choice(alpha) for _ in range(rng.randint(8, 20)))
        for side in (0, 1):
            pre = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 15)))
            post = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 15)))
            rows.append((pid * 2 + side, pid, pre + shared + post))
    df = spark.createDataFrame(rows, "doc_id LONG, pair LONG, text STRING")
    out = {r["doc_id"]: set(r["fps"]) for r in
           TX.winnow_fingerprints(df).collect()}
    for pid in range(60):
        a, b = out[pid * 2], out[pid * 2 + 1]
        assert a & b, f"pair {pid} shares no fingerprint"


def test_html_to_text_pages_roundtrip_and_entities(spark):
    """The north-rule invariant extended to extraction: html_to_text
    over the actual pages table recovers text byte-identically for
    every url; double-escaped entities decode by the standard rule
    (&amp;lt; -> literal '&lt;', never '<'); script content with a bare
    '<' inside does not break tag stripping. Map-only JVM plan."""
    from sparklog import synth

    pages = synth.pages_df(spark, "/root/testdata/sf0.001")
    out = TX.html_to_text(pages).join(
        pages.select("doc_id", "text"), "doc_id"
    )
    assert out.filter(
        F.col("extracted_text") != F.col("text")
    ).count() == 0

    tricky = spark.createDataFrame(
        [
            (0, b"<p>a &amp;lt; b</p>"),
            (1, b"<script>if (x < 3) { y(); }</script><b>kept</b>"),
            (2, b"pre<!-- <p>gone</p> -->post"),
            (3, b"<STYLE>p { }</STYLE>case insensitive"),
        ],
        "doc_id LONG, html BINARY",
    )
    rows = {r["doc_id"]: r["extracted_text"]
            for r in TX.html_to_text(tricky).collect()}
    assert rows[0] == "a &lt; b"
    assert rows[1] == "kept"
    assert rows[2] == "prepost"
    assert rows[3] == "case insensitive"
    plan = TX.html_to_text(tricky)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_line_dedup_first_occurrence_rule(spark):
    """C4 corpus-global line dedup: a line repeated across (or within)
    docs survives only at its first (doc_id, pos) occurrence; doc
    structure and line order are preserved; a fully-duplicate doc comes
    back empty. Plan: the canonical pick is a groupBy-min (combiner),
    NOT a row_number window over the line key."""
    docs = spark.createDataFrame(
        [
            (0, "unique alpha\nshared footer\nunique beta"),
            (1, "shared footer\nunique gamma\nshared footer"),
            (2, "shared footer"),
            (3, "unique delta"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in TX.line_dedup(docs).collect()}
    assert out[0]["clean_text"] == "unique alpha\nshared footer\nunique beta"
    assert out[1]["clean_text"] == "unique gamma"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 1)
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[3]["clean_text"] == "unique delta"
    plan = TX.line_dedup(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Window" not in plan  # skew-safe: no per-line-key window
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_url_filter_parent_domain_and_longest_match(spark):
    """Blocklist semantics: exact host blocks; a listed parent domain
    blocks every subdomain; the MOST SPECIFIC (longest) listed suffix
    wins as matched_domain; unlisted hosts pass; ports/paths/case are
    normalized away. Broadcast membership plan."""
    pages = spark.createDataFrame(
        [
            (0, "https://db-03.example.com/p/0"),       # exact host
            (1, "https://node-3.example.net/p/1"),      # deep + parent
            (2, "https://node-7.example.net/p/2"),      # parent only
            (3, "https://safe.example.org/p/3"),        # unlisted
            (4, "HTTPS://DB-03.EXAMPLE.COM:8443/x?q=1"),  # case + port
        ],
        "doc_id LONG, url STRING",
    )
    bl = spark.createDataFrame(
        [("db-03.example.com",), ("example.net",), ("node-3.example.net",)],
        "domain STRING",
    )
    out = {r["doc_id"]: r for r in TX.url_filter(pages, bl).collect()}
    assert out[0]["blocked"] == 1
    assert out[0]["matched_domain"] == "db-03.example.com"
    assert out[1]["matched_domain"] == "node-3.example.net"  # longest
    assert out[2]["matched_domain"] == "example.net"
    assert out[3]["blocked"] == 0 and out[3]["matched_domain"] is None
    assert out[4]["blocked"] == 1 and out[4]["host"] == "db-03.example.com"
    plan = TX.url_filter(pages, bl)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pack_texts_materializes_canonical_order(spark):
    """Concatenated shard text equals joining the docs in pack_assign's
    canonical (md5 doc_id) order; token totals reconcile per pack; every
    doc lands in exactly one pack; zero-token docs (cum ties) keep a
    deterministic position."""
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (2 + i % 5)) if i % 7 else "")
         for i in range(80)],
        "doc_id LONG, text STRING",
    )
    asg = {r["doc_id"]: r for r in
           TX.pack_assign(docs, budget=23).collect()}
    packs = {r["pack_id"]: r for r in
             TX.pack_texts(docs, budget=23).collect()}
    import hashlib

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_pack = {}
    for did, r in asg.items():
        by_pack.setdefault(r["pack_id"], []).append(
            (r["cum_tokens"], hashlib.md5(str(did).encode()).hexdigest(),
             did)
        )
    assert set(packs) == set(by_pack)
    for pid, members in by_pack.items():
        want = "\n\n".join(texts[d] for _, _, d in sorted(members))
        assert packs[pid]["pack_text"] == want, pid
        assert packs[pid]["n_docs"] == len(members)
        assert packs[pid]["n_tokens"] == sum(
            asg[d]["n_tokens"] for _, _, d in members)
    assert sum(p["n_docs"] for p in packs.values()) == 80


def test_line_dedup_global_invariant_and_paragraph_mode(spark):
    """Global invariant: across ALL docs, each distinct line survives
    EXACTLY once and nothing else survives — checked on seeded random
    multi-line docs with heavy cross-doc repetition. sep='\\n\\n' runs
    the identical rule at paragraph granularity."""
    import random

    rng = random.Random(7)
    pool = [f"line {i}" for i in range(15)]
    docs_rows = [
        (d, "\n".join(rng.choice(pool)
                      for _ in range(rng.randint(1, 8))))
        for d in range(40)
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id LONG, text STRING")
    out = TX.line_dedup(docs).collect()
    survived = []
    for r in out:
        if r["clean_text"]:
            survived.extend(r["clean_text"].split("\n"))
        assert r["n_kept"] <= r["n_lines"]
    all_lines = {l for _, t in docs_rows for l in t.split("\n")}
    assert sorted(survived) == sorted(all_lines)  # exactly once each

    para = spark.createDataFrame(
        [(0, "shared para\n\nunique one"),
         (1, "unique two\n\nshared para")],
        "doc_id LONG, text STRING",
    )
    pout = {r["doc_id"]: r for r in
            TX.line_dedup(para, sep="\n\n").collect()}
    assert pout[0]["clean_text"] == "shared para\n\nunique one"
    assert pout[1]["clean_text"] == "unique two"
    assert (pout[1]["n_lines"], pout[1]["n_kept"]) == (2, 1)


def test_ngram_topk_known_counts_and_plan(spark):
    """Hand-built corpus: bigram counts and deterministic tie-break;
    trigram mode; short docs contribute nothing; distributed top-k
    (TakeOrderedAndProject, no global sort)."""
    docs = spark.createDataFrame(
        [
            (0, "a b a b c"),      # bigrams: 'a b' x2, 'b a', 'b c'
            (1, "a b x"),          # 'a b', 'b x'
            (2, "z"),              # no bigrams
            (3, ""),
        ],
        "doc_id LONG, text STRING",
    )
    rows = TX.ngram_topk(docs, n=2, k=3).collect()
    assert [(r["ngram"], r["n"]) for r in rows] == \
        [("a b", 3), ("b a", 1), ("b c", 1)]  # ties by text
    tri = TX.ngram_topk(docs, n=3, k=2).collect()
    # all four trigrams ('a b a','b a b','a b c','a b x') have n=1;
    # the text tie-break keeps the 2 lexicographically smallest
    assert [(r["ngram"], r["n"]) for r in tri] == \
        [("a b a", 1), ("a b c", 1)]
    plan = TX.ngram_topk(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "TakeOrderedAndProject" in plan


def test_spread_nonfile_frames_use_partition_count(spark):
    """Zero inputFiles means UNKNOWN width, not narrow: an in-memory or
    post-shuffle frame already at cluster parallelism must NOT get an
    extra repartition shuffle; a genuinely narrow one still spreads."""
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target).selectExpr("id AS doc_id")
    assert TX.spread(wide) is wide
    narrow = spark.range(10).coalesce(1).selectExpr("id AS doc_id")
    assert TX.spread(narrow).rdd.getNumPartitions() == target


def test_materialized_filter_reads_materialized_column(spark):
    """Plan pin for the filter barrier: on clean_corpus_full the executed
    Filter reads only the materialised predicate column. Without the
    barrier PushDownPredicate inlines the PII scrub chain into the Filter
    condition, which FilterExec then re-evaluates per reference."""
    from sparklog.synth import load_documents

    out = TX.clean_corpus_full(load_documents(spark, SF_SMOKE))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    filters = [ln for ln in final.splitlines()
               if ln.lstrip(" +-:*()0123456789").startswith("Filter ")]
    assert filters, final
    for ln in filters:
        assert "__materialized_keep" in ln, ln
        assert "regexp_replace" not in ln, ln


def test_materialized_filter_keeps_caller_keep_column(spark):
    """The barrier's own predicate column never replaces or drops a
    caller column, whatever the caller named it."""
    df = spark.createDataFrame(
        [(i, i % 3 == 0, f"v{i}") for i in range(12)],
        "doc_id LONG, _keep BOOLEAN, __materialized_keep STRING")
    got = TX.materialized_filter(df, F.col("_keep"))
    assert got.columns == df.columns
    assert sorted(tuple(r) for r in got.collect()) == [
        (i, True, f"v{i}") for i in range(0, 12, 3)]
    odd = TX.materialized_filter(df, F.col("doc_id") % 2 == 1)
    assert odd.columns == df.columns
    assert sorted(r["doc_id"] for r in odd.collect()) == list(range(1, 12, 2))


def test_minhash_and_shingle_barriers_evaluate_once(spark):
    """Plan pin for the two batch barriers that carry the same conjunct:
    the final executed plan of minhash_neardup holds the Jaccard
    intersect once and shingle_sets' shingle expression once (its ASCII
    and non-ASCII transform branches). With a plain filter in place of
    materialized_filter each count doubles (2 and 4)."""
    from sparklog.synth import load_documents

    docs = load_documents(spark, SF_SMOKE)

    def final_plan(df):
        df.collect()
        return (df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])

    mh = final_plan(TX.minhash_neardup(docs))
    assert mh.count("array_intersect") == 1, mh
    sh = final_plan(TX.shingle_sets(docs))
    assert sh.count("transform(") == 2, sh
