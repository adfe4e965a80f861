"""Similarity search over an embedding column (array<float>).

Three top-k strategies, one exact re-rank (_top_k) behind all of them:
  - brute_force_topk: exact cosine top-k. The query set is broadcast
    (small), the corpus side streams — one scan, no corpus shuffle; the
    per-query top-k is a windowed rank over (n_queries x corpus) rows.
    This is the correctness baseline and is fine whenever
    n_queries x corpus fits a shuffle (it's the corpus that is 100 TB,
    so n_queries must stay small — which is the point of the baseline).
  - ivf_topk: inverted lists over deterministic hash-sampled centers;
    each query scores only the lists of its n_probe nearest centers.
  - lsh_topk: random-hyperplane LSH bucketing. Each vector gets a B-bit
    signature per table from deterministic hyperplanes; queries probe
    their own bucket plus its Hamming-1 neighbors, so the join touches
    ~corpus/2^B per probe instead of the whole corpus.
embedding_neardup pairs vectors through textops.band_pairs.

Dot products use JVM ``zip_with``/``aggregate`` (no Python in the hot path).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the LSH bit width is DERIVED from these, not hard-coded: see _auto_bits
LSH_TABLES = 4
LSH_TARGET_FRACTION = 0.02   # max expected fraction of corpus probed/query
LSH_MAX_BUCKET_ROWS = 4096   # bucket granularity floor at huge n
NEARDUP_BITS = 4
NEARDUP_TABLES = 6


def _auto_bits(n: int, n_tables: int) -> int:
    """Signature width for sign-LSH, derived from corpus size and a probed-
    fraction budget (never a fixed constant).

    Two lower bounds, take the max:
      - fraction bound: expected probed fraction per query is
        n_tables * (1 + bits) / 2^bits (uniform-bucket model; each table
        probes the query's bucket and its bits Hamming-1 neighbors);
        choose the smallest width that keeps it <= LSH_TARGET_FRACTION.
        This bounds the candidate-join cost at ANY corpus size.
      - bucket bound: bits >= log2(n / LSH_MAX_BUCKET_ROWS), so a single
        bucket never holds more than ~LSH_MAX_BUCKET_ROWS rows at huge n
        (keeps the per-bucket join from re-growing quadratically).
    Capped at 24 bits (16M buckets — plenty for 10^9+ rows)."""
    b = 2
    while b < 24 and n_tables * (1 + b) / (1 << b) > LSH_TARGET_FRACTION:
        b += 1
    if n > LSH_MAX_BUCKET_ROWS:
        b = max(b, math.ceil(math.log2(n / LSH_MAX_BUCKET_ROWS)))
    return min(b, 24)


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * v)"
        )
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of (query_id, neighbor_id, cos_sim) candidates: the k
    best per query, ties broken by neighbor_id. Output: (query_id,
    neighbor_id, rank, cos_sim)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def brute_force_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact cosine top-k. Queries = the n_queries smallest vec_ids
    (deterministic); self-matches excluded. Output:
    (query_id, neighbor_id, rank, cos_sim)."""
    from sparklog.textops import spread

    emb = spread(emb)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_ce"),
        _norm("embedding").alias("_cn"),
    )
    queries = (
        emb.orderBy("vec_id").limit(n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qe"),
            _norm("embedding").alias("_qn"),
        )
    )
    joined = corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
    sim = (_dot("_qe", "_ce") / (F.col("_qn") * F.col("_cn"))).alias("cos_sim")
    return _top_k(joined.select("query_id", "neighbor_id", sim), k)


def _bucket_col(vec_col: str, n_bits: int, table: int) -> F.Column:
    """Sign-random-projection bucket id. The projection vectors are ±1
    entries derived from xxhash64(dim_index, bit, table) — dim-agnostic
    (no dimension sniffing, no driver round-trip, no giant literal
    arrays) and fully deterministic. ±1 random projections are a standard
    sign-LSH family; the JVM evaluates everything."""
    sig = F.lit(0)
    for b in range(n_bits):
        dot = F.expr(
            f"aggregate(zip_with({vec_col},"
            f" sequence(0, size({vec_col}) - 1),"
            f" (x, i) -> CAST(x AS DOUBLE) *"
            f" (CASE WHEN pmod(xxhash64(i, {b}, {table}), 2) = 0"
            f" THEN 1.0D ELSE -1.0D END)),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        sig = sig + F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sig.cast("int")


def embedding_neardup(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share a bucket in
    one of NEARDUP_TABLES sign-LSH tables (textops.band_pairs, an
    equi-join, no crossJoin), verified by exact cosine >= threshold."""
    from sparklog.textops import band_pairs, spread

    rows = spread(emb).select(
        "vec_id", "embedding", _norm("embedding").alias("norm"))
    keys = [_bucket_col("embedding", NEARDUP_BITS, table=t)
            for t in range(NEARDUP_TABLES)]
    pairs = band_pairs(rows, "vec_id", keys, carry=("embedding", "norm"))
    sim = _dot("embedding_a", "embedding_b") / (
        F.col("norm_a") * F.col("norm_b"))
    return (
        pairs.select(F.col("a").alias("vec_a"), F.col("b").alias("vec_b"),
                     F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def ivf_topk(emb: DataFrame, n_queries: int = 8, k: int = 5,
             n_centroids: int | None = None,
             n_probe: int | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale path.

    1. Pick coarse centers: n_centroids corpus vectors chosen by hash
       order — DETERMINISTIC across sessions/partitionings, so the
       driver's exact-top-k oracle can gate the result. Centers are tiny
       (n_centroids x dim) and broadcast.
    2. Assign every corpus vector to its nearest center: ONE scan with a
       JVM argmin fold over the broadcast center array — no shuffle. The
       inverted lists are just a centroid_id column (at 100 TB this is
       the partitioning key you'd bucket the lake by).
    3. Each query probes only its n_probe nearest centers, so the
       candidate join touches ~n_probe/n_centroids of the corpus instead
       of all of it; exact cosine re-ranks candidates.

    n_centroids=None derives ~sqrt(n) (the standard IVF sizing — balances
    list length n/C against probe count C); n_probe=None derives C/8.
    The gate registration pins small-corpus params with recall 1.0 at
    sf0.01 so the driver's exact-top-k oracle applies (see __spark_entry__).
    """
    from sparklog.textops import spread

    emb = spread(emb)
    if n_centroids is None:
        n = emb.count()
        n_centroids = max(4, min(4096, int(math.isqrt(max(n, 1)))))
    if n_probe is None:
        n_probe = max(2, n_centroids // 8)
    # deterministic hash-ordered sample; ids in hash order
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")), "vec_id")
        .limit(n_centroids).collect()
    )
    centers = [[float(x) for x in r["embedding"]] for r in rows]
    centroids = emb.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "centroid_id INT, center ARRAY<DOUBLE>",
    )
    # corpus -> nearest center: one JVM argmin fold per row over the
    # broadcast (centroid_id, center) array — a map-side scan, NO shuffle
    # and no C x n intermediate. Ties break to the lowest centroid_id
    # (the array is sorted) so assignment is deterministic.
    centers_arr = centroids.agg(
        F.sort_array(F.collect_list(F.struct("centroid_id", "center"))).alias("_cs")
    )
    l2 = ("aggregate(zip_with(embedding, c.center,"
          " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
          " CAST(0 AS DOUBLE), (a, v) -> a + v)")
    # array_min over (d, id) structs: ONE l2 evaluation per centroid —
    # the previous CASE-based fold evaluated the l2 expression twice per
    # winning comparison. Struct ordering is (d, then id), so ties still
    # break to the lowest centroid_id; assignment is value-identical
    # (A/B-checked) and deterministic.
    argmin = F.expr(
        f"array_min(transform(_cs,"
        f" c -> named_struct('d', {l2}, 'id', c.centroid_id))).id"
    )
    assigned = (
        emb.crossJoin(F.broadcast(centers_arr))
        .select(
            "vec_id", "embedding", argmin.alias("centroid_id"),
            _norm("embedding").alias("_n"),
        )
    )
    # queries only need (id, embedding, norm): deriving them from the
    # raw frame instead of `assigned` avoids re-evaluating the full-
    # corpus argmin projection a second time just to keep n_queries rows
    # (the two consumers of `assigned` are separate physical subtrees)
    queries = emb.join(
        F.broadcast(emb.orderBy("vec_id").limit(n_queries).select("vec_id")),
        "vec_id",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qe"),
        _norm("embedding").alias("_qn"),
    )
    # squared L2 from query to every centroid (JVM fold), keep n_probe best
    qc = queries.crossJoin(F.broadcast(centroids))
    dist = F.expr(
        "aggregate(zip_with(_qe, center, (x, y) -> (CAST(x AS DOUBLE) - y)"
        " * (CAST(x AS DOUBLE) - y)), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    )
    wq = Window.partitionBy("query_id").orderBy(dist.asc(), F.col("centroid_id"))
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "_qe", "_qn", "centroid_id")
    )
    joined = assigned.join(
        F.broadcast(probes),
        (assigned["centroid_id"] == probes["centroid_id"])
        & (F.col("vec_id") != F.col("query_id")),
    )
    sim = (_dot("_qe", "embedding") / (F.col("_qn") * F.col("_n"))).alias("cos_sim")
    return _top_k(joined.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), sim), k)


def lsh_topk(emb: DataFrame, n_queries: int = 8, k: int = 5,
             n_bits: int | None = None,
             n_tables: int = LSH_TABLES) -> DataFrame:
    """Approximate top-k: candidates limited to vectors sharing an LSH
    bucket with the query (equi-join on (band_id, band_key) — the scale
    path: the join touches a bounded fraction of the corpus per query
    instead of all of it).

    - n_bits=None derives the signature width from the corpus size and a
      probed-fraction budget (_auto_bits) — one count() of the corpus, the
      only full-scan metadata this needs.
    - Each query also probes every Hamming-1 neighbor of its bucket, the
      standard multiprobe trick: recall of ~2x the tables at the cost of
      n_bits extra PROBES, not extra corpus rows — only the tiny query
      side explodes.
    The gate registration in __spark_entry__.py pins small-corpus params
    tuned so recall is exactly 1.0 at sf0.01, which makes the driver's
    exact-top-k DuckDB oracle applicable verbatim."""
    joined = _lsh_join(emb, n_queries, n_bits, n_tables)
    sim = (_dot("_qe", "_ce") / (F.col("_qn") * F.col("_cn"))).alias("cos_sim")
    return _top_k(joined.select("query_id", "neighbor_id", sim), k)


def _lsh_join(emb: DataFrame, n_queries: int, n_bits: int | None,
              n_tables: int) -> DataFrame:
    """Candidate generation for lsh_topk: deduped (query, neighbor) pairs
    sharing a probed bucket, carrying the payload columns the scorer
    needs. Factored out so tests can measure the candidate fraction the
    probe parameters actually touch."""
    from sparklog.textops import banded, spread

    if n_bits is None:
        n_bits = _auto_bits(emb.count(), n_tables)
    sigs = banded(
        spread(emb).select(
            "vec_id", "embedding", _norm("embedding").alias("norm")),
        [_bucket_col("embedding", n_bits, table=t) for t in range(n_tables)],
        ["vec_id", "embedding", "norm"],
    )
    corpus = sigs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_ce"),
        F.col("norm").alias("_cn"),
        "band_id", "band_key",
    )
    # the QUERY side explodes into the probe set: own bucket + every
    # Hamming-1 neighbor (n_bits + 1 probes per table per query)
    probe = F.explode(F.array(F.col("band_key"), *[
        F.col("band_key").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)
    ]))
    queries = (
        sigs.join(
            F.broadcast(
                emb.orderBy("vec_id").limit(n_queries).select("vec_id")
            ),
            "vec_id",
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qe"),
            F.col("norm").alias("_qn"),
            F.col("band_id").alias("_qt"),
            probe.alias("_qb"),
        )
    )
    return corpus.join(
        F.broadcast(queries),
        (F.col("band_id") == F.col("_qt"))
        & (F.col("band_key") == F.col("_qb"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).dropDuplicates(["query_id", "neighbor_id"])


def quantize_embeddings(emb: DataFrame, bits: int = 8) -> DataFrame:
    """Symmetric per-vector integer quantization for embedding storage:
    q_i = clamp(floor(x_i / scale * qmax)), scale = max|x_i|. At 100 TB
    an int8 embedding lake is 4x smaller than float32 and the scan is
    correspondingly faster; the scale column dequantizes on read.

    floor (NOT round) on purpose: round's tie behavior differs across
    engines (banker's vs half-away-from-zero — a measured r3 pitfall),
    floor is bit-deterministic everywhere, and the uniform-quantizer
    error bound only shifts from 0.5 to 1 ULP. Zero vectors quantize to
    zeros with scale 0. Pure JVM higher-order array expressions — one
    map-only projection, no shuffle, no Python.

    Output: (vec_id, scale DOUBLE, q ARRAY<INT>).
    """
    qmax = (1 << (bits - 1)) - 1
    scale = F.array_max(
        F.transform(F.col("embedding"),
                    lambda v: F.abs(v.cast("double")))
    )
    d = emb.select("vec_id", "embedding", scale.alias("scale"))
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("embedding"),
            lambda v: F.greatest(
                F.lit(-qmax),
                F.least(
                    F.lit(qmax),
                    F.floor(v.cast("double") / F.col("scale") * qmax),
                ),
            ).cast("int"),
        ),
    ).otherwise(
        F.transform(F.col("embedding"), lambda v: F.lit(0).cast("int"))
    )
    return d.select("vec_id", "scale", q.alias("q"))
