"""Repeat-determinism audit for the driver queries most exposed to
partition-order effects (float summation order, window evaluation,
hash sampling, broadcast candidates).

The oracle parity suite proves Spark == DuckDB for ONE execution; this
suite proves a query equals ITSELF across different shuffle widths —
the failure class that bit round 3 (pyspark.ml KMeans centers vary with
partitioning even at a fixed seed). Any query whose result depends on
partition count would pass a lucky parity run and flake at the driver.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

# the queries with the most partition-order surface: distributed
# prefix-sum, salted two-phase ranks, fixed-point LM sums, broadcast
# candidate joins, quantization, and the fused clean pass
RISKY = [
    "pack_assign",
    "domain_balance",
    "capped_sample",
    "lm_score",
    "contamination",
    "quantize_emb",
    "clean_corpus_full",
    "repetition",
    "profile",
    # the shingle-count membership join must not depend on partitioning
    "dup_passages",
    "line_dedup",
]


def _rows(spark, name):
    df = E.queries()[name](spark, SF)
    cols = sorted(df.columns)
    # multiset, not sorted list: catches dropped AND duplicated rows,
    # and None-typed columns (nil terms) break Python's tuple sort
    from collections import Counter

    return Counter(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("name", RISKY)
def test_repeat_determinism_across_shuffle_widths(spark, name):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = _rows(spark, name)
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = _rows(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b, f"{name} result varies with shuffle width"
