"""Golden corpus through the lineage-tagged parse, read back on the JVM side.

`parse_df(..., tag_lineage=True)` is the variant the checkpointed and
chunked pipelines use: the same Arrow pass also emits (partition_id,
bytes_in). Here its rows cross a Tungsten exchange before they are
collected, so every parsed field must survive the JVM row format as
well as the Arrow boundary, and the lineage columns must be exact."""

from __future__ import annotations

import pytest

from sparklog.udf import parse_df

from golden_corpus import GOLDEN
from test_parser_pandas import _check


@pytest.fixture(scope="module")
def jvm_rows(spark):
    df = spark.createDataFrame(
        [(g[0], g[1]) for g in GOLDEN], ["name", "line"]
    )
    out = parse_df(df, "line", tag_lineage=True).repartition(3, "name")
    return {r["name"]: r.asDict() for r in out.collect()}


@pytest.mark.parametrize("name,line,expected", GOLDEN,
                         ids=[g[0] for g in GOLDEN])
def test_golden_through_jvm_path(jvm_rows, name, line, expected):
    row = jvm_rows[name]
    _check(name, expected, row)
    assert row["bytes_in"] == len(line.encode("utf-8"))
    assert row["partition_id"] is not None
