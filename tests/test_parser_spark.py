"""Golden corpus through the real Spark pandas UDF (Arrow roundtrip)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparklog import schema as S
from sparklog.udf import parse_df, register_sql

from golden_corpus import GOLDEN
from test_parser_pandas import _check


@pytest.fixture(scope="module")
def parsed_rows(spark):
    df = spark.createDataFrame(
        [(g[0], g[1]) for g in GOLDEN], ["name", "line"]
    )
    out = parse_df(df, "line")
    return {r["name"]: r.asDict() for r in out.collect()}


@pytest.mark.parametrize("name,line,expected", GOLDEN, ids=[g[0] for g in GOLDEN])
def test_golden_through_spark(parsed_rows, name, line, expected):
    _check(name, expected, parsed_rows[name])


def test_sql_registration(spark):
    register_sql(spark)
    spark.createDataFrame([("<1>1 - - - - - -",)], ["line"]).createOrReplaceTempView(
        "raw_lines"
    )
    row = spark.sql(
        "SELECT parse_syslog(line).severity AS s, parse_syslog(line).facility AS f "
        "FROM raw_lines"
    ).collect()[0]
    assert (row["s"], row["f"]) == (1, 0)


def test_map_key_dedup_last_win(spark):
    """Repeated SD-PARAM keys: last write wins (message.rs:62-67)."""
    df = spark.createDataFrame(
        [('<1>1 - - - - - [foo bar="baz" bar="bing"] m',)], ["line"]
    )
    row = parse_df(df).select(F.col("sd")["foo"]["bar"].alias("v")).collect()[0]
    assert row["v"] == "bing"


def test_invalid_utf8_line_is_one_unicode_reject(spark, tmp_path):
    """A text-file line that is not valid UTF-8 (it ends in a lone 0xC3
    lead byte) becomes one UnicodeError reject: decode, then parse, as
    the reference's socket loop does. The rest of the batch is parsed
    as usual instead of the whole task failing."""
    from sparklog.io import read_syslog_text

    good = b"<34>1 2003-10-11T22:14:15.003Z host app - ID47 - ok \xc3\xa9"
    bad = b"<34>1 2003-10-11T22:14:15.003Z host app - ID47 - bad \xc3"
    (tmp_path / "a.log").write_bytes(b"\n".join([good, bad, good]) + b"\n")
    lines = read_syslog_text(spark, str(tmp_path))
    rows = parse_df(lines, tag_lineage=True).collect()
    assert len(rows) == 3
    rej = [r for r in rows if r["parse_error"] is not None]
    assert len(rej) == 1
    assert rej[0]["parse_error"] == S.ERR_UNICODE
    assert rej[0]["bytes_in"] == len(bad)
    assert all(rej[0][c] is None for c in S.PARSED_COLUMNS
               if c != "parse_error")
    for r in rows:
        if r["parse_error"] is None:
            assert (r["msg"], r["hostname"], r["bytes_in"]) == (
                "ok é", "host", len(good))


def test_hostile_lines_through_tagged_parse(spark):
    """NUL bytes and a 4 MiB line through the lineage-tagged parse: the
    NUL hostname is the same reject parse_message gives, a NUL inside
    the msg is kept, and the big line keeps its exact msg and byte
    count."""
    from sparklog.parse import parse_message

    head = "<34>1 2003-10-11T22:14:15.003Z "
    big_msg = "abé" * (4 * 2**20 // 4)
    lines = {
        "nul_host": head + "ho\x00st app - ID47 - m",
        "nul_msg": head + "host app - ID47 - m\x00sg\x00",
        "big": head + "host app - ID47 - " + big_msg,
    }
    assert len(lines["big"].encode()) > 4 * 2**20
    df = spark.createDataFrame(list(lines.items()), ["name", "line"])
    got = {r["name"]: r for r in
           parse_df(df, tag_lineage=True).collect()}
    want = parse_message(lines["nul_host"])["parse_error"]
    assert got["nul_host"]["parse_error"] == want == "ExpectedTokenErr: "
    assert got["nul_msg"]["parse_error"] is None
    assert got["nul_msg"]["msg"] == "m\x00sg\x00"
    assert got["big"]["parse_error"] is None
    assert len(got["big"]["msg"]) == len(big_msg)
    assert got["big"]["msg"] == big_msg
    for name, line in lines.items():
        assert got[name]["bytes_in"] == len(line.encode()), name
