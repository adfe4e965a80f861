"""Generic grok/regex parse operator tests (JVM-side extraction)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparklog.grok import GROK_PATTERNS, expand_grok, grok


@pytest.fixture(scope="module")
def access_logs(spark):
    rows = [
        (0, '127.0.0.1 GET /v1/ok 200 145 12.5'),
        (1, '10.2.3.4 POST /login 401 89 3.25'),
        (2, 'not a log line'),
        (3, '192.168.0.9 GET /assets/app.js 304 0 0.1'),
    ]
    return spark.createDataFrame(rows, "id LONG, raw STRING")


_PATTERN = (
    "%{IP:client} %{WORD:method} %{NOTSPACE:path} "
    "%{INT:status} %{INT:bytes} %{NUMBER:latency}"
)


def test_grok_extracts_typed_columns(access_logs):
    out = grok(
        access_logs, "raw", _PATTERN,
        types={"status": "int", "bytes": "long", "latency": "double"},
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[0]["client"] == "127.0.0.1"
    assert rows[0]["method"] == "GET"
    assert rows[0]["status"] == 200 and isinstance(rows[0]["status"], int)
    assert rows[1]["latency"] == 3.25
    assert rows[3]["path"] == "/assets/app.js"


def test_grok_nonmatching_rows_are_null_flagged(access_logs):
    out = grok(access_logs, "raw", _PATTERN)
    bad = out.filter(~F.col("_grok_matched")).collect()
    assert [r["id"] for r in bad] == [2]
    assert all(bad[0][c] is None for c in
               ("client", "method", "path", "status", "bytes", "latency"))


def test_grok_plan_is_jvm_only(access_logs):
    """No python nodes: the generic parse stays in whole-stage codegen."""
    out = grok(access_logs, "raw", _PATTERN)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "WholeStageCodegen" in plan or "Project" in plan


def test_expand_grok_unknown_primitive():
    with pytest.raises(ValueError):
        expand_grok("%{NOPE:x}")


def test_grok_iso8601_primitive(spark):
    df = spark.createDataFrame(
        [(0, "2016-01-15T00:04:01+00:00 ok")], "id LONG, raw STRING"
    )
    out = grok(df, "raw", "%{TIMESTAMP_ISO8601:ts} %{WORD:msg}")
    r = out.collect()[0]
    assert r["ts"] == "2016-01-15T00:04:01+00:00" and r["msg"] == "ok"
    assert set(GROK_PATTERNS) >= {"IP", "INT", "NUMBER", "WORD"}


def test_grok_unnamed_groups_use_real_indices(spark):
    """Named groups mixed with unnamed capturing groups must extract by the
    REAL regex group number, not the named-group enumeration order."""
    df = spark.createDataFrame([(0, "12 foo 34")], "id LONG, raw STRING")
    out = grok(df, "raw", r"(?<a>\d+) (foo|bar) (?<b>\d+)",
               types={"a": "int", "b": "int"})
    r = out.collect()[0]
    assert r["a"] == 12 and r["b"] == 34 and r["_grok_matched"]


def test_grok_inline_type_alias(spark):
    """%{PRIM:name:type} three-part aliases expand AND cast (previously the
    alias regex silently left the three-part form unexpanded)."""
    df = spark.createDataFrame([(0, "200 0.25")], "id LONG, raw STRING")
    out = grok(df, "raw", "%{INT:status:int} %{NUMBER:latency:double}")
    r = out.collect()[0]
    assert r["status"] == 200 and abs(r["latency"] - 0.25) < 1e-9
    assert dict(out.dtypes)["status"] == "bigint"
    assert dict(out.dtypes)["latency"] == "double"


def test_grok_extended_primitives(spark):
    df = spark.createDataFrame([(0,
        'Feb  8 12:00:01 web-01.example.com ERROR '
        '550e8400-e29b-41d4-a716-446655440000 /api/v1/items "hello \\"x\\""'
    )], "id LONG, raw STRING")
    out = grok(
        df, "raw",
        "%{SYSLOGTIMESTAMP:ts} %{HOSTNAME:host} %{LOGLEVEL:level} "
        "%{UUID:req} %{URIPATH:path} %{QUOTEDSTRING:msg}",
    )
    r = out.collect()[0]
    assert r["_grok_matched"]
    assert r["host"] == "web-01.example.com" and r["level"] == "ERROR"
    assert r["path"] == "/api/v1/items"
    assert r["req"].startswith("550e8400")


def test_grok_typed_cast_is_ansi_safe(spark):
    """Spark 4 runs ANSI mode: a typed group whose text doesn't fit the
    type (%{NUMBER:x:int} matching '0.5', or '' from a non-participating
    optional group) must yield NULL, not a NumberFormatException that
    kills the query."""
    df = spark.createDataFrame(
        [(0, "v=0.5"), (1, "v=7"), (2, "v=")],
        "id LONG, raw STRING",
    )
    pat = r"v=(?<x>[0-9.]*)"
    rows = {r["id"]: r["x"]
            for r in grok(df, "raw", pat, types={"x": "int"}).collect()}
    assert rows == {0: None, 1: 7, 2: None}, rows
