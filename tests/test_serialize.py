"""serde-byte-identical JSON: exact expected strings from message.rs tests."""

from __future__ import annotations

import json

from sparklog import serialize as SER
from sparklog.parse import _parse_slow
from sparklog.udf import parse_df


def test_all_null_message_exact_json():
    """message.rs:210-232: the exact serde string for an all-nil message
    with severity info / facility kern."""
    row = {
        "severity": 6, "facility": 0, "version": 1, "timestamp": None,
        "timestamp_nanos": None, "hostname": None, "appname": None,
        "procid_pid": None, "procid_name": None, "msgid": None,
        "sd": {}, "msg": "",
    }
    assert SER.message_to_json(row) == (
        '{"severity":"info","facility":"kern","version":1,"timestamp":null,'
        '"timestamp_nanos":null,"hostname":null,"appname":null,"procid":null,'
        '"msgid":null,"sd":{},"msg":""}'
    )


def test_sd_keys_sorted_like_btreemap():
    """message.rs:196-206: {"faa":…,"foo":{"bar":…,"baz":…}} key order."""
    row = _parse_slow('<1>1 - - - - - [foo bar="baz" baz="bar"][faa bar="baz"] m')
    got = SER.message_to_json(row)
    assert '"sd":{"faa":{"bar":"baz"},"foo":{"bar":"baz","baz":"bar"}}' in got


def test_procid_serializes_bare_int_or_string():
    pid = _parse_slow("<1>1 - - - 123 - - m")
    name = _parse_slow("<1>1 - - - w-1 - - m")
    assert '"procid":123,' in SER.message_to_json(pid)
    assert '"procid":"w-1",' in SER.message_to_json(name)


def test_json_via_spark_udf_matches_local(spark):
    lines = [
        "<1>1 - - - - - -",
        '<78>1 2016-01-15T00:04:01+00:00 host1 CROND 10391 - '
        '[meta sequenceId="29"] some_message',
        "<14>1 2017-07-26T14:47:35.869952+05:30 my_hostname custom_appname "
        "5678 some_unique_msgid - ﻿Some other message",
    ]
    df = parse_df(spark.createDataFrame([(l,) for l in lines], ["line"]))
    got = [r["j"] for r in df.select(SER.json_col(df).alias("j")).collect()]
    want = [SER.message_to_json(_parse_slow(l)) for l in lines]
    assert got == want
    # every produced string is valid JSON with the full field set
    for g in got:
        obj = json.loads(g)
        assert list(obj) == [
            "severity", "facility", "version", "timestamp", "timestamp_nanos",
            "hostname", "appname", "procid", "msgid", "sd", "msg",
        ]


def test_jvm_json_equals_pandas_json_at_sf(spark):
    """The JVM concat/to_json path and the Python reference
    (message_to_json) must be byte-identical across every synthesized row
    INCLUDING corrupt ones (null fields serialize as literal null, sd as
    {})."""
    from sparklog import synth

    parsed = parse_df(synth.lines_df(spark, "/root/testdata/sf0.001",
                                     corrupt=True))
    rows = parsed.withColumn("_jvm", SER.json_col(parsed)).collect()
    assert rows
    diff = [r["doc_id"] for r in rows
            if r["_jvm"] != SER.message_to_json(r.asDict())]
    assert diff == []


def test_json_col_plan_is_jvm_only(spark):
    from sparklog import synth

    parsed = parse_df(synth.lines_df(spark, "/root/testdata/sf0.001"))
    out = parsed.select(SER.json_col(parsed).alias("j"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the parse itself is MapInPandas; serialization must add no Python node
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
