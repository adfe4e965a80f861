"""Source/sink connectors: raw text / JSON / CSV in, day-partitioned lake out."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sparklog import io as IO
from sparklog.parse import _parse_slow
from sparklog.udf import parse_df

LINES = [
    '<78>1 2016-01-15T00:04:01+00:00 host1 CROND 10391 - '
    '[meta sequenceId="29"] some_message',
    "<1>1 - - - - - -",
    "<134>Feb 18 20:53:31 haproxy[376]: not rfc5424",
    '<14>1 2017-07-26T14:47:35.869952+05:30 h app 5678 mid - msg body',
]


def _expected():
    return [_parse_slow(l) for l in LINES]


def test_read_syslog_text_roundtrip(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "part-0.log").write_text("\n".join(LINES) + "\n")
    src = IO.read_syslog_text(spark, str(raw))
    parsed = parse_df(src)
    got = {r["msg"] for r in parsed.collect()}
    assert {e["msg"] for e in _expected()} == got
    assert parsed.filter(F.col("parse_error").isNotNull()).count() == 1


def test_read_syslog_json_envelope(spark, tmp_path):
    p = tmp_path / "env.jsonl"
    p.write_text("\n".join(
        json.dumps({"id": i, "raw": l}) for i, l in enumerate(LINES)
    ))
    parsed = parse_df(IO.read_syslog_json(spark, str(p)))
    rows = {r["doc_id"]: r for r in parsed.collect()}
    assert rows[0]["hostname"] == "host1" and rows[0]["procid_pid"] == 10391
    assert rows[2]["parse_error"] is not None


def test_read_syslog_csv_envelope(spark, tmp_path):
    p = tmp_path / "env.csv"
    lines = ["id,raw"] + [
        f'{i},"{l.replace(chr(34), chr(34) * 2)}"' for i, l in enumerate(LINES)
    ]
    p.write_text("\n".join(lines))
    parsed = parse_df(IO.read_syslog_csv(spark, str(p)))
    rows = {r["doc_id"]: r for r in parsed.collect()}
    # CSV quote-escaping must not corrupt the SD param quotes
    assert rows[0]["sd"]["meta"]["sequenceId"] == "29"
    assert rows[3]["timestamp_nanos"] == 869952000


def test_parsed_lake_partitions_and_pushdown(spark, tmp_path):
    from sparklog import synth
    from sparklog.udf import parse_df

    lake = str(tmp_path / "lake")
    parsed = parse_df(synth.lines_df(spark, "/root/testdata/sf0.001",
                                     corrupt=True))
    IO.write_parsed_lake(parsed, lake)
    days = sorted(d for d in os.listdir(lake) if d.startswith("day="))
    assert "day=_rejects" in days and len(days) >= 8

    back = IO.read_parsed_lake(spark, lake)
    one_day = back.filter(F.col("day") == "2016-01-12") \
                  .filter(F.col("severity") == 3).select("doc_id", "hostname")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # partition pruning: only the matching day directory is scanned
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*day[^\]]*\]", plan)
    assert m, "day filter did not become a partition filter"
    # field predicate reaches the parquet scan
    assert "PushedFilters: [" in plan and "severity" in plan.split(
        "PushedFilters: [", 1)[1].split("]")[0]
    # row counts conserve: every input row is in exactly one partition
    assert back.count() == parsed.count()


def test_read_syslog_text_stable_ids_across_split_layouts(spark, tmp_path):
    """Idempotent re-processing: the (doc_id, line) SET from a raw text
    source must be identical no matter how the files are split — incl. a
    duplicated line, which gets distinct occurrence-numbered ids."""
    raw = tmp_path / "raw"
    raw.mkdir()
    lines_a = [f"<14>1 - hostA app {i} - - msg {i}" for i in range(200)]
    lines_a.append(lines_a[0])  # duplicate line within the same file
    (raw / "a.log").write_text("\n".join(lines_a) + "\n")
    (raw / "b.log").write_text(
        "\n".join(f"<14>1 - hostB app {i} - - msg {i}" for i in range(50)) + "\n"
    )

    def read_set(max_bytes: str):
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_bytes)
        try:
            df = IO.read_syslog_text(spark, str(raw))
            return {(r["doc_id"], r["line"]) for r in df.collect()}
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    one_split = read_set("128m")
    many_splits = read_set("2k")  # forces multiple splits per file
    assert one_split == many_splits
    assert len(one_split) == 251  # duplicate line kept as a distinct id


def test_wet_roundtrip_bytes_and_utf8(spark, tmp_path):
    """WET writer->reader roundtrip: bodies survive byte-exactly incl.
    UTF-8 and embedded newlines/blank lines; Content-Length (BYTES, not
    chars) verifies every record; the read is delimiter-split (lineSep),
    so it stays splittable."""
    rows = [
        ("https://a.example.com/p/1", "plain ascii body"),
        ("https://b.example.com/p/2", "héllo wörld — café"),
        ("https://c.example.com/p/3", "multi\nline\n\nbody with blank"),
        ("https://d.example.com/p/4", ""),
        # body ending in "\n": the reader must strip exactly ONE record
        # terminator (\n\z anchor), not two (Java $ matches before a
        # final newline and would truncate this body -> len_ok=0)
        ("https://e.example.com/p/5", "body ends with newline\n"),
        ("https://f.example.com/p/6", "double trailing\n\n"),
    ]
    df = spark.createDataFrame(rows, "url STRING, text STRING")
    path = str(tmp_path / "wet")
    IO.write_wet(df, path)
    back = {r["url"]: r for r in IO.read_wet(spark, path).collect()}
    assert set(back) == {u for u, _ in rows}
    for url, text in rows:
        assert back[url]["text"] == text, url
        assert back[url]["len_ok"] == 1, url
        assert back[url]["content_length"] == len(text.encode("utf-8"))


def test_wet_embedded_magic_is_flagged_not_silent(spark, tmp_path):
    """A body containing the record magic line mis-splits (documented
    limitation vs length-prefixed real WET) — the reader must surface it
    via len_ok=0, never return a full set of len_ok=1 records."""
    rows = [
        ("https://a.example.com/p/1", "evil body\nWARC/1.0\nfake: header"),
        ("https://b.example.com/p/2", "good body"),
    ]
    df = spark.createDataFrame(rows, "url STRING, text STRING").coalesce(1)
    path = str(tmp_path / "wet_evil")
    IO.write_wet(df, path)
    out = IO.read_wet(spark, path).collect()
    assert any(r["len_ok"] != 1 for r in out)


def test_json_envelope_malformed_lines_surface_as_rejects(spark, tmp_path):
    """A malformed envelope line must come out with its RAW TEXT as the
    line (doc_id null) — the parse stage then makes it a reject that
    still carries the original bytes — never a silent all-null row."""
    from sparklog.udf import parse_df

    p = tmp_path / "env"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"id": 1, "raw": "<34>1 - h a p m - ok"}\n'
        "this is not json at all\n"
        '{"id": 3, "raw": "<34>1 - h a p m - three"}\n'
    )
    out = IO.read_syslog_json(spark, str(p))
    rows = sorted(out.collect(), key=lambda r: (r["doc_id"] is None,
                                                r["doc_id"] or 0))
    assert [r["doc_id"] for r in rows] == [1, 3, None]
    assert rows[2]["line"] == "this is not json at all"
    parsed = parse_df(out).collect()
    errs = [r for r in parsed if r["parse_error"] is not None]
    assert len(errs) == 1 and len(parsed) == 3  # conservation + 1 reject


def test_json_envelope_every_line_malformed(spark, tmp_path):
    """When EVERY envelope line is malformed the inferred schema holds
    only the corrupt column, which a raw JSON scan cannot reference
    alone (AnalysisException) — the reader must fall back to a text
    read and still surface every raw line as errors-as-data. Blank
    lines are skipped, as the JSON scan skips them."""
    p = tmp_path / "env_bad"
    p.mkdir()
    (p / "a.jsonl").write_text("not json\n\n \t\nalso { not json\n")
    rows = sorted(IO.read_syslog_json(spark, str(p)).collect(),
                  key=lambda r: r["line"])
    assert [(r["doc_id"], r["line"]) for r in rows] == \
        [(None, "also { not json"), (None, "not json")]


def test_json_envelope_all_valid_unchanged(spark, tmp_path):
    """No malformed rows -> no corrupt column in the inferred schema;
    the reader must not reference it."""
    p = tmp_path / "env_ok"
    p.mkdir()
    (p / "a.jsonl").write_text('{"id": 7, "raw": "<34>1 - h a p m - x"}\n')
    rows = IO.read_syslog_json(spark, str(p)).collect()
    assert [(r["doc_id"], r["line"]) for r in rows] == \
        [(7, "<34>1 - h a p m - x")]


def test_wet_reads_gzip_compressed_parts(spark, tmp_path):
    """Hadoop decodes .gz text transparently (by extension), so a
    gzip-compressed WET dump reads with the same delimiter-split code
    path. Noted trade: a .gz file is NOT splittable — one task per
    file — so a real compressed crawl should arrive as many files."""
    import gzip
    import os

    rows = [("https://a.example.com/1", "alpha body"),
            ("https://b.example.com/2", "beta\nmultiline body")]
    df = spark.createDataFrame(rows, "url STRING, text STRING")
    plain = str(tmp_path / "wet_plain")
    IO.write_wet(df, plain)
    gzdir = str(tmp_path / "wet_gz")
    os.makedirs(gzdir)
    n = 0
    for f in os.listdir(plain):
        if f.startswith("part-"):
            with open(os.path.join(plain, f), "rb") as src, \
                    gzip.open(os.path.join(gzdir, f + ".gz"), "wb") as dst:
                dst.write(src.read())
            n += 1
    assert n >= 1
    back = {r["url"]: r for r in IO.read_wet(spark, gzdir).collect()}
    assert set(back) == {u for u, _ in rows}
    for url, text in rows:
        assert back[url]["text"] == text and back[url]["len_ok"] == 1
