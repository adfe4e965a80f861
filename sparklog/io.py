"""Sources and sinks: how raw syslog gets in and the parsed lake gets out.

The reference consumes one RFC 5424 line at a time from a socket/file
(lib.rs:18-24); these connectors are the Spark-shaped equivalents:

  - read_syslog_text: newline-delimited raw syslog files (text source,
    splittable, whole-stage codegen scan) -> (doc_id, line).
  - read_syslog_json / read_syslog_csv: envelope formats where the raw
    line travels in a named field next to transport metadata.
  - write_parsed_lake / read_parsed_lake: the canonical day-partitioned
    parquet layout for parsed output; readers filtering on `day` prune
    partitions at file level, and field predicates push down to the
    parquet scan (both audited in tests/test_io.py).

Scale posture: text/json/csv scans are splittable and parallel. Envelope
sources carry a trusted id; raw text gets doc_id = xxhash64(file, line,
occurrence), which is stable across re-reads with any split
layout (see read_syslog_text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_syslog_text(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited raw RFC 5424 files -> (doc_id, line).

    doc_id = xxhash64(file, line, occurrence), where occurrence numbers
    repeats of the same line within a file. The resulting (doc_id, line) SET is identical across re-reads regardless
    of split count/order (identical lines are interchangeable, so their
    occurrence order doesn't matter) — idempotent re-processing works.
    Costs one shuffle on (file, line); at scale that key is as
    well-distributed as the content itself. (spark.read.text yields a
    single value column, so there is no envelope id to select — the
    JSON/CSV readers cover trusted ids.)
    """
    df = spark.read.text(path).select(
        F.input_file_name().alias("_file"), F.col("value").alias("line")
    )
    occ = F.row_number().over(
        Window.partitionBy("_file", "line")
        .orderBy(F.monotonically_increasing_id())
    )
    return df.select(
        F.xxhash64("_file", "line", occ).alias("doc_id"), "line"
    )


def read_syslog_json(spark: SparkSession, path: str, line_field: str = "raw",
                     id_field: str = "id") -> DataFrame:
    """JSON-lines envelope: {"id": ..., "raw": "<134>1 ..."} -> (doc_id, line).

    Malformed envelope lines are NOT silently nulled: PERMISSIVE mode
    captures the raw text in a corrupt-record column, which flows out
    as the ``line`` (doc_id null), so the parse stage downstream turns
    it into a normal reject row that still CARRIES the original bytes —
    errors-as-data from the transport layer on down. (The old behavior
    was an all-null row indistinguishable from a valid envelope with
    missing fields.)"""
    df = (
        spark.read
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    # inference only adds the corrupt column when malformed rows exist
    cols = df.columns
    if cols == ["_corrupt"]:
        # EVERY line malformed: Spark disallows referencing only the
        # internal corrupt-record column of a raw JSON scan
        # (AnalysisException), so re-read as plain text — the corrupt
        # column would have carried exactly the raw line anyway. Blank
        # (space/tab-only) lines are dropped, as the JSON scan drops them
        return spark.read.text(path).filter(
            F.col("value").rlike("[^ \\t]")
        ).select(
            F.lit(None).cast("long").alias("doc_id"),
            F.col("value").alias("line"),
        )
    line = (F.col(line_field) if line_field in cols
            else F.lit(None).cast("string"))
    if "_corrupt" in cols:
        line = F.coalesce(line, F.col("_corrupt"))
    doc_id = (F.col(id_field).cast("long") if id_field in cols
              else F.lit(None).cast("long"))
    return df.select(doc_id.alias("doc_id"), line.alias("line"))


def read_syslog_csv(spark: SparkSession, path: str, line_field: str = "raw",
                    id_field: str = "id") -> DataFrame:
    """CSV envelope with a header row -> (doc_id, line)."""
    df = spark.read.option("header", "true").option("quote", '"') \
        .option("escape", '"').csv(path)
    return df.select(
        F.col(id_field).cast("long").alias("doc_id"),
        F.col(line_field).alias("line"),
    )


# --------------------------------------------------------------------------
# WET-like multi-record text source (the Common-Crawl text-extract shape)
# --------------------------------------------------------------------------
# Each record: a "WARC/1.0" magic line, header lines, a blank line, then
# the body. Unlike newline-delimited sources a record spans MANY lines, so
# the scan splits on the record delimiter instead: spark.read.text with
# lineSep="WARC/1.0\n" — Hadoop's LineRecordReader handles arbitrary
# delimiters and the read stays SPLITTABLE (a 100 TB WET dump scans as
# normal byte-range splits; a split starting mid-record syncs forward to
# the next delimiter). Bodies are validated against the Content-Length
# header. Limitation vs real WET (documented, not hidden): a body that
# itself contains the magic line would mis-split — real crawls guard this
# with the length prefix; our reader surfaces it as len_ok=0 instead of
# silently corrupting, and the gate corpus has no embedded magic.

WET_MAGIC = "WARC/1.0\n"


def write_wet(pages: DataFrame, path: str, url_col: str = "url",
              text_col: str = "text") -> None:
    """(url, text) -> WET-like record files. One row per record; the text
    writer's row terminator supplies the newline between records."""
    rec = F.concat(
        F.lit(WET_MAGIC + "WARC-Type: conversion\nWARC-Target-URI: "),
        F.col(url_col),
        F.lit("\nContent-Length: "),
        F.octet_length(F.col(text_col)).cast("string"),
        F.lit("\n\n"),
        F.col(text_col),
    )
    pages.select(rec.alias("value")).write.mode("overwrite").text(path)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET-like record files -> (url, content_length, text, len_ok).

    All JVM: delimiter-split scan, substring_index header/body split,
    regexp header extraction. len_ok compares the Content-Length header
    to the decoded body's byte length — the record-integrity check."""
    raw = spark.read.option("lineSep", WET_MAGIC).text(path)
    # the chunk before the first magic line is empty; each record chunk
    # carries the writer's row-terminating "\n" — strip exactly one.
    # \z (end of input), not $: Java's $ also matches BEFORE a final
    # newline, so "\n$" would strip two trailing newlines and truncate
    # any body that legitimately ends with "\n".
    rec = F.regexp_replace(F.col("value"), "\\n\\z", "")
    d = raw.filter(F.col("value") != "").select(rec.alias("rec"))
    headers = F.substring_index(F.col("rec"), "\n\n", 1)
    d = d.select("rec", headers.alias("_h"))
    body = F.col("rec").substr(F.length("_h") + F.lit(3), F.length("rec"))
    # try_cast: a mis-split record (embedded magic) has no Content-Length
    # header — ANSI mode would throw on CAST(''); NULL flows to len_ok=0
    cl = F.regexp_extract(F.col("_h"), r"Content-Length: (\d+)", 1) \
        .try_cast("long")
    d = d.select(
        F.regexp_extract(F.col("_h"), r"WARC-Target-URI: (\S+)", 1)
        .alias("url"),
        cl.alias("content_length"),
        body.alias("text"),
    )
    return d.withColumn(
        "len_ok",
        F.coalesce(
            (F.col("content_length") == F.octet_length("text")).cast("int"),
            F.lit(0),
        ),
    )


def write_parsed_lake(parsed: DataFrame, out_dir: str) -> None:
    """Day-partitioned parquet lake of parsed messages, overwriting out_dir.

    Partition key = utc day of the event timestamp ('_rejects' bucket for
    rows without one) — the layout under which day-range queries prune at
    file level. Null-timestamp OK rows land in day='_undated'.
    """
    day = F.when(
        F.col("parse_error").isNotNull(), F.lit("_rejects")
    ).when(
        F.col("timestamp").isNull(), F.lit("_undated")
    ).otherwise(F.date_format(F.timestamp_seconds(F.col("timestamp")),
                              "yyyy-MM-dd"))
    (
        parsed.withColumn("day", day)
        .repartition(F.col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out_dir)
    )


def read_parsed_lake(spark: SparkSession, lake_dir: str) -> DataFrame:
    return spark.read.parquet(lake_dir)
