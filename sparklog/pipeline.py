"""Pipeline operators: enrich -> route -> aggregate (north-rule stages D4-D8).

Scale posture (SURVEY.md §2D):
  - enrich: pure projections over the closed 24/8/9-value facility/
    severity/lang domains (array index / CASE) — no join, no shuffle.
  - route: ONE pass, shuffle-free fan-out via dynamic-partitioned write on
    severity_name (8 sinks + 1 rejects sink).
  - skew: hostname/lang are Zipf-skewed; the salted repartition spreads hot
    keys over SALT buckets before the write; AQE skew-join handles the rest.
  - aggregate: partial+final hash agg (automatic for count), single shuffle
    on the 3 grouping keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparklog.schema import FACILITY_NAMES, LANG_NAMES, SEVERITY_NAMES

SALT_BUCKETS = 16


# --- stages -----------------------------------------------------------------

def split_rejects(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Errors-as-data split (SURVEY.md §1.4): (ok, rejects)."""
    return (
        parsed.filter(F.col("parse_error").isNull()),
        parsed.filter(F.col("parse_error").isNotNull()),
    )


def sink_name() -> F.Column:
    """The routing rule: an enriched row goes to the sink named by its
    severity; a row with none (a parse error) goes to '_rejects'."""
    return F.coalesce(F.col("severity_name"), F.lit("_rejects"))


def sd_value(col: str, sd_id: str, param: str) -> F.Column:
    """Null-safe sd[sd_id][param] lookup (StructuredData::find_tuple,
    message.rs:113-128)."""
    return F.col(col).getItem(sd_id).getItem(param)


def enrich(parsed: DataFrame, spark: SparkSession,
           with_lang: bool = True) -> DataFrame:
    """Enum-dim enrichment as PURE PROJECTIONS: the facility/severity/
    lang dims are closed 24/8/9-row domains, so name lookup is a literal
    array index / literal CASE — no join operator, no BroadcastExchange
    build per query, nothing for the driver to ship. F.get returns NULL
    for null or out-of-range indexes, exactly the rows the previous
    broadcast LEFT joins left unmatched (schema, column order and rows
    are identical — A/B-verified, incl. out-of-domain keys); parse
    errors / nil SD still flow to the rejects sink."""
    rest = [c for c in parsed.columns if c not in ("facility", "severity")]
    out = parsed.select(
        "severity", "facility", *rest,
        F.get(F.lit(list(FACILITY_NAMES)), F.col("facility"))
        .alias("facility_name"),
        F.get(F.lit(list(SEVERITY_NAMES)), F.col("severity"))
        .alias("severity_name"),
    )
    if with_lang:
        lang_name = F.lit(None).cast("string")
        for code, name in reversed(list(LANG_NAMES.items())):
            lang_name = F.when(
                F.col("lang_code") == code, F.lit(name)
            ).otherwise(lang_name)
        out = out.withColumn("lang_code", sd_value("sd", "meta", "lang"))
        cols = [c for c in out.columns if c != "lang_code"]
        out = out.select("lang_code", *cols, lang_name.alias("lang_name"))
    return out


def hour_epoch(ts_col: str = "timestamp") -> F.Column:
    """Hour bucket as unix seconds (null timestamp -> null bucket)."""
    c = F.col(ts_col)
    return (c - c % 3600).alias("hour_epoch")


def hourly_agg(enriched: DataFrame) -> DataFrame:
    """per-facility/severity/hour counts — partial+final hash agg."""
    return (
        enriched.groupBy("facility_name", "severity_name", hour_epoch())
        .agg(F.count(F.lit(1)).alias("n"))
    )


def salted(df: DataFrame, key: str, num_partitions: int | None = None,
           salt_col: str = "doc_id") -> DataFrame:
    """Salted repartition for skewed keys (north rule D6): the hot 40%
    hostname spreads over SALT_BUCKETS partitions instead of one."""
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(SALT_BUCKETS))
    if num_partitions:
        return df.repartition(num_partitions, F.col(key), salt)
    return df.repartition(F.col(key), salt)


SESSION_GAP_SECONDS = 1800


def sessionize_batch(parsed: DataFrame,
                     gap_seconds: int = SESSION_GAP_SECONDS,
                     bucket_seconds: int = 86400) -> DataFrame:
    """Batch sessionization as a custom grouped operator (applyInPandas):
    event streams split on gaps > gap_seconds. The streaming path
    (streaming.sessionize_stream_native) shares the semantics; the DuckDB
    oracle expresses the same thing with window functions, so the driver
    gate cross-checks the Python operator against pure SQL.

    Skew-safe: the pandas kernel runs per (hostname, day-bucket) — the
    Zipf-head host spreads over its active days instead of pinning one
    task — and the boundary-merge pass stitches sessions that cross
    bucket edges back together exactly. The built-in session_window is
    not used here: its batch plan is Exchange hashpartitioning(hostname)
    -> MergingSessions, which puts every hot-host event in one task."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        # vectorized split: break indices where the gap is exceeded
        ts = np.sort(pdf["timestamp"].to_numpy(np.int64))
        brk = np.flatnonzero(np.diff(ts) > gap_seconds) + 1
        bounds = np.concatenate(([0], brk, [ts.size]))
        return pd.DataFrame({
            "hostname": pdf["hostname"].iloc[0],
            "_bkt": int(pdf["_bkt"].iloc[0]),
            "session_start": ts[bounds[:-1]],
            "session_end": ts[bounds[1:] - 1],
            "n_events": np.diff(bounds),
        })

    events = _session_events(parsed).withColumn(
        "_bkt", (F.col("timestamp") / bucket_seconds).cast("long")
    )
    sess1 = events.groupBy("hostname", "_bkt").applyInPandas(
        fn,
        "hostname STRING, _bkt LONG, session_start LONG, session_end LONG,"
        " n_events LONG",
    )
    return _merge_boundary_sessions(sess1, gap_seconds)


def _session_events(parsed: DataFrame) -> DataFrame:
    return parsed.filter(
        F.col("parse_error").isNull()
        & F.col("hostname").isNotNull()
        & F.col("timestamp").isNotNull()
    ).select("hostname", "timestamp")


def _merge_boundary_sessions(sess1: DataFrame,
                             gap_seconds: int) -> DataFrame:
    """Phase 2 of sessionize_batch: stitch per-bucket sessions back
    together across bucket edges.

    Takes ONLY each bucket's first and last session per host (<= 2 rows
    per host-day, tiny) and re-applies the same gap rule across buckets,
    so sessions spanning bucket edges — including chains across empty
    buckets — merge back exactly. Interior sessions are provably final
    (phase 1 already guarantees > gap to both neighbors inside a bucket)
    and pass through untouched."""
    from pyspark.sql import Window

    wb = Window.partitionBy("hostname", "_bkt")
    sess1 = sess1.withColumn(
        "_edge",
        (F.col("session_start") == F.min("session_start").over(wb))
        | (F.col("session_start") == F.max("session_start").over(wb)),
    )
    interior = sess1.filter(~F.col("_edge")).select(
        "hostname", "session_start", "session_end", "n_events"
    )
    w2 = Window.partitionBy("hostname").orderBy("session_start")
    lag_end = F.lag("session_end").over(w2)
    brk2 = F.when(
        lag_end.isNull() | (F.col("session_start") - lag_end > gap_seconds), 1
    ).otherwise(0)
    merged = (
        sess1.filter(F.col("_edge"))
        .withColumn("_gid", F.sum(brk2).over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("hostname", "_gid")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("n_events").alias("n_events"),
        )
        .select("hostname", "session_start", "session_end", "n_events")
    )
    return interior.unionByName(merged)


def write_bucketed(df: DataFrame, table: str, key: str = "doc_id",
                   buckets: int = 16) -> None:
    """Bucketed table for shuffle-free co-located joins (north rule D6):
    two tables bucketed+sorted on the same key join with zero Exchange —
    at 100 TB this turns the repeated big-big join into a local merge."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def route_write(enriched: DataFrame, out_dir: str) -> dict[str, int]:
    """Fan-out to the sink_name() sinks in ONE write pass that overwrites
    out_dir/sink=<name>/. Per-sink row counts come from df.observe()
    metrics attached to the SAME write job — no second scan of the output
    (at 100 TB a read-back count is a full extra pass over everything
    just written). The salt hashes doc_id, so the input must carry it;
    streaming.start_routed_stream applies the same sink rule to a line
    stream, which has no doc_id, with its own unsalted overwrite.

    Routed-row equality (BASELINE.md) is asserted by tests/test_pipeline.py
    via anti-joins of each sink against the severity filter.
    """
    from pyspark.sql import Observation

    sink_names = list(SEVERITY_NAMES) + ["_rejects"]
    df = enriched.withColumn("sink", sink_name())
    obs = Observation()
    df = df.observe(
        obs,
        *[F.count(F.when(F.col("sink") == s, 1)).alias(s) for s in sink_names],
    )
    # pre-shuffle on (sink, salt): each task writes few files per sink and
    # hot severities still spread across tasks
    df = salted(df, "sink")
    df.write.mode("overwrite").partitionBy("sink").parquet(out_dir)
    return {k: int(v) for k, v in obs.get.items() if v}
