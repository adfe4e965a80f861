"""Pipeline contract tests: routing equality, conservation, byte identity,
plan-shape audits (broadcast join, column pruning, pushdown)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparklog import pipeline as PL
from sparklog import synth
from sparklog.udf import parse_df

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def parsed(spark):
    return parse_df(synth.lines_df(spark, SF_SMOKE)).cache()


def test_all_rows_parse_clean(parsed):
    assert parsed.filter(F.col("parse_error").isNotNull()).count() == 0


def test_msg_byte_identity(spark, parsed):
    """North-rule invariant: msg == documents.text for every doc."""
    docs = synth.load_documents(spark, SF_SMOKE).select("doc_id", "text")
    diff = parsed.join(docs, "doc_id").filter(F.col("msg") != F.col("text"))
    assert diff.count() == 0


def test_route_write_and_equality(spark, parsed, tmp_path):
    """Per-sink counts sum to input; each sink holds exactly the rows of
    its severity (routed-row equality via anti-joins both ways)."""
    enriched = PL.enrich(parsed, spark, with_lang=False)
    out = str(tmp_path / "sinks")
    counts = PL.route_write(enriched, out)
    assert sum(counts.values()) == parsed.count()
    back = spark.read.parquet(out)
    for sev_name in counts:
        sink_rows = back.filter(F.col("sink") == sev_name).select("doc_id")
        want = enriched.filter(
            F.coalesce(F.col("severity_name"), F.lit("_rejects")) == sev_name
        ).select("doc_id")
        assert sink_rows.exceptAll(want).count() == 0
        assert want.exceptAll(sink_rows).count() == 0


def test_route_write_one_salted_exchange(spark, parsed, tmp_path,
                                         monkeypatch):
    """The frame route_write writes has exactly one Exchange above the
    cache: hashpartitioning on (sink, salt). The frame is captured by
    wrapping PL.salted, the last step before the write."""
    import re

    written = []
    orig = PL.salted

    def salted(df, *args, **kwargs):
        written.append(orig(df, *args, **kwargs))
        return written[-1]

    monkeypatch.setattr(PL, "salted", salted)
    enriched = PL.enrich(parsed, spark, with_lang=False)
    PL.route_write(enriched, str(tmp_path / "sinks"))
    assert len(written) == 1
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    above_cache = plan.split("InMemoryTableScan")[0]
    salt = (r"Exchange hashpartitioning\(sink#\d+, "
            r"pmod\(xxhash64\(doc_id#\d+L, 42\), 16\), \d+\)")
    assert len(re.findall(salt, above_cache)) == 1, above_cache
    assert above_cache.count("Exchange") == 1, above_cache


def test_hourly_agg_conservation(spark, parsed):
    agg = PL.hourly_agg(PL.enrich(parsed, spark))
    total = agg.agg(F.sum("n")).collect()[0][0]
    assert total == parsed.count()


def test_parse_runs_exactly_once_in_plan(spark, parsed):
    """Regression: a filter on parse_error must NOT re-evaluate the parse
    (struct-UDF + Project used to duplicate it; mapInPandas is a barrier)."""
    agg = PL.hourly_agg(
        PL.enrich(parsed.filter(F.col("parse_error").isNull()), spark)
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    n_parse = plan.count("MapInPandas") + plan.count("ArrowEvalPython")
    # `parsed` is cached in this fixture, so the plan may show the cache
    # scan instead; build an uncached variant to be sure
    fresh = parse_df(synth.lines_df(spark, SF_SMOKE))
    agg2 = PL.hourly_agg(
        PL.enrich(fresh.filter(F.col("parse_error").isNull()), spark)
    )
    plan2 = agg2._jdf.queryExecution().executedPlan().toString()
    n2 = plan2.count("MapInPandas") + plan2.count("ArrowEvalPython")
    assert n2 == 1, f"parse evaluated {n2} times in plan"
    assert n_parse <= 1


def test_single_shuffle_for_hourly_agg(spark):
    import re

    fresh = parse_df(synth.lines_df(spark, SF_SMOKE))
    agg = PL.hourly_agg(PL.enrich(fresh, spark))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert shuffles == 1, f"expected 1 shuffle, plan has {shuffles}"
    assert plan.count("HashAggregate") == 2  # partial + final


def test_enrich_is_pure_projection(spark, parsed):
    """Enum-name enrichment must add NO join and NO exchange: the dims
    are closed literal domains, so the lookup is a projection fused into
    whatever scan feeds it (r6 optimization: was 3 broadcast hash
    joins — correct but paid a BroadcastExchange build per query)."""
    plan = PL.enrich(parsed, spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_column_pruning_html_never_read(spark):
    """The pipeline must not drag pages.html through the scan (SURVEY §4)."""
    import os

    pages_dir = "/tmp/sparklog_pages_prune_test"
    synth.pages_df(spark, SF_SMOKE).write.mode("overwrite").parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    lines = synth.lines_from_docs(
        pages.select(
            F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
            "text",
            "lang",
        )
    )
    plan = lines._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan, "html column must be pruned from the scan"


def test_partition_pruning_on_warc_day(spark, tmp_path):
    """Explicit partition pruning (north rule): a warc_day filter must
    reach the scan as a PartitionFilter and cut the files read."""
    out = str(tmp_path / "pages_days")
    synth.write_pages_partitioned(spark, SF_SMOKE, out)
    pages = spark.read.parquet(out)
    one_day = pages.filter(F.col("warc_day") == "2016-01-12")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(warc_day" in plan
    n_days = pages.select("warc_day").distinct().count()
    assert n_days >= 7  # 7-day synth window
    assert one_day.count() > 0
    # pruned scan touches strictly fewer files than the full scan
    n_pruned = one_day.select(F.input_file_name()).distinct().count()
    n_full = pages.select(F.input_file_name()).distinct().count()
    assert 0 < n_pruned < n_full


def test_filter_pushdown_to_scan(spark):
    """A severity filter on parsed output cannot push through the UDF, but
    a doc_id filter on the source must reach the parquet scan."""
    import os

    docs_dir = "/tmp/sparklog_pushdown_test"
    synth.load_documents(spark, SF_SMOKE).write.mode("overwrite").parquet(docs_dir)
    docs = spark.read.parquet(docs_dir).filter(F.col("doc_id") < 100)
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan or (
        "LessThan(doc_id,100)" in plan
    )


def test_salted_repartition_spreads_hot_key(spark, parsed):
    """The Zipf-head hostname must not land in a single partition."""
    enriched = PL.enrich(parsed, spark, with_lang=False)
    hot = enriched.filter(F.col("hostname") == "web-fe-01.example.com")
    n_parts = (
        PL.salted(hot, "hostname", num_partitions=16)
        .withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert n_parts > 4, f"hot hostname occupies only {n_parts} partitions"


def test_sd_lang_matches_documents(spark, parsed):
    docs = synth.load_documents(spark, SF_SMOKE).select("doc_id", "lang")
    got = parsed.withColumn("sd_lang", PL.sd_value("sd", "meta", "lang"))
    joined = got.join(docs, "doc_id").filter(
        F.col("sd_lang").isNotNull() & (F.col("sd_lang") != F.col("lang"))
    )
    assert joined.count() == 0


def test_sessionize_batch_merges_across_buckets(spark):
    """Sessions spanning bucket edges — including a chain across an empty
    middle bucket — merge back exactly; interior sessions are untouched.
    Hosts d/e/f pin the strict `>` of the gap rule in both the kernel
    and the boundary merge: a gap of exactly gap_seconds merges, one
    second more splits."""
    from sparklog import pipeline as PL

    rows = []
    # host A: one session crossing midnight (bucket edge at t=86400)
    rows += [("a", 86400 - 600), ("a", 86400 + 600)]
    # host A: interior session well inside day 2
    rows += [("a", 86400 + 50000), ("a", 86400 + 50060)]
    # host B: chain across an EMPTY bucket: day0 23:59:00 -> day1 00:05
    # requires gap=1800 merging with nothing in between
    rows += [("b", 86340), ("b", 87000), ("b", 88000)]
    # host C: single event
    rows += [("c", 1000)]
    # gap of EXACTLY gap_seconds (1800) across the midnight edge: merges
    rows += [("d", 85500), ("d", 87300)]
    # gap_seconds + 1 across the same edge: splits
    rows += [("e", 85500), ("e", 87301)]
    # the same pair of gaps inside one bucket: 1800 merges, 1801 splits
    rows += [("f", 10000), ("f", 11800), ("f", 13601)]
    parsed = spark.createDataFrame(
        [(h, t, None) for h, t in rows],
        "hostname STRING, timestamp LONG, parse_error STRING",
    )
    got = {(r["hostname"], r["session_start"], r["session_end"], r["n_events"])
           for r in PL.sessionize_batch(parsed).collect()}
    assert got == {
        ("a", 85800, 87000, 2),
        ("a", 136400, 136460, 2),
        ("b", 86340, 88000, 3),
        ("c", 1000, 1000, 1),
        ("d", 85500, 87300, 2),
        ("e", 85500, 85500, 1),
        ("e", 87301, 87301, 1),
        ("f", 10000, 11800, 2),
        ("f", 13601, 13601, 1),
    }


def test_sessionize_batch_groups_by_host_and_bucket(spark):
    """Skew audit: the pandas kernel's grouping key must be (hostname,
    _bkt) — a hot host spreads over its active days, never one task."""
    from sparklog import pipeline as PL
    from sparklog import synth
    from sparklog.udf import parse_df

    parsed = parse_df(synth.lines_df(spark, "/root/testdata/sf0.001"))
    plan = PL.sessionize_batch(parsed)._jdf.queryExecution() \
        .analyzed().toString()
    import re
    m = re.search(r"FlatMapGroupsInPandas \[([^\]]*)\]", plan)
    assert m, "FlatMapGroupsInPandas node missing"
    assert "hostname" in m.group(1) and "_bkt" in m.group(1), m.group(1)


def test_rate_anomalies_flags_spike(spark):
    """Constructed series: type 'a' has 20 quiet hours (n=10) and one
    50x spike hour -> only the spike is flagged (note a single outlier
    among k hours has z <= sqrt(k-1), so k must exceed 10 for |z| > 3);
    a constant-rate type has sd=0 -> NULL z, never flagged. Stats join
    must be broadcast."""
    import datetime as dt

    from sparklog import eventops

    rows = []
    base = dt.datetime(2024, 1, 1)
    eid = 0
    for h in range(21):
        n = 500 if h == 5 else 10
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i), "a"))
            eid += 1
    for h in range(10):
        for i in range(7):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i), "flat"))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id LONG, ts TIMESTAMP, event_type STRING")
    out = eventops.rate_anomalies(ev)
    got = {(r["event_type"], r["hour"].hour): (r["is_anomaly"], r["zscore"])
           for r in out.collect()}
    flagged = {k for k, v in got.items() if v[0] == 1}
    assert flagged == {("a", 5)}
    assert all(v[1] is None for k, v in got.items() if k[0] == "flat")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
