"""Structured Streaming analog of the reference's UDP-server doc example
(lib.rs:18-24: recv -> decode -> parse -> use fields).

The batch operators are reused verbatim inside foreachBatch, so streaming
and batch share one code path (SURVEY.md §3 entry point 3). A file-source
variant is testable hermetically; in production the source would be
Kafka/socket with the same downstream graph plus a watermark on event_ts
for the windowed aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparklog import pipeline as PL
from sparklog.udf import parse_df


def read_line_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-based line stream: each text file drop is a micro-batch."""
    return spark.readStream.format("text").load(in_dir).withColumnRenamed(
        "value", "line"
    )


def parse_stream(lines: DataFrame) -> DataFrame:
    """Streaming parse: identical UDF, micro-batch Arrow batches."""
    return parse_df(lines)


def windowed_counts(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Per-severity/hour counts with late-data handling: watermark on the
    derived event_ts (parsed unix seconds -> TIMESTAMP)."""
    with_ts = parsed.filter(F.col("parse_error").isNull()).withColumn(
        "event_ts", F.timestamp_seconds(F.col("timestamp"))
    )
    return (
        with_ts.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "1 hour"), F.col("severity"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dedup_stream(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Cross-batch duplicate suppression for retransmitted log lines
    (UDP syslog re-sends, at-least-once collectors): keep the first
    occurrence of (hostname, timestamp, msg) seen within the watermark
    horizon. dropDuplicatesWithinWatermark keeps state only until the
    watermark passes each key — bounded state, unlike dropDuplicates,
    whose streaming state grows forever; the horizon is exactly the
    window in which a retransmit can arrive."""
    events = parsed.filter(
        F.col("parse_error").isNull() & F.col("timestamp").isNotNull()
    ).withColumn("event_ts", F.timestamp_seconds(F.col("timestamp")))
    return (
        events.withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["hostname", "timestamp", "msg"])
    )


def clean_stream(docs: DataFrame, lang: str = "en", min_chars: int = 100,
                 min_words: int = 20,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of the corpus cleaning pass for a LIVE crawl feed:
    the per-doc signals (PII scrub, quality gate, language filter) are
    STATELESS projections that apply to a stream unchanged; exact dedup
    — the one stateful stage — becomes dropDuplicatesWithinWatermark on
    the scrubbed-text md5, so duplicate fetches arriving within the
    horizon are suppressed with BOUNDED state (batch clean_corpus_full's
    global groupBy would grow state forever on an unbounded stream).
    Semantics note, not hidden: the batch pass collapses dups across the
    whole corpus; the stream suppresses them within the watermark — the
    horizon is the window in which a re-crawl/retransmit can arrive.

    Input must carry (doc_id, text, event_ts TIMESTAMP). Output: one row
    per surviving doc (doc_id, text_md5, n_pii)."""
    from sparklog import textops

    # scrub inline (a self-join to re-attach event_ts would be a
    # stream-stream join; the signals are projections, so just keep the
    # column) — same patterns/order AND sequential counting as
    # textops.pii_scrub (each pattern counted on the text after the
    # prior replacements, so n_pii == placeholders emitted)
    t = F.col("text")
    t1 = F.regexp_replace(t, textops.PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, textops.PII_IPV4_RE, "<IP>")
    clean = F.regexp_replace(t2, textops.PII_PHONE_RE, "<PHONE>")
    n_pii = (
        F.regexp_count(t, F.lit(textops.PII_EMAIL_RE))
        + F.regexp_count(t1, F.lit(textops.PII_IPV4_RE))
        + F.regexp_count(t2, F.lit(textops.PII_PHONE_RE))
    ).cast("long")
    s = docs.select(
        "doc_id", "event_ts", clean.alias("clean_text"),
        n_pii.alias("n_pii"),
    )
    scored = textops.with_lang_pred(s, text_col="clean_text")
    f = scored.filter(
        (F.length("clean_text") >= min_chars)
        & (F.size(F.split(F.col("clean_text"), " ")) >= min_words)
        & (F.col("pred_lang") == lang)
    ).select(
        "doc_id", "event_ts", "n_pii",
        F.md5(F.col("clean_text")).alias("text_md5"),
    )
    return (
        f.withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
        .select("doc_id", "text_md5", "n_pii")
    )


def sessionize_stream_native(parsed: DataFrame,
                             gap_seconds: int = PL.SESSION_GAP_SECONDS,
                             watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization via the built-in session_window. Sessions
    are emitted once the watermark passes their close, so an idle host's
    last session is emitted too. State lives in the JVM state store; the
    sessionizer adds no Python worker.

    Skew note: the state is keyed on bare hostname. The executed plan is
    Exchange hashpartitioning(hostname) REQUIRED_BY_STATEFUL_OPERATOR ->
    SessionWindowStateStoreRestore [hostname] -> MergingSessions ->
    SessionWindowStateStoreSave [hostname], so a hot host's events pass
    through one task per trigger; that cost is bounded by the micro-batch
    size. pipeline.sessionize_batch splits a host per (hostname,
    day-bucket) instead, but here its bucket-edge merge would have to be
    a second stateful pass.

    Boundary convention: session_window merges when the next event is at
    or before last_ts + duration, so a gap_seconds duration is the
    batch/oracle rule exactly (merge at a gap of gap_seconds, split at
    gap_seconds + 1).
    """
    events = (
        PL._session_events(parsed)
        .withColumn("event_ts", F.timestamp_seconds(F.col("timestamp")))
        .withWatermark("event_ts", watermark)
    )
    return (
        events.groupBy(
            "hostname",
            F.session_window("event_ts", f"{gap_seconds} seconds"),
        )
        .agg(
            F.min("timestamp").cast("long").alias("session_start"),
            F.max("timestamp").cast("long").alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select("hostname", "session_start", "session_end", "n_events")
    )


def start_routed_stream(spark: SparkSession, in_dir: str, out_dir: str,
                        checkpoint_dir: str, once: bool = True):
    """readStream -> foreachBatch(parse -> enrich -> per-severity sinks).

    foreachBatch reuses the exact batch operators; availableNow drains all
    pending input then stops (hermetic for tests; drop once=False to run
    continuously).
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_df(batch_df)
        enriched = PL.enrich(parsed, spark, with_lang=False)
        sink = F.coalesce(F.col("severity_name"), F.lit("_rejects"))
        (
            enriched.withColumn("sink", sink)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").partitionBy("sink").parquet(out_dir)
        )

    writer = (
        read_line_stream(spark, in_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
