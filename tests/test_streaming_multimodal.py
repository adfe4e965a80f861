"""Structured Streaming analog + multimodal binary plumbing tests."""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F

from sparklog import multimodal as MM
from sparklog import streaming as ST
from sparklog import synth
from sparklog.udf import parse_df

from conftest import SF_SMOKE


def _routed_stream(spark, tmp_path):
    """Write the corrupt sf0.001 lines as text files, drain them once
    through start_routed_stream; returns (lines, run) so a test can
    re-run the same query on the same checkpoint."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    lines = synth.lines_df(spark, SF_SMOKE, corrupt=True)
    # write input as text files; syslog lines may contain no newlines here
    # (documents corpus has none) so text-source framing is safe
    lines.select("line").coalesce(2).write.mode("overwrite").text(in_dir)

    def run():
        q = ST.start_routed_stream(spark, in_dir, str(tmp_path / "out"),
                                   str(tmp_path / "ck"), once=True)
        q.awaitTermination(300)

    run()
    return lines, run


def test_streaming_routes_like_batch(spark, tmp_path):
    """File-stream in, foreachBatch parse+route out: every sink holds the
    rows route_write observes for it on the same lines."""
    from sparklog import pipeline as PL

    lines, _ = _routed_stream(spark, tmp_path)
    back = spark.read.parquet(str(tmp_path / "out"))
    stream = {r["sink"]: r["count"]
              for r in back.groupBy("sink").count().collect()}
    batch = PL.route_write(PL.enrich(parse_df(lines), spark, with_lang=False),
                           str(tmp_path / "batch"))
    assert stream == batch
    assert sum(stream.values()) == lines.count()
    assert "_rejects" in stream and len(stream) > 3


def test_routed_stream_replay_writes_once(spark, tmp_path):
    """A crash after a micro-batch's sink write but before its commit
    makes the restarted query replay that batch; the replay replaces the
    batch's output instead of adding a second copy."""
    lines, run = _routed_stream(spark, tmp_path)
    commits = tmp_path / "ck" / "commits"
    for name in os.listdir(commits):
        os.remove(commits / name)
    run()
    assert spark.read.parquet(str(tmp_path / "out")).count() == lines.count()


def test_streaming_windowed_counts_schema(spark):
    # windowed agg plan compiles against a static frame with same schema

    parsed = parse_df(synth.lines_df(spark, SF_SMOKE))
    win = (
        parsed.filter(F.col("parse_error").isNull())
        .withColumn("event_ts", F.timestamp_seconds(F.col("timestamp")))
        .groupBy(F.window("event_ts", "1 hour"), F.col("severity"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = win.agg(F.sum("n")).collect()[0][0]
    # nil-timestamp rows fall out of the window (null event_ts)
    assert total > 0


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed counts with a 10-minute watermark: an event
    later than (max event time - watermark) must be DROPPED from its
    already-finalized window; in-watermark late events are counted."""
    in_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    os.makedirs(in_dir)

    def line(ts: str) -> str:
        return f"<14>1 {ts} host app - - - m"

    # batch 1: one event at 10:05, one at 12:05 (advances watermark to 11:55)
    with open(f"{in_dir}/a.txt", "w") as f:
        f.write(line("2016-01-10T10:05:00Z") + "\n")
        f.write(line("2016-01-10T10:10:00Z") + "\n")
        f.write(line("2016-01-10T12:05:00Z") + "\n")

    out_dir = str(tmp_path / "out")
    parsed = parse_df(ST.read_line_stream(spark, in_dir))
    win = ST.windowed_counts(parsed, watermark="10 minutes")

    def run_once():
        q = (
            win.selectExpr("window.start AS s", "n")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()

    # batch 2: a too-late event for the 10:00 window (watermark is 11:55)
    # plus another 12:xx event; then a 14:05 event to push the watermark
    # past 13:00 so the 12:00 window finalizes
    with open(f"{in_dir}/b.txt", "w") as f:
        f.write(line("2016-01-10T10:20:00Z") + "\n")
        f.write(line("2016-01-10T12:30:00Z") + "\n")
        f.write(line("2016-01-10T14:05:00Z") + "\n")
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    counts = {str(r["s"])[:13]: r["n"] for r in rows}
    # 10:00 window finalized with ONLY the two on-time events (10:20 dropped)
    assert counts.get("2016-01-10 10") == 2, counts
    # 12:00 window finalized with both 12:xx events (12:30 was in-watermark)
    assert counts.get("2016-01-10 12") == 2, counts


def test_stateful_sessionize_hot_host_matches_batch(spark, tmp_path):
    """Skew case for the streaming sessionizer: a Zipf-head host with
    hundreds of events per trigger (all through its one bare-hostname
    state key) must emit exactly the batch operator's sessions once the
    watermark has passed them; sessions still open stay in state."""
    from sparklog import pipeline as PL

    in_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    base = 1452420000  # 2016-01-10T10:00:00Z

    def line(host: str, secs: int) -> str:
        import datetime as dt

        ts = dt.datetime.fromtimestamp(secs, dt.timezone.utc)
        return f"<14>1 {ts.strftime('%Y-%m-%dT%H:%M:%S')}Z {host} app - - - m"

    # hot host: 300 events a minute apart with one 2h hole -> 2 sessions;
    # two cold hosts with a session each; an edge host whose gaps are
    # exactly gap (merges) and gap + 1 (splits) -> 2 sessions
    lines1 = [line("hot", base + 60 * i) for i in range(150)]
    lines1 += [line("hot", base + 7200 + 60 * 150 + 60 * i) for i in range(150)]
    lines1 += [line("cold1", base), line("cold1", base + 600),
               line("cold2", base + 120)]
    lines1 += [line("edge", base + t) for t in (0, 1800, 1800 + 1801)]

    def run_once():
        parsed = parse_df(ST.read_line_stream(spark, in_dir))
        q = (
            ST.sessionize_stream_native(parsed, gap_seconds=1800,
                                        watermark="2 hours")
            .writeStream.format("parquet").outputMode("append")
            .option("path", out_dir).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)

    # batch b moves the watermark a day past every batch-a session; batch
    # c runs with that watermark. The b/c events form sessions that stay
    # open, so only batch a's sessions are emitted.
    hosts = ("hot", "cold1", "cold2", "edge")
    trailing = ([line(h, base + 86400) for h in hosts],
                [line(h, base + 86400 + 60) for h in hosts])
    for fname, lines in zip(("a.txt", "b.txt", "c.txt"),
                            (lines1, *trailing)):
        with open(f"{in_dir}/{fname}", "w") as f:
            f.write("\n".join(lines) + "\n")
        run_once()

    got = {
        (r["hostname"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    static = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines1)], "doc_id LONG, line STRING"
    )
    want = {
        (r["hostname"], r["session_start"], r["session_end"], r["n_events"])
        for r in PL.sessionize_batch(parse_df(static)).collect()
    }
    assert len(want) == 6
    assert got == want


def test_streaming_native_session_window(spark, tmp_path):
    """sessionize_stream_native (built-in session_window + watermark): a
    session opened in one checkpointed batch is emitted once a later
    batch's watermark passes its close."""
    in_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    def line(ts: str) -> str:
        return f"<14>1 {ts} hostA app - - - m"

    def run_once():
        parsed = parse_df(ST.read_line_stream(spark, in_dir))
        q = (
            ST.sessionize_stream_native(parsed, gap_seconds=1800,
                                        watermark="2 hours")
            .writeStream.format("parquet").outputMode("append")
            .option("path", out_dir).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)

    for fname, stamps in (
        ("a.txt", ["2016-01-10T10:00:00Z", "2016-01-10T10:10:00Z"]),
        ("b.txt", ["2016-01-10T13:00:00Z"]),   # wm -> 11:00 after this batch
        ("c.txt", ["2016-01-10T16:00:00Z"]),   # batch runs WITH wm 11:00
    ):
        with open(f"{in_dir}/{fname}", "w") as f:
            f.write("\n".join(line(s) for s in stamps) + "\n")
        run_once()

    rows = spark.read.parquet(out_dir).collect()
    got = {(r["hostname"], r["session_start"], r["session_end"], r["n_events"])
           for r in rows}
    # the 13:00 singleton is emitted too: after c.txt the watermark is
    # 14:00 and Spark's no-data batch evicts every closed window past it;
    # only the 16:00 session stays open in state
    assert got == {("hostA", 1452420000, 1452420600, 2),
                   ("hostA", 1452430800, 1452430800, 1)}


def test_compressed_image_and_video_still_stubbed():
    """Every format without a decoder here raises NotImplementedError:
    entropy-coded ones (PNG/JPEG) need an external codec, and BMP is
    rejected because nothing produces it. Only netpbm (below) and WAV
    decode for real."""
    with pytest.raises(NotImplementedError):
        MM.decode_binary(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\xff\xd8\xff\xe0jpeg")
    # a valid 1x1 uncompressed 24-bit BMP (file + DIB header, one
    # padded pixel row)
    bmp = (struct.pack("<2sIHHI", b"BM", 58, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 0, 0, 0, 0)
           + bytes(4))
    with pytest.raises(NotImplementedError):
        MM.decode_image(bmp)


def test_image_decode_is_real_netpbm():
    """From-scratch codec: P6/P5 encode->decode roundtrips are
    pixel-exact, including netpbm header comments."""
    import numpy as np

    rng = np.random.RandomState(7)
    a = rng.randint(0, 256, (13, 9, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_image(MM.encode_ppm(a)), a)
    g = rng.randint(0, 256, (4, 7), dtype=np.uint8)
    p5 = b"P5\n# a comment\n7 4\n255\n" + g.tobytes()
    assert np.array_equal(MM.decode_image(p5), g)


def test_image_features_and_resize_through_spark(spark):
    """synth -> decode -> features matches numpy exactly per doc, and
    the real nearest-neighbor resize re-encodes to decodable P6 at the
    target dimensions with pixels drawn from the source raster."""
    import numpy as np

    docs = spark.createDataFrame(
        [(i,) for i in (0, 5, 123, 999)], "doc_id LONG"
    )
    imgs = MM.synth_image_df(docs)
    feats = {r["doc_id"]: r for r in MM.image_features(imgs).collect()}
    for did in (0, 5, 123, 999):
        arr = MM.decode_image(MM.synth_ppm(did))
        r = feats[did]
        assert (r["width"], r["height"], r["channels"]) == (
            8 + did % 25, 6 + did % 17, 3)
        assert r["mean_px"] == round(float(arr.mean()), 4)
        assert r["std_px"] == round(float(arr.std()), 4)

    rs = {r["doc_id"]: r for r in
          MM.resize_image(imgs, width=4, height=3).collect()}
    for did in (0, 5, 123, 999):
        out = MM.decode_image(bytes(rs[did]["resized"]))
        assert out.shape == (3, 4, 3)
        src = MM.decode_image(MM.synth_ppm(did))
        ri = (np.arange(3) * src.shape[0]) // 3
        ci = (np.arange(4) * src.shape[1]) // 4
        assert np.array_equal(out, src[ri][:, ci])


def test_wav_decode_is_real():
    """The audio path uses an actual codec: stdlib wave encode -> decode
    roundtrip recovers sample count, rate, and signal shape (sine at
    amplitude 0.5: rms ~ 0.5/sqrt(2), peak ~ 0.5)."""
    import numpy as np

    payload = MM.synth_wav(123)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    assert len(payload) == 44 + 2 * (8000 + 123 % 1000)
    x, rate = MM.decode_binary(payload)
    assert rate == MM.WAV_RATE
    assert len(x) == 8000 + 123 % 1000
    assert abs(float(np.sqrt(np.mean(x * x))) - 0.5 / np.sqrt(2)) < 0.01
    assert abs(float(np.max(np.abs(x))) - 0.5) < 0.01
    # deterministic: same doc -> same bytes
    assert MM.synth_wav(123) == payload


def test_audio_features_through_spark(spark):
    """mapInPandas over real WAV payloads: features match the numpy
    ground truth computed outside Spark."""
    import numpy as np

    docs = spark.createDataFrame([(i,) for i in (0, 7, 999)], "doc_id LONG")
    rows = {r["doc_id"]: r
            for r in MM.audio_features(MM.synth_audio_df(docs)).collect()}
    for d in (0, 7, 999):
        x, rate = MM.decode_binary(MM.synth_wav(d))
        r = rows[d]
        assert r["sample_rate"] == rate
        assert r["n_samples"] == len(x)
        assert r["byte_len"] == 44 + 2 * len(x)
        assert r["rms"] == round(float(np.sqrt(np.mean(x * x))), 4)
        assert r["peak"] == round(float(np.max(np.abs(x))), 4)


def test_dedup_stream_suppresses_cross_batch_retransmits(spark, tmp_path):
    """A line retransmitted in a later micro-batch (within the watermark
    horizon) must be emitted exactly once; distinct lines all survive."""
    in_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    def line(ts: str, msg: str) -> str:
        return f"<14>1 {ts} hostA app - - - {msg}"

    def run_once():
        parsed = parse_df(ST.read_line_stream(spark, in_dir))
        q = (
            ST.dedup_stream(parsed, watermark="1 hour")
            .select("hostname", "timestamp", "msg")
            .writeStream.format("parquet").outputMode("append")
            .option("path", out_dir).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)

    with open(f"{in_dir}/a.txt", "w") as f:
        f.write(line("2016-01-10T10:00:00Z", "m1") + "\n")
        f.write(line("2016-01-10T10:05:00Z", "m2") + "\n")
        f.write(line("2016-01-10T10:00:00Z", "m1") + "\n")  # in-batch dup
    run_once()
    with open(f"{in_dir}/b.txt", "w") as f:
        f.write(line("2016-01-10T10:00:00Z", "m1") + "\n")  # cross-batch dup
        f.write(line("2016-01-10T10:10:00Z", "m3") + "\n")
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    msgs = sorted(r["msg"] for r in rows)
    assert msgs == ["m1", "m2", "m3"]


def test_clean_stream_gates_and_cross_batch_dedup(spark, tmp_path):
    """Streaming cleaning pass: quality/lang/PII-scrub apply per batch;
    a re-crawled duplicate (same scrubbed text) in a later micro-batch
    within the watermark is suppressed; short docs are dropped."""
    import json as _json

    in_dir = str(tmp_path / "docs_in")
    ck = str(tmp_path / "docs_ck")
    out_dir = str(tmp_path / "docs_out")
    os.makedirs(in_dir)

    good = ("the quick brown fox and the lazy dog of the north went to "
            "a market in town that is busy and loud and full of the "
            "best goods in the region")
    with_pii = good + " contact me at alice@web.example.com"

    def write_batch(name, rows):
        with open(f"{in_dir}/{name}", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run_once():
        docs = (
            spark.readStream.schema(
                "doc_id LONG, text STRING, event_ts TIMESTAMP"
            ).json(in_dir)
        )
        q = (
            ST.clean_stream(docs, watermark="1 hour")
            .writeStream.format("parquet").outputMode("append")
            .option("path", out_dir).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)

    write_batch("a.jsonl", [
        {"doc_id": 1, "text": good, "event_ts": "2016-01-10T10:00:00Z"},
        {"doc_id": 2, "text": with_pii, "event_ts": "2016-01-10T10:01:00Z"},
        {"doc_id": 3, "text": "too short", "event_ts": "2016-01-10T10:02:00Z"},
    ])
    run_once()
    write_batch("b.jsonl", [
        # re-crawl of doc 1 under a new id -> same md5 -> suppressed
        {"doc_id": 9, "text": good, "event_ts": "2016-01-10T10:10:00Z"},
    ])
    run_once()

    rows = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["n_pii"] == 1
    assert rows[1]["n_pii"] == 0
    # scrub happened BEFORE dedup keying: docs 1 and 2 differ only by
    # the appended email, so their scrubbed texts differ by '<EMAIL>'
    assert rows[1]["text_md5"] != rows[2]["text_md5"]
