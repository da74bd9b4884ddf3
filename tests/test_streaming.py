"""O-2: streaming URL intake (file-drop source, availableNow trigger)
and the watermarked rate aggregation plan."""

import os
import time

from pyspark.sql import functions as F

from larbin_spark.streaming.input_stream import (
    parse_submissions, submission_stream, windowed_submission_rate,
)


def test_parse_submissions_batch(spark):
    lines = spark.createDataFrame(
        [("1 5 1 http://EXample.com/a/../b.html",),
         ("0 3 0 http://other.org/x",),
         ("0 3 1 mailto:bob@x.com",),        # invalid -> dropped
         ("2 4 1 http://dup.com/",)],
        ["value"])
    out = parse_submissions(lines).collect()
    by_url = {r["url"]: r for r in out}
    assert "http://example.com/b.html" in by_url
    assert by_url["http://example.com/b.html"]["queue"] == "priority"
    assert by_url["http://other.org/x"]["queue"] == "disk"
    assert by_url["http://other.org/x"]["force_seen"] is True
    assert len(out) == 3  # mailto dropped
    assert all(r["bucket"] >= 0 for r in out)


def test_submission_stream_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    drop.mkdir()
    (drop / "batch1.txt").write_text(
        "1 5 1 http://a.com/one.html\n0 4 1 http://b.com/two.html\n")
    (drop / "batch2.txt").write_text("0 4 1 http://c.com/three.html\n")
    q = submission_stream(spark, str(drop), str(out), str(ckpt))
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    assert {r["url"] for r in rows} == {
        "http://a.com/one.html", "http://b.com/two.html",
        "http://c.com/three.html"}
    # exactly-once across a restart with no new files
    q2 = submission_stream(spark, str(drop), str(out), str(ckpt))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == 3


def test_windowed_rate_plan_is_streaming(spark, tmp_path):
    drop = tmp_path / "drop2"
    drop.mkdir()
    (drop / "b.txt").write_text("0 4 1 http://a.com/x.html\n")
    df = windowed_submission_rate(spark, str(drop))
    assert df.isStreaming
    q = (df.writeStream.format("memory").queryName("subrate")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # watermarked append-mode windows only emit once the watermark
    # passes; with a single micro-batch the table may be empty -- the
    # assertion is that the watermark+window plan executes
    assert spark.table("subrate").columns == ["window", "host", "n"]


def test_windowed_event_counts_watermark_and_tz(spark, tmp_path):
    """Append mode emits exactly the windows whose end the final
    watermark (max ts - delay) passed, and the NTZ->event-time
    conversion is UTC-epoch-aligned regardless of the session
    timezone (a plain NTZ cast would shift the window boundaries
    under a non-UTC driver)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime
    from larbin_spark.streaming.input_stream import windowed_event_counts

    src = tmp_path / "ev_in"
    src.mkdir()
    rows = [
        (datetime(2024, 1, 1, 0, 10), "a"),   # window [00:00,01:00)
        (datetime(2024, 1, 1, 0, 50), "a"),
        (datetime(2024, 1, 1, 1, 20), "b"),   # window [01:00,02:00)
        (datetime(2024, 1, 1, 3, 0, 1), "a"),  # max ts; wm = 02:00:01
    ]
    pq.write_table(pa.table({
        "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
        "event_type": pa.array([r[1] for r in rows], pa.string())}),
        str(src / "events.parquet"))
    schema = spark.read.parquet(str(src)).schema

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (windowed_event_counts(stream).writeStream
             .format("memory").queryName("wec_test")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r.ws, r.event_type): r.n for r in spark.sql(
            "select cast(window.start as long) ws, event_type, n "
            "from wec_test").collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.catalog.dropTempView("wec_test")
    h0 = 1704067200  # 2024-01-01 00:00:00 UTC
    # watermark 02:00:01 closes [00:00,01:00) and [01:00,02:00);
    # the max-ts window [03:00,04:00) stays open and is NOT emitted
    assert got == {(h0, "a"): 2, (h0 + 3600, "b"): 1}


def test_host_session_tracker_stateful(spark, tmp_path):
    """applyInPandasWithState: per-host state accumulates across
    micro-batches and emits running session rows."""
    from larbin_spark.streaming.input_stream import host_session_tracker
    drop = tmp_path / "drop3"
    drop.mkdir()
    (drop / "b1.txt").write_text(
        "0 4 1 http://a.com/x.html\n0 4 1 http://a.com/y.html\n"
        "0 4 1 http://b.com/z.html\n")
    df = host_session_tracker(spark, str(drop), gap_seconds=300)
    assert df.isStreaming
    q = (df.writeStream.format("memory").queryName("sessions")
         .outputMode("append").trigger(availableNow=True).start())
    # a processing-time timeout makes every batch ask for another
    # (no-data) batch, so even availableNow never terminates: wait
    # for the batch that read the file, then stop the query so it
    # does not keep running batches behind the tests that follow
    deadline = time.monotonic() + 120
    try:
        while not any(p["numInputRows"] for p in q.recentProgress):
            assert q.isActive, q.exception()
            assert time.monotonic() < deadline, "input batch not run"
            time.sleep(0.2)
    finally:
        q.stop()
    rows = {r["host"]: r for r in spark.table("sessions").collect()}
    assert rows["a.com"]["session_urls"] == 2
    assert rows["b.com"]["session_urls"] == 1
    assert rows["a.com"]["closed"] is False


def test_deduped_submission_stream(spark, tmp_path):
    """In-stream URL-seen dedup: duplicate submissions inside the
    watermark collapse to one row; force-seen rows bypass."""
    from larbin_spark.streaming.input_stream import deduped_submission_stream
    drop = tmp_path / "drop4"
    drop.mkdir()
    (drop / "b1.txt").write_text(
        "0 4 1 http://a.com/x.html\n"
        "0 4 1 http://a.com/x.html\n"          # duplicate -> dropped
        "0 4 1 http://b.com/y.html\n"
        "0 4 0 http://a.com/x.html\n")         # force-seen -> kept
    out, ckpt = tmp_path / "out4", tmp_path / "ckpt4"
    q = deduped_submission_stream(spark, str(drop), str(out), str(ckpt))
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    urls = sorted((r["url"], r["force_seen"]) for r in rows)
    assert urls == [("http://a.com/x.html", False),
                    ("http://a.com/x.html", True),
                    ("http://b.com/y.html", False)]


def test_parse_submissions_url_tags(spark):
    """URL_TAGS line form: `<priority> <depth> <test> <tag> <url>`
    (the streaming form of the reference's tagged input,
    url.cxx:223-228)."""
    from larbin_spark.streaming.input_stream import parse_submissions
    lines = spark.createDataFrame(
        [("1 5 1 137 http://EX.com/a",),
         ("0 3 0 0 http://other.org/x",)], "value string")
    out = {r["url"]: r for r in
           parse_submissions(lines, url_tags=True).collect()}
    assert out["http://ex.com/a"]["tag"] == 137
    assert out["http://ex.com/a"]["priority"] == 1
    assert out["http://other.org/x"]["tag"] == 0
    assert out["http://other.org/x"]["force_seen"] is True
    # untagged form still yields tag 0
    lines2 = spark.createDataFrame([("0 5 1 http://y.org/p",)],
                                   "value string")
    out2 = parse_submissions(lines2).collect()[0]
    assert out2["tag"] == 0
