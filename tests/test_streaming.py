"""Structured-Streaming ops: session windows + streaming frontier dedup.

Driven through real readStream/writeStream with Trigger.AvailableNow over
file sources — the batch-equivalent execution of the streaming plan."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from boris_spark.streaming import stream_frontier_dedup, stream_sessionize
from boris_spark.streaming.frontier_feed import run_append_available_now
from boris_spark.streaming.sessionize import run_sessionize_append


def _write_events(spark, path):
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # user 1: two sessions (gap > 30 min); user 2: one session
    for i, off in enumerate((0, 5, 10, 120, 125)):
        rows.append((i, base + dt.timedelta(minutes=off), 1, "c", "u", 10))
    for i, off in enumerate((0, 20, 40)):
        rows.append((10 + i, base + dt.timedelta(minutes=off), 2, "c", "u", 10))
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "url string, dwell_ms bigint",
    ).write.mode("overwrite").parquet(path)


def test_stream_sessionize_append(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(spark, src)
    out = run_sessionize_append(spark, src, str(tmp_path / "wd"))
    got = {(r["user_id"], r["n_events"]) for r in out.collect()}
    # user 1: sessions of 3 and 2 events; user 2: one chained session of 3 —
    # ALL of them append-emitted (watermark flushed past every real session)
    assert got == {(1, 3), (1, 2), (2, 3)}
    # the production plan is append mode: rows were written by the parquet
    # sink exactly once; re-reading the sink gives the same multiset
    assert out.count() == 3


def test_stream_frontier_dedup_exactly_once(spark, tmp_path):
    src = str(tmp_path / "disc")
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("http://a/1", 11, "a", "00", ts),
        ("http://a/1", 11, "a", "01", ts),  # duplicate discovery
        ("http://a/2", 22, "a", "02", ts),
        ("http://b/1", 33, "b", "03", ts),
        ("http://a/2", 22, "a", "04", ts),  # duplicate
    ]
    spark.createDataFrame(
        rows,
        "url_canon string, url_hash bigint, host string, path_key string, "
        "discovered_ts timestamp",
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "frontier_out")
    sdf = stream_frontier_dedup(spark, src)
    assert sdf.isStreaming
    run_append_available_now(sdf, str(tmp_path / "ckpt2"), out)
    got = sorted(
        r["url_canon"] for r in spark.read.parquet(out).collect()
    )
    assert got == ["http://a/1", "http://a/2", "http://b/1"]


def test_stream_host_rates_append(spark, tmp_path):
    """Tumbling-window rates: epoch-minute alignment, one row per closed
    (host, window), sentinel's far-future window never reaches the sink."""
    import datetime as dt

    from boris_spark.streaming.host_rates import run_host_rates_append

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 0 -> h0: two events in minute 0, one in minute 1 (offset 30s
        # + 90s); user 1 -> h1: one event in minute 0
        (1, base + dt.timedelta(seconds=5), 0, "f", 0.0, ""),
        (2, base + dt.timedelta(seconds=30), 0, "f", 0.0, ""),
        (3, base + dt.timedelta(seconds=90), 0, "f", 0.0, ""),
        (4, base + dt.timedelta(seconds=59), 1, "f", 0.0, ""),
    ]
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    src = tmp_path / "src"
    src.mkdir()
    # single FILE named events.parquet (the sf_dir layout the stager globs)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pq.write_table(
        pa.Table.from_pandas(pdf), str(src / "events.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    out = run_host_rates_append(
        spark, str(src), str(tmp_path / "wd"), glob="events.parquet",
        schema=schema,
    )
    got = {
        (r["host"], r["window_start"].isoformat(), r["n_events"])
        for r in out.collect()
    }
    assert got == {
        ("h0", "2024-01-01T12:00:00", 2),
        ("h0", "2024-01-01T12:01:00", 1),
        ("h1", "2024-01-01T12:00:00", 1),
    }
