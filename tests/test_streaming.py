from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_frame_spark.queries import t
from data_frame_spark.streaming import windows as W


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return t(spark, sf_dir, "events")


def test_streaming_tumbling_matches_batch(spark, sf_dir, batch_events):
    stream = W.stream_events(spark, sf_dir)
    got = W.run_to_memory(W.tumbling_counts(stream), "t_tumbling")
    expect = W.tumbling_counts(batch_events)
    g = {(r["window_start"], r["event_type"]): (r["n"], round(r["value_sum"], 6)) for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): (r["n"], round(r["value_sum"], 6)) for r in expect.collect()}
    assert g == e and len(g) > 0


def test_streaming_sliding_matches_batch(spark, sf_dir, batch_events):
    stream = W.stream_events(spark, sf_dir)
    got = W.run_to_memory(W.sliding_counts(stream), "t_sliding")
    expect = W.sliding_counts(batch_events)
    g = {r["window_start"]: r["n"] for r in got.collect()}
    e = {r["window_start"]: r["n"] for r in expect.collect()}
    assert g == e
    # each event in 4 windows (1h / 15min)
    assert sum(g.values()) == 4 * batch_events.count()


def test_streaming_session_matches_batch(spark, sf_dir, batch_events):
    stream = W.stream_events(spark, sf_dir)
    got = W.run_to_memory(W.session_counts(stream), "t_session")
    expect = W.session_counts(batch_events)
    g = {(r["session_start"], r["user_id"]): r["n"] for r in got.collect()}
    e = {(r["session_start"], r["user_id"]): r["n"] for r in expect.collect()}
    assert g == e and len(g) > 0
    # mass conservation
    assert sum(g.values()) == batch_events.count()


def test_streaming_session_exact_gap_edge(spark, tmp_path):
    # boundary semantics, pinned: session_window treats an event at
    # exactly last_ts + gap as STILL IN the session (candidate
    # windows [ts, ts+gap] merge when touching: 1800 <= 0+1800), one
    # past it starts a new session — and stream == batch on both
    # sides of the edge. u1: events at 0s and 1800s -> ONE session;
    # u2: 0s and 1801s -> two sessions; u3: a chain stepping exactly
    # gap each time -> one session spanning the whole chain.
    rows = [
        ("u1", 0, 1.0), ("u1", 1800, 1.0),
        ("u2", 0, 1.0), ("u2", 1801, 1.0),
        ("u3", 0, 1.0), ("u3", 1800, 1.0), ("u3", 3600, 1.0),
    ]
    batch = spark.createDataFrame(rows, "user_id string, sec long, value double").select(
        "user_id", F.timestamp_seconds("sec").alias("ts"), "value"
    )
    p = str(tmp_path / "edge_events")
    batch.write.parquet(p)
    stream = (
        spark.readStream.schema(batch.schema).parquet(p).withWatermark("ts", "1 hour")
    )
    got = W.run_to_memory(W.session_counts(stream), "t_session_edge")
    expect = W.session_counts(batch)
    g = {(r["session_start"], r["user_id"]): r["n"] for r in got.collect()}
    e = {(r["session_start"], r["user_id"]): r["n"] for r in expect.collect()}
    assert g == e
    assert e == {
        (0, "u1"): 2,
        (0, "u2"): 1, (1801, "u2"): 1,
        (0, "u3"): 3,
    }


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, batch_events):
    # watermarked stream-stream self-join: (click, purchase) pairs by
    # user within 30 minutes — inner matches must equal the batch
    # interval join exactly (append mode; inner rows emit on match)
    from data_frame_spark.streaming import joins as J
    from data_frame_spark.streaming import windows as W

    stream = W.stream_events(spark, sf_dir)
    got = W.run_to_memory(
        J.clicks_to_purchases(stream), "t_ssjoin", mode="append"
    )
    expect = J.clicks_to_purchases(batch_events)
    key = lambda rows: sorted(
        (r["user_id"], r["click_id"], r["purchase_id"], r["lag_seconds"])
        for r in rows
    )
    g, e = key(got.collect()), key(expect.collect())
    assert g == e
    assert len(g) > 0                        # fixture has real pairs
    # interval bound respected
    assert all(0 <= lag <= 1800 for _, _, _, lag in g)


def test_interval_join_rejects_unbounded_stream_state(spark, sf_dir):
    # without a time bound the stream-stream join would need infinite
    # state; pin that our interval condition is what makes it legal —
    # the joined streaming frame analyzes and starts cleanly
    from data_frame_spark.streaming import joins as J
    from data_frame_spark.streaming import windows as W

    stream = W.stream_events(spark, sf_dir)
    out = J.clicks_to_purchases(stream, within="5 minutes")
    assert out.isStreaming
