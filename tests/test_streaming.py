"""Structured Streaming: the batch transforms must be stream-safe
(SURVEY §2.10) — same function, readStream source, availableNow trigger —
and the stream harness of streaming/transforms.py (``file_stream``,
``run_available_now``, ``run_to_count``) that every catalog stream
entry runs on."""

import time

import pytest
from pyspark.sql import functions as F


def test_windowed_agg_stream_equals_batch(spark, sf_dir, tmp_path):
    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.transforms import (
        file_stream,
        run_available_now,
        windowed_event_counts,
    )

    events = load_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events, "1 hour").collect()
    }

    # stage the (nanos-normalized) events as a one-file stream input
    src = file_stream(events, str(tmp_path / "in"), per_trigger=1, files=1)
    got = run_available_now(
        windowed_event_counts(src, "1 hour", watermark="2 hours"), str(tmp_path)
    )
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    # Append-mode watermark semantics: windows still within the 2h watermark
    # of the max event time are held in state, not emitted, when input ends.
    assert stream, "stream produced no output"
    assert all(stream[k] == batch[k] for k in stream), "emitted windows must match batch"
    max_ts = max(r["ts"] for r in events.select("ts").collect())
    held_back = {k for k in batch if k not in stream}
    import datetime

    cutoff = (max_ts - datetime.timedelta(hours=3)).strftime("%Y-%m-%d %H:%M:%S")
    assert all(k[0] >= cutoff for k in held_back), "only trailing windows may be withheld"


def test_stream_static_enrich(spark, sf_dir, tmp_path):
    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.transforms import (
        file_stream,
        run_available_now,
        stream_static_enrich,
    )

    events = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive")], "event_type string, kind string"
    )
    src = file_stream(events, str(tmp_path / "in"), per_trigger=1, files=1)
    got = run_available_now(stream_static_enrich(src, dim, "event_type"), str(tmp_path))
    assert got.count() == events.count()
    kinds = {r["event_type"]: r["kind"] for r in got.select("event_type", "kind").distinct().collect()}
    assert kinds.get("click") == "interactive"


def test_interval_stream_join_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream windowed join over micro-batched file streams must
    reproduce the batch interval join exactly (watermark > data disorder)."""
    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.transforms import (
        file_stream,
        interval_stream_join,
        run_available_now,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    clicks = e.filter(F.col("event_type") == "click")
    views = e.filter(F.col("event_type") == "view")

    batch = {
        (r.click_id, r.view_id)
        for r in interval_stream_join(clicks, views, lookback="6 hours").collect()
    }

    cs = file_stream(clicks, str(tmp_path / "c"), per_trigger=1, files=3)
    vs = file_stream(views, str(tmp_path / "v"), per_trigger=1, files=3)
    out = run_available_now(
        interval_stream_join(cs, vs, lookback="6 hours", watermark="90 days"), str(tmp_path)
    )
    got = {(r.click_id, r.view_id) for r in out.collect()}
    assert got == batch and len(batch) > 0


def test_sliding_window_stream_equals_batch(spark, sf_dir, tmp_path):
    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.transforms import (
        file_stream,
        run_available_now,
        sliding_event_counts,
    )

    events = load_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in sliding_event_counts(events, "2 hours", "1 hour").collect()
    }
    # every event contributes to exactly 2 overlapping windows
    n_events = events.count()
    assert sum(v[0] for v in batch.values()) == 2 * n_events

    src = file_stream(events, str(tmp_path / "in"), per_trigger=1, files=1)
    got = run_available_now(
        sliding_event_counts(src, "2 hours", "1 hour", watermark="4 hours"), str(tmp_path)
    )
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    assert stream, "stream produced no output"
    assert all(stream[k] == batch[k] for k in stream), "emitted windows must match batch"


def _orders(spark, sf_dir):
    from cam_etl_spark.io import load_table

    return load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")


def test_file_stream_sinks_equal_batch(spark, sf_dir, tmp_path):
    """A multi-batch file stream through either sink holds exactly the
    batch rows, and a run that emits no row reads back empty."""
    from cam_etl_spark.streaming.transforms import file_stream, run_available_now, run_to_count

    o = _orders(spark, sf_dir)
    batch = sorted(tuple(r) for r in o.collect())
    src = file_stream(o, str(tmp_path / "in"), per_trigger=2, files=5)
    assert src.isStreaming and src.schema == o.schema
    assert len([f for f in (tmp_path / "in").iterdir() if f.suffix == ".parquet"]) == 5
    got = run_available_now(src, str(tmp_path / "a"))
    assert sorted(tuple(r) for r in got.collect()) == batch
    got = run_to_count(src, str(tmp_path / "b"), len(batch))
    assert sorted(tuple(r) for r in got.collect()) == batch
    assert run_available_now(src.filter("o_orderkey < 0"), str(tmp_path / "c")).count() == 0


def test_run_to_count_checks_the_row_count(spark, sf_dir, tmp_path):
    from cam_etl_spark.streaming.transforms import file_stream, run_to_count

    o = _orders(spark, sf_dir)
    src = file_stream(o, str(tmp_path / "in"), per_trigger=1, files=1)
    with pytest.raises(RuntimeError, match="rows of"):
        run_to_count(src, str(tmp_path), o.count() + 1)


def test_run_to_count_raises_a_failed_batch_at_once(spark, sf_dir, tmp_path):
    """A micro-batch that fails surfaces as the run's error in seconds,
    not after a polling deadline."""
    from pyspark.errors import StreamingQueryException

    from cam_etl_spark.streaming.transforms import file_stream, run_to_count

    @F.udf("long")
    def boom(k):
        raise ValueError(f"decoder failed on {k}")

    o = _orders(spark, sf_dir)
    src = file_stream(o, str(tmp_path / "in"), per_trigger=1, files=2)
    t0 = time.monotonic()
    with pytest.raises(StreamingQueryException, match="decoder failed on"):
        run_to_count(src.select(boom("o_orderkey").alias("k")), str(tmp_path), o.count())
    assert time.monotonic() - t0 < 30
