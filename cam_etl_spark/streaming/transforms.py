"""Stream-safe transforms (SURVEY §2.10).

The reference has no streaming — it's a stated future requirement ("spatial
system emits events", /root/reference/etl-notes.md:9). The engine's
contract: every row-level transform (row→quad fan-out, enrichment joins
against static reference tables) is expressed as a pure DataFrame→DataFrame
function, so the same function applies to a batch DF and a ``readStream``
DF (stream-static joins, stateless projections). Windowed aggregation with
watermarks covers late data.

The stream harness has one definition here: ``file_stream`` (a frame as
a multi-file parquet stream), ``run_available_now`` (an ``availableNow``
parquet sink, read back) and ``run_to_count`` (a custom-source stream run
until it stops advancing, its row count checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type. Works identically on a
    batch DF (oracle-checkable: window start == date_trunc) and a streaming
    DF (pass watermark to bound state)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window_duration: str = "2 hours",
    slide: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """SLIDING-window counts/sums per event_type: each event lands in
    duration/slide overlapping windows (Spark's window() emits the window
    list; the explode is implicit). Same function is stream-safe — pass a
    watermark to bound state at duration + lateness. Batch semantics equal
    streaming semantics, which is what the oracle exploits: a window
    starting at date_trunc(slide, ts) - k*slide for k < duration/slide
    contains ts."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(F.col(ts_col), window_duration, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_static_enrich(stream_df: DataFrame, static_dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static join: the streaming side keeps its micro-batch
    semantics, the static side is re-read per batch (broadcastable)."""
    return stream_df.join(F.broadcast(static_dim), on, how)


def file_stream(df: DataFrame, path: str, per_trigger: int, files: int | None = None) -> DataFrame:
    """A parquet file stream over ``path`` with ``df``'s schema that takes
    ``per_trigger`` files per micro-batch. With ``files``, ``df`` is first
    written to ``path`` as that many files; without it, ``path`` already
    holds the input. Files added before the query starts are part of its
    input, ordered by modification time."""
    if files is not None:
        df.repartition(files).write.mode("overwrite").parquet(path)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(path)
    )


def _parquet_sink(stream: DataFrame, work: str):
    return (
        stream.writeStream.format("parquet")
        .option("path", work + "/out")
        .option("checkpointLocation", work + "/ckpt")
        .outputMode("append")
    )


def _read_sink(stream: DataFrame, work: str) -> DataFrame:
    # the stream's schema: no footer-inference job, and a run that
    # emitted no rows reads back as an empty frame instead of failing
    return stream.sparkSession.read.schema(stream.schema).parquet(work + "/out")


def run_available_now(stream: DataFrame, work: str) -> DataFrame:
    """Run ``stream`` over all of its available input (``availableNow``)
    into a parquet sink at ``work/out`` with its checkpoint at
    ``work/ckpt``, and return the sink read back as a batch frame. A
    second run with the same ``work`` resumes from the checkpoint."""
    q = _parquet_sink(stream, work).trigger(availableNow=True).start()
    q.awaitTermination()
    return _read_sink(stream, work)


def run_to_count(stream: DataFrame, work: str, n_rows: int) -> DataFrame:
    """Run a custom-source ``stream`` whose source stops advancing into a
    parquet sink at ``work/out`` until a trigger finds no new data, and
    return the sink read back as a batch frame, which must hold exactly
    ``n_rows`` rows. A query that fails raises its error at once
    (``processAllAvailable`` re-raises it), not after a deadline."""
    q = _parquet_sink(stream, work).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = _read_sink(stream, work)
    got = out.count()
    if got != n_rows:
        raise RuntimeError(
            f"stream sink holds {got} rows of {n_rows}: the stream did not "
            "deliver every row exactly once"
        )
    return out


def interval_stream_join(
    clicks: DataFrame,
    views: DataFrame,
    key: str = "user_id",
    lookback: str = "6 hours",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: each click pairs with the same key's views
    in ``[click_ts - lookback, click_ts]``.

    The reference's stated streaming requirement (spatial events over
    message-oriented middleware, /root/reference/etl-notes.md:9) needs
    exactly this shape to correlate update events. Works identically on
    batch DataFrames (the DuckDB oracle form) and on streaming ones: under
    ``readStream`` BOTH sides get a watermark and Spark derives state
    eviction from the time-range join condition — without the range bound
    the join state would grow without limit. ``watermark`` should exceed
    the worst expected disorder; pairs older than it are dropped on the
    stream path (late data), which is the documented stream/batch delta.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col(key).alias("c_key"),
        F.col("ts").alias("click_ts"),
    )
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col(key).alias("v_key"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    if watermark is not None and c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        v = v.withWatermark("view_ts", watermark)
    cond = (
        (F.col("c_key") == F.col("v_key"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("view_ts") <= F.col("click_ts"))
    )
    # "left_outer" emits a null-match row for clicks with no view in the
    # lookback window — but ONLY once the (min-of-both-sides) watermark
    # passes the click's match horizon, because until then a matching
    # view could still arrive. A finite stream therefore under-emits
    # unless something advances the watermark past the tail; see
    # stream_stream_left_outer in plans/extensions.py for the
    # sentinel-and-resume pattern that makes it deterministic.
    # full_outer additionally emits null-click rows for views no
    # click ever matched; the key then comes from whichever side is
    # present
    user = (F.coalesce(F.col("c_key"), F.col("v_key"))
            if how == "full_outer" else F.col("c_key"))
    return c.join(v, cond, how).select(
        "click_id", "view_id", user.alias("user_id"), "click_ts", "view_ts", "view_value"
    )
