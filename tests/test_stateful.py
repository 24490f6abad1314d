"""Stateful streaming: session windows (batch == streaming), watermarked
stream dedup, applyInPandasWithState running totals."""

from pyspark.sql import functions as F


def test_session_window_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The same session_stats function over readStream must reproduce the
    batch result for sessions the final watermark has closed."""
    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.stateful import session_stats

    events = load_table(spark, sf_dir, "events")
    batch = {tuple(r) for r in session_stats(events, gap="10 minutes").collect()}

    input_dir = str(tmp_path / "in")
    events.write.parquet(input_dir)
    src = spark.readStream.schema(events.schema).parquet(input_dir)
    out = session_stats(src, gap="10 minutes", watermark="1 hour")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    # append mode can only emit sessions closed by the final watermark;
    # everything it emitted must agree with batch, and must be most of it
    assert streamed <= batch
    assert len(streamed) >= 0.8 * len(batch)


def test_stream_dedup_watermarked(spark, sf_dir, tmp_path):
    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.stateful import stream_dedup

    events = load_table(spark, sf_dir, "events")
    doubled = events.unionByName(events)  # every event twice
    input_dir = str(tmp_path / "in")
    doubled.write.parquet(input_dir)
    src = spark.readStream.schema(events.schema).parquet(input_dir)
    out = stream_dedup(src, ["event_id"], watermark="2 hours")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()
    # batch degradation: plain dropDuplicates
    assert stream_dedup(doubled, ["event_id"]).count() == events.count()


def test_running_totals_stateful(spark, sf_dir, tmp_path):
    """applyInPandasWithState carries (count, sum) across micro-batches: with
    maxFilesPerTrigger=1 every user's final update row must equal the batch
    totals."""
    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.stateful import running_totals_stateful

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    input_dir = str(tmp_path / "in")
    events.repartition(3).write.parquet(input_dir)  # several files → several batches
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    out = running_totals_stateful(src)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    updates = spark.sql("select * from running_totals").toPandas()
    # last update per user == full batch aggregate
    final = updates.groupby("user_id").last()
    expect = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
        .set_index("user_id")
    )
    assert set(final.index) == set(expect.index)
    for uid in expect.index:
        assert final.loc[uid, "n_events"] == expect.loc[uid, "n_events"]
        assert abs(final.loc[uid, "total_value"] - expect.loc[uid, "total_value"]) < 1e-6


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from cam_etl_spark.io import load_table
    from cam_etl_spark.operators.similarity import knn_brute_cosine, knn_ivf_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"]) for r in knn_brute_cosine(emb, queries, k=5).collect()}
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf_cosine(emb, queries, k=5, n_centroids=16, n_probe=4).collect()
    }
    assert len({q for q, _ in ivf}) == 10  # every query answered
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.5, f"IVF recall {recall}"
    # n_probe == n_centroids degenerates to exact search
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf_cosine(emb, queries, k=5, n_centroids=8, n_probe=8).collect()
    }
    assert exact == bf


def test_upsert_sink_latest_per_key(spark, sf_dir, tmp_path):
    """foreachBatch upsert: multiple versions of the same key across
    micro-batches -> final snapshot holds exactly the latest per key."""
    from pyspark.sql import functions as F

    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.sinks import read_upsert_snapshot, upsert_parquet_sink

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    # key = user_id, seq = ts: the sink must keep each user's latest event
    input_dir = str(tmp_path / "in")
    events.repartition(4).write.parquet(input_dir)  # several files -> several batches
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = upsert_parquet_sink(
        src, ["user_id"], "ts", str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    snap = read_upsert_snapshot(spark, str(tmp_path / "state"))
    assert snap.count() == events.select("user_id").distinct().count()
    # every row is that user's max-ts event
    expect = {
        (r["user_id"], r["ts"])
        for r in events.groupBy("user_id").agg(F.max("ts").alias("ts")).collect()
    }
    got = {(r["user_id"], r["ts"]) for r in snap.collect()}
    assert got == expect


def test_upsert_jdbc_sink_merges_into_live_derby(spark, sf_dir, tmp_path):
    """Streaming upsert into a real database: micro-batches stage through
    Spark's JDBC writers, one server-side MERGE per batch applies them;
    the final table holds exactly the latest row per key."""
    from pyspark.sql import functions as F

    from cam_etl_spark.io import load_table
    from cam_etl_spark.streaming.sinks import upsert_jdbc_sink

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30).select(
        F.col("user_id").alias("USER_ID"),
        F.col("ts").alias("TS"),
        F.col("value").alias("VAL"),
    )
    input_dir = str(tmp_path / "in")
    events.repartition(4).write.parquet(input_dir)
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    url = f"jdbc:derby:{tmp_path}/upsert_db;create=true"
    q = upsert_jdbc_sink(
        src, ["USER_ID"], "TS", url, "USER_LATEST", str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got_df = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "USER_LATEST")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    assert got_df.count() == events.select("USER_ID").distinct().count()
    expect = {
        (r["USER_ID"], r["TS"])
        for r in events.groupBy("USER_ID").agg(F.max("TS").alias("TS")).collect()
    }
    got = {(r["USER_ID"], r["TS"]) for r in got_df.collect()}
    assert got == expect


def test_streaming_band_index_cross_batch_pairs(spark, tmp_path):
    """The incremental LSH band index must find pairs whose members arrive
    in DIFFERENT micro-batches (state carries the bucket across batches),
    and its run-to-completion pair set must equal the batch self-join."""
    import pyspark.sql.functions as F

    from cam_etl_spark.operators.dedup import (
        band_index,
        banded_from_sets,
        banded_pairs,
        shingle_sets,
    )
    from cam_etl_spark.streaming.stateful import streaming_band_index

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " today"),              # near-dup of 1
            (3, "completely different words about spark shuffles and joins"),
            (4, base),                          # exact dup of 1
        ],
        "doc_id long, text string",
    )
    sets = shingle_sets(docs, "text", "doc_id", 3)
    banded = banded_from_sets(sets, bands=8, rows_per_band=2)

    # one file per doc id -> maxFilesPerTrigger=1 puts every doc in its
    # own micro-batch: any pair the stream finds is cross-batch by
    # construction
    indir = str(tmp_path / "in")
    for did in (1, 2, 3, 4):
        banded.filter(F.col("id") == did).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
    src = (
        spark.readStream.schema(banded.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    q = (
        streaming_band_index(src)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "out")).distinct().collect()
    }
    # the batch self-join over the same buckets, one band per column
    wide = banded.groupBy("id").pivot("band", list(range(8))).agg(F.first("bucket"))
    index = band_index(wide, [f"`{b}`" for b in range(8)])
    want = {
        (r.id_a, r.id_b)
        for r in banded_pairs(index, "id").selectExpr("a.id AS id_a", "b.id AS id_b").collect()
    }
    assert got == want
    assert (1, 4) in got and (1, 2) in got  # cross-batch collisions found


def test_streaming_band_index_bucket_overflow_cap(spark, tmp_path):
    """max_bucket_size bounds state AND output: a hot bucket (giant
    duplicate cluster) must emit ONE overflow marker carrying its
    (band, bucket) key instead of ~population² pairs, while small
    buckets keep emitting pairs normally."""
    import pyspark.sql.functions as F

    from cam_etl_spark.operators.dedup import banded_from_sets, shingle_sets
    from cam_etl_spark.streaming.stateful import streaming_band_index

    hot = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        # 8 exact duplicates -> every band's bucket holds 8 ids (hot),
        # plus one unrelated near-dup pair that must still be emitted
        [(i, hot) for i in range(1, 9)]
        + [
            (20, "spark shuffles partitions and joins across executors"),
            (21, "spark shuffles partitions and joins across executors ok"),
        ],
        "doc_id long, text string",
    )
    sets = shingle_sets(docs, "text", "doc_id", 3)
    banded = banded_from_sets(sets, bands=8, rows_per_band=2)
    indir = str(tmp_path / "in")
    banded.repartition(3).write.mode("overwrite").parquet(indir)
    src = (
        spark.readStream.schema(banded.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    q = (
        streaming_band_index(src, max_bucket_size=4)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "out"))
    over = out.filter(F.col("overflow")).collect()
    # the hot cluster overflowed: markers exist, carry their key, and
    # each overflowed (band, bucket) flagged at most once
    assert over, "hot bucket should have produced overflow markers"
    assert all(r["id_a"] is None and r["id_b"] is None for r in over)
    keys = [(r["band"], r["bucket"]) for r in over]
    assert len(keys) == len(set(keys))
    pair_rows = out.filter(~F.col("overflow")).collect()
    # hot-cluster pair volume is capped far below the 8*7/2 * 8-band blowup
    # (pairs emitted before a bucket hit the cap are legitimate)
    hot_pairs = {
        (r["id_a"], r["id_b"]) for r in pair_rows if r["id_a"] < 9
    }
    assert len(hot_pairs) < 28
    # the small bucket still emitted its candidate pair
    assert (20, 21) in {(r["id_a"], r["id_b"]) for r in pair_rows}


def test_streaming_mg_superset_and_bounded_state(spark, tmp_path):
    """The cross-batch MG candidate union must contain every true heavy
    hitter however the stream is batched, and each group's final summary
    must stay within the sketch bound (<= 64 entries)."""
    import pyspark.sql.functions as F

    from cam_etl_spark.operators.sampling import hash_bucket
    from cam_etl_spark.streaming.stateful import (
        streaming_heavy_hitter_candidates,
    )

    # skewed corpus: 'hot' dominates, long tail of singletons
    rows = [("hot " * 50,)] * 4 + [(f"cold{i} word{i} x{i}",) for i in range(200)]
    d = spark.createDataFrame(rows, "text string")
    indir = str(tmp_path / "in")
    d.repartition(8).write.mode("overwrite").parquet(indir)
    src = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    toks = (
        src.select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"))
        .filter(F.col("term") != "")
        .withColumn("grp", hash_bucket(F.col("term"), 4))
    )

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            str(tmp_path / "out")
        )

    q = (
        streaming_heavy_hitter_candidates(toks)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.read.parquet(str(tmp_path / "out"))
    last = emitted.groupBy("grp").agg(F.max("batch_id").alias("b"))
    final = emitted.join(last, "grp").filter(F.col("batch_id") == F.col("b"))
    per_group = {r["grp"]: r["n"] for r in
                 final.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 64 for n in per_group.values())
    cands = {r["term"] for r in final.select("term").distinct().collect()}
    assert "hot" in cands  # the true heavy hitter survived every batch split


def test_sessionize_event_timeout(tmp_path, spark):
    """Timeout-driven session finalization (EventTimeTimeout): a
    session closes from the DATA path when a later event arrives past
    the gap, and from the TIMEOUT callback when the watermark passes
    last_event + gap with no later event ever touching the key ("the
    user went quiet") — the final no-data micro-batch fires pending
    timers past the sentinel watermark."""
    import pyspark.sql.functions as F

    from cam_etl_spark.streaming.stateful import sessionize_event_timeout

    work = str(tmp_path / "sto")
    rows = [(1, 1000, 1.0), (1, 2000, 2.0), (1, 702000, 3.0),
            (2, 1_500_000, 4.0)]
    main = spark.createDataFrame(
        rows, "user_id long, ms long, value double"
    ).select("user_id", F.timestamp_millis("ms").alias("ts"), "value")
    main.coalesce(1).write.mode("overwrite").parquet(work + "/in")
    spark.createDataFrame(
        [(-1, 100_000_000, 0.0)], "user_id long, ms long, value double"
    ).select("user_id", F.timestamp_millis("ms").alias("ts"), "value") \
        .coalesce(1).write.mode("append").parquet(work + "/in")
    src = (spark.readStream
           .schema("user_id long, ts timestamp, value double")
           .option("maxFilesPerTrigger", "1").parquet(work + "/in"))
    q = (sessionize_event_timeout(src).writeStream.format("parquet")
         .option("path", work + "/out")
         .option("checkpointLocation", work + "/ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(tuple(r) for r in
                 spark.read.parquet(work + "/out").collect())
    assert got == [
        (1, 1000, 2000, 2, 3.0),       # closed by the NEXT event
        (1, 702000, 702000, 1, 3.0),   # closed by timeout
        (2, 1_500_000, 1_500_000, 1, 4.0),  # quiet user: timeout
    ]
    # the sentinel's own session never closed (watermark == its ts)
    assert all(u != -1 for u, *_ in got)


def test_sessionize_event_timeout_checkpoint_restart(tmp_path, spark):
    """Kill-and-resume exactly-once for the timeout sessionizer (the
    same bar the tail sources meet in test_tail_sources): run 1
    leaves two OPEN sessions in the state store; run 2 resumes from
    the checkpoint, closes one via the data path, extends the other
    with a new event (proving state was restored, not rebuilt), and
    finalizes the rest via timeout. Across both runs every session is
    emitted exactly once — none lost, none double-emitted."""
    import pyspark.sql.functions as F

    from cam_etl_spark.streaming.stateful import sessionize_event_timeout

    work = str(tmp_path / "sto_restart")

    def write_in(rows, mode):
        spark.createDataFrame(
            rows, "user_id long, ms long, value double"
        ).select("user_id", F.timestamp_millis("ms").alias("ts"),
                 "value").coalesce(1).write.mode(mode).parquet(
            work + "/in")

    def run_once():
        src = (spark.readStream
               .schema("user_id long, ts timestamp, value double")
               .option("maxFilesPerTrigger", "1")
               .parquet(work + "/in"))
        q = (sessionize_event_timeout(src)
             .writeStream.format("parquet")
             .option("path", work + "/out")
             .option("checkpointLocation", work + "/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return sorted(tuple(r) for r in
                      spark.read.parquet(work + "/out").collect())

    # run 1: two open sessions (u1, u2); nothing can finalize (the
    # watermark only reaches 5000 ms, far below last_event + gap)
    write_in([(1, 1000, 1.0), (1, 2000, 2.0), (2, 5000, 4.0)],
             "overwrite")
    assert run_once() == []

    # between runs: u1 gets a past-gap event (closes the old session
    # from the data path and opens a new one), u2 an in-gap event
    # (EXTENDS the checkpointed session — state restored, not lost),
    # and a sentinel pushes the watermark so timeouts fire
    write_in([(1, 700_000, 3.0), (2, 550_000, 6.0),
              (-1, 100_000_000, 0.0)], "append")
    got = run_once()
    assert got == [
        (1, 1000, 2000, 2, 3.0),        # run-1 state, closed by data
        (1, 700_000, 700_000, 1, 3.0),  # new session, timeout
        (2, 5000, 550_000, 2, 10.0),    # run-1 state EXTENDED in run 2
    ]


def test_sessionize_timeout_clamped_to_watermark(tmp_path, spark):
    """wm_delay > gap_ms with a late-but-in-watermark event used to
    crash (Spark rejects a timeout <= current watermark); the clamp
    (round 12, ADVICE) finalizes the session on a later batch
    instead. u8's last_event + gap (1,200,000 ms) sits behind the
    watermark (1,300,000 ms) when its event arrives."""
    import pyspark.sql.functions as F

    from cam_etl_spark.streaming.stateful import sessionize_event_timeout

    work = str(tmp_path / "sto_clamp")

    def write_in(rows, mode):
        spark.createDataFrame(
            rows, "user_id long, ms long, value double"
        ).select("user_id", F.timestamp_millis("ms").alias("ts"),
                 "value").coalesce(1).write.mode(mode).parquet(
            work + "/in")

    write_in([(9, 2_000_000, 1.0)], "overwrite")      # wm -> 1.3e6
    write_in([(8, 600_000, 2.0)], "append")           # timeout clamps
    write_in([(9, 3_000_000, 3.0)], "append")         # wm -> 2.3e6
    src = (spark.readStream
           .schema("user_id long, ts timestamp, value double")
           .option("maxFilesPerTrigger", "1").parquet(work + "/in"))
    q = (sessionize_event_timeout(src, wm_delay="700 seconds")
         .writeStream.format("parquet")
         .option("path", work + "/out")
         .option("checkpointLocation", work + "/ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(tuple(r) for r in
                 spark.read.parquet(work + "/out").collect())
    assert (8, 600_000, 600_000, 1, 2.0) in got       # clamped, fired
    assert (9, 2_000_000, 2_000_000, 1, 1.0) in got   # closed by data
    # u9's trailing session stays open (timeout 3.6e6 > final wm)
    assert len(got) == 2
