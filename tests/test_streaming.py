"""Streaming assembly tests: windowed aggregates must match the batch
equivalent; the foreachBatch switch loop must emit a valid D15 log; the
tracker operator must behave on hand-built motion."""

import tempfile

from pyspark.sql import functions as F

from video_etl_spark.control.buffer import ProcessingBuffer
from video_etl_spark.control.switcher import KnobSwitcher, Profile
from video_etl_spark.session import load_table
from video_etl_spark.streaming.pipeline import run_switch_loop, windowed_aggregate_query


def _switcher():
    quality = [[0.9, 0.6, 0.2], [0.7, 0.5, 0.1], [0.3, 0.2, 0.05]]
    profile = Profile(
        runtime=(1.9, 1.0, 0.4),
        cloud_cost=(0.0, 0.0, 0.0),
        knob_config=(0, 1, 2),
        size_bytes=(1e8, 1e8, 1e8),
    )
    return KnobSwitcher(
        quality,
        profile,
        ProcessingBuffer(16e9, profile.config_sizes()),
        cloud_budget=0.0,
        planning_interval=100,
        initial_histogram=[1.0, 1.0, 1.0],
    )


def test_streaming_window_agg_matches_batch(spark, sf_dir):
    q = windowed_aggregate_query(spark, sf_dir, query_name="t_chunk_aggs")
    q.awaitTermination()
    streamed = {
        r["window_start"]: (r["n_events"], r["value_sum"])
        for r in spark.sql("SELECT * FROM t_chunk_aggs").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r["ws"]: (r["n"], r["vs"])
        for r in ev.groupBy(F.window("ts", "2 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100)
            .cast("double")
            .alias("vs"),
        )
        .select(F.col("w.start").alias("ws"), "n", "vs")
        .collect()
    }
    assert streamed == batch


def test_switch_loop_emits_full_log(spark, sf_dir):
    with tempfile.TemporaryDirectory() as ckpt:
        log = run_switch_loop(spark, sf_dir, _switcher(), checkpoint_dir=ckpt)
    rows = log.orderBy("chunk_id").collect()
    assert len(rows) > 0
    # one decision per 2 s chunk present in the events table
    n_chunks = (
        load_table(spark, sf_dir, "events")
        .select(F.window("ts", "2 seconds"))
        .distinct()
        .count()
    )
    assert len(rows) == n_chunks
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
    assert all(r["config"] in (0, 1, 2) for r in rows)
    assert all(r["runtime"] > 0 for r in rows)


def test_tracker_follows_linear_motion(spark):
    from video_etl_spark.operators.tracking import sort_tracker

    # two objects moving right at 2 px/frame, 10 frames, one stream
    rows = []
    for f in range(10):
        rows.append(("s0", f, 10.0 + 2 * f, 10.0, 20.0 + 2 * f, 20.0))
        rows.append(("s0", f, 50.0 + 2 * f, 40.0, 60.0 + 2 * f, 50.0))
    df = spark.createDataFrame(
        rows, "stream string, frame_no long, x0 double, y0 double, x1 double, y1 double"
    )
    out = sort_tracker(df).collect()
    by_track = {}
    for r in out:
        by_track.setdefault(r["track_id"], []).append(r)
    # exactly two tracks, each spanning all 10 frames
    assert len(by_track) == 2
    for frames in by_track.values():
        assert len(frames) == 10
        assert sorted(r["frame_no"] for r in frames) == list(range(10))


def test_tracker_kills_vanished_object(spark):
    from video_etl_spark.operators.tracking import sort_tracker

    rows = []
    for f in range(4):  # object exists frames 0-3
        rows.append(("s0", f, 10.0, 10.0, 20.0, 20.0))
    for f in range(8, 12):  # far-away object appears later
        rows.append(("s0", f, 200.0, 200.0, 210.0, 210.0))
    df = spark.createDataFrame(
        rows, "stream string, frame_no long, x0 double, y0 double, x1 double, y1 double"
    )
    out = sort_tracker(df, max_age=2).collect()
    ids = {r["track_id"] for r in out}
    assert len(ids) == 2  # vanished object's track died; new id assigned


def test_stateful_user_state(spark, sf_dir, tmp_path):
    from video_etl_spark.streaming.pipeline import events_stream
    from video_etl_spark.streaming.stateful import running_user_state

    stream = events_stream(spark, sf_dir)
    out = running_user_state(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_user_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT * FROM t_user_state WHERE NOT expired"
    ).collect()
    assert rows, "stateful query produced no rows"
    got = {r["user_id"]: (r["n_events"], r["value_sum"]) for r in rows}
    ev = load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: (r["n"], r["vs"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100)
            .cast("double")
            .alias("vs"),
        )
        .collect()
    }
    # single availableNow batch -> final state equals the batch aggregate
    for uid, (n, vs) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - vs) < 1e-6


def test_streaming_session_window_matches_islands(spark, sf_dir, tmp_path):
    """W7 streaming sessions: native session_window(gap) over the replayed
    stream must find the same per-user session count as the batch
    gaps-and-islands query (sessionize_events)."""
    from video_etl_spark.queries.temporal import sessionize_events
    from video_etl_spark.streaming.pipeline import events_stream

    stream = events_stream(spark, sf_dir)
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["user_id"]: r["n"]
        for r in spark.sql(
            "SELECT user_id, count(*) AS n FROM t_sessions GROUP BY user_id"
        ).collect()
    }
    batch = {
        r["user_id"]: r["n"]
        for r in sessionize_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """§2.8 stream-stream join: purchases joined to preceding-hour clicks
    with watermarks + event-time range condition; pair count must equal the
    batch interval join."""
    from video_etl_spark.streaming.pipeline import events_stream

    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT count(*) AS n FROM t_ss_join").collect()[0]["n"]

    ev = load_table(spark, sf_dir, "events")
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    batch = bp.join(
        bc,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).count()
    assert streamed == batch


def test_stateful_timeout_emits_expiry_row(spark, tmp_path):
    """W2 track-death for real: a key that stops receiving events must emit
    an expired=True row carrying its final accumulated state (the streaming
    twin of the batch tracker's max_age kill, operators/tracking.py).

    ProcessingTimeTimeout cannot run under trigger(availableNow) (it never
    terminates — see streaming/stateful.py docstring), so this test drives a
    continuous processingTime trigger: batch 1 delivers user 1, later files
    deliver only other users, and their batches fire user 1's idle timeout.
    """
    import json
    import os
    import time

    from video_etl_spark.streaming.stateful import running_user_state

    d = tmp_path / "in"
    d.mkdir()

    def write_file(i, user, value):
        p = d / f"f{i}.json"
        tmp = d / f"f{i}.json.tmp"
        tmp.write_text(json.dumps({"user_id": user, "value": value}) + "\n")
        os.rename(tmp, p)

    write_file(0, 1, 10.25)
    stream = spark.readStream.schema("user_id long, value double").json(str(d))
    out = running_user_state(stream, timeout_ms=1500)
    q = (
        out.writeStream.format("memory")
        .queryName("t_expiry")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    expired = []
    t0 = time.time()
    i = 1
    try:
        while time.time() - t0 < 60:
            time.sleep(1.0)
            write_file(i, 100 + i, 1.0)  # keep micro-batches firing
            i += 1
            rows = spark.sql(
                "select * from t_expiry where expired and user_id = 1"
            ).collect()
            if rows:
                expired = rows
                break
    finally:
        q.stop()
    assert expired, "no expiry row within 60s"
    (r,) = expired
    # final state travels with the tombstone row
    assert r["n_events"] == 1
    assert r["value_sum"] == 10.25
    assert r["last_value"] == 10.25
    # the live (non-expired) row was emitted before the tombstone
    live = spark.sql(
        "select * from t_expiry where not expired and user_id = 1"
    ).collect()
    assert len(live) == 1


def test_watermark_drops_late_event(spark, tmp_path):
    """§2.8 late-data semantics: an event arriving behind the watermark
    must NOT reopen (or retro-update) a window the watermark already
    closed.  Two ordered micro-batches (maxFilesPerTrigger=1): batch 1
    carries the on-time events and advances the watermark past the first
    window's end; batch 2 replays a late event into that closed window.
    Append mode emits each window exactly once — the closed window's count
    must exclude the late row."""
    import json

    d = tmp_path / "wm_in"
    d.mkdir()

    def write(name, rows):
        (d / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    import time

    # batch 1: three events in [00:00, 00:10), max ts 00:30 -> watermark
    # after batch 1 = 00:25, far past the [00:00, 00:10) window end.
    write("f0.json", [
        {"ts": "2024-01-01 00:00:01", "v": 1},
        {"ts": "2024-01-01 00:00:03", "v": 1},
        {"ts": "2024-01-01 00:00:07", "v": 1},
        {"ts": "2024-01-01 00:00:30", "v": 1},
    ])

    stream = (
        spark.readStream.schema("ts string, v long")
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v_sum"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_watermark")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def snapshot():
        return {
            r["w"]["start"].strftime("%H:%M:%S"): (r["n"], r["v_sum"])
            for r in spark.sql("select * from t_watermark").collect()
        }

    try:
        # wait until batch 1 committed and the [00:00:00] window was
        # emitted (watermark 00:25 closed it)
        t0 = time.time()
        while time.time() - t0 < 60 and "00:00:00" not in snapshot():
            time.sleep(0.5)
        assert snapshot().get("00:00:00") == (3, 3), snapshot()

        # batch 2: late event at 00:00:05 (behind watermark 00:25) plus a
        # fresh event advancing the watermark past every earlier window.
        write("f1.json", [
            {"ts": "2024-01-01 00:00:05", "v": 100},
            {"ts": "2024-01-01 00:02:00", "v": 1},
        ])
        t0 = time.time()
        while time.time() - t0 < 60 and "00:00:30" not in snapshot():
            time.sleep(0.5)
    finally:
        q.stop()

    out = snapshot()
    # the closed [00:00:00, 00:00:10) window kept its on-time count and the
    # late v=100 row was dropped everywhere.
    assert out["00:00:00"] == (3, 3)
    assert all(v_sum < 100 for _, v_sum in out.values()), out


def test_stream_dedup_within_watermark(spark, tmp_path):
    """O5 streaming twin: dropDuplicatesWithinWatermark removes re-deliveries
    of the same key whose event times fall inside the watermark window —
    the streaming form of exact dedup (state is bounded by the watermark,
    unlike dropDuplicates whose state grows forever)."""
    import json

    d = tmp_path / "dd_in"
    d.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:00:01", "v": 1},
        {"event_id": 2, "ts": "2024-01-01 00:00:02", "v": 2},
        {"event_id": 1, "ts": "2024-01-01 00:00:03", "v": 999},  # dup of 1
        {"event_id": 3, "ts": "2024-01-01 00:00:04", "v": 3},
        {"event_id": 2, "ts": "2024-01-01 00:00:05", "v": 999},  # dup of 2
    ]
    (d / "f0.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    stream = (
        spark.readStream.schema("event_id long, ts string, v long")
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = sorted(
        (r["event_id"], r["v"])
        for r in spark.sql("select * from t_dedup_stream").collect()
    )
    # first delivery wins per key; the v=999 re-deliveries are dropped
    assert out == [(1, 1), (2, 2), (3, 3)]


def test_stream_static_join_ann_serving(spark, sf_dir, tmp_path):
    """Stream-STATIC join (the serving shape for ANN/dedup lookups): a
    replayed stream of query vectors joined per-batch against the static
    corpus; results must equal the batch join."""
    import json

    from video_etl_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("corpus_label"),
    )

    d = tmp_path / "q_in"
    d.mkdir()
    queries = [
        {"query_id": int(r["vec_id"]), "label": r["label"]}
        for r in emb.filter(F.col("vec_id") < 5).select("vec_id", "label").collect()
    ]
    (d / "f0.json").write_text("\n".join(json.dumps(q) for q in queries) + "\n")

    stream = spark.readStream.schema("query_id long, label string").json(str(d))
    joined = stream.join(  # label-blocked candidate lookup, stream x static
        corpus, stream["label"] == corpus["corpus_label"]
    ).select("query_id", "neighbor_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ann_serve")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ann_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["query_id"], r["neighbor_id"])
        for r in spark.sql("select * from t_ann_serve").collect()
    }
    batch_q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label"
    )
    batch = {
        (r["query_id"], r["neighbor_id"])
        for r in batch_q.join(
            corpus, batch_q["label"] == corpus["corpus_label"]
        ).select("query_id", "neighbor_id").collect()
    }
    assert streamed == batch and streamed


def test_stream_stream_left_outer_join_emits_nulls(spark, tmp_path):
    """§2.8 outer stream-stream join: unmatched left rows are held in
    state and emitted WITH NULLS only once the watermark passes the join
    window — the semantics that distinguish outer from inner stream joins."""
    import json
    import time

    d1 = tmp_path / "l_in"
    d2 = tmp_path / "r_in"
    d1.mkdir(); d2.mkdir()

    def write(d, name, rows):
        (d / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    # left event k=1 will match; k=2 never gets a right-side partner
    write(d1, "f0.json", [
        {"k": 1, "l_ts": "2024-01-01 00:00:01"},
        {"k": 2, "l_ts": "2024-01-01 00:00:02"},
        {"k": 9, "l_ts": "2024-01-01 00:05:00"},  # advances left watermark
    ])
    write(d2, "f0.json", [
        {"k": 1, "r_ts": "2024-01-01 00:00:03"},
        {"k": 8, "r_ts": "2024-01-01 00:05:00"},  # advances right watermark
    ])

    left = (
        spark.readStream.schema("k long, l_ts string").json(str(d1))
        .withColumn("l_ts", F.col("l_ts").cast("timestamp"))
        .withWatermark("l_ts", "10 seconds")
    )
    right = (
        spark.readStream.schema("k long, r_ts string").json(str(d2))
        .withColumn("r_ts", F.col("r_ts").cast("timestamp"))
        .withColumnRenamed("k", "rk")
        .withWatermark("r_ts", "10 seconds")
    )
    joined = left.join(
        right,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 30 seconds")),
        "leftOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_outer_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "oj_ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        t0 = time.time()
        rows = []
        while time.time() - t0 < 90:
            rows = spark.sql("select * from t_outer_join").collect()
            ks = {r["k"] for r in rows}
            if {1, 2} <= ks:
                break
            time.sleep(1.0)
            # keep micro-batches firing so watermarks advance
            write(d1, f"t{int(time.time()*1000)}.json",
                  [{"k": 9, "l_ts": "2024-01-01 00:09:00"}])
            write(d2, f"t{int(time.time()*1000)}.json",
                  [{"k": 8, "r_ts": "2024-01-01 00:09:00"}])
    finally:
        q.stop()
    by_k = {}
    for r in rows:
        by_k.setdefault(r["k"], []).append(r)
    # matched pair carries the right timestamp; expired unmatched row has NULLs
    assert any(r["rk"] == 1 for r in by_k[1])
    assert all(r["rk"] is None and r["r_ts"] is None for r in by_k[2])


def test_foreachbatch_keyed_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch upsert sink (Delta-MERGE pattern without Delta): each
    micro-batch's per-user aggregates are merged into a keyed parquet
    table by read-union-resolve-overwrite; the final table must equal the
    batch aggregate (exactly-once via idempotent full-key overwrite)."""
    import os

    from video_etl_spark.session import load_table
    from video_etl_spark.streaming.pipeline import events_stream

    target = str(tmp_path / "upsert_table")

    def upsert(batch_df, batch_id):
        incoming = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        spark_l = batch_df.sparkSession
        if os.path.exists(target):
            current = spark_l.read.parquet(target)
            merged = (
                current.unionByName(incoming)
                .groupBy("user_id")
                .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
            )
        else:
            merged = incoming
        merged.write.mode("overwrite").format("parquet").save(target + ".tmp")
        # atomic swap: parquet has no MERGE; full-key overwrite is the
        # idempotent equivalent at this table size
        spark_l.read.parquet(target + ".tmp").write.mode("overwrite").parquet(target)

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "up_ckpt"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["user_id"]: (r["n"], r["cents"])
        for r in spark.read.parquet(target).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: (r["n"], r["cents"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == want


def test_streaming_pq_serving_matches_driver_reference(spark, sf_dir, tmp_path):
    """Online ANN serving: a stream of query vectors scored per micro-batch
    against broadcast PQ codes must equal the driver-side numpy reference
    (same codebooks, same ADC math)."""
    import json

    import numpy as np

    from video_etl_spark.llm_ops.similarity import (
        _normalize,
        pq_encode_corpus,
        pq_serve_stream,
    )
    from video_etl_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)
    books, ids, codes = pq_encode_corpus(corpus)

    q_rows = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    d = tmp_path / "pq_in"
    d.mkdir()
    (d / "f0.json").write_text(
        "\n".join(
            json.dumps({"query_id": int(r["vec_id"]),
                        "embedding": [float(x) for x in r["embedding"]]})
            for r in q_rows
        ) + "\n"
    )
    stream = spark.readStream.schema(
        "query_id long, embedding array<double>"
    ).json(str(d))
    out = pq_serve_stream(stream, books, ids, codes, k=5)
    q = (
        out.writeStream.format("memory")
        .queryName("t_pq_serve")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["query_id"], r["rn"]): (r["neighbor_id"], r["approx_ip"])
        for r in spark.sql("select * from t_pq_serve").collect()
    }

    # driver-side reference with the identical artifacts
    m, dsub = books.shape[0], books.shape[2]
    want = {}
    for r in q_rows:
        qv = _normalize(np.array([r["embedding"]], dtype=np.float64))
        luts = np.einsum("qjd,jcd->qjc", qv.reshape(1, m, dsub), books)
        approx = luts[:, np.arange(m)[None, :], codes].sum(axis=2)[0]
        order = np.lexsort((ids, -approx))[:5]
        for rank, bi in enumerate(order, start=1):
            want[(int(r["vec_id"]), rank)] = (int(ids[bi]), float(approx[bi]))
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0]
        assert abs(got[key][1] - want[key][1]) < 1e-9

    # query_block (the serving-memory bound: one (block, n_codes) ADC
    # plane at a time instead of one for the whole Arrow chunk) must be
    # invisible in the results — _adc_scores and the top-k tie-break are
    # row-wise, so a block size that splits this 3-query batch in the
    # middle returns bit-identical rows
    batch_q = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
         for r in q_rows],
        "query_id long, embedding array<double>",
    )
    unblocked = sorted(
        tuple(r) for r in pq_serve_stream(
            batch_q, books, ids, codes, k=5
        ).collect()
    )
    blocked = sorted(
        tuple(r) for r in pq_serve_stream(
            batch_q, books, ids, codes, k=5, query_block=2
        ).collect()
    )
    assert blocked == unblocked and len(blocked) == len(q_rows) * 5


def test_streaming_sort_tracker_matches_batch(spark, tmp_path):
    """W2 streaming twin: a frame sequence split across TWO micro-batches
    (maxFilesPerTrigger=1, ordered replay) through the stateful streaming
    tracker must equal the batch sort_tracker run over the whole sequence —
    track ids, boxes, ages, hit counts, everything.  Proves the state-store
    round-trip (serialize → restore → resume) is lossless for the
    constant-velocity motion model."""
    import json

    from video_etl_spark.operators.tracking import sort_tracker
    from video_etl_spark.streaming.stateful import streaming_sort_tracker

    # two objects moving on crossing diagonals + one appearing mid-sequence
    def box(cx, cy):
        cx, cy = float(cx), float(cy)
        return {"x0": cx, "y0": cy, "x1": cx + 10.0, "y1": cy + 8.0}

    frames = []
    for f in range(8):
        frames.append({"stream": "cam0", "frame_no": f, **box(10 + 3 * f, 10 + 2 * f)})
        frames.append({"stream": "cam0", "frame_no": f, **box(60 - 3 * f, 40 - 2 * f)})
        if f >= 4:
            frames.append({"stream": "cam0", "frame_no": f, **box(100, 5 + f)})
        frames.append({"stream": "cam1", "frame_no": f, **box(5 + 4 * f, 80)})

    schema = "stream string, frame_no long, x0 double, y0 double, x1 double, y1 double"
    batch_df = spark.createDataFrame(
        [(r["stream"], r["frame_no"], r["x0"], r["y0"], r["x1"], r["y1"]) for r in frames],
        schema,
    )
    expected = sorted(
        map(tuple, sort_tracker(batch_df, motion="velocity").collect())
    )

    d = tmp_path / "trk_in"
    d.mkdir()
    # ordered replay: file 0 = frames 0-3, file 1 = frames 4-7.  The file
    # source replays in modification-time order, and same-millisecond
    # writes tie — pin strictly increasing mtimes so batch 0 runs first.
    import os

    for i, lo, hi in ((0, 0, 4), (1, 4, 8)):
        rows = [r for r in frames if lo <= r["frame_no"] < hi]
        p = d / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    # Force the state fn's per-key iterator to deliver MULTIPLE tiny Arrow
    # chunks per micro-batch: the update fn must concatenate them before
    # stepping (a frame straddling a chunk boundary stepped twice would
    # diverge from batch).
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        q = (
            streaming_sort_tracker(stream)
            .writeStream.format("memory")
            .queryName("t_trk")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "trk_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    got = sorted(map(tuple, spark.sql("select * from t_trk").collect()))
    assert got == expected and got


def test_streaming_tracker_rejects_frame_replay(spark, tmp_path):
    """The strictly-increasing frame_no contract is enforced, not just
    documented (round-5 advice): a second micro-batch replaying an
    already-processed frame must FAIL the query loudly — a silent re-step
    would predict/age every track twice and diverge from batch."""
    import json
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from video_etl_spark.streaming.stateful import streaming_sort_tracker

    rows = [
        {"stream": "cam0", "frame_no": f, "x0": 10.0 + f, "y0": 10.0,
         "x1": 20.0 + f, "y1": 18.0}
        for f in range(4)
    ]
    schema = (
        "stream string, frame_no long, x0 double, y0 double, "
        "x1 double, y1 double"
    )
    d = tmp_path / "replay_in"
    d.mkdir()
    # file 0 = frames 0-3; file 1 REPLAYS frames 2-3 (violation)
    for i, batch in ((0, rows), (1, rows[2:])):
        p = d / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in batch) + "\n")
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        streaming_sort_tracker(stream)
        .writeStream.format("memory")
        .queryName("t_trk_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "replay_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="contract violated"):
        q.awaitTermination(120)


def _dedup_docs_batches():
    """3 crawl batches with known cross-batch near-dups: doc 3 ~ doc 1,
    doc 5 ~ doc 4, doc 6 ~ docs 1 and 3; docs 2/4 are fresh on arrival."""
    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    c = ("an entirely separate recipe describing how to braise short "
         "ribs with red wine stock and winter root vegetables")
    return [
        [(1, a), (2, b)],
        [(3, a), (4, c)],
        [(5, c), (6, a)],
    ]


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """⊕U21 streaming twin (round-5 verdict ask #6): a 3-micro-batch
    streaming run through the foreachBatch band-join path must emit
    byte-identical (new_doc, dup_of, n_candidates) rows to driver-side
    incremental_dedup calls with accumulated history — proving the
    parquet signature index round-trip (write → read → asymmetric join)
    and the per-batch semantics match the batch library operator."""
    import json
    import os

    from video_etl_spark.llm_ops.dedup import incremental_dedup
    from video_etl_spark.streaming.dedup import streaming_incremental_dedup

    batches = _dedup_docs_batches()
    d = tmp_path / "docs_in"
    d.mkdir()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        p.write_text(
            "\n".join(
                json.dumps({"doc_id": did, "text": t}) for did, t in rows
            )
            + "\n"
        )
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        streaming_incremental_dedup(
            stream,
            index_dir=str(tmp_path / "sig_index"),
            dup_dir=str(tmp_path / "dups"),
        )
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["batch_id"], r["new_doc"], r["dup_of"], r["n_candidates"])
        for r in spark.read.parquet(str(tmp_path / "dups")).collect()
    )

    expected = []
    seen: list[tuple[int, str]] = []
    for i, rows in enumerate(batches):
        if seen:
            new_df = spark.createDataFrame(rows, "doc_id long, text string")
            hist_df = spark.createDataFrame(seen, "doc_id long, text string")
            for r in incremental_dedup(new_df, hist_df).collect():
                expected.append(
                    (i, r["new_doc"], r["dup_of"], r["n_candidates"])
                )
        seen.extend(rows)
    assert got == sorted(expected) and got
    # sanity on the known dup structure: 3←1, 5←4, 6←1 (earliest sighting)
    flagged = {n: d for _, n, d, _ in got}
    assert flagged[3] == 1 and flagged[5] == 4 and flagged[6] == 1
    assert 2 not in flagged and 4 not in flagged


def test_streaming_incremental_dedup_exact_watermark_layer(spark, tmp_path):
    """Layer 1: an EXACT duplicate text arriving in a later micro-batch
    within the watermark is suppressed by dropDuplicatesWithinWatermark —
    it never reaches the band join (no flagged row) and never enters the
    signature index."""
    import json
    import os

    from video_etl_spark.streaming.dedup import streaming_incremental_dedup

    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    batches = [
        [(1, a, "2024-01-01 00:00:00"), (2, b, "2024-01-01 00:00:01")],
        [(3, a, "2024-01-01 00:00:05")],  # exact dup of doc 1, in horizon
    ]
    d = tmp_path / "docs_wm_in"
    d.mkdir()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": did, "text": t, "event_time": ts}
                )
                for did, t, ts in rows
            )
            + "\n"
        )
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, event_time timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        streaming_incremental_dedup(
            stream,
            index_dir=str(tmp_path / "wm_sig_index"),
            dup_dir=str(tmp_path / "wm_dups"),
            exact_dedup_watermark="1 hour",
        )
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()

    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "wm_sig_index")).collect()
    }
    assert 3 not in indexed and {1, 2} <= indexed
    # the dup sink only ever saw empty batches, so the dir exists but holds
    # no files — read with an explicit schema (inference needs >=1 file)
    dups = (
        spark.read.schema(
            "new_doc long, dup_of long, n_candidates long, batch_id int"
        )
        .parquet(str(tmp_path / "wm_dups"))
        .collect()
    )
    assert not [r for r in dups if r["new_doc"] == 3]


def test_streaming_dedup_handler_retry_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch handler (a
    simulated retry) must leave the signature index and dup sink
    byte-identical — the batch_id-partitioned dynamic overwrite rewrites
    the batch's own partition instead of appending duplicates, and the
    history read excludes the retried batch's partial partition."""
    from video_etl_spark.streaming.dedup import make_batch_handler

    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    handle = make_batch_handler(
        index_dir=str(tmp_path / "r_idx"), dup_dir=str(tmp_path / "r_dups")
    )
    batch0 = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    batch1 = spark.createDataFrame([(3, a)], "doc_id long, text string")

    handle(batch0, 0)
    handle(batch1, 1)

    def snapshot():
        idx = sorted(
            map(tuple, spark.read.parquet(str(tmp_path / "r_idx")).collect())
        )
        dups = sorted(
            map(tuple, spark.read.parquet(str(tmp_path / "r_dups")).collect())
        )
        return idx, dups

    first = snapshot()
    handle(batch1, 1)  # retry of batch 1
    assert snapshot() == first
    idx, dups = first
    assert {r[0] for r in idx} == {1, 2, 3}
    assert [(r[0], r[1]) for r in dups] == [(3, 1)]


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """⊕U23 streaming twin: a 3-micro-batch run through the foreachBatch
    decontamination path must split documents into clean/flagged exactly
    as the batch operator does (the benchmark side is static, so verdicts
    are batch-boundary-independent)."""
    import json
    import os

    from pyspark.sql import functions as F

    from video_etl_spark.streaming.decontaminate import (
        doc_shingles,
        streaming_decontamination,
    )

    batches = _dedup_docs_batches()
    all_rows = [r for b in batches for r in b]

    # benchmark set: every shingle of doc 4's text (the braising recipe) —
    # docs 4 and 5 must be flagged, everything else is clean.
    bench_src = spark.createDataFrame(
        [r for r in all_rows if r[0] == 4], "doc_id long, text string"
    )
    bench = doc_shingles(bench_src).select("s").distinct()
    bench.write.parquet(str(tmp_path / "bench"))

    d = tmp_path / "docs_in"
    d.mkdir()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        p.write_text(
            "\n".join(
                json.dumps({"doc_id": did, "text": t}) for did, t in rows
            )
            + "\n"
        )
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        streaming_decontamination(
            stream,
            bench_dir=str(tmp_path / "bench"),
            clean_dir=str(tmp_path / "clean"),
            flagged_dir=str(tmp_path / "flagged"),
        )
        .option("checkpointLocation", str(tmp_path / "decon_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    clean = spark.read.parquet(str(tmp_path / "clean"))
    flagged = spark.read.parquet(str(tmp_path / "flagged"))

    # batch expectation over the SAME full corpus
    docs_df = spark.createDataFrame(all_rows, "doc_id long, text string")
    exp_hits = {
        r["doc_id"]: r["n"]
        for r in doc_shingles(docs_df)
        .join(spark.read.parquet(str(tmp_path / "bench")), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_flagged = {
        r["doc_id"]: r["n_overlapping_shingles"] for r in flagged.collect()
    }
    assert got_flagged == exp_hits
    assert set(got_flagged) == {4, 5}
    got_clean = {r["doc_id"] for r in clean.collect()}
    assert got_clean == {r[0] for r in all_rows} - set(got_flagged)
    # clean/flagged rows carry the batch they arrived in
    assert {r["batch_id"] for r in flagged.collect()} == {1, 2}


def test_stateless_contamination_hit_stream(spark, tmp_path):
    """The no-state path: stream-static inner join at shingle grain in
    append mode emits exactly the batch join's hit rows."""
    import json

    from video_etl_spark.streaming.decontaminate import (
        contamination_hits_stream,
        doc_shingles,
    )

    batches = _dedup_docs_batches()
    all_rows = [r for b in batches for r in b]
    bench_src = spark.createDataFrame(
        [r for r in all_rows if r[0] == 1], "doc_id long, text string"
    )
    bench = doc_shingles(bench_src).select("s").distinct()

    d = tmp_path / "docs_in"
    d.mkdir()
    for i, rows in enumerate(batches):
        (d / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"doc_id": did, "text": t}) for did, t in rows
            )
            + "\n"
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        contamination_hits_stream(stream, bench)
        .writeStream.format("memory")
        .queryName("contam_hits")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hits_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["doc_id"], r["s"])
        for r in spark.sql("select * from contam_hits").collect()
    )
    docs_df = spark.createDataFrame(all_rows, "doc_id long, text string")
    expected = sorted(
        (r["doc_id"], r["s"])
        for r in doc_shingles(docs_df).join(bench, "s").collect()
    )
    assert got == expected
    # docs 1, 3, 6 share doc 1's text; nothing else collides
    assert {d for d, _ in got} == {1, 3, 6}


def test_decontam_handler_retry_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch id must leave both
    sinks byte-identical (dynamic partition overwrite)."""
    from video_etl_spark.streaming.decontaminate import (
        doc_shingles,
        make_decontam_handler,
    )

    batches = _dedup_docs_batches()
    all_rows = [r for b in batches for r in b]
    bench_src = spark.createDataFrame(
        [r for r in all_rows if r[0] == 4], "doc_id long, text string"
    )
    doc_shingles(bench_src).select("s").distinct().write.parquet(
        str(tmp_path / "bench")
    )
    handle = make_decontam_handler(
        str(tmp_path / "bench"),
        str(tmp_path / "clean"),
        str(tmp_path / "flagged"),
    )
    b0 = spark.createDataFrame(batches[0], "doc_id long, text string")
    b1 = spark.createDataFrame(batches[1], "doc_id long, text string")
    handle(b0, 0)
    handle(b1, 1)

    def snapshot():
        return tuple(
            sorted(
                map(tuple, spark.read.parquet(str(tmp_path / s)).collect())
            )
            for s in ("clean", "flagged")
        )

    first = snapshot()
    handle(b1, 1)  # retry
    assert snapshot() == first
    clean, flagged = first
    assert {r[0] for r in flagged} == {4}
    assert {r[0] for r in clean} == {1, 2, 3}


def _curation_batches():
    """3 ingest batches exercising every rejection path: doc 2 fails the
    quality gate; docs 3/6 are cross-batch near-dups of doc 1; doc 7 is an
    INTRA-batch near-dup of doc 4; doc 5 matches the benchmark set (built
    from c's text)."""
    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    c = ("an entirely separate recipe describing how to braise short "
         "ribs with red wine stock and winter root vegetables")
    rep = "spam " * 30
    return a, b, c, [
        [(1, a), (2, rep)],
        [(3, a), (4, b), (7, b)],
        [(5, c), (6, a)],
    ]


def test_streaming_ingest_curation_end_to_end(spark, tmp_path):
    """⊕ the streaming curation flagship: 3 micro-batches through
    scrub → quality gate → decontamination → incremental dedup → shard
    export; every rejection reason lands with its evidence and the clean
    sink holds exactly the survivors with deterministic shards."""
    import json
    import os

    from video_etl_spark.streaming.curation import streaming_ingest_curation
    from video_etl_spark.streaming.decontaminate import doc_shingles

    a, b, c, batches = _curation_batches()
    bench_src = spark.createDataFrame([(99, c)], "doc_id long, text string")
    doc_shingles(bench_src).select("s").distinct().write.parquet(
        str(tmp_path / "bench")
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        p.write_text(
            "\n".join(
                json.dumps({"doc_id": did, "text": t}) for did, t in rows
            )
            + "\n"
        )
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        streaming_ingest_curation(
            stream,
            index_dir=str(tmp_path / "sig_index"),
            bench_dir=str(tmp_path / "bench"),
            clean_dir=str(tmp_path / "clean"),
            rejected_dir=str(tmp_path / "rejected"),
        )
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    clean = spark.read.parquet(str(tmp_path / "clean")).collect()
    rejected = spark.read.parquet(str(tmp_path / "rejected")).collect()

    got_clean = {r["doc_id"] for r in clean}
    assert got_clean == {1, 4}
    # survivors carry deterministic shard assignments in range
    assert all(0 <= r["shard"] < 8 for r in clean)

    reasons = {r["doc_id"]: (r["reason"], r["detail"]) for r in rejected}
    assert reasons[2][0] == "quality" and reasons[2][1] < 200_000
    assert reasons[5][0] == "contaminated" and reasons[5][1] > 0
    # BOTH cross-batch near-dups resolve to doc 1: doc 3's rejected
    # signatures never entered the index, so doc 6 still matches the
    # canonical survivor
    assert reasons[3] == ("near_dup", 1)
    assert reasons[6] == ("near_dup", 1)
    # the INTRA-batch dup is caught in the same micro-batch it arrived in
    assert reasons[7] == ("near_dup", 4)
    assert set(reasons) == {2, 3, 5, 6, 7}

    # the signature index holds only survivors
    idx = spark.read.parquet(str(tmp_path / "sig_index"))
    assert {r["doc_id"] for r in idx.collect()} == {1, 4}


def test_ingest_handler_retry_idempotent(spark, tmp_path):
    """At-least-once foreachBatch: re-running a batch id leaves all three
    sinks (clean, rejected, signature index) byte-identical."""
    from video_etl_spark.streaming.curation import make_ingest_handler
    from video_etl_spark.streaming.decontaminate import doc_shingles

    a, b, c, batches = _curation_batches()
    bench_src = spark.createDataFrame([(99, c)], "doc_id long, text string")
    doc_shingles(bench_src).select("s").distinct().write.parquet(
        str(tmp_path / "bench")
    )
    handle = make_ingest_handler(
        str(tmp_path / "sig_index"),
        str(tmp_path / "bench"),
        str(tmp_path / "clean"),
        str(tmp_path / "rejected"),
    )
    for i in range(2):
        handle(
            spark.createDataFrame(batches[i], "doc_id long, text string"), i
        )

    def snapshot():
        return tuple(
            tuple(
                sorted(
                    map(
                        tuple,
                        spark.read.parquet(str(tmp_path / s)).collect(),
                    )
                )
            )
            for s in ("clean", "rejected", "sig_index")
        )

    first = snapshot()
    handle(
        spark.createDataFrame(batches[1], "doc_id long, text string"), 1
    )  # retry
    assert snapshot() == first


def _ingest_fixture(spark, tmp_path):
    """The curation batches with a ``source`` column (the stats sink
    groups by it) and the evaluation-suite shingles built from text c."""
    from video_etl_spark.streaming.decontaminate import doc_shingles

    a, b, c, batches = _curation_batches()
    doc_shingles(
        spark.createDataFrame([(99, c)], "doc_id long, text string")
    ).select("s").distinct().write.parquet(str(tmp_path / "bench"))
    return [
        spark.createDataFrame(rows, "doc_id long, text string")
        .withColumn("source", F.lit("web"))
        for rows in batches
    ]


def test_ingest_handler_sinks_reuse_the_batch_verdict(
    spark, tmp_path, monkeypatch
):
    """The batch's dedup verdict is computed once.  On a batch with
    history to probe, every sink written after the first reads the
    persisted verdict — at most 3 jobs each (broadcast of the rejected
    ids, one shuffle, the write) — instead of re-running the band
    self-join and the history probe.  Writing the index before another
    sink fails this too: a write to a path re-caches every cached plan
    that reads it, the verdict included."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from video_etl_spark.streaming.curation import make_ingest_handler

    batches = _ingest_fixture(spark, tmp_path)
    sc = spark.sparkContext
    writes: list[tuple[str, int]] = []
    parquet = DataFrameWriter.parquet

    def counted_parquet(self, path, *args, **kwargs):
        group = f"{tmp_path.name}-sink-{len(writes)}"
        sc.setJobGroup(group, path)
        try:
            return parquet(self, path, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            writes.append((os.path.basename(path), len(jobs)))

    monkeypatch.setattr(DataFrameWriter, "parquet", counted_parquet)
    handle = make_ingest_handler(
        str(tmp_path / "sig_index"),
        str(tmp_path / "bench"),
        str(tmp_path / "clean"),
        str(tmp_path / "rejected"),
        stats_dir=str(tmp_path / "stats"),
        occupancy_dir=str(tmp_path / "occupancy"),
    )
    handle(batches[0], 0)
    first = len(writes)
    handle(batches[1], 1)
    second = writes[first:]
    assert all(n <= 3 for _, n in second[1:]), second
    assert [name for name, _ in second] == [
        "clean", "rejected", "occupancy", "stats", "sig_index"
    ], second


def test_ingest_handler_leaves_nothing_pinned(spark, tmp_path):
    """Every frame the ingest handler persists for a batch is released
    when the batch returns AND when a sink write raises.  The baseline
    is taken after a first batch, because the evaluation-suite shingles
    stay cached for the handler's lifetime by design."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from video_etl_spark.streaming.curation import make_ingest_handler

    batches = _ingest_fixture(spark, tmp_path)
    not_a_dir = tmp_path / "rejected_file"
    not_a_dir.write_text("a regular file where a sink directory belongs")

    def make(rejected_dir):
        return make_ingest_handler(
            str(tmp_path / "sig_index"),
            str(tmp_path / "bench"),
            str(tmp_path / "clean"),
            rejected_dir,
            stats_dir=str(tmp_path / "stats"),
        )

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    handle = make(str(tmp_path / "rejected"))
    handle(batches[0], 0)
    before = pinned()
    handle(batches[1], 1)
    assert pinned() == before
    # the clean sink is written first, so every persisted frame is
    # materialized by the time the rejected write fails
    with pytest.raises(Py4JJavaError):
        make(str(not_a_dir))(batches[2], 2)
    assert pinned() == before


def test_streaming_classify_matches_batch_argmin(spark, sf_dir, tmp_path):
    """Stateless nearest-centroid serving: a 3-micro-batch embedding
    stream classified against literal-folded centroids must equal the
    batch groupBy-argmin (the kmeans query's assignment semantics,
    including the (dist, center_id) tiebreak), and the streaming plan must
    carry no aggregation/state (scan → project only)."""
    import json

    from video_etl_spark.session import load_table
    from video_etl_spark.streaming.classify import (
        classify_stream,
        quantize_embedding,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = quantize_embedding(emb.filter(F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("center_id"), F.col("q").alias("c")
    )

    d = tmp_path / "emb_in"
    d.mkdir()
    rows = emb.select("vec_id", "embedding").collect()
    for b in range(3):
        chunk = [r for r in rows if r["vec_id"] % 3 == b]
        (d / f"f{b}.json").write_text(
            "\n".join(
                json.dumps(
                    {"vec_id": int(r["vec_id"]),
                     "embedding": [float(x) for x in r["embedding"]]}
                )
                for r in chunk
            )
            + "\n"
        )

    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).option("maxFilesPerTrigger", 1).json(str(d))
    out = classify_stream(stream, centers)
    q = (
        out.writeStream.format("memory")
        .queryName("t_classify")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cls_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["vec_id"]: r["center_id"]
        for r in spark.sql("select * from t_classify").collect()
    }

    # batch argmin over the same quantization (kmeans-query semantics)
    qdf = quantize_embedding(emb).select("vec_id", "q")
    dist = F.expr(
        "aggregate(zip_with(q, c, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )
    batch = {
        r["vec_id"]: r["center_id"]
        for r in qdf.crossJoin(F.broadcast(centers))
        .select("vec_id", "center_id", dist.alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "center_id")).alias("m"))
        .select("vec_id", F.col("m.center_id").alias("center_id"))
        .collect()
    }
    assert streamed == batch and len(streamed) == len(rows)

    # stateless: the streaming plan has no aggregate, no state store op
    batch_twin = classify_stream(
        emb.select("vec_id", "embedding"), centers
    )
    plan = batch_twin._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Exchange" not in plan, plan


def test_streaming_classify_refuses_unbounded_centroids(spark, sf_dir):
    from video_etl_spark.session import load_table
    from video_etl_spark.streaming import classify as cl
    from video_etl_spark.streaming.classify import (
        center_literals,
        quantize_embedding,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = quantize_embedding(emb).select(
        F.col("vec_id").alias("center_id"), F.col("q").alias("c")
    )
    old = cl.MAX_CENTERS
    cl.MAX_CENTERS = 10
    try:
        import pytest as _p

        with _p.raises(ValueError, match="MAX_CENTERS"):
            center_literals(centers)
    finally:
        cl.MAX_CENTERS = old


def test_streaming_source_stats_matches_batch_and_retry_safe(
    spark, sf_dir, tmp_path
):
    """Partial-aggregate maintenance: a 3-micro-batch run's folded totals
    must equal the one-shot batch aggregate exactly (BIGINT partials
    compose associatively), and re-running a batch handler (at-least-once
    retry) must not double-count."""
    import json

    from video_etl_spark.session import load_table
    from video_etl_spark.streaming.stats import (
        batch_partial,
        current_totals,
        make_stats_handler,
        streaming_source_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = tmp_path / "docs_in"
    d.mkdir()
    rows = docs.select("doc_id", "text", "source").collect()
    for b in range(3):
        chunk = [r for r in rows if r["doc_id"] % 3 == b]
        (d / f"f{b}.json").write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": int(r["doc_id"]), "text": r["text"],
                     "source": r["source"]}
                )
                for r in chunk
            )
            + "\n"
        )

    stats_dir = str(tmp_path / "stats")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).option("maxFilesPerTrigger", 1).json(str(d))
    q = (
        streaming_source_stats(stream, stats_dir)
        .option("checkpointLocation", str(tmp_path / "stats_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in current_totals(spark, stats_dir).collect()
    }
    want = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in batch_partial(docs).collect()
    }
    assert got == want and got

    # retry idempotence: re-run batch 1's handler directly — totals
    # unchanged because the partition is overwritten, not appended
    handler = make_stats_handler(stats_dir)
    batch1 = docs.filter(F.col("doc_id") % 3 == 1)
    handler(batch1, 1)
    again = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in current_totals(spark, stats_dir).collect()
    }
    assert again == want


def test_streaming_curation_maintains_mixture_stats(spark, tmp_path):
    """With stats_dir set, the curation handler also maintains the
    incremental per-source stats table — folded totals must equal the
    aggregate over the CLEAN sink (survivors only; rejected docs carry no
    stats weight)."""
    import json
    import os

    from video_etl_spark.streaming.curation import streaming_ingest_curation
    from video_etl_spark.streaming.decontaminate import doc_shingles
    from video_etl_spark.streaming.stats import current_totals

    a, b, c, batches = _curation_batches()
    bench_src = spark.createDataFrame([(99, c)], "doc_id long, text string")
    doc_shingles(bench_src).select("s").distinct().write.parquet(
        str(tmp_path / "bench")
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": did, "text": t,
                     "source": f"src{did % 2}"}
                )
                for did, t in rows
            )
            + "\n"
        )
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        streaming_ingest_curation(
            stream,
            index_dir=str(tmp_path / "sig_index"),
            bench_dir=str(tmp_path / "bench"),
            clean_dir=str(tmp_path / "clean"),
            rejected_dir=str(tmp_path / "rejected"),
            stats_dir=str(tmp_path / "stats"),
        )
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in current_totals(spark, str(tmp_path / "stats")).collect()
    }
    clean = spark.read.parquet(str(tmp_path / "clean"))
    want = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in clean.select(
            "source",
            F.size(F.split(F.trim(F.lower("text")), r"\s+"))
            .cast("long")
            .alias("t"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("n_tokens")
        )
        .collect()
    }
    assert got == want and got


def test_stats_compaction_preserves_totals(spark, sf_dir, tmp_path):
    from video_etl_spark.session import load_table
    from video_etl_spark.streaming.stats import (
        compact_stats,
        current_totals,
        make_stats_handler,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats_dir = str(tmp_path / "stats")
    handler = make_stats_handler(stats_dir)
    for b in range(3):
        handler(docs.filter(F.col("doc_id") % 3 == b), b)
    before = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in current_totals(spark, stats_dir).collect()
    }
    compact_stats(spark, stats_dir)
    after = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in current_totals(spark, stats_dir).collect()
    }
    assert after == before and after
    # the folded partition plus ONLY the newest (replay-able) batch remain
    import glob
    import os

    parts = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(stats_dir, "batch_id=*"))
    )
    assert parts == ["batch_id=-1", "batch_id=2"]
    # a replay of the newest batch after compaction must NOT double-count
    handler(docs.filter(F.col("doc_id") % 3 == 2), 2)
    replayed = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in current_totals(spark, stats_dir).collect()
    }
    assert replayed == before
    # ingest continues cleanly after compaction
    handler(docs.filter(F.col("doc_id") % 3 == 0), 3)
    grown = {
        r["source"]: r["n_docs"]
        for r in current_totals(spark, stats_dir).collect()
    }
    assert sum(grown.values()) > sum(v[0] for v in before.values())


def _vector_batches():
    """2 ingest batches: batch1 has an exact cross-batch dup of id 1
    (id 10), an intra-batch dup pair (11 < 12, id 12 must lose), and a
    fresh vector (13)."""
    import random

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-0.5, 0.5) for _ in range(64)]

    v1, v2, v11 = vec(1), vec(2), vec(11)
    return [
        [(1, v1), (2, v2)],
        [(10, v1), (11, v11), (12, v11), (13, vec(13))],
    ]


def test_streaming_vector_ingest_dedup_and_classify(spark, sf_dir, tmp_path):
    """Vector-side ingest: cross-batch dups reject against the persistent
    index, intra-batch dups keep only the lowest id, survivors land
    classified, the index holds exactly the survivors, and a handler
    retry is idempotent."""
    import json

    from video_etl_spark.session import load_table
    from video_etl_spark.streaming.classify import quantize_embedding
    from video_etl_spark.streaming.vector_ingest import (
        make_vector_ingest_handler,
        streaming_vector_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = quantize_embedding(emb.filter(F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("center_id"), F.col("q").alias("c")
    )

    batches = _vector_batches()
    d = tmp_path / "vec_in"
    d.mkdir()
    import os

    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        p.write_text(
            "\n".join(
                json.dumps({"vec_id": vid, "embedding": v})
                for vid, v in rows
            )
            + "\n"
        )
        os.utime(p, (1_700_000_000 + 60 * i,) * 2)

    dirs = {
        k: str(tmp_path / k) for k in ("index", "clean", "rejected")
    }
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        streaming_vector_ingest(
            stream,
            index_dir=dirs["index"],
            clean_dir=dirs["clean"],
            rejected_dir=dirs["rejected"],
            centers=centers,
        )
        .option("checkpointLocation", str(tmp_path / "vec_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    clean = spark.read.parquet(dirs["clean"]).collect()
    rejected = spark.read.schema(
        "vec_id long, reason string, dup_of long, max_cos double, "
        "batch_id long"
    ).parquet(dirs["rejected"]).collect()

    got_clean = {r["vec_id"] for r in clean}
    got_rej = {r["vec_id"]: r["dup_of"] for r in rejected}
    assert got_clean == {1, 2, 11, 13}
    assert got_rej == {10: 1, 12: 11}
    for r in rejected:
        assert r["max_cos"] >= 0.9
    # survivors are classified against real centroids
    assert all(0 <= r["center_id"] < 8 for r in clean)
    # index holds exactly the survivors
    idx = spark.read.parquet(dirs["index"]).collect()
    assert {r["vec_id"] for r in idx} == got_clean

    # retry idempotence: re-run batch 1's handler directly
    handler = make_vector_ingest_handler(
        dirs["index"], dirs["clean"], dirs["rejected"], centers
    )
    b1 = spark.createDataFrame(
        [(vid, v) for vid, v in batches[1]],
        "vec_id long, embedding array<double>",
    )
    handler(b1, 1)
    again_clean = {
        r["vec_id"] for r in spark.read.parquet(dirs["clean"]).collect()
    }
    again_idx = {
        r["vec_id"] for r in spark.read.parquet(dirs["index"]).collect()
    }
    assert again_clean == got_clean and again_idx == got_clean


def test_streaming_ann_serve_matches_batch_probe(spark, sf_dir, tmp_path):
    """Streaming ANN serving over the persisted LSH index: per-batch
    results must equal the one-shot batch probe over the union of all
    queries (top-k is per query, each query arrives in one batch), the
    index must never be re-derived, and a handler retry is idempotent."""
    import json
    import os

    from video_etl_spark.llm_ops.similarity import (
        lsh_topk_against_index,
        write_lsh_index,
    )
    from video_etl_spark.streaming.ann_serve import (
        make_ann_serve_handler,
        streaming_ann_serve,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    try:
        write_lsh_index(emb, "t_serve_lsh", str(tmp_path / "lsh"), n_buckets=4)
        idx = (
            spark.table("t_serve_lsh"),
            spark.table("t_serve_lsh_vecs"),
            spark.table("t_serve_lsh_params"),
        )

        # two micro-batches of real corpus vectors as the query feed
        q_rows = emb.filter(F.col("vec_id") % 97 == 0).collect()
        assert len(q_rows) >= 4
        half = len(q_rows) // 2
        d = tmp_path / "queries_in"
        d.mkdir()
        for i, chunk in enumerate((q_rows[:half], q_rows[half:])):
            p = d / f"b{i}.json"
            p.write_text(
                "\n".join(
                    json.dumps(
                        {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                    )
                    for r in chunk
                )
                + "\n"
            )
            os.utime(p, (1_700_000_000 + 60 * i,) * 2)

        out_dir = str(tmp_path / "answers")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        q = (
            streaming_ann_serve(stream, *idx, out_dir, k=5)
            .option("checkpointLocation", str(tmp_path / "ann_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = sorted(
            (r["query_id"], r["neighbor_id"], r["rn"])
            for r in spark.read.parquet(out_dir).collect()
        )
        all_queries = spark.read.schema(
            "vec_id long, embedding array<double>"
        ).json(str(d))
        want = sorted(
            (r["query_id"], r["neighbor_id"], r["rn"])
            for r in lsh_topk_against_index(all_queries, *idx, k=5).collect()
        )
        assert got == want and got
        # every query answered in exactly one batch
        per_q = spark.read.parquet(out_dir).groupBy("query_id").agg(
            F.countDistinct("batch_id").alias("nb")
        )
        assert all(r["nb"] == 1 for r in per_q.collect())

        # retry idempotence: re-run batch 0's handler directly
        handler = make_ann_serve_handler(*idx, out_dir, k=5)
        b0 = spark.createDataFrame(
            [(r["vec_id"], list(r["embedding"])) for r in q_rows[:half]],
            "vec_id long, embedding array<double>",
        )
        handler(b0, 0)
        again = sorted(
            (r["query_id"], r["neighbor_id"], r["rn"])
            for r in spark.read.parquet(out_dir).collect()
        )
        assert again == got
    finally:
        for t in ("t_serve_lsh", "t_serve_lsh_vecs", "t_serve_lsh_params"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_layered_serve_handler_equals_batch_probe(spark, sf_dir, tmp_path):
    """The layered serving handler (round 12): per-batch answers over
    the streamed query feed must equal the one-shot
    layered_topk_against_index over the union, every query answered in
    exactly one batch, and a handler retry idempotently rewrites its
    own batch_id partition — the make_ann_serve_handler contract on the
    composed shape."""
    import json
    import os

    from video_etl_spark.llm_ops.similarity import (
        layered_topk_against_index,
        write_pq_ivf_index,
    )
    from video_etl_spark.streaming.ann_serve import (
        make_layered_serve_handler,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "layered_idx")
    idx = write_pq_ivf_index(emb, path, m=4, ksub=8, n_centroids=4)

    q_rows = emb.filter(F.col("vec_id") % 97 == 0).collect()
    assert len(q_rows) >= 4
    half = len(q_rows) // 2
    d = tmp_path / "queries_in"
    d.mkdir()
    for i, chunk in enumerate((q_rows[:half], q_rows[half:])):
        p = d / f"b{i}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                )
                for r in chunk
            )
            + "\n"
        )
        os.utime(p, (1_700_000_000 + 60 * i,) * 2)

    out_dir = str(tmp_path / "answers")
    handler = make_layered_serve_handler(
        spark, path, out_dir, k=3, n_probe=2, index=idx
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "lay_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in spark.read.parquet(out_dir).collect()
    )
    all_queries = spark.read.schema(
        "vec_id long, embedding array<double>"
    ).json(str(d))
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in layered_topk_against_index(
            spark, all_queries, path, index=idx, k=3, n_probe=2
        ).collect()
    )
    assert got == want and got
    per_q = spark.read.parquet(out_dir).groupBy("query_id").agg(
        F.countDistinct("batch_id").alias("nb")
    )
    assert all(r["nb"] == 1 for r in per_q.collect())

    # retry idempotence: re-run batch 0's handler directly
    b0 = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in q_rows[:half]],
        "vec_id long, embedding array<double>",
    )
    handler(b0, 0)
    again = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert again == got


def test_curation_null_and_empty_text_are_rejected_not_lost(spark, tmp_path):
    """Ledger contract: every input doc lands in exactly one sink.  NULL
    text must not vanish (NULL comparisons are false in both filter
    branches) and empty text must not enter the clean corpus with a
    fabricated perfect TTR."""
    from video_etl_spark.streaming.curation import make_ingest_handler
    from video_etl_spark.streaming.decontaminate import doc_shingles

    bench_src = spark.createDataFrame(
        [(99, "completely unrelated benchmark text nothing shares this")],
        "doc_id long, text string",
    )
    doc_shingles(bench_src).select("s").distinct().write.parquet(
        str(tmp_path / "bench")
    )
    handler = make_ingest_handler(
        index_dir=str(tmp_path / "idx"),
        bench_dir=str(tmp_path / "bench"),
        clean_dir=str(tmp_path / "clean"),
        rejected_dir=str(tmp_path / "rej"),
    )
    batch = spark.createDataFrame(
        [
            (1, None, "s0"),
            (2, "", "s0"),
            (3, "   ", "s0"),
            (4, "a genuinely fine document with plenty of distinct words "
                "covering many different topics here", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    handler(batch, 0)
    clean = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "clean")).collect()
    }
    rejected = {
        r["doc_id"]: r["reason"]
        for r in spark.read.schema(
            "doc_id long, reason string, detail long, batch_id long"
        ).parquet(str(tmp_path / "rej")).collect()
    }
    assert clean == {4}
    assert set(rejected) == {1, 2, 3}
    assert all(v == "quality" for v in rejected.values())


def test_streaming_dedup_first_batch_creates_dup_sink(spark, tmp_path):
    """A one-batch stream must still leave dup_dir readable (empty) — the
    handler previously skipped the dup write entirely when no index
    existed, and consumers following the module's own explicit-schema
    advice hit PATH_NOT_FOUND."""
    from video_etl_spark.streaming.dedup import make_batch_handler

    handler = make_batch_handler(
        str(tmp_path / "idx"), str(tmp_path / "dups")
    )
    batch = spark.createDataFrame(
        [(1, "some perfectly ordinary first document text here")],
        "doc_id long, text string",
    )
    handler(batch, 0)
    # read with the documented explicit schema (an all-empty sink has no
    # data files to infer from) — the point is the PATH exists
    dups = spark.read.schema(
        "new_doc long, dup_of long, n_candidates long, batch_id long"
    ).parquet(str(tmp_path / "dups"))
    assert dups.count() == 0


def test_simhash_max_hamming_guard(spark, sf_dir):
    import pytest as _p

    from video_etl_spark.llm_ops.dedup import (
        incremental_simhash_dedup,
        simhash_pairs,
    )
    from video_etl_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(5)
    with _p.raises(ValueError, match="chunk blocking"):
        simhash_pairs(docs, max_hamming=4)
    with _p.raises(ValueError, match="chunk blocking"):
        incremental_simhash_dedup(docs, docs, max_hamming=4)


def test_curation_ttr_tokenizes_on_whitespace(spark):
    """Pin the gate's TTR VALUES, not just accept/reject outcomes: an
    under-escaped tokenizer regex (\\s+ collapsing to s+) once split on
    runs of the letter 's' and every decision test still passed.  'spam '
    x 30 has exactly 1 distinct / 30 tokens -> 33333 ppm."""
    from video_etl_spark.streaming.curation import _with_ttr

    df = spark.createDataFrame(
        [
            (1, "spam " * 30),
            (2, "alpha " * 10),            # no letter 's' anywhere
            (3, "one two three"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["ttr_ppm"] for r in _with_ttr(df).collect()}
    assert got == {1: 33333, 2: 100000, 3: 1000000}


def test_streaming_mixture_weights_match_batch_queries(
    spark, sf_dir, tmp_path
):
    """round-7 ask #6: mixing weights refreshed from the incremental
    stats partials must equal the oracle-checked batch queries bit for
    bit — after a 3-batch ingest, after a 4th batch arrives (weights
    shift with the corpus), and after compaction (totals invariant)."""
    from video_etl_spark.queries.text import (
        mixture_temperature_weights,
        source_mixture_weights,
    )
    from video_etl_spark.session import load_table
    from video_etl_spark.streaming.stats import (
        compact_stats,
        current_mixture_weights,
        current_temperature_weights,
        make_stats_handler,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats_dir = str(tmp_path / "stats")
    handler = make_stats_handler(stats_dir)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    # partial corpus: first 3 of 4 hash-buckets ingested
    for b in range(3):
        handler(docs.filter(F.col("doc_id") % 4 == b), b)

    part_dir = str(tmp_path / "docs_part")
    docs.filter(F.col("doc_id") % 4 < 3).write.parquet(
        part_dir + "/documents.parquet"
    )
    assert snap(current_mixture_weights(spark, stats_dir)) == snap(
        source_mixture_weights(spark, part_dir)
    )
    assert snap(current_temperature_weights(spark, stats_dir)) == snap(
        mixture_temperature_weights(spark, part_dir)
    )

    # the 4th batch lands: streaming weights track the full corpus
    handler(docs.filter(F.col("doc_id") % 4 == 3), 3)
    full_mix = snap(source_mixture_weights(spark, sf_dir))
    full_temp = snap(mixture_temperature_weights(spark, sf_dir))
    assert snap(current_mixture_weights(spark, stats_dir)) == full_mix
    assert snap(current_temperature_weights(spark, stats_dir)) == full_temp

    # compaction folds partials without changing any weight
    compact_stats(spark, stats_dir)
    assert snap(current_mixture_weights(spark, stats_dir)) == full_mix
    assert snap(current_temperature_weights(spark, stats_dir)) == full_temp


def test_streaming_frame_dedup_matches_batch_and_retry_safe(spark, tmp_path):
    """Multimodal streaming dedup: a k-micro-batch run must flag exactly
    the candidates k driver-side incremental_phash_dedup calls with
    accumulated history flag (earliest sighting wins across batches, no
    old x old pairs), and a retried batch must not double-flag."""
    from video_etl_spark.llm_ops.multimodal import (
        attach_fake_payload,
        incremental_phash_dedup,
        phash_signatures,
    )
    from video_etl_spark.streaming.frame_dedup import make_frame_batch_handler

    rows = [
        (1, "frame alpha"), (2, "frame beta"), (3, "frame gamma"),
        (11, "frame alpha"),                       # batch 1 dups batch 0
        (12, "frame delta"),
        (21, "frame alpha"), (22, "frame delta"),  # batch 2 dups 0 and 1
        (23, "frame epsilon"),
    ]
    batches = [
        [r for r in rows if r[0] < 10],
        [r for r in rows if 10 < r[0] < 20],
        [r for r in rows if r[0] > 20],
    ]
    index_dir = str(tmp_path / "ph_index")
    dup_dir = str(tmp_path / "ph_dups")
    handler = make_frame_batch_handler(index_dir, dup_dir)
    frames = {}
    for b, chunk in enumerate(batches):
        df = attach_fake_payload(
            spark.createDataFrame(chunk, "doc_id long, text string")
        )
        frames[b] = df
        handler(df, b)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(dup_dir)
            .select("new_doc", "dup_of", "n_candidates", "min_hamming")
            .collect(),
        )
    )
    # driver-side reference: per batch vs accumulated earlier signatures
    want = []
    hist = None
    for b in range(3):
        sigs = phash_signatures(frames[b])
        if hist is not None:
            want += [
                tuple(r)
                for r in incremental_phash_dedup(sigs, hist).collect()
            ]
        hist = sigs if hist is None else hist.unionByName(sigs)
    assert got == sorted(want) and got
    assert (11, 1, 1, 0) in got       # batch-1 dup of batch 0
    assert (21, 1, 2, 0) in got       # batch-2 dup of batches 0 AND 1
    assert (22, 12, 1, 0) in got

    # retry idempotence: re-running batch 1 rewrites its partitions
    handler(frames[1], 1)
    again = sorted(
        map(
            tuple,
            spark.read.parquet(dup_dir)
            .select("new_doc", "dup_of", "n_candidates", "min_hamming")
            .collect(),
        )
    )
    assert again == got


def test_streaming_packing_matches_batch_and_retry_safe(
    spark, sf_dir, tmp_path
):
    """Streaming packing over doc_id-cursor batches must assign offsets
    byte-identical to the batch pack_sequences on the full corpus (the
    nondecreasing-id arrival case), and a retried batch must not shift
    any offset."""
    from video_etl_spark.llm_ops.export import pack_sequences
    from video_etl_spark.session import load_table
    from video_etl_spark.streaming.packing import make_packing_handler

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]

    assign_dir = str(tmp_path / "assign")
    totals_dir = str(tmp_path / "totals")
    handler = make_packing_handler(
        assign_dir, totals_dir, seq_len=64, n_shards=2
    )
    batches = [
        docs.filter(F.col("doc_id") <= cut1),
        docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        docs.filter(F.col("doc_id") > cut2),
    ]
    for b, df in enumerate(batches):
        handler(df, b)

    cols = [
        "doc_id", "shard", "n_tok", "cum_before",
        "start_seq", "end_seq", "straddles",
    ]
    got = sorted(
        map(tuple, spark.read.parquet(assign_dir).select(*cols).collect())
    )
    want = sorted(
        map(
            tuple,
            pack_sequences(docs, seq_len=64, n_shards=2)
            .select(*cols)
            .collect(),
        )
    )
    assert got == want and got

    # retry: re-running batch 1 must reproduce identical assignments
    # (prior totals exclude its own failed-attempt partial)
    handler(batches[1], 1)
    again = sorted(
        map(tuple, spark.read.parquet(assign_dir).select(*cols).collect())
    )
    assert again == got


def test_streaming_tokenize_matches_batch_and_retry_safe(spark, tmp_path):
    """Tokenizer serving: a k-micro-batch run against the static trained
    segmentation must produce exactly the batch tokenize_corpus output on
    the union of batches, and a retried batch must not duplicate rows."""
    from video_etl_spark.llm_ops.bpe import bpe_train, tokenize_corpus
    from video_etl_spark.streaming.tokenize import make_tokenize_handler

    train = spark.createDataFrame(
        [("low lower lowest newer new wide wider",)], "text string"
    )
    _, words = bpe_train(train, 6)

    rows = [
        (1, "low wider"), (2, "lower unseen"),
        (11, "new low low"), (12, "widest"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out_dir = str(tmp_path / "tokens")
    handler = make_tokenize_handler(words, out_dir)
    handler(docs.filter(F.col("doc_id") < 10), 0)
    handler(docs.filter(F.col("doc_id") >= 10), 1)

    got = sorted(
        (r["doc_id"], tuple(r["subwords"]))
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "subwords")
        .collect()
    )
    want = sorted(
        (r["doc_id"], tuple(r["subwords"]))
        for r in tokenize_corpus(docs, words).collect()
    )
    assert got == want and got

    handler(docs.filter(F.col("doc_id") >= 10), 1)  # retry
    again = sorted(
        (r["doc_id"], tuple(r["subwords"]))
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "subwords")
        .collect()
    )
    assert again == got


def test_curation_occupancy_monitor_flags_hot_batch(spark, tmp_path):
    """Round-8: with occupancy_dir set, each curation batch writes its
    band-occupancy histogram — a crawl batch dominated by one boilerplate
    page must surface as one row whose candidate_pairs dwarfs the rest,
    BEFORE the dedup index can accumulate the skew."""
    from video_etl_spark.streaming.curation import make_ingest_handler
    from video_etl_spark.streaming.decontaminate import doc_shingles

    bench_src = spark.createDataFrame(
        [(99, "nothing in this benchmark matches the crawl at all")],
        "doc_id long, text string",
    )
    doc_shingles(bench_src).select("s").distinct().write.parquet(
        str(tmp_path / "bench")
    )
    handler = make_ingest_handler(
        str(tmp_path / "sig_index"),
        str(tmp_path / "bench"),
        str(tmp_path / "clean"),
        str(tmp_path / "rejected"),
        occupancy_dir=str(tmp_path / "occ"),
    )
    boiler = ("identical boilerplate page body repeated across the whole "
              "crawl batch tonight")
    rows = [(i, boiler) for i in range(40)] + [
        (100 + i, f"unique alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
        for i in range(10)
    ]
    handler(
        spark.createDataFrame(rows, "doc_id long, text string"), 0
    )
    occ = {
        r["occupancy"]: (r["n_keys"], r["candidate_pairs"])
        for r in spark.read.parquet(str(tmp_path / "occ")).collect()
    }
    # the hot key is loud: 40 identical docs on both bands
    assert occ[40] == (2, 2 * (40 * 39 // 2))
    # and the survivors are still exact-collapsed by the dedup leg:
    # 39 of the 40 boilerplate copies land in the rejected sink
    rej = spark.read.parquet(str(tmp_path / "rejected"))
    assert rej.filter("reason = 'near_dup'").count() == 39


def test_compact_stream_index_handoff(spark, tmp_path):
    """Folding the stream's batch_id-partitioned signature dir into the
    bucketed band-index table must hand off losslessly: a probe against
    [compacted generation, raw tail] (per-frame joins) equals the probe
    against the full raw accumulation, with hits contributed by BOTH
    sides of the compaction boundary, and the compacted side arriving at
    its join as a bucketed scan."""
    from video_etl_spark.llm_ops.dedup import (
        band_candidates,
        incremental_dedup_against_index,
        minhash_band_signatures,
    )
    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        make_batch_handler,
        stream_tail_rows,
    )

    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    c = ("a third entirely unrelated passage describing glacial river "
         "sediment transport dynamics across braided alpine valleys")
    idx_dir = str(tmp_path / "s_idx")
    handle = make_batch_handler(
        index_dir=idx_dir, dup_dir=str(tmp_path / "s_dups")
    )
    handle(spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"), 0)
    handle(spark.createDataFrame(
        [(3, a), (4, c)], "doc_id long, text string"), 1)
    handle(spark.createDataFrame(
        [(5, c)], "doc_id long, text string"), 2)  # stays in the tail

    try:
        compact_stream_index(
            spark, idx_dir, "t_stream_band",
            str(tmp_path / "band_gen0"), upto_batch_id=1, n_buckets=4,
        )
        probe = spark.createDataFrame(
            [(6, a), (7, c), (8, "words nobody in history ever wrote "
                                 "in this exact improbable order")],
            "doc_id long, text string",
        )
        got_df = incremental_dedup_against_index(
            probe,
            [spark.table("t_stream_band"),
             stream_tail_rows(spark, idx_dir, after_batch_id=1)],
        )
        got = sorted(map(tuple, got_df.collect()))
        want = sorted(map(tuple, band_candidates(
            minhash_band_signatures(probe),
            spark.read.parquet(idx_dir).drop("batch_id"),
        ).collect()))
        assert got == want, (got, want)
        # both sides of the boundary contribute: doc 7 (text c) matches
        # folded doc 4 AND tail doc 5
        assert (7, 4, 2) in got
        # folded-only hit: doc 6 (text a) matches docs 1 and 3
        assert (6, 1, 2) in got
        assert all(r[0] != 8 for r in got)
        plan = (
            got_df._jdf.queryExecution().executedPlan().toString()
        ).split("== Initial Plan ==")[0]
        assert "Bucketed: true" in plan, plan

        import pytest as _pytest

        with _pytest.raises(ValueError, match="empty index list"):
            incremental_dedup_against_index(probe, [])
    finally:
        for t in ("t_stream_band", "t_stream_band_watermark"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compacted_mode_handler_survives_folded_partition_deletion(
    spark, tmp_path
):
    """The live stream must be able to SWITCH OVER to the compacted
    generation: after folding batches 0..1 and deleting raw partition 0
    (partition 1 deliberately stays on disk — folded-but-undeleted, so
    the override/fallback scenarios exercise a REAL generation/tail
    overlap), a handler re-created with compacted_table still flags a
    near-dup of a batch-0 doc (the raw-dir-only handler would silently
    lose all folded history), keeps the retry guard (its own partial
    partition is above the watermark but excluded by batch_id <
    current), and appends its signatures so later batches see it.  Also
    pins: wrong-n_bands and in-place-fold refusals, the explicit
    compacted_upto override (falsy 0), and the missing-sidecar -1
    fallback."""
    import shutil

    import pytest

    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        make_batch_handler,
    )

    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    idx_dir = str(tmp_path / "idx")
    dup_dir = str(tmp_path / "dups")
    raw_handle = make_batch_handler(index_dir=idx_dir, dup_dir=dup_dir)
    raw_handle(spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"), 0)
    raw_handle(spark.createDataFrame(
        [(3, b)], "doc_id long, text string"), 1)

    with pytest.raises(ValueError, match="2 band columns"):
        compact_stream_index(
            spark, idx_dir, "t_sw_band", str(tmp_path / "gen0"),
            upto_batch_id=1, n_bands=3,
        )
    with pytest.raises(ValueError, match="NEW generation"):
        compact_stream_index(
            spark, idx_dir, "t_sw_band", idx_dir, upto_batch_id=1
        )

    try:
        compact_stream_index(
            spark, idx_dir, "t_sw_band", str(tmp_path / "gen0"),
            upto_batch_id=1, n_buckets=4,
        )
        # the switched-over stream deletes folded raw partition 0 but —
        # deliberately — NOT partition 1: a folded-but-undeleted
        # partition must not double-count behind the sidecar watermark,
        # and the override/fallback scenarios below need a REAL
        # generation/tail overlap to prove the cross-frame dedup (with
        # both partitions gone their assertions would pass even if the
        # probe double-counted)
        shutil.rmtree(f"{idx_dir}/batch_id=0")
        # no compacted_upto: the handler reads the fold's persisted
        # watermark sidecar instead of trusting a caller-remembered value
        handle = make_batch_handler(
            index_dir=idx_dir, dup_dir=dup_dir,
            compacted_table="t_sw_band",
        )
        handle(spark.createDataFrame(
            [(4, a)], "doc_id long, text string"), 2)
        d2 = spark.read.parquet(dup_dir).where("batch_id = 2")
        assert [tuple(r) for r in d2.select(
            "new_doc", "dup_of", "n_candidates").collect()] == [(4, 1, 1)]
        # the compacted-mode batch APPENDED its sigs: batch 3 matches
        # doc 4 through the raw tail and doc 2 through the generation,
        # counting each exactly once
        handle(spark.createDataFrame(
            [(5, a), (6, b)], "doc_id long, text string"), 3)
        d3 = spark.read.parquet(dup_dir).where("batch_id = 3")
        got = sorted(
            tuple(r) for r in d3.select(
                "new_doc", "dup_of", "n_candidates").collect()
        )
        assert got == [(5, 1, 2), (6, 2, 2)], got
        # retry idempotence holds in compacted mode too
        handle(spark.createDataFrame(
            [(5, a), (6, b)], "doc_id long, text string"), 3)
        assert spark.read.parquet(dup_dir).where(
            "batch_id = 3").count() == 2
        # explicit compacted_upto override (the replay/testing escape
        # hatch), deliberately with the FALSY value 0: the tail then
        # re-includes folded batch 1, which is also in the generation —
        # results must stay identical via the probe's cross-frame dedup
        # (and a `if compacted_upto:` truthiness refactor would break
        # exactly this case)
        ov = make_batch_handler(
            index_dir=idx_dir, dup_dir=dup_dir,
            compacted_table="t_sw_band", compacted_upto=0,
        )
        ov(spark.createDataFrame(
            [(5, a), (6, b)], "doc_id long, text string"), 3)
        d3b = sorted(
            tuple(r) for r in spark.read.parquet(dup_dir)
            .where("batch_id = 3")
            .select("new_doc", "dup_of", "n_candidates").collect()
        )
        assert d3b == [(5, 1, 2), (6, 2, 2)], d3b
        # pre-sidecar generation (or a write_band_index table used as
        # one): missing watermark sidecar must fall back to -1 (full raw
        # tail — correct via cross-frame dedup), not crash per batch
        spark.sql("DROP TABLE IF EXISTS t_sw_band_watermark")
        fb = make_batch_handler(
            index_dir=idx_dir, dup_dir=dup_dir, compacted_table="t_sw_band",
        )
        fb(spark.createDataFrame(
            [(5, a), (6, b)], "doc_id long, text string"), 3)
        d3c = sorted(
            tuple(r) for r in spark.read.parquet(dup_dir)
            .where("batch_id = 3")
            .select("new_doc", "dup_of", "n_candidates").collect()
        )
        assert d3c == [(5, 1, 2), (6, 2, 2)], d3c
    finally:
        for t in ("t_sw_band", "t_sw_band_watermark"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_overlapping_tail_does_not_double_count(spark, tmp_path):
    """A doc visible through BOTH frames (caller passes a tail watermark
    below the fold watermark, re-including folded partitions) must count
    once in n_candidates — the multi-frame probe globally de-duplicates
    the thin hit pairs before aggregating."""
    from video_etl_spark.llm_ops.dedup import (
        incremental_dedup_against_index,
    )
    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        make_batch_handler,
        stream_tail_rows,
    )

    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    idx_dir = str(tmp_path / "idx")
    handle = make_batch_handler(
        index_dir=idx_dir, dup_dir=str(tmp_path / "dups")
    )
    handle(spark.createDataFrame(
        [(1, a)], "doc_id long, text string"), 0)
    probe = spark.createDataFrame(
        [(9, a)], "doc_id long, text string"
    )
    try:
        compact_stream_index(
            spark, idx_dir, "t_ov_band", str(tmp_path / "gen0"),
            upto_batch_id=0, n_buckets=4,
        )
        got = incremental_dedup_against_index(
            probe,
            [spark.table("t_ov_band"),
             # -1 < 0: batch 0 is in the generation AND this tail
             stream_tail_rows(spark, idx_dir, after_batch_id=-1)],
        ).collect()
        assert [tuple(r) for r in got] == [(9, 1, 1)]
    finally:
        for t in ("t_ov_band", "t_ov_band_watermark"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_frame_stream_compaction_switchover(spark, tmp_path):
    """Multimodal twin of the band-stream compaction handoff: fold the
    frame stream's raw signature partitions into the bucketed chunk
    index, DELETE them, and show (a) an external probe across
    [generation, tail] equals the probe against the full raw
    accumulation with the generation arriving bucketed, and (b) the
    LIVE handler switched to compacted mode still flags a near-dup of a
    folded frame, appends its own signatures, and stays retry-safe.
    In-place folds are refused."""
    import shutil

    import pytest

    from video_etl_spark.llm_ops.multimodal import (
        attach_fake_payload,
        incremental_phash_against_index,
        incremental_phash_dedup,
        phash_signatures,
    )
    from video_etl_spark.streaming.frame_dedup import (
        compact_stream_frame_index,
        frame_tail_rows,
        make_frame_batch_handler,
    )

    def frames_of(rows):
        return attach_fake_payload(
            spark.createDataFrame(rows, "doc_id long, text string")
        )

    index_dir = str(tmp_path / "ph_idx")
    dup_dir = str(tmp_path / "ph_dups")
    handler = make_frame_batch_handler(index_dir, dup_dir)
    handler(frames_of([(1, "frame alpha"), (2, "frame beta")]), 0)
    handler(frames_of([(3, "frame gamma")]), 1)
    handler(frames_of([(4, "frame delta")]), 2)  # stays in the tail

    with pytest.raises(ValueError, match="NEW generation"):
        compact_stream_frame_index(
            spark, index_dir, "t_ph_gen", index_dir, upto_batch_id=1
        )
    try:
        compact_stream_frame_index(
            spark, index_dir, "t_ph_gen", str(tmp_path / "gen0"),
            upto_batch_id=1, n_buckets=4,
        )
        # (a) external probe across the boundary == full-raw probe
        probe = phash_signatures(frames_of(
            [(9, "frame alpha"), (10, "frame delta"), (11, "frame nu")]
        ))
        from video_etl_spark.streaming.dedup import compaction_watermark

        wm = compaction_watermark(spark, "t_ph_gen")
        assert wm == 1
        got_df = incremental_phash_against_index(
            probe,
            [spark.table("t_ph_gen"),
             frame_tail_rows(spark, index_dir, after_batch_id=wm)],
        )
        got = sorted(map(tuple, got_df.collect()))
        hist = phash_signatures(frames_of(
            [(1, "frame alpha"), (2, "frame beta"),
             (3, "frame gamma"), (4, "frame delta")]
        ))
        want = sorted(map(tuple, incremental_phash_dedup(probe, hist).collect()))
        assert got == want == [(9, 1, 1, 0), (10, 4, 1, 0)], (got, want)
        plan = (
            got_df._jdf.queryExecution().executedPlan().toString()
        ).split("== Initial Plan ==")[0]
        assert "Bucketed: true" in plan, plan

        # (b) live switchover after deleting the folded partitions
        for bid in (0, 1):
            shutil.rmtree(f"{index_dir}/batch_id={bid}")
        sw = make_frame_batch_handler(
            index_dir, dup_dir, compacted_table="t_ph_gen",
        )  # watermark read from the sidecar, not resupplied
        sw(frames_of([(21, "frame alpha"), (22, "frame delta")]), 3)
        d3 = sorted(
            tuple(r) for r in spark.read.parquet(dup_dir)
            .where("batch_id = 3")
            .select("new_doc", "dup_of", "n_candidates", "min_hamming")
            .collect()
        )
        # 21 matches folded frame 1; 22 matches tail frame 4
        assert d3 == [(21, 1, 1, 0), (22, 4, 1, 0)], d3
        # the compacted-mode batch appended its sigs: 31 sees 21 via the
        # tail and 1 via the generation — counted once each
        sw(frames_of([(31, "frame alpha")]), 4)
        d4 = [tuple(r) for r in spark.read.parquet(dup_dir)
              .where("batch_id = 4")
              .select("new_doc", "dup_of", "n_candidates").collect()]
        assert d4 == [(31, 1, 2)], d4
        # retry idempotence in compacted mode
        sw(frames_of([(31, "frame alpha")]), 4)
        assert spark.read.parquet(dup_dir).where("batch_id = 4").count() == 1
    finally:
        for t in ("t_ph_gen", "t_ph_gen_watermark"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_prune_folded_partitions_watermark_driven(spark, tmp_path):
    """The switchover's delete step, made safe: prune reads the fold
    watermark from the generation's own sidecar (a missing sidecar
    RAISES — no correct fallback exists for a delete), removes exactly
    the folded batch_id partitions, leaves the tail and foreign files
    untouched, and the switched-over handler keeps flagging dups of
    pruned history.  Works for both the band and frame streams (shared
    layout)."""
    import os

    import pytest

    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        make_batch_handler,
        prune_folded_partitions,
    )

    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    idx_dir = str(tmp_path / "idx")
    handle = make_batch_handler(idx_dir, str(tmp_path / "dups"))
    handle(spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"), 0)
    handle(spark.createDataFrame(
        [(3, b)], "doc_id long, text string"), 1)
    handle(spark.createDataFrame(
        [(4, a)], "doc_id long, text string"), 2)  # the tail
    # a foreign (non-partition) file must survive the prune —
    # underscore-prefixed, as anything else in a parquet dataset root
    # would break the readers themselves
    with open(os.path.join(idx_dir, "_notes.txt"), "w") as f:
        f.write("operator breadcrumb")

    try:
        # no generation yet -> no sidecar -> refuse to guess
        with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|not found"):
            prune_folded_partitions(spark, idx_dir, "t_pr_gen")

        compact_stream_index(
            spark, idx_dir, "t_pr_gen", str(tmp_path / "gen0"),
            upto_batch_id=1, n_buckets=4,
        )
        assert prune_folded_partitions(spark, idx_dir, "t_pr_gen") == [0, 1]
        left = sorted(os.listdir(idx_dir))
        assert "batch_id=2" in left and "_notes.txt" in left
        assert not any(d in left for d in ("batch_id=0", "batch_id=1"))
        # idempotent
        assert prune_folded_partitions(spark, idx_dir, "t_pr_gen") == []
        # pruned history still visible through the generation
        sw = make_batch_handler(
            idx_dir, str(tmp_path / "dups"), compacted_table="t_pr_gen",
        )
        sw(spark.createDataFrame(
            [(9, a)], "doc_id long, text string"), 3)
        got = sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / "dups"))
            .where("batch_id = 3")
            .select("new_doc", "dup_of", "n_candidates").collect()
        )
        # 9 matches pruned doc 1 (generation) AND tail doc 4 — once each
        assert got == [(9, 1, 2)], got
    finally:
        for t in ("t_pr_gen", "t_pr_gen_watermark"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_fold_watermark_sidecar_schema(spark, tmp_path):
    """Every fold writes the one-row ``{table}_watermark`` sidecar with
    the schema existing generations were written with (a long
    watermark, not an int) and the fold's values — the band fold, the
    band refold and the frame fold — and its readers
    (``compaction_watermark``, ``prune_folded_partitions``) read it."""
    from pyspark.sql import Row

    from video_etl_spark.llm_ops.multimodal import attach_fake_payload
    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        compaction_watermark,
        make_batch_handler,
        prune_folded_partitions,
        refold_stream_index,
    )
    from video_etl_spark.streaming.frame_dedup import (
        compact_stream_frame_index,
        make_frame_batch_handler,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def check(table, path, upto, index_dir):
        for sidecar in (
            spark.table(f"{table}_watermark"),
            spark.read.parquet(f"{path}_watermark"),
        ):
            assert sidecar.schema.simpleString() == (
                "struct<upto_batch_id:bigint,index_dir:string>"
            )
            assert sidecar.collect() == [
                Row(upto_batch_id=upto, index_dir=index_dir)
            ]
        assert compaction_watermark(spark, table) == upto

    idx = str(tmp_path / "idx")
    band = make_batch_handler(idx, str(tmp_path / "dups"))
    band(docs([(1, "the quick brown fox jumps over the lazy dog")]), 0)
    band(docs([(2, "maritime insurance claims under section nine")]), 1)
    frame_idx = str(tmp_path / "frame_idx")
    frame = make_frame_batch_handler(frame_idx, str(tmp_path / "frame_dups"))
    frame(attach_fake_payload(docs([(1, "frame alpha")])), 0)
    frame(attach_fake_payload(docs([(2, "frame beta")])), 1)
    tables = ("t_wm_gen0", "t_wm_gen1", "t_wm_frame_gen0")
    try:
        gen0, gen1 = str(tmp_path / "gen0"), str(tmp_path / "gen1")
        compact_stream_index(
            spark, idx, "t_wm_gen0", gen0, upto_batch_id=0, n_buckets=4
        )
        check("t_wm_gen0", gen0, 0, idx)
        refold_stream_index(
            spark, idx, "t_wm_gen0", "t_wm_gen1", gen1, upto_batch_id=1
        )
        check("t_wm_gen1", gen1, 1, idx)
        assert prune_folded_partitions(spark, idx, "t_wm_gen1") == [0, 1]

        frame_gen = str(tmp_path / "frame_gen0")
        compact_stream_frame_index(
            spark, frame_idx, "t_wm_frame_gen0", frame_gen,
            upto_batch_id=0, n_buckets=4,
        )
        check("t_wm_frame_gen0", frame_gen, 0, frame_idx)
        assert prune_folded_partitions(
            spark, frame_idx, "t_wm_frame_gen0"
        ) == [0]
    finally:
        for t in tables:
            for name in (t, f"{t}_watermark"):
                spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_curation_switchover_to_compacted_index(spark, tmp_path):
    """The curation pipeline shares the dedup streams' index lifecycle:
    fold its survivors' signature dir, switch the handler to the
    compacted generation, PRUNE the folded partitions — and a later
    batch's near-dup of pruned history is still rejected with the same
    evidence the raw-mode handler produces, with the generation/tail
    boundary crossed correctly."""
    from video_etl_spark.streaming.curation import make_ingest_handler
    from video_etl_spark.streaming.decontaminate import doc_shingles
    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        prune_folded_partitions,
    )

    a, b, c, batches = _curation_batches()
    bench_src = spark.createDataFrame([(99, c)], "doc_id long, text string")
    doc_shingles(bench_src).select("s").distinct().write.parquet(
        str(tmp_path / "bench")
    )
    sig_dir = str(tmp_path / "sig_index")
    args = (sig_dir, str(tmp_path / "bench"),
            str(tmp_path / "clean"), str(tmp_path / "rejected"))
    raw = make_ingest_handler(*args)
    for i in range(2):
        raw(spark.createDataFrame(batches[i], "doc_id long, text string"), i)
    try:
        # fold batch 0 only; batch 1's survivor sigs stay in the raw tail
        compact_stream_index(
            spark, sig_dir, "t_cur_gen", str(tmp_path / "gen0"),
            upto_batch_id=0, n_buckets=4,
        )
        sw = make_ingest_handler(*args, compacted_table="t_cur_gen")
        assert prune_folded_partitions(spark, sig_dir, "t_cur_gen") == [0]
        sw(spark.createDataFrame(
            batches[2], "doc_id long, text string"), 2)
        rej = {
            r["doc_id"]: (r["reason"], r["detail"])
            for r in spark.read.parquet(str(tmp_path / "rejected"))
            .where("batch_id = 2").collect()
        }
        # doc 6 dups PRUNED doc 1 (via the generation); doc 5 still hits
        # the benchmark — identical verdicts to the raw-mode run
        assert rej == {5: ("contaminated", rej[5][1]),
                       6: ("near_dup", 1)}, rej
        clean2 = {r["doc_id"] for r in spark.read.parquet(
            str(tmp_path / "clean")).where("batch_id = 2").collect()}
        assert clean2 == set()
        # a dup of the TAIL (batch-1 survivor doc 4) is caught too
        sw(spark.createDataFrame(
            [(8, b)], "doc_id long, text string"), 3)
        rej3 = {
            r["doc_id"]: (r["reason"], r["detail"])
            for r in spark.read.parquet(str(tmp_path / "rejected"))
            .where("batch_id = 3").collect()
        }
        assert rej3 == {8: ("near_dup", 4)}, rej3
        # retry idempotence in compacted mode
        sw(spark.createDataFrame(
            [(8, b)], "doc_id long, text string"), 3)
        assert spark.read.parquet(str(tmp_path / "rejected")).where(
            "batch_id = 3").count() == 1
    finally:
        for t in ("t_cur_gen", "t_cur_gen_watermark"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_is_missing_source_branches(spark, tmp_path):
    """Round-9 ADVICE: is_missing_source tightened four streaming
    fallback paths (non-missing AnalysisExceptions now raise) — pin both
    branches with REAL Spark 4.x exceptions so a Spark upgrade that
    renames the error conditions fails loudly here instead of silently
    reintroducing history-narrowing swallows."""
    import pytest
    from pyspark.errors import AnalysisException

    from video_etl_spark.streaming.dedup import is_missing_source

    # missing path -> True
    with pytest.raises(AnalysisException) as ei:
        spark.read.parquet(str(tmp_path / "definitely_absent")).collect()
    assert is_missing_source(ei.value)
    # missing table -> True
    with pytest.raises(AnalysisException) as ei:
        spark.table("definitely_no_such_table_xyz").collect()
    assert is_missing_source(ei.value)
    # schema-inference failure on an empty dir -> True (a raw stream dir
    # whose partitions were all pruned is "fully folded", not an error)
    (tmp_path / "empty_dir").mkdir()
    with pytest.raises(AnalysisException) as ei:
        spark.read.parquet(str(tmp_path / "empty_dir")).collect()
    assert is_missing_source(ei.value)
    # a real analysis failure (unresolved column) -> False: the caller
    # must RAISE, not treat it as first-batch/fully-folded
    with pytest.raises(AnalysisException) as ei:
        spark.createDataFrame([(1,)], "a long").select("nope").collect()
    assert not is_missing_source(ei.value)
    # getCondition() can be None on synthetic exceptions -> False, not a
    # TypeError
    class _Fake:
        def getCondition(self):
            return None

    assert not is_missing_source(_Fake())


def test_refold_stream_index_generation_rotation(spark, tmp_path):
    """Round-10: generation rotation for a LIVE stream's folded band
    index.  The 10x rehearsal measured the two-leg probe drifting as
    the raw tail regrew after the first fold — refold_stream_index
    resets the tail by folding gen_n + tail into gen_{n+1}.  Contracts:
    (a) gen1 == a one-shot compact_stream_index over the same unpruned
    history BIT-FOR-BIT; (b) after switchover + prune, a dup of
    first-generation history is still caught through gen1 alone;
    (c) a non-advancing upto and a mismatched index_dir are refused."""
    import pytest

    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        make_batch_handler,
        prune_folded_partitions,
        refold_stream_index,
    )

    a = ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight")
    b = ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine")
    c = ("a third entirely unrelated paragraph about orbital mechanics "
         "and the docking procedure for resupply missions in low orbit")
    idx = str(tmp_path / "idx")
    dups = str(tmp_path / "dups")
    raw = make_batch_handler(index_dir=idx, dup_dir=dups)
    raw(spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string"), 0)
    raw(spark.createDataFrame([(3, c)], "doc_id long, text string"), 1)
    try:
        compact_stream_index(
            spark, idx, "t_rf_gen0", str(tmp_path / "gen0"),
            upto_batch_id=1, n_buckets=4,
        )
        sw0 = make_batch_handler(
            index_dir=idx, dup_dir=dups, compacted_table="t_rf_gen0"
        )
        # compacted-mode batches keep appending raw sigs — the regrowing
        # tail the refold exists to reset
        sw0(spark.createDataFrame([(4, b)], "doc_id long, text string"), 2)
        sw0(spark.createDataFrame([(5, c)], "doc_id long, text string"), 3)

        # refusals BEFORE any rotation
        with pytest.raises(ValueError, match="does not advance"):
            refold_stream_index(
                spark, idx, "t_rf_gen0", "t_rf_gen1",
                str(tmp_path / "gen1"), upto_batch_id=1,
            )
        with pytest.raises(ValueError, match="refusing to act"):
            refold_stream_index(
                spark, str(tmp_path / "elsewhere"), "t_rf_gen0",
                "t_rf_gen1", str(tmp_path / "gen1"), upto_batch_id=3,
            )

        refold_stream_index(
            spark, idx, "t_rf_gen0", "t_rf_gen1", str(tmp_path / "gen1"),
            upto_batch_id=3,
        )
        # (a) bit-for-bit vs the one-shot fold over the unpruned history
        compact_stream_index(
            spark, idx, "t_rf_oneshot", str(tmp_path / "oneshot"),
            upto_batch_id=3, n_buckets=4,
        )
        rows = lambda t: sorted(  # noqa: E731
            tuple(r) for r in spark.table(t).collect()
        )
        assert rows("t_rf_gen1") == rows("t_rf_oneshot")
        wm = spark.table("t_rf_gen1_watermark").collect()[0]
        assert wm["upto_batch_id"] == 3 and wm["index_dir"] == idx
        # (b) switchover + prune: ALL raw partitions go; history still
        # answers through gen1 alone
        sw1 = make_batch_handler(
            index_dir=idx, dup_dir=dups, compacted_table="t_rf_gen1"
        )
        assert prune_folded_partitions(spark, idx, "t_rf_gen1") == [0, 1, 2, 3]
        sw1(spark.createDataFrame(
            [(9, a), (10, c)], "doc_id long, text string"), 4)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(dups)
            .where("batch_id = 4")
            .select("new_doc", "dup_of", "n_candidates")
            .collect()
        )
        # 9 dups gen0-era doc 1; 10 dups doc 3 (gen0-era) AND doc 5
        # (tail-era, folded by the refold) — counted once each
        assert got == [(9, 1, 1), (10, 3, 2)], got
    finally:
        for t in (
            "t_rf_gen0", "t_rf_gen0_watermark",
            "t_rf_gen1", "t_rf_gen1_watermark",
            "t_rf_oneshot", "t_rf_oneshot_watermark",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_maybe_refold_policy_matches_manual_sequence(spark, tmp_path):
    """Round-11 (verdict #4): the auto-refold policy closes the last
    operational gap — a long replay crosses the tail threshold, the
    policy fires EXACTLY once, and everything it produces (successor
    generation rows, prune set, dup ledger) equals the manual four-step
    sequence run over the identical batches.  Also: below-threshold
    calls are no-ops, and a never-folded stream (no watermark sidecar)
    raises instead of folding on a policy default."""
    import pytest
    from pyspark.errors import AnalysisException

    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        make_batch_handler,
        maybe_refold,
        next_generation_name,
        prune_folded_partitions,
        refold_stream_index,
    )

    assert next_generation_name("t") == "t_g1"
    assert next_generation_name("t_g1") == "t_g2"
    assert next_generation_name("t_g9") == "t_g10"

    texts = [
        ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight"),
        ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine"),
        ("a third entirely unrelated paragraph about orbital mechanics "
         "and the docking procedure for resupply missions in low orbit"),
        ("yet another disjoint passage describing the annual migration "
         "of shorebirds across the intertidal mudflats every autumn"),
        ("a fifth standalone text on the metallurgy of bronze casting "
         "and the lost wax technique used by ancient foundries"),
        ("finally a sixth passage concerning the taxonomy of lichens "
         "growing on exposed granite surfaces above the treeline"),
    ]

    def batch(b):
        # one fresh text + one repeat of an earlier batch's text, so the
        # dup ledger is non-trivial in every batch past the first
        return spark.createDataFrame(
            [(10 * b, texts[b % 6]), (10 * b + 1, texts[(b + 1) % 6])],
            "doc_id long, text string",
        )

    N, FOLD_AT, THRESH = 8, 1, 4  # tail {2,3,4,5} hits THRESH after b=5

    def replay(tag, auto: bool):
        idx = str(tmp_path / f"{tag}_idx")
        dups = str(tmp_path / f"{tag}_dups")
        gen0 = f"t_mrf_{tag}_gen0"
        handler = make_batch_handler(index_dir=idx, dup_dir=dups)
        fired = []
        for b in range(N):
            handler(batch(b), b)
            if b == FOLD_AT:
                # the FIRST fold is an explicit capacity decision in
                # both modes — maybe_refold only rotates generations
                compact_stream_index(
                    spark, idx, gen0, str(tmp_path / f"{tag}_gen0"),
                    upto_batch_id=FOLD_AT, n_buckets=4,
                )
                handler = make_batch_handler(
                    index_dir=idx, dup_dir=dups, compacted_table=gen0
                )
                prune_folded_partitions(spark, idx, gen0)
            elif b > FOLD_AT:
                if auto:
                    cfg = maybe_refold(
                        spark, idx, gen0, upto_batch_id=b,
                        tail_threshold=THRESH,
                    )
                    if cfg is not None:
                        fired.append((b, cfg))
                        handler = make_batch_handler(
                            index_dir=idx, dup_dir=dups,
                            compacted_table=cfg["compacted_table"],
                        )
                elif b == FOLD_AT + THRESH:  # manual twin, same point
                    refold_stream_index(
                        spark, idx, gen0, f"t_mrf_{tag}_gen1",
                        str(tmp_path / f"{tag}_gen1"), upto_batch_id=b,
                    )
                    handler = make_batch_handler(
                        index_dir=idx, dup_dir=dups,
                        compacted_table=f"t_mrf_{tag}_gen1",
                    )
                    prune_folded_partitions(
                        spark, idx, f"t_mrf_{tag}_gen1"
                    )
        ledger = sorted(
            tuple(r)
            for r in spark.read.parquet(dups)
            .select("new_doc", "dup_of", "n_candidates", "batch_id")
            .collect()
        )
        return fired, ledger

    try:
        # a never-folded stream has no watermark sidecar: the policy
        # must raise, not improvise a first fold
        raw_idx = str(tmp_path / "rawonly_idx")
        make_batch_handler(
            index_dir=raw_idx, dup_dir=str(tmp_path / "rawonly_dups")
        )(batch(0), 0)
        with pytest.raises(AnalysisException):
            maybe_refold(spark, raw_idx, "t_mrf_nogen", upto_batch_id=0)

        fired, auto_ledger = replay("auto", auto=True)
        _, man_ledger = replay("man", auto=False)

        # fired exactly once, at the threshold crossing, with the full
        # handler config and the exact prune set
        assert len(fired) == 1, fired
        b_fired, cfg = fired[0]
        assert b_fired == FOLD_AT + THRESH
        assert cfg["compacted_table"] == "t_mrf_auto_gen0_g1"
        assert cfg["old_table"] == "t_mrf_auto_gen0"
        assert cfg["tail_partitions"] == THRESH
        assert cfg["pruned"] == list(range(FOLD_AT + 1, b_fired + 1))
        # successor generation == the manual refold's, row for row
        rows = lambda t: sorted(  # noqa: E731
            tuple(r) for r in spark.table(t).collect()
        )
        assert rows("t_mrf_auto_gen0_g1") == rows("t_mrf_man_gen1")
        # and the dup ledgers of the two replays are identical
        assert auto_ledger == man_ledger and len(auto_ledger) > 0
        # STALE-CALLER GUARD: once the successor's watermark committed
        # (and its folded raw partitions were pruned), re-invoking the
        # policy with the SUPERSEDED table must raise — re-folding from
        # it would rebuild the successor without the pruned batches
        with pytest.raises(ValueError, match="superseded"):
            maybe_refold(
                spark, str(tmp_path / "auto_idx"), "t_mrf_auto_gen0",
                upto_batch_id=N - 1, tail_threshold=1,
            )
    finally:
        for t in (
            "t_mrf_auto_gen0", "t_mrf_auto_gen0_watermark",
            "t_mrf_auto_gen0_g1", "t_mrf_auto_gen0_g1_watermark",
            "t_mrf_man_gen0", "t_mrf_man_gen0_watermark",
            "t_mrf_man_gen1", "t_mrf_man_gen1_watermark",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_refold_stream_frame_index_matches_oneshot(spark, tmp_path):
    """Frame twin of the band refold: gen1 == one-shot fold over the
    unpruned history, and the switched handler still flags a dup of
    first-generation history through gen1 after pruning."""
    from video_etl_spark.streaming.dedup import prune_folded_partitions
    from video_etl_spark.streaming.frame_dedup import (
        compact_stream_frame_index,
        make_frame_batch_handler,
        refold_stream_frame_index,
    )
    from video_etl_spark.llm_ops.multimodal import attach_fake_payload

    def frames_of(rows):
        return attach_fake_payload(
            spark.createDataFrame(rows, "doc_id long, text string")
        )

    idx = str(tmp_path / "ph_idx")
    dups = str(tmp_path / "ph_dups")
    h = make_frame_batch_handler(idx, dups)
    h(frames_of([(1, "frame alpha"), (2, "frame beta")]), 0)
    h(frames_of([(3, "frame gamma")]), 1)
    try:
        compact_stream_frame_index(
            spark, idx, "t_rff_gen0", str(tmp_path / "g0"),
            upto_batch_id=0, n_buckets=4,
        )
        sw0 = make_frame_batch_handler(
            idx, dups, compacted_table="t_rff_gen0"
        )
        sw0(frames_of([(4, "frame delta")]), 2)
        refold_stream_frame_index(
            spark, idx, "t_rff_gen0", "t_rff_gen1", str(tmp_path / "g1"),
            upto_batch_id=2,
        )
        compact_stream_frame_index(
            spark, idx, "t_rff_oneshot", str(tmp_path / "os"),
            upto_batch_id=2, n_buckets=4,
        )
        rows = lambda t: sorted(  # noqa: E731
            tuple(r) for r in spark.table(t).collect()
        )
        assert rows("t_rff_gen1") == rows("t_rff_oneshot")
        sw1 = make_frame_batch_handler(
            idx, dups, compacted_table="t_rff_gen1"
        )
        assert prune_folded_partitions(spark, idx, "t_rff_gen1") == [0, 1, 2]
        sw1(frames_of([(9, "frame alpha")]), 3)
        got = [
            tuple(r)
            for r in spark.read.parquet(dups)
            .where("batch_id = 3")
            .select("new_doc", "dup_of")
            .collect()
        ]
        assert got == [(9, 1)], got
    finally:
        for t in (
            "t_rff_gen0", "t_rff_gen0_watermark",
            "t_rff_gen1", "t_rff_gen1_watermark",
            "t_rff_oneshot", "t_rff_oneshot_watermark",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_maybe_refold_frame_twin(spark, tmp_path):
    """The auto-refold policy drives the FRAME index rotation through
    ``refold_fn=refold_stream_frame_index`` (the multimodal twin its
    docstring advertises — the two refolds share a signature, and this
    pins that): below threshold the policy is a no-op, at the crossing
    it creates the auto-named successor generation and prunes the
    folded tail, and the switched handler still flags a dup of PRUNED
    first-generation history through the policy-created generation."""
    from video_etl_spark.llm_ops.multimodal import attach_fake_payload
    from video_etl_spark.streaming.dedup import (
        maybe_refold,
        prune_folded_partitions,
    )
    from video_etl_spark.streaming.frame_dedup import (
        compact_stream_frame_index,
        make_frame_batch_handler,
        refold_stream_frame_index,
    )

    def frames_of(rows):
        return attach_fake_payload(
            spark.createDataFrame(rows, "doc_id long, text string")
        )

    idx = str(tmp_path / "mrf_ph_idx")
    dups = str(tmp_path / "mrf_ph_dups")
    h = make_frame_batch_handler(idx, dups)
    h(frames_of([(1, "frame alpha"), (2, "frame beta")]), 0)
    try:
        compact_stream_frame_index(
            spark, idx, "t_mrff_gen0", str(tmp_path / "g0"),
            upto_batch_id=0, n_buckets=4,
        )
        sw = make_frame_batch_handler(
            idx, dups, compacted_table="t_mrff_gen0"
        )
        assert prune_folded_partitions(spark, idx, "t_mrff_gen0") == [0]
        sw(frames_of([(3, "frame gamma")]), 1)
        # tail {1} below threshold: strict no-op, nothing written
        assert maybe_refold(
            spark, idx, "t_mrff_gen0", upto_batch_id=1, tail_threshold=2,
            refold_fn=refold_stream_frame_index,
        ) is None
        assert not spark.catalog.tableExists("t_mrff_gen0_g1")
        sw(frames_of([(4, "frame delta")]), 2)
        cfg = maybe_refold(
            spark, idx, "t_mrff_gen0", upto_batch_id=2, tail_threshold=2,
            refold_fn=refold_stream_frame_index,
        )
        assert cfg is not None
        assert cfg["compacted_table"] == "t_mrff_gen0_g1"
        assert cfg["tail_partitions"] == 2
        assert cfg["pruned"] == [1, 2]
        # batch-0 history survives only inside the generation chain now
        # (raw partition 0 pruned before the rotation, 1-2 by it): a dup
        # of frame 1 must still be caught through the successor
        sw1 = make_frame_batch_handler(
            idx, dups, compacted_table=cfg["compacted_table"]
        )
        sw1(frames_of([(9, "frame alpha")]), 3)
        got = [
            tuple(r)
            for r in spark.read.parquet(dups)
            .where("batch_id = 3")
            .select("new_doc", "dup_of")
            .collect()
        ]
        assert got == [(9, 1)], got
    finally:
        for t in (
            "t_mrff_gen0", "t_mrff_gen0_watermark",
            "t_mrff_gen0_g1", "t_mrff_gen0_g1_watermark",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_auto_refold_handler_equals_manual_sequence(spark, tmp_path):
    """Round-12 (verdict #4): the LIBRARY wrapper — AutoRefoldHandler /
    make_auto_refold_ingest_handler — must reproduce the manual
    quiesce → policy → carry-config → re-create sequence exactly: same
    rotation batch, same successor generation rows, same clean/rejected
    ledger, with the rotation recorded in .rotations.  This is the
    example-loop equivalence promoted into a pinned contract (the
    --auto-refold rehearsal now drives this wrapper)."""
    from video_etl_spark.streaming.curation import (
        make_auto_refold_ingest_handler,
        make_ingest_handler,
    )
    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        maybe_refold,
        prune_folded_partitions,
    )

    texts = [
        ("the quick brown fox jumps over the lazy dog while the sun "
         "sets slowly behind the distant purple mountains tonight"),
        ("completely different legal boilerplate concerning maritime "
         "insurance claims and arbitration procedure under section nine"),
        ("a third entirely unrelated paragraph about orbital mechanics "
         "and the docking procedure for resupply missions in low orbit"),
        ("yet another disjoint passage describing the annual migration "
         "of shorebirds across the intertidal mudflats every autumn"),
        ("a fifth standalone text on the metallurgy of bronze casting "
         "and the lost wax technique used by ancient foundries"),
        ("finally a sixth passage concerning the taxonomy of lichens "
         "growing on exposed granite surfaces above the treeline"),
    ]

    def batch(b):
        # one fresh text + one repeat, so every post-first batch has a
        # non-trivial near-dup rejection for the ledger compare
        return spark.createDataFrame(
            [
                (10 * b, texts[b % 6], "src"),
                (10 * b + 1, texts[(b + 1) % 6], "src"),
            ],
            "doc_id long, text string, source string",
        )

    N, FOLD_AT, THRESH = 7, 1, 3  # tail {2,3,4} crosses THRESH before b=5
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [("benchshingleonly benchtok benchtok benchtok benchtok",)],
        "s string",
    ).select("s").write.parquet(bench)

    def replay(tag, auto: bool):
        idx = str(tmp_path / f"{tag}_idx")
        dirs = dict(
            index_dir=idx,
            bench_dir=bench,
            clean_dir=str(tmp_path / f"{tag}_clean"),
            rejected_dir=str(tmp_path / f"{tag}_rej"),
        )
        gen0 = f"t_arw_{tag}_gen0"
        handler = make_ingest_handler(**dirs)
        for b in range(FOLD_AT + 1):
            handler(batch(b), b)
        compact_stream_index(
            spark, idx, gen0, str(tmp_path / f"{tag}_gen0"),
            upto_batch_id=FOLD_AT, n_buckets=4,
        )
        prune_folded_partitions(spark, idx, gen0)
        if auto:
            handler = make_auto_refold_ingest_handler(
                **dirs, compacted_table=gen0, tail_threshold=THRESH
            )
        else:
            handler = make_ingest_handler(**dirs, compacted_table=gen0)
        for b in range(FOLD_AT + 1, N):
            if not auto:
                cfg = maybe_refold(
                    spark, idx, gen0, upto_batch_id=b - 1,
                    tail_threshold=THRESH,
                )
                if cfg is not None:
                    gen0 = cfg["compacted_table"]
                    handler = make_ingest_handler(
                        **dirs, compacted_table=gen0
                    )
            handler(batch(b), b)
        ledger = sorted(
            (r["doc_id"], r["reason"], r["detail"], r["batch_id"])
            for r in spark.read.parquet(dirs["rejected_dir"]).collect()
        )
        clean = sorted(
            (r["doc_id"], r["batch_id"], r["shard"])
            for r in spark.read.parquet(dirs["clean_dir"]).collect()
        )
        return handler, ledger, clean

    try:
        wrapper, auto_led, auto_clean = replay("auto", auto=True)
        _, man_led, man_clean = replay("man", auto=False)
        # rotation fired exactly once, at the threshold crossing, and
        # the wrapper carried the successor itself
        assert len(wrapper.rotations) == 1, wrapper.rotations
        b_fired, cfg = wrapper.rotations[0]
        assert b_fired == FOLD_AT + THRESH + 1
        assert cfg["compacted_table"] == "t_arw_auto_gen0_g1"
        assert wrapper.compacted_table == cfg["compacted_table"]
        # successor generation rows equal the manual run's, and both
        # ledgers (rejections AND clean/shard assignments) match
        rows = lambda t: sorted(  # noqa: E731
            tuple(r) for r in spark.table(t).collect()
        )
        assert rows("t_arw_auto_gen0_g1") == rows("t_arw_man_gen0_g1")
        assert auto_led == man_led and len(auto_led) > 0
        assert auto_clean == man_clean and len(auto_clean) > 0
    finally:
        for base in ("t_arw_auto_gen0", "t_arw_man_gen0"):
            for t in (base, f"{base}_g1"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
                spark.sql(f"DROP TABLE IF EXISTS {t}_watermark")


def test_layered_scanned_serve_handler_past_cap_lifecycle(
    spark, sf_dir, tmp_path
):
    """The past-broadcast-cap serving handler (round 13): answers equal
    the one-shot scanned probe; a mid-serve DISTRIBUTED append
    (index=None — no driver arrays anywhere) is visible to the very
    next batch with NO handler rebuild, because the handler captures
    only the path; a retry idempotently rewrites its own batch_id
    partition; and after a maybe_compact_pq_ivf generation fold, a
    handler re-created on the successor path answers identically."""
    from video_etl_spark.llm_ops.similarity import (
        append_to_pq_ivf_index,
        layered_topk_scanned,
        maybe_compact_pq_ivf,
        write_pq_ivf_index,
    )
    from video_etl_spark.streaming.ann_serve import (
        make_layered_scanned_serve_handler,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 50 != 25)
    held = emb.filter(F.col("vec_id") % 50 == 25)
    path = str(tmp_path / "scanned_idx")
    write_pq_ivf_index(
        corpus, path, m=4, ksub=8, n_centroids=4, return_artifacts=False
    )

    out_dir = str(tmp_path / "answers")
    handler = make_layered_scanned_serve_handler(
        spark, path, out_dir, k=3, n_probe=2
    )
    b0 = corpus.filter(F.col("vec_id") % 97 == 0)
    handler(b0, 0)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in layered_topk_scanned(
            spark, b0, path, k=3, n_probe=2
        ).collect()
    )
    assert got == want and got

    # retry idempotence: batch 0 rewrites only its own partition (the
    # index is unchanged between attempt and retry — a scanned retry
    # AFTER an append legitimately re-answers on the grown index, which
    # is the handler's each-batch-scans-the-current-generation contract)
    handler(b0, 0)
    again = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in spark.read.parquet(out_dir).where("batch_id = 0").collect()
    )
    assert again == got

    # mid-serve distributed append: the very next batch queries the
    # appended vectors and must get them back at rank 1 — no handler
    # rebuild (nothing index-sized was captured at build time)
    assert append_to_pq_ivf_index(held, path) is None
    handler(held, 1)
    ans1 = spark.read.parquet(out_dir).where("batch_id = 1")
    n_held = held.count()
    self_rank1 = ans1.where("rn = 1 and neighbor_id = query_id").count()
    assert self_rank1 == n_held and n_held > 0

    # generation fold in a quiesced window -> re-create the handler on
    # the successor; answers equal the post-append state of the source
    want_post = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in layered_topk_scanned(
            spark, b0, path, k=3, n_probe=2
        ).collect()
    )
    g1 = maybe_compact_pq_ivf(spark, path, max_files_per_cell=1)
    assert g1 is not None
    handler2 = make_layered_scanned_serve_handler(
        spark, g1, out_dir, k=3, n_probe=2
    )
    handler2(b0, 0)
    after_fold = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in spark.read.parquet(out_dir).where("batch_id = 0").collect()
    )
    assert after_fold == want_post

    # round 14: the per-cell MOVE fold in the same quiesced-window
    # discipline — the O(hot-rows) production maintenance shape.  A
    # disjoint-id append (the thunk fast path: no partition-discovery
    # job) fragments g1, the policy folds per-cell with carry="move"
    # (consuming g1), and a handler re-created on g2 must serve the
    # post-append answers identically — serving continuity across a
    # generation swap whose source is no longer a complete snapshot
    refresh = held.withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    assert append_to_pq_ivf_index(refresh, g1, assume_disjoint=True) is None
    want_g1 = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in layered_topk_scanned(
            spark, b0, g1, k=3, n_probe=2
        ).collect()
    )
    g2 = maybe_compact_pq_ivf(
        spark, g1, max_files_per_cell=2, carry="move"
    )
    assert g2 == str(tmp_path / "scanned_idx_g2")
    handler3 = make_layered_scanned_serve_handler(
        spark, g2, out_dir, k=3, n_probe=2
    )
    handler3(b0, 0)
    after_move = sorted(
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in spark.read.parquet(out_dir).where("batch_id = 0").collect()
    )
    assert after_move == want_g1
