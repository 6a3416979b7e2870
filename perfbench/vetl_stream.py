"""vetl_stream: the paper's own loop -- a multi-camera detection stream read
by a Structured Streaming file source (one 2-second chunk per file,
``maxFilesPerTrigger=1``), tracked by ``streaming.stateful
.streaming_sort_tracker``, and a ``foreachBatch`` that counts objects per
camera per chunk and asks ``control.switcher.KnobSwitcher`` for one knob
decision per chunk.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import harness
import inputs

N_CAMERAS = 4
LIVE_OBJECTS = 25
MAX_CHUNKS = 50
#: trigger times fall for the first few triggers of a process (Python
#: worker start, code generation, JIT), so the first WARMUP_TRIGGERS run
#: and are checked but are not timed; the window starts after them
WARMUP_TRIGGERS = 3
#: a run goes on past the window until this many timed triggers have
#: completed; the event-log totals cover exactly these, so they are a cost
#: per fixed amount of work however many more triggers the window holds
MIN_TRIGGERS = 12
#: the longest the stream may take to deliver its next batch
STALL_S = 60
PLANNING_INTERVAL = 5
DET_SCHEMA = "stream string, frame_no long, x0 double, y0 double, x1 double, y1 double"


def make_switcher():
    from video_etl_spark.control.buffer import ProcessingBuffer
    from video_etl_spark.control.switcher import KnobSwitcher, Profile

    quality = [[0.9, 0.6, 0.2], [0.7, 0.5, 0.1], [0.3, 0.2, 0.05]]
    profile = Profile(
        runtime=(1.9, 1.0, 0.4, 0.9, 0.5, 0.2),
        cloud_cost=(0.0, 0.0, 0.0, 0.4, 0.2, 0.1),
        knob_config=(0, 1, 2, 0, 1, 2),
        size_bytes=(1e8, 1e8, 1e8, 1e8, 1e8, 1e8),
    )
    return KnobSwitcher(
        quality,
        profile,
        ProcessingBuffer(4e8, profile.config_sizes()),
        cloud_budget=100.0,
        planning_interval=PLANNING_INTERVAL,
        initial_histogram=[1.0, 1.0, 1.0],
    )


def chunk_score(objects_per_camera: dict[str, int]) -> float:
    """Content proxy the switcher classifies: busier chunks score lower
    (harder content at the current knob)."""
    mean = sum(objects_per_camera.values()) / max(1, len(objects_per_camera))
    return max(0.0, 1.0 - mean / (2.0 * LIVE_OBJECTS))


def setup(spark, dirs, seed: int, rep: int) -> tuple[dict, float, float]:
    """Write the chunk files in frame order (increasing mtimes), then warm
    up by reading the first chunk."""
    t0 = time.perf_counter()
    base = os.path.join(dirs.work, f"vetl-{rep}")
    det_dir = os.path.join(base, "detections")
    os.makedirs(det_dir)
    chunks = inputs.detection_chunks(seed, MAX_CHUNKS, N_CAMERAS, LIVE_OBJECTS)
    paths = []
    for c, df in enumerate(chunks):
        path = os.path.join(det_dir, f"chunk-{c:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        os.utime(path, (1_700_000_000 + c,) * 2)
        paths.append(path)
    t1 = time.perf_counter()
    spark.read.schema(DET_SCHEMA).parquet(paths[0]).count()
    t2 = time.perf_counter()
    state = {"base": base, "det_dir": det_dir, "paths": paths,
             "rows": [len(df) for df in chunks]}
    return state, t1 - t0, t2 - t1


def measure(spark, state: dict, seed: int, seconds: float, tracer) -> harness.WorkloadResult:
    from video_etl_spark.streaming.stateful import streaming_sort_tracker

    switcher = make_switcher()
    done: list[dict] = []  # one record per completed foreachBatch body
    window: dict[str, float] = {}  # where the timed triggers start
    finished = threading.Event()
    t_start = time.perf_counter()

    def body(df, batch_id: int) -> None:
        with tracer.span("vetl.foreach_batch") as s_body:
            rows = df.collect()
            objects: dict[int, dict[str, set]] = {}
            for r in rows:
                chunk = r["frame_no"] // inputs.FRAMES_PER_CHUNK
                objects.setdefault(chunk, {}).setdefault(r["stream"], set()).add(r["track_id"])
            decisions = []
            for chunk in sorted(objects):
                counts = {cam: len(ids) for cam, ids in objects[chunk].items()}
                replan = switcher.counter % switcher.planning_interval == 0
                with tracer.span("control.switch") as s_sw:
                    d = switcher.switch(chunk_score(counts))
                decisions.append((chunk, d.chunk_id, s_sw.duration, replan))
        done.append({
            "batch_id": batch_id, "rows": [tuple(r) for r in rows],
            "decisions": decisions, "end": s_body.end, "end_ms": time.time() * 1e3,
        })
        if len(done) == WARMUP_TRIGGERS:
            window.update(start=s_body.end, start_ms=done[-1]["end_ms"])
        timed = len(done) - WARMUP_TRIGGERS
        if (timed >= MIN_TRIGGERS and time.perf_counter() >= window["start"] + seconds) \
                or len(done) >= len(state["paths"]):
            finished.set()

    stream = (
        spark.readStream.schema(DET_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(state["det_dir"])
    )
    q = (
        streaming_sort_tracker(stream)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", os.path.join(state["base"], "ckpt"))
        .start()
    )
    error = None
    try:
        while not finished.is_set() and q.isActive:
            if time.perf_counter() - (done[-1]["end"] if done else t_start) > STALL_S:
                error = f"no batch completed in {STALL_S} s"
                break
            finished.wait(0.1)
        if q.exception() is not None:
            error = str(q.exception())[:300]
    finally:
        q.stop()
    wall1 = time.time() * 1e3

    progress = {}
    for p in q.recentProgress:
        pj = json.loads(p.json)
        progress[pj["batchId"]] = pj
    chunks = sorted(c for r in done for c, *_ in r["decisions"])
    n_chunks = len(chunks)
    failures = []
    if error:
        failures.append(error)
    if len(done) <= WARMUP_TRIGGERS:
        failures.append(f"only {len(done)} triggers, all of them warm-up")

    # output checks (outside the measured window)
    ok_tracks = check_tracks(spark, state["paths"][:n_chunks], [row for r in done for row in r["rows"]])
    if not ok_tracks:
        failures.append("streamed tracks differ from the batch tracker")
    log = [cid for r in done for _, cid, _, _ in r["decisions"]]
    if chunks != list(range(n_chunks)) or log != list(range(n_chunks)):
        failures.append(f"switch log {log[:10]} does not cover chunks {chunks[:10]}")
    failed = len(done) if failures else 0

    timed = done[WARMUP_TRIGGERS:]
    wall = timed[-1]["end"] - window["start"] if timed else 0.0
    completed = [r for r in timed if r["batch_id"] in progress]
    trig = [progress[r["batch_id"]]["durationMs"] for r in completed]
    trig_s = [d.get("triggerExecution", 0) / 1e3 for d in trig]
    add_s = [d.get("addBatch", 0) / 1e3 for d in trig]
    ops = [progress[r["batch_id"]].get("stateOperators") or [{}] for r in completed]
    last_state = ops[-1][0] if ops else {}
    switches = [dt for r in timed for _, _, dt, replan in r["decisions"] if not replan]
    replans = [dt for r in timed for _, _, dt, replan in r["decisions"] if replan]
    n_rows = sum(len(r["rows"]) for r in timed)
    e2e = {"ops_per_s": (0 if failed else len(timed)) / wall if wall else 0.0}
    layers = {
        "stream.trigger_s": harness.median(trig_s),
        "stream.add_batch_s": harness.median(add_s),
        "stream.planning_s": harness.median([d.get("queryPlanning", 0) / 1e3 for d in trig]),
        "stream.wal_commit_s": harness.median([d.get("walCommit", 0) / 1e3 for d in trig]),
        "stream.commit_offsets_s": harness.median([d.get("commitOffsets", 0) / 1e3 for d in trig]),
        "stream.latest_offset_s": harness.median([d.get("latestOffset", 0) / 1e3 for d in trig]),
        "stream.overhead_frac": 1.0 - sum(add_s) / sum(trig_s) if sum(trig_s) else 0.0,
        "state.rows_total": float(last_state.get("numRowsTotal", 0)),
        "state.memory_kib": last_state.get("memoryUsedBytes", 0) / 1024,
        "state.commit_s": harness.median([o[0].get("commitTimeMs", 0) / 1e3 for o in ops]),
        "state.update_s": harness.median([o[0].get("allUpdatesTimeMs", 0) / 1e3 for o in ops]),
        "control.switch_us_p50": harness.median(switches) * 1e6,
        "control.replan_ms_p50": harness.median(replans) * 1e3,
        "control.decisions": float(sum(len(r["decisions"]) for r in timed)),
    }
    summary = {
        "batch_p50_s": harness.median(trig_s),
        "rows_per_s": n_rows / wall if wall else 0.0,
        "triggers": len(done),
        "timed_triggers": len(timed),
        "detections": n_rows,
    }
    tail = harness.tail_percentile(trig_s)
    if tail is not None:
        summary[f"batch_p{tail[0]:g}_s"] = tail[1]
    return harness.WorkloadResult(
        attempted=max(1, len(done)),
        failed=failed if done else 1,
        e2e=e2e,
        layers=layers,
        summary=summary,
        notes={"failures": "; ".join(failures[:3])} if failures else {},
        detail=[{"batch_id": r["batch_id"], "end": r["end"] - t_start,
                 "trigger_s": progress.get(r["batch_id"], {}).get("durationMs", {}).get("triggerExecution")}
                for r in done],
        window_ms=(
            window.get("start_ms", wall1),
            timed[MIN_TRIGGERS - 1]["end_ms"] if len(timed) >= MIN_TRIGGERS else wall1,
        ),
    )


def check_tracks(spark, paths: list[str], streamed: list[tuple]) -> bool:
    """The streamed tracks equal the batch tracker's on the same
    detections (constant-velocity motion, the streaming twin's model)."""
    from video_etl_spark.operators.tracking import sort_tracker

    if not paths:
        return not streamed
    ref = sort_tracker(spark.read.schema(DET_SCHEMA).parquet(*paths), motion="velocity").collect()
    return sorted(tuple(r) for r in ref) == sorted(streamed)


def cleanup(spark, state: dict) -> None:
    pass
