"""Stateful streaming operators (SURVEY.md W2/W6/§2.8 — per-key state with
timeouts).

The reference keeps long-lived per-key state in-process: Kalman track state
(`sort.py:94-151`, D14), buffer occupancy (`buffer.py:36-71`, D11), and
used-config counters (`knob_switcher.py:110-114`).  The Structured
Streaming re-architecture is ``applyInPandasWithState``: state lives in the
engine's state store (checkpointed, sharded by key across executors),
updates arrive as Arrow batches, and processing-time timeouts express track
death / session expiry.

``running_user_state`` is the canonical shape: per-user running counters +
last-value state, optionally expiring after ``timeout_ms`` idle — the same
lifecycle as a tracker track (create on first observation, update per
batch, expire on silence).  NOTE: enable the timeout only on continuous
streams; under ``trigger(availableNow=True)`` a ProcessingTimeTimeout query
never terminates (it keeps scheduling batches to fire timeouts), so bounded
replays must use the default NoTimeout.  The expiry path IS exercised for
real under a ``processingTime`` trigger —
tests/test_streaming.py::test_stateful_timeout_emits_expiry_row drives an
idle key to its timeout and asserts the tombstone row carries the final
state.  The batch twin used by the correctness gate is
operators/tracking.py.

Cost note: each state partition (``spark.sql.shuffle.partitions`` of them,
fixed by the checkpoint) is one Python-worker task per trigger, empty
partitions included, so per-task worker overhead is paid that many times
per micro-batch whatever the keys.  With 4 cameras on 4 partitions
(``cam0``..``cam3``, as perfbench's vetl_stream runs it) the keys hash to
partitions 1 and 3 only, and the two empty partitions still run a task.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n_events long, value_sum double, last_value double"
OUTPUT_SCHEMA = (
    "user_id long, n_events long, value_sum double, last_value double, expired boolean"
)


def _make_update_fn(timeout_ms: int | None):
    def update_user_state(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            n, total, last = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, n, total, last, True)],
                columns=["user_id", "n_events", "value_sum", "last_value", "expired"],
            )
            return

        n, total, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            # exact cents accumulation, rounded HALF_UP (away from zero) to
            # match Spark F.round in the batch twin — pandas .round() is
            # banker's (half-to-even) and diverges on exact half-cents
            v = pdf["value"].to_numpy()
            cents = (np.sign(v) * np.floor(np.abs(v) * 100 + 0.5)).astype("int64")
            total += float(cents.sum()) / 100
            if len(pdf):
                last = float(pdf["value"].iloc[-1])
        state.update((n, total, last))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [(user_id, n, total, last, False)],
            columns=["user_id", "n_events", "value_sum", "last_value", "expired"],
        )

    return update_user_state


def running_user_state(stream: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """W2-shaped stateful aggregation over a stream of events.

    ``timeout_ms``: idle expiry (track-death analog) — continuous streams
    only; leave None for availableNow replays (see module docstring).
    """
    from video_etl_spark.session import ensure_executor_package

    ensure_executor_package(stream.sparkSession)
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _make_update_fn(timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


# ---------------------------------------------------------------------------
# W2/J2 streaming twin — the SORT tracker as a stateful stream: per-stream
# track state (boxes, velocities, lifecycles, id counter) lives in the
# state store, each micro-batch advances the SAME stepping function the
# batch operator uses (operators.tracking.track_frames), so a frame
# sequence split across any number of micro-batches yields exactly the
# batch operator's output (equivalence-tested).  Motion is the
# constant-velocity model — its state is 6 floats + 3 ints per track,
# JSON-serialized into the state store (the Kalman filter's covariance
# matrices stay a batch-side option).  Contract: frame_no must be
# STRICTLY increasing per stream ACROSS micro-batches — each frame's
# detections wholly contained in one micro-batch (a frame split across
# two batches would be predicted/aged twice).  Within a micro-batch any
# arrival order is fine (rows are re-sorted).  This is the ordered-replay
# contract of the reference's online loop.  The contract is ENFORCED, not
# just documented: the last emitted frame_no lives in the state store and
# a micro-batch containing frame_no <= last_frame raises — a silent
# re-step would diverge from the batch operator without any signal.

TRACKER_STATE_SCHEMA = "tracks_json string, next_id long, last_frame long"


def _tracker_update_fn(iou_threshold: float, max_age: int, association: str):
    import json

    from video_etl_spark.operators.tracking import (
        TRACK_COLUMNS,
        _Track,
        track_frames,
    )

    def update_tracks(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (stream,) = key
        if state.exists:
            tracks_json, next_id, last_frame = state.get
            tracks = []
            for d in json.loads(tracks_json):
                t = _Track(d["id"], tuple(d["box"]), "velocity")
                t.vel = tuple(d["vel"])
                t.age, t.hits, t.misses = d["age"], d["hits"], d["misses"]
                tracks.append(t)
        else:
            tracks, next_id, last_frame = [], 0, -1

        # Concatenate the WHOLE micro-batch before stepping: the iterator
        # yields Arrow chunks (capped by arrow.maxRecordsPerBatch), and a
        # frame whose rows straddle a chunk boundary — or chunks whose
        # frame ranges interleave after the shuffle — would otherwise be
        # predicted/aged twice and diverge from the batch operator.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["frame_no", "x0", "y0", "x1", "y1"], kind="mergesort"
            )
            # Enforce the strictly-increasing contract: a replayed or
            # split frame would be predicted/aged twice and silently
            # diverge from the batch operator — fail the query instead.
            batch_min = int(pdf["frame_no"].min())
            if batch_min <= last_frame:
                raise ValueError(
                    f"streaming tracker contract violated for stream "
                    f"{stream!r}: micro-batch contains frame_no "
                    f"{batch_min} <= last processed frame {last_frame}; "
                    "frame_no must be strictly increasing per stream "
                    "across micro-batches"
                )
            last_frame = int(pdf["frame_no"].max())
            out, tracks, next_id = track_frames(
                stream, pdf, tracks, next_id,
                iou_threshold, max_age, "velocity", association,
            )
            if out:
                yield pd.DataFrame(out, columns=TRACK_COLUMNS)

        state.update(
            (
                json.dumps(
                    [
                        {
                            "id": t.track_id,
                            "box": list(t.box),
                            "vel": list(t.vel),
                            "age": t.age,
                            "hits": t.hits,
                            "misses": t.misses,
                        }
                        for t in tracks
                    ]
                ),
                next_id,
                last_frame,
            )
        )

    return update_tracks


def streaming_sort_tracker(
    detections: DataFrame,
    iou_threshold: float = 0.3,
    max_age: int = 3,
    association: str = "hungarian",
) -> DataFrame:
    """Streaming SORT tracker: same shuffle key and stepping as the batch
    `operators.tracking.sort_tracker`, state checkpointed per stream."""
    from video_etl_spark.operators.tracking import TRACKS_SCHEMA
    from video_etl_spark.session import ensure_executor_package

    ensure_executor_package(detections.sparkSession)
    return (
        detections.select("stream", "frame_no", "x0", "y0", "x1", "y1")
        .groupBy("stream")
        .applyInPandasWithState(
            _tracker_update_fn(iou_threshold, max_age, association),
            outputStructType=TRACKS_SCHEMA,
            stateStructType=TRACKER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
