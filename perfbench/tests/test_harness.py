"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import inputs  # noqa: E402


# --- percentile rule ------------------------------------------------------


@pytest.mark.parametrize(
    ("n", "p", "ok"),
    [
        (100, 90, True),    # ranks 91..100 lie beyond p90: ten
        (99, 90, False),    # p90 is rank 90: nine beyond
        (110, 90, True),
        (1000, 99, True),
        (999, 99, False),
        (40, 75, True),     # p75 is rank 30: ten beyond
        (39, 75, False),
        (10, 50, False),
        (20, 50, True),
    ],
)
def test_reportable_needs_ten_samples_beyond(n, p, ok):
    assert harness.reportable(n, p) is ok


def test_tail_percentile_picks_highest_supported():
    xs = list(range(1, 101))
    assert harness.tail_percentile(xs) == (90.0, 90)
    assert harness.tail_percentile(list(range(1, 41))) == (75.0, 30)
    assert harness.tail_percentile(list(range(30))) is None


def test_percentile_nearest_rank():
    assert harness.percentile([5, 1, 3, 2, 4], 50) == 3
    assert harness.percentile([1, 2, 3, 4], 100) == 4
    assert harness.percentile([7], 1) == 7
    with pytest.raises(ValueError):
        harness.percentile([], 50)


# --- self time -------------------------------------------------------------


def _span(sid, parent, start, end, name="s"):
    return harness.Span(sid, parent, name, start, end)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, None, 0.0, 10.0, "root"),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),   # overlaps child 1: union 1..5
        _span(3, 0, 9.0, 12.0),  # runs past the parent: only 9..10 counts
        _span(4, 1, 1.5, 2.5),   # grandchild: not the root's business
    ]
    st = harness.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_span_table_sums_by_name():
    spans = [
        _span(0, None, 0.0, 4.0, "a"),
        _span(1, 0, 0.0, 1.0, "b"),
        _span(2, 0, 2.0, 3.0, "b"),
    ]
    table = harness.span_table(spans)
    assert table["a"] == {"count": 1, "total_s": 4.0, "self_s": 2.0}
    assert table["b"] == {"count": 2, "total_s": 2.0, "self_s": 2.0}


def test_tracer_keeps_spans_only_when_enabled():
    for enabled in (True, False):
        tr = harness.Tracer(enabled)
        with tr.span("outer") as outer:
            with tr.span("inner") as inner:
                pass
        assert outer.duration >= inner.duration >= 0.0
        if enabled:
            assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
        else:
            assert tr.spans == []


def test_union_length():
    assert harness.union_length([]) == 0.0
    assert harness.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


# --- output fingerprints ----------------------------------------------------


def test_fingerprint_matches_requires_rows_and_both_halves():
    expected = {"rows": 3, "hash": [10, 20]}
    assert harness.fingerprint_matches((3, 10, 20), expected)
    assert not harness.fingerprint_matches((4, 10, 20), expected)
    assert not harness.fingerprint_matches((3, 11, 20), expected)
    assert not harness.fingerprint_matches((3, 10, 21), expected)
    assert not harness.fingerprint_matches((3, 10, 20), None)


def test_expected_file_covers_the_frozen_list():
    import query_mix

    expected = query_mix.load_expected()["queries"]
    assert sorted(expected) == sorted(query_mix.QUERIES)
    assert len(set(query_mix.QUERIES)) == 60
    assert set(query_mix.SAMPLE) <= set(query_mix.QUERIES)
    for v in expected.values():
        assert v["rows"] >= 0 and len(v["hash"]) == 2


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")
    del pyspark
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("spark")
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.local.dir", str(tmp))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_fingerprint_is_order_insensitive_and_value_sensitive(spark):
    rows = [(i, f"t{i}", float(i) / 3) for i in range(200)]
    schema = "a long, b string, c double"
    base = harness.fingerprint(spark.createDataFrame(rows, schema))
    shuffled = harness.fingerprint(
        spark.createDataFrame(list(reversed(rows)), schema).repartition(7)
    )
    assert base == shuffled and base[0] == 200
    changed = rows[:-1] + [(199, "t199", 0.5)]
    assert harness.fingerprint(spark.createDataFrame(changed, schema)) != base
    empty = harness.fingerprint(spark.createDataFrame([], schema))
    assert empty == (0, 0, 0)


# --- generated inputs ---------------------------------------------------------


def test_curation_corpus_ledger_is_consistent():
    corpus = inputs.curation_batches(seed=7, n_batches=6, batch_docs=120, fold_upto=2)
    ids = [int(d) for df in corpus.batches for d in df["doc_id"]]
    assert len(ids) == len(set(ids)) == len(corpus.expected)
    reasons = {r for r, _ in corpus.expected.values()}
    assert reasons == {"clean", "quality", "contaminated", "near_dup"}
    clean = {d for d, (r, _) in corpus.expected.items() if r == "clean"}
    for d, (r, orig) in corpus.expected.items():
        if r == "near_dup":
            assert orig in clean and orig < d
    assert corpus.prefold_copies
    assert all(corpus.expected[d][1] < 2_000_000 for d in corpus.prefold_copies)
    again = inputs.curation_batches(seed=7, n_batches=6, batch_docs=120, fold_upto=2)
    assert all(a.equals(b) for a, b in zip(corpus.batches, again.batches))


def test_detection_chunks_are_frame_ordered_and_seeded():
    chunks = inputs.detection_chunks(seed=3, n_chunks=5, n_cameras=2, live_objects=4)
    assert len(chunks) == 5
    for c, df in enumerate(chunks):
        assert (df["frame_no"] // inputs.FRAMES_PER_CHUNK == c).all()
        assert (df["x1"] > df["x0"]).all() and (df["y1"] > df["y0"]).all()
    again = inputs.detection_chunks(seed=3, n_chunks=5, n_cameras=2, live_objects=4)
    assert all(a.equals(b) for a, b in zip(chunks, again))


# --- result comparison and the benchmark definition ------------------------------


def test_compare_refuses_different_core_counts():
    a = {"env": {"nproc": 4}, "metrics": {"x": {"value": 2.0}}}
    b = {"env": {"nproc": 4}, "metrics": {"x": {"value": 3.0}}}
    assert harness.compare_results(a, b) == {"x": pytest.approx(0.5)}
    with pytest.raises(harness.CoreCountMismatch):
        harness.compare_results(a, {"env": {"nproc": 8}, "metrics": {}})


def test_every_per_layer_metric_has_a_layer_row():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(BENCH, "layers.json")) as fh:
        layers = json.load(fh)
    workloads = {w["name"] for w in bench["workloads"]}
    assert workloads == {"query_mix", "curation_stream", "vetl_stream"}
    assert {m["name"] for m in bench["end_to_end"]} == set(layers["end_to_end"])
    assert [m["name"] for m in bench["per_layer"]] == list(layers["per_layer"])
    for row in layers["per_layer"].values():
        assert set(row["workloads"]) <= workloads
