"""query_mix: the analyst side of V-ETL -- the frozen query list over the
extracted records, in a seeded order, closed loop, one client.

One operation = ``registry.QUERIES[name](spark, sf_dir)`` (the build) plus
one job that counts the rows and hashes every column (the force).  The
fingerprint must equal the value recorded in ``query_mix_expected.json``.

A run of a few tens of seconds cannot cover the list: a query's first
execution in a fresh process (code generation, Python workers, per-dataset
index builds) costs up to 10x its later ones, and which queries a short run
reaches would decide its numbers.  So each run times a fixed SAMPLE of six
queries, one per registry module: the scan/aggregate, window, pHash and
SimHash near-dup (whose checkpoints the storage counters watch),
brute-force kNN and box-geometry paths.  Pass 0 runs the sample once (its
first executions, what an analyst's fresh session pays); every later pass
runs it again in a new seeded order until the window ends.  The
end-to-end throughput covers passes 0 to ``STEADY_PASSES``: the whole
fixed amount of work every run completes, cold and warm, because a window
of warm passes alone is too short to be steady on a few shared cores.
The per-layer metrics come from the warm passes 1 to ``STEADY_PASSES``
(pass 0 only for ``queries.first_pass_s``); passes past them are only
checked.  The rest of the list is frozen with recorded fingerprints,
ready for a longer run.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import harness
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "query_mix_expected.json")

#: The 56 headline queries plus the four indexed kNN probes, frozen here so
#: later changes to the package's own headline do not move the benchmark.
QUERIES = (
    "pricing_summary", "top_revenue_orders", "regional_revenue",
    "top_orders_per_customer", "event_chunk_agg_2s", "sessionize_events",
    "asof_purchase_click", "range_join_clicks_before_purchase",
    "minhash_band_pairs", "jaccard_pair_stats", "simhash_near_dup_pairs",
    "knn_cosine_bruteforce", "multimodal_features", "token_stats",
    "iou_edge_stats", "small_quantity_revenue", "chunk_scores_pipeline",
    "repetition_scores", "sole_returning_suppliers",
    "min_cost_supplier_per_part", "mlp_embedding", "dedup_connected_clusters",
    "trailing_hour_user_sum", "nation_market_share", "pagerank_trade_flow",
    "incremental_band_dedup", "benchmark_decontamination",
    "value_percentiles_by_type", "value_percentiles_approx",
    "shipmode_priority_counts", "repeated_span_fraction",
    "quality_percentile_gate", "cross_source_contamination",
    "training_shard_manifest", "ngram_novelty_by_source",
    "dup_cluster_size_histogram", "remove_repeated_spans",
    "vocab_growth_curve", "mixture_resample", "cluster_aware_split",
    "kmeans_lloyd_embeddings", "semantic_dedup_pairs", "knn_label_accuracy",
    "phash_near_dup_pairs", "winnowing_overlap_stats",
    "band_occupancy_histogram", "simhash_overlap_stats",
    "phash_overlap_stats", "sequence_packing_manifest", "bigram_lm_topk",
    "winnowing_overlap_pairs", "chunk_documents", "embedding_drift_by_dim",
    "doc_length_percentiles_by_source", "dup_graph_triangles",
    "epoch_sampling_plan",
    "knn_ivf_indexed", "knn_pq_indexed", "knn_layered_indexed",
    "knn_lsh_indexed",
)

#: the timed sample: one query per registry module
SAMPLE = (
    "pricing_summary", "sessionize_events", "phash_near_dup_pairs",
    "simhash_near_dup_pairs", "knn_cosine_bruteforce", "iou_edge_stats",
)

#: every run completes passes 0..STEADY_PASSES even past the window, so the
#: metrics measure the same work at the same point of the process's warm-up
STEADY_PASSES = 2

#: per-module time metrics (the registry module each query lives in)
MODULES = ("relational", "temporal", "text", "vectors", "advanced", "boxes")


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def setup(spark, dirs, seed: int, rep: int) -> tuple[dict, float, float]:
    """Generate the tables, then warm up by loading each once (file
    listing and the package's schema memo).  Returns (state, inputs_s,
    warmup_s)."""
    from video_etl_spark import registry
    from video_etl_spark.session import TABLE_NAMES, load_table

    registry.load_all()
    t0 = time.perf_counter()
    sf_dir = os.path.join(dirs.work, f"tables-{rep}")
    inputs.write_analyst_tables(sf_dir)
    t1 = time.perf_counter()
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name)
    t2 = time.perf_counter()
    return {"sf_dir": sf_dir}, t1 - t0, t2 - t1


def run_query(spark, name: str, sf_dir: str, tag: str, tracer, expected) -> dict:
    """One operation: build, force, check; with the storage readouts taken
    around it.  Build and force run under their own job groups."""
    from video_etl_spark import registry

    sc = spark.sparkContext
    op = {"name": name}
    pinned_before = harness.pinned_rdds(spark)
    try:
        with tracer.span("query") as s_op:
            sc.setJobGroup(f"{tag}.build", name)
            with tracer.span("query.build") as s_build:
                df = registry.QUERIES[name](spark, sf_dir)
            sc.setJobGroup(f"{tag}.force", name)
            with tracer.span("query.force") as s_force:
                got = harness.fingerprint(df)
        op.update(
            op_s=s_op.duration, build_s=s_build.duration, force_s=s_force.duration,
            ok=harness.fingerprint_matches(got, expected), got=list(got),
        )
    except Exception as exc:  # noqa: BLE001 -- counted as a failed op
        op.update(op_s=s_op.duration, ok=False, error=f"{type(exc).__name__}: {str(exc)[:200]}")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    op["build_jobs"] = harness.jobs_in_group(spark, f"{tag}.build")
    op["pinned_after"] = harness.pinned_rdds(spark)
    op["pinned_net"] = op["pinned_after"] - pinned_before
    op["mem_mib"] = harness.storage_mem_used_mib(spark)
    return op


def measure(spark, state: dict, seed: int, seconds: float, tracer) -> harness.WorkloadResult:
    from video_etl_spark import registry

    expected = load_expected()["queries"]
    rng = np.random.default_rng([seed, 0])
    ops: list[dict] = []
    deadline = time.perf_counter() + seconds
    n_pass = 0
    t_all = [time.perf_counter(), 0.0]  # passes 0..STEADY_PASSES
    t_steady = [0.0, 0.0]
    wall_steady = [0.0, 0.0]  # the same span in epoch ms, for the event log
    while time.perf_counter() < deadline or n_pass <= STEADY_PASSES:
        if n_pass == 1:
            t_steady[0], wall_steady[0] = time.perf_counter(), time.time() * 1e3
        for idx in rng.permutation(len(SAMPLE)):  # whole passes only
            name = SAMPLE[idx]
            op = run_query(spark, name, state["sf_dir"], f"qm{len(ops)}", tracer, expected.get(name))
            op["pass"] = n_pass
            ops.append(op)
        n_pass += 1
        if n_pass == STEADY_PASSES + 1:
            t_steady[1], wall_steady[1] = time.perf_counter(), time.time() * 1e3
            t_all[1] = t_steady[1]

    good = [o for o in ops if o["ok"]]
    # every metric below comes from the fixed passes 0..STEADY_PASSES (the
    # per-layer ones from its warm passes): passes past them depend on how
    # many fit in the window, so sums over them would track the window, not
    # the cost
    fixed = [o for o in ops if o["pass"] <= STEADY_PASSES]
    steady = [o for o in fixed if o["pass"] > 0]
    times = [o["op_s"] for o in steady]
    e2e = {"ops_per_s": sum(1 for o in fixed if o["ok"]) / (t_all[1] - t_all[0])}
    half = len(times) // 2
    per_query_min: dict[str, float] = {}
    for o in steady:
        if o["ok"]:
            per_query_min[o["name"]] = min(per_query_min.get(o["name"], o["op_s"]), o["op_s"])
    layers = {
        "queries.first_pass_s": sum(o["op_s"] for o in ops if o["pass"] == 0),
        "queries.build_s": sum(o.get("build_s", 0.0) for o in steady),
        "queries.build_jobs": float(sum(o["build_jobs"] for o in steady)),
        "queries.force_s": sum(o.get("force_s", 0.0) for o in steady),
        "queries.min_sum_s": sum(per_query_min.values()),
        "queries.late_early_ratio": (
            harness.median(times[half:]) / harness.median(times[:half]) if half else 0.0
        ),
        "storage.pinned_rdds_net": float(sum(o["pinned_net"] for o in steady)),
        "storage.pinned_rdds_max": float(max((o["pinned_after"] for o in steady), default=0)),
        "storage.mem_used_mib_max": max((o["mem_mib"] for o in steady), default=0.0),
    }
    for mod in MODULES:
        layers[f"queries.{mod}_s"] = sum(
            o["op_s"] for o in steady
            if registry.QUERIES[o["name"]].__module__.rsplit(".", 1)[-1] == mod
        )
    summary = {
        "query_p50_s": harness.median(times),
        "queries_per_s": e2e["ops_per_s"],
        "passes": n_pass,
        "steady_ops": len(steady),
    }
    tail = harness.tail_percentile(times)
    if tail is not None:
        summary[f"query_p{tail[0]:g}_s"] = tail[1]
    failures = [
        f"{o['name']}: {o.get('error') or 'fingerprint ' + str(o.get('got'))}"
        for o in ops if not o["ok"]
    ]
    return harness.WorkloadResult(
        attempted=len(ops),
        failed=len(ops) - len(good),
        e2e=e2e,
        layers=layers,
        summary=summary,
        notes={"failures": "; ".join(failures[:5])} if failures else {},
        detail=ops,
        window_ms=tuple(wall_steady),
    )


def cleanup(spark, state: dict) -> None:
    pass


def record_expected(spark, sf_dir: str, repeats: int = 2) -> dict:
    """Run every query of the list ``repeats`` times in one session and
    return {name: {rows, hash}}.  A query whose fingerprint differs between
    runs is an error."""
    from video_etl_spark import registry

    registry.load_all()
    out = {}
    for name in QUERIES:
        prints = {harness.fingerprint(registry.QUERIES[name](spark, sf_dir)) for _ in range(repeats)}
        if len(prints) != 1:
            raise RuntimeError(f"{name} is not deterministic: {sorted(prints)}")
        (n, lo, hi), = prints
        out[name] = {"rows": n, "hash": [lo, hi]}
    return out
