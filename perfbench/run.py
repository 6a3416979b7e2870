#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {query_mix,curation_stream,vetl_stream}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Each run is a fresh process on
``local[nproc]``: it sets the session up three times (session start, seeded
input generation, warm-up; the median is ``setup_s``), then drives the
workload as a closed loop with one client: the streams first run untimed
warm-up work (curation_stream's batch 0, vetl_stream's first triggers;
query_mix times its first executions too), then measure a fixed minimum
of work, for
at least ``--seconds`` where the workload can stop at any point
(query_mix, vetl_stream; curation_stream's fixed batch sequence takes
longer than any window).  It then checks every output, and prints the
end-to-end metrics (``--trace 0``) or, with the
Spark event log on and spans recorded, the per-layer metrics
(``--trace 1``).  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (inputs, Spark scratch, sinks, tables) lives in
``.perfbench_work/`` under the repository root and is removed at exit,
except ``.perfbench_work/results/``, which keeps each run's result (with
its core count, versions and source digest) and a traced run's spans.

    python3 perfbench/run.py --compare BASE.json NEW.json
        prints the relative change per metric; refuses results taken at
        different core counts.
    python3 perfbench/run.py --record-expected
        rewrites query_mix_expected.json from the current code.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(WORK_ROOT, "results")
SETUP_REPS = 3
WORKLOADS = ("query_mix", "curation_stream", "vetl_stream")


def load_definition() -> tuple[dict, dict]:
    """BENCHMARK.json (each metric's name, unit and direction) and
    layers.json (each per-layer metric's layer and workloads)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        return bench, json.load(fh)


def _configure_env(work: str, dirs_tmp: str, dirs_local: str) -> None:
    """Everything Spark and Python write goes under ``work``; the session
    runs on every core this process may use."""
    import harness

    os.environ["SPARK_GRAFT_CPUS"] = str(harness.nproc())
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = dirs_local
    os.environ["TMPDIR"] = dirs_tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = dirs_tmp
    sys.path.insert(0, ROOT)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import importlib

    import harness

    module = importlib.import_module(name)
    work = os.path.join(WORK_ROOT, f"{name}-{seed}-{os.getpid()}")
    dirs = harness.SessionDirs(work)
    _configure_env(work, dirs.tmp, dirs.local)
    tracer = harness.Tracer(trace)
    spark = None
    state: dict = {}
    setups = []
    phases = {}
    t_run = time.perf_counter()
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()  # tearing the last one down is not part of a set-up
            t0 = time.perf_counter()
            with tracer.span("setup.session"):
                spark = harness.start_session(dirs, trace)
            t1 = time.perf_counter()
            with tracer.span("setup.inputs_warmup"):
                state, inputs_s, warm_s = module.setup(spark, dirs, seed, rep)
            setups.append((time.perf_counter() - t0, t1 - t0, inputs_s, warm_s))
        env = harness.run_env(ROOT, spark.version)
        app_id = spark.sparkContext.applicationId
        phases["setup"] = time.perf_counter() - t_run
        with tracer.span("measure"):
            res = module.measure(spark, state, seed, seconds, tracer)
        phases["measure_and_check"] = time.perf_counter() - t_run - phases["setup"]
        module.cleanup(spark, state)
        spark.stop()
        spark = None
        if trace:
            res.layers.update(harness.event_log_metrics(dirs.eventlog, app_id, *res.window_ms))
    finally:
        if spark is not None:
            try:
                module.cleanup(spark, state)
            finally:
                spark.stop()
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    phases["total"] = time.perf_counter() - t_run

    setup_s = harness.median([s[0] for s in setups])
    res.e2e["setup_s"] = setup_s
    res.layers.update({
        "setup.session_s": harness.median([s[1] for s in setups]),
        "setup.inputs_s": harness.median([s[2] for s in setups]),
        "setup.warmup_s": harness.median([s[3] for s in setups]),
    })
    return {"res": res, "env": env, "tracer": tracer, "setups": setups,
            "phases": {k: round(v, 3) for k, v in phases.items()}}


def build_metrics(name: str, res, trace: bool) -> tuple[dict, dict]:
    """The metric map for the result line plus the notes on metrics the
    workload does not exercise."""
    bench, layers = load_definition()
    notes = {}
    if not trace:
        metrics = {
            spec["name"]: {"value": res.e2e[spec["name"]], "unit": spec["unit"]}
            for spec in bench["end_to_end"]
        }
        return metrics, notes
    traced = {f"traced.{k}": v for k, v in res.e2e.items()}
    metrics = {}
    for spec in bench["per_layer"]:
        m = spec["name"]
        value = res.layers.get(m, traced.get(m))
        if name not in layers["per_layer"][m]["workloads"]:
            value = 0.0
            notes[m] = f"not exercised by {name}"
        elif value is None:
            value = 0.0
            notes[m] = "not reported"
        metrics[m] = {"value": float(value), "unit": spec["unit"]}
    return metrics, notes


def latest_untraced(name: str) -> dict | None:
    """The newest untraced result of ``name`` kept in the results folder."""
    if not os.path.isdir(RESULTS):
        return None
    cands = sorted(
        (os.path.getmtime(os.path.join(RESULTS, f)), f)
        for f in os.listdir(RESULTS)
        if f.startswith(f"{name}-seed") and "-trace0-" in f and f.endswith(".json")
    )
    if not cands:
        return None
    with open(os.path.join(RESULTS, cands[-1][1])) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "NEW"))
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "video_etl_spark", "registry.py")):
        print(f"perfbench: no video_etl_spark package under {ROOT}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import harness

    if args.compare:
        base, new = (json.load(open(p)) for p in args.compare)
        try:
            delta = harness.compare_results(base, new)
        except harness.CoreCountMismatch as exc:
            print(f"perfbench: {exc}", file=sys.stderr)
            return 3
        for m, d in sorted(delta.items()):
            print(f"{m:36s} {d:+.1%}")
        return 0
    if args.record_expected:
        return record_expected()
    if args.workload is None:
        ap.error("--workload is required")

    trace = bool(args.trace)
    out = run_workload(args.workload, args.seed, args.seconds, trace)
    res, env = out["res"], out["env"]
    metrics, notes = build_metrics(args.workload, res, trace)
    correct = res.failed == 0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace), "env": env, "correct": correct,
        "attempted": res.attempted, "failed": res.failed,
        "metrics": metrics, "summary": res.summary, "notes": notes,
        "setups_s": [[round(x, 4) for x in s] for s in out["setups"]],
        "phases_s": out["phases"],
        "detail": res.detail,
    }
    os.makedirs(RESULTS, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{int(trace)}-{int(time.time())}-{os.getpid()}"
    with open(os.path.join(RESULTS, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"# env {json.dumps(env)}")
    error_rate = res.failed / res.attempted
    print(f"# {args.workload}: error_rate {error_rate:.4f} ratio "
          f"({res.failed} of {res.attempted} operations failed or wrong)")
    for k, v in res.summary.items():
        print(f"#   {k} = {v:.6g}" if isinstance(v, float) else f"#   {k} = {v}")
    for m, v in metrics.items():
        print(f"#   {m} = {v['value']:.6g} {v['unit']}" + (f"  ({notes[m]})" if m in notes else ""))
    for k, v in res.notes.items():
        print(f"# {k}: {v}")
    if trace:
        spans_path = os.path.join(RESULTS, stem + ".spans.jsonl")
        out["tracer"].write(spans_path)
        for name, row in sorted(harness.span_table(out["tracer"].spans).items()):
            print(f"# span {name:24s} n={row['count']:4d} total {row['total_s']:.4f}s "
                  f"self {row['self_s']:.4f}s")
        base = latest_untraced(args.workload)
        if base is None:
            print("# tracing overhead: no untraced result for this workload "
                  "in .perfbench_work/results yet")
        else:
            traced = {"env": env, "metrics": {
                m: {"value": v} for m, v in res.e2e.items()}}
            try:
                delta = harness.compare_results(base, traced)
                print(f"# tracing overhead vs untraced run (seed {base['seed']}): " + ", ".join(
                    f"{m} {d:+.1%}" for m, d in sorted(delta.items())))
            except harness.CoreCountMismatch as exc:
                print(f"# tracing overhead: {exc}")
    print(json.dumps({
        "correct": correct, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }))
    return 0


def record_expected() -> int:
    """Rewrite query_mix_expected.json: each query's fingerprint and warm
    time, from one session over the generated tables."""
    import harness
    import inputs
    import query_mix

    work = os.path.join(WORK_ROOT, f"record-{os.getpid()}")
    dirs = harness.SessionDirs(work)
    _configure_env(work, dirs.tmp, dirs.local)
    try:
        spark = harness.start_session(dirs, trace=False)
        sf_dir = os.path.join(work, "tables")
        inputs.write_analyst_tables(sf_dir)
        queries = query_mix.record_expected(spark, sf_dir)
        env = harness.run_env(ROOT, spark.version)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(query_mix.EXPECTED_PATH, "w") as fh:
        json.dump({"env": env, "queries": queries}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(queries)} fingerprints to {query_mix.EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
