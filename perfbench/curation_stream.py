"""curation_stream: the write path -- one ``make_ingest_handler`` call per
crawl micro-batch, in the order ``examples/run_streaming_ingest.py --scale``
uses: raw batches, then ``compact_stream_index`` + handler switchover +
``prune_folded_partitions``, then ``make_auto_refold_ingest_handler`` until
the run ends.  The handler is driven directly (no Structured Streaming
engine), as the library intends for deterministic fold points.

The example runs 10 raw batches, folds them into 32 buckets, and lets the
policy refold once the tail has regrown to 5 partitions.  A handler call
costs seconds here (tens of small jobs), so a run keeps that shape in
three batches: batches 0-1 raw; the fold into the same 32 buckets, one
batch behind the stream (through batch 0, so batch 1 stays in the raw
tail); batch 2 compacted, reading the generation plus that one-partition
tail; then the policy, with a tail threshold of 2, polled after batch 2
(the quiesced window a stream polls in before its next batch), refolds
batches 1-2 into the next generation and prunes them.  That is one fold
per two raw batches and one refold per tail of two, where the example has
1:10 and 1:5 and the library's default threshold is 98.  A batch holds
200 documents, so that a run (three handler calls, a fold and a refold)
stays under a minute on 4 cores, within the time budget it shares with
the other workloads.  Batch 0 is the
first handler call in the process (code generation, first jobs): it runs
and is checked, but is left out of every timing, which runs from its end
to the end of the refold.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import harness
import inputs

BATCH_DOCS = 200
RAW_BATCHES = 2
FOLD_UPTO = 0
TAIL_THRESHOLD = 2
N_BATCHES = 3
N_BUCKETS = 32
GEN_TABLE = "perfbench_cur_gen"
SCHEMA = "doc_id long, text string, source string"
REJECTED_SCHEMA = "doc_id long, reason string, detail long, batch_id integer"


def setup(spark, dirs, seed: int, rep: int) -> tuple[dict, float, float]:
    """Write the seeded crawl batches and the evaluation-suite shingles,
    then warm up by reading the first batch."""
    t0 = time.perf_counter()
    base = os.path.join(dirs.work, f"curation-{rep}")
    corpus = inputs.curation_batches(seed, N_BATCHES, BATCH_DOCS, FOLD_UPTO)
    crawl = os.path.join(base, "crawl")
    os.makedirs(crawl)
    paths = []
    for b, df in enumerate(corpus.batches):
        path = os.path.join(crawl, f"batch-{b:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        paths.append(path)
    inputs.write_bench_shingles(os.path.join(base, "bench"))
    t1 = time.perf_counter()
    spark.read.schema(SCHEMA).parquet(paths[0]).count()
    t2 = time.perf_counter()
    state = {"base": base, "paths": paths, "corpus": corpus}
    return state, t1 - t0, t2 - t1


def measure(spark, state: dict, seed: int, seconds: float, tracer) -> harness.WorkloadResult:
    """Run the fixed batch sequence (``seconds`` is not used: the sequence
    takes longer than any window a run is given, and cutting it short
    would drop the refold)."""
    from video_etl_spark.streaming.curation import (
        make_auto_refold_ingest_handler,
        make_ingest_handler,
    )
    from video_etl_spark.streaming.dedup import (
        compact_stream_index,
        prune_folded_partitions,
    )

    base = state["base"]
    sig_dir = os.path.join(base, "sig_index")
    clean_dir = os.path.join(base, "clean")
    rejected_dir = os.path.join(base, "rejected")
    sinks = (sig_dir, os.path.join(base, "bench"), clean_dir, rejected_dir)
    stats_dir = os.path.join(base, "stats")
    sc = spark.sparkContext
    batches: list[dict] = []
    fold_s = 0.0
    refolds: list[tuple[int, float]] = []  # (batch the poll followed, seconds)
    state["tables"] = [GEN_TABLE]
    failures: list[str] = []

    handler = make_ingest_handler(*sinks, stats_dir=stats_dir)
    auto = None
    gen_path = os.path.join(base, "gen0")
    mode = "raw"
    pruned = None
    t_start = wall0 = None
    for b in range(N_BATCHES + 1):
        if b == RAW_BATCHES:
            with tracer.span("curation.fold") as s:
                compact_stream_index(
                    spark, sig_dir, GEN_TABLE, gen_path,
                    upto_batch_id=FOLD_UPTO, n_buckets=N_BUCKETS,
                )
                # the switchover: the live handler now reads the generation
                auto = make_auto_refold_ingest_handler(
                    *sinks, compacted_table=GEN_TABLE,
                    tail_threshold=TAIL_THRESHOLD, stats_dir=stats_dir,
                )
                prune_folded_partitions(spark, sig_dir, GEN_TABLE)
            fold_s = s.duration
            handler, mode = auto, "compacted"
        elif auto is not None:
            with tracer.span("curation.poll") as s:
                cfg = auto.poll(spark, b - 1)
            if cfg is not None:
                refolds.append((b - 1, s.duration))
                state["tables"].append(cfg["compacted_table"])
                gen_path = cfg["path"]
                pruned = cfg["pruned"]
        if b == N_BATCHES:
            break
        group = f"cur{b}"
        sc.setJobGroup(group, f"batch {b}")
        try:
            with tracer.span("curation.handler") as s:
                handler(spark.read.schema(SCHEMA).parquet(state["paths"][b]), b)
        except Exception as exc:  # noqa: BLE001 -- counted as a failed op
            failures.append(f"batch {b}: {type(exc).__name__}: {str(exc)[:200]}")
            batches.append({"b": b, "mode": mode, "s": s.duration, "jobs": 0, "ok": False})
            break
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        batches.append({
            "b": b, "mode": mode, "s": s.duration, "ok": True,
            "jobs": harness.jobs_in_group(spark, group),
        })
        if b == 0:  # the timed window starts after the warm-up batch
            t_start, wall0 = time.perf_counter(), time.time() * 1e3
    wall = time.perf_counter() - t_start if t_start is not None else 0.0
    wall1 = time.time() * 1e3

    # output checks (outside the measured window)
    done = [x["b"] for x in batches if x["ok"]]
    corpus = state["corpus"]
    wrong = check_ledger(spark, corpus, done, clean_dir, rejected_dir)
    # the policy fires once, after the last batch, and folds and prunes
    # exactly the tail the first fold left behind
    refold_at = [rb for rb, _ in refolds]
    want_pruned = list(range(FOLD_UPTO + 1, N_BATCHES))
    if len(batches) == N_BATCHES and (refold_at != [N_BATCHES - 1] or pruned != want_pruned):
        wrong.setdefault(N_BATCHES - 1, f"refold after batches {refold_at} pruned {pruned}, "
                                        f"expected after {N_BATCHES - 1} pruning {want_pruned}")
    failures.extend(f"batch {bb}: {msg}" for bb, msg in wrong.items())
    for x in batches:
        if x["b"] in wrong:
            x["ok"] = False

    timed = [x for x in batches if x["b"] > 0]
    timed_ok = [x["b"] for x in timed if x["ok"]]
    times = [x["s"] for x in timed]
    n_docs = sum(len(corpus.batches[bb]) for bb in done)
    in_bytes = sum(
        int(corpus.batches[bb]["text"].str.len().sum()) for bb in done
    )
    n_rejected = sum(
        1 for bb in done for d in corpus.batches[bb]["doc_id"]
        if corpus.expected[int(d)][0] != "clean"
    )
    # the live index: the raw tail plus the current generation
    idx_files, idx_bytes = (
        a + c for a, c in zip(harness.dir_stats(sig_dir), harness.dir_stats(gen_path))
    )
    written = sum(harness.dir_stats(d)[1] for d in (clean_dir, rejected_dir, stats_dir, sig_dir))
    e2e = {"ops_per_s": len(timed_ok) / wall if wall else 0.0}
    layers = {
        "curation.batch_raw_s": harness.median([x["s"] for x in timed if x["mode"] == "raw"]),
        "curation.batch_compacted_s": harness.median(
            [x["s"] for x in timed if x["mode"] == "compacted"]),
        "curation.jobs_per_batch": harness.median([x["jobs"] for x in timed]),
        "compaction.fold_s": fold_s,
        "compaction.refold_s": harness.median([s for _, s in refolds]),
        "compaction.refolds": float(len(refolds)),
        "curation.rejected_frac": n_rejected / n_docs if n_docs else 0.0,
        "curation.index_files": float(idx_files),
        "curation.index_mib": idx_bytes / 2**20,
        "curation.written_per_input_byte": written / in_bytes if in_bytes else 0.0,
    }
    summary = {
        "batch_p50_s": harness.median(times),
        "rows_per_s": sum(len(corpus.batches[bb]) for bb in timed_ok) / wall if wall else 0.0,
        "batches": len(batches),
        "timed_batches": len(timed),
        "docs": n_docs,
        "refolds": len(refolds),
    }
    tail = harness.tail_percentile(times)
    if tail is not None:
        summary[f"batch_p{tail[0]:g}_s"] = tail[1]
    return harness.WorkloadResult(
        attempted=len(batches),
        failed=sum(1 for x in batches if not x["ok"]),
        e2e=e2e,
        layers=layers,
        summary=summary,
        notes={"failures": "; ".join(failures[:5])} if failures else {},
        detail=batches + [{"fold_s": fold_s, "refolds": refolds}],
        window_ms=(wall0 or wall1, wall1),
    )


def check_ledger(spark, corpus, done: list[int], clean_dir: str, rejected_dir: str) -> dict[int, str]:
    """Every input document of a completed batch lands in exactly one sink,
    with the reason (and, for near-dups, the original) the corpus planted.
    Returns {batch: problem} for the batches that disagree."""
    if not done:
        return {}
    clean = spark.read.parquet(clean_dir).select("doc_id", "batch_id").collect()
    rejected = spark.read.schema(REJECTED_SCHEMA).parquet(rejected_dir).collect()
    landed: dict[int, list[tuple]] = {}
    for r in clean:
        landed.setdefault(int(r["doc_id"]), []).append(("clean", None, r["batch_id"]))
    for r in rejected:
        detail = int(r["detail"]) if r["reason"] == "near_dup" else None
        landed.setdefault(int(r["doc_id"]), []).append((r["reason"], detail, r["batch_id"]))
    wrong: dict[int, str] = {}
    for b in done:
        for d in corpus.batches[b]["doc_id"]:
            d = int(d)
            got = landed.pop(d, [])
            want = corpus.expected[d]
            if len(got) != 1 or got[0][:2] != want or got[0][2] != b:
                wrong.setdefault(b, f"doc {d}: expected {want}, landed {got}")
    for d, got in landed.items():
        wrong.setdefault(got[0][2], f"doc {d} landed but was never sent")
    return wrong


def cleanup(spark, state: dict) -> None:
    for t in state.get("tables", []):
        for name in (t, f"{t}_watermark"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
