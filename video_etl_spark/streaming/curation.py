"""Streaming ingest curation: the end-to-end crawl→training-corpus path in
one foreachBatch pipeline (SURVEY §2.8 ⊕ — the streaming twin of
``pipelines/curation.py``).

Every micro-batch of raw (doc_id, text, source) crawl documents flows
through the same stages a production ingest runs, each already tested
individually in this repo:

1. PII scrub        — JVM regexp redaction (``pipelines.curation`` EMAIL/
                      PHONE shapes); stateless projection.
2. quality gate     — type-token-ratio floor (the integer lexical-
                      diversity proxy from ``quality_percentile_gate``);
                      stateless filter.  Rejected rows land in the
                      rejected sink with a reason.
3. decontamination  — benchmark-shingle broadcast join
                      (``streaming.decontaminate``); contaminated rows are
                      rejected, never trained on.
4. near-dup dedup   — asymmetric MinHash band join against the persistent
                      signature index (``streaming.dedup``) UNION an
                      intra-batch band self-join: a new doc colliding with
                      any earlier batch OR with an earlier doc in its own
                      micro-batch is rejected; only the survivors'
                      signatures append to the index so later batches
                      dedup against the canonical copies.
5. shard export     — survivors get the deterministic md5-mod shard
                      assignment (``llm_ops.export``) and land
                      batch_id-partitioned in the clean sink, ready for
                      the training-shard writer.

All sinks are ``batch_id``-partitioned and written with dynamic partition
overwrite, so at-least-once foreachBatch retries rewrite their own
partition — the same effectively-exactly-once discipline as
``streaming/dedup.py`` (the index read filters ``batch_id < current`` so a
retry never matches its own partial writes).

Scale posture: stages 1-2 and 5 are narrow; stage 3 broadcasts the small
static benchmark side; stage 4's join cost tracks the BATCH size and
collision count, not the corpus (measured flat over a 9×-growing index in
PERF.md).  Nothing in the loop grows with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: minimum type-token-ratio (ppm) a document must clear — the default
#: rejects degenerate repetition (a 30-token doc of one word has TTR
#: 33 333 ppm) without touching ordinary prose (typically > 400 000).
DEFAULT_MIN_TTR_PPM = 200_000


def _scrubbed(batch_df: DataFrame) -> DataFrame:
    from video_etl_spark.pipelines.curation import EMAIL_RE, PHONE_RE

    # NULL text normalizes to '' so the doc flows through the TTR gate
    # (and is rejected there with a 0 score) instead of vanishing from
    # BOTH sinks — NULL comparisons are false in both filter branches,
    # which silently broke the clean+rejected == input ledger contract.
    return batch_df.withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace(F.coalesce("text", F.lit("")), EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
    )


def _with_ttr(batch_df: DataFrame) -> DataFrame:
    # empty/whitespace-only text: split('') returns [''] (size 1), which
    # fabricated a perfect TTR of 1e6 and let empty docs into the clean
    # corpus — filter empty tokens so such docs score 0 and are rejected
    # by the quality gate.  Tokenization REUSES _SPARK_TOKENS: a re-typed
    # regex here once under-escaped \\s+ to s+ and silently split on runs
    # of the letter 's' (the ledger tests passed coincidentally).
    from video_etl_spark.queries.text import _SPARK_TOKENS

    toks = f"filter({_SPARK_TOKENS}, x -> x != '')"
    return batch_df.withColumn(
        "ttr_ppm",
        F.expr(
            f"cast(case when size({toks}) = 0 then 0 "
            f"else size(array_distinct({toks})) * 1000000 "
            f"div size({toks}) end as bigint)"
        ),
    )


def make_ingest_handler(
    index_dir: str,
    bench_dir: str,
    clean_dir: str,
    rejected_dir: str,
    min_ttr_ppm: int = DEFAULT_MIN_TTR_PPM,
    n_shards: int = 8,
    n_bands: int = 2,
    rows_per_band: int = 2,
    stats_dir: str | None = None,
    occupancy_dir: str | None = None,
    compacted_table: str | None = None,
    compacted_upto: int | None = None,
):
    """The per-micro-batch curation step, exposed for direct testing and
    for embedding in a custom foreachBatch pipeline.

    The survivors' signature directory has exactly the
    ``streaming.dedup`` layout, so the SAME compaction lifecycle
    applies: fold it with ``streaming.dedup.compact_stream_index``,
    re-create this handler with ``compacted_table`` (watermark read
    from the generation's sidecar; ``compacted_upto`` is the
    replay/testing override), then ``prune_folded_partitions`` — the
    history leg of the near-dup gate switches to the exchange-free
    bucketed generation plus the raw tail.  As the tail regrows,
    rotate generations with ``streaming.dedup.refold_stream_index``
    (same switchover sequence; measured at 10× in
    ``examples/run_streaming_ingest.py --scale``) — or run UNATTENDED
    via :func:`make_auto_refold_ingest_handler` below: the library
    wrapper that consults ``streaming.dedup.maybe_refold`` between
    batches and carries the returned generation config itself
    (``examples/run_streaming_ingest.py --auto-refold`` drives exactly
    that wrapper at 10×).

    Clean sink rows: (doc_id, text, ..., ttr_ppm, shard, batch_id).
    Rejected sink rows: (doc_id, reason, detail, batch_id) where reason ∈
    {'quality', 'contaminated', 'near_dup'} and detail carries the gate
    score / overlap count / earliest duplicate id.

    With ``stats_dir`` set, each batch also writes the SURVIVORS'
    (source, n_docs, n_tokens) partial aggregate into the incremental
    stats table (streaming/stats.py) — mixture weights over the curated
    corpus then fold partials instead of rescanning the clean sink.

    With ``occupancy_dir`` set, each batch also writes its
    ``band_occupancy`` histogram (occupancy, n_keys, candidate_pairs,
    batch_id) — the loud hot-key monitor for the pair-generation family:
    a crawl batch dominated by one boilerplate page shows up as a row
    whose candidate_pairs dwarfs the rest, BEFORE the index it feeds can
    accumulate the skew.

    The batch's verdict — the rejected frame, the union of the quality,
    contamination and near-dup rejects — is computed ONCE and persisted;
    the clean, stats and index sinks are derived from it as anti-joins.
    Sinks are written in the order clean, rejected, occupancy, stats,
    index: the index sink goes LAST because a write to a path makes Spark
    re-cache every cached plan that reads that path, and the verdict
    reads ``index_dir`` (the history leg of the near-dup gate) — writing
    the index any earlier would make every later sink recompute the
    whole dedup stage.
    """
    from pyspark.errors import AnalysisException

    from video_etl_spark.llm_ops.dedup import (
        band_candidates,
        band_candidates_against_rows,
        band_candidates_within,
        band_occupancy,
        minhash_band_signatures,
    )
    from video_etl_spark.llm_ops.export import shard_assignments
    from video_etl_spark.streaming.decontaminate import doc_shingles
    from video_etl_spark.streaming.dedup import (
        _resolve_upto,
        _stored_sig_rows,
        is_missing_source,
    )

    cache: dict[str, DataFrame] = {}
    # watermark memo — semantics in streaming.dedup._resolve_upto
    _upto: list = [compacted_upto, 0]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if "bench" not in cache:
            cache["bench"] = (
                spark.read.parquet(bench_dir).select("s").distinct().persist()
            )
        bench = cache["bench"]

        # persisted frames unpersist in the finally so a failed batch (the
        # retry case) does not leak cached blocks across attempts
        scored = _with_ttr(_scrubbed(batch_df)).persist()
        decontaminated = sigs = rejected = None
        try:
            rej_quality = scored.filter(
                F.col("ttr_ppm") < min_ttr_ppm
            ).select(
                "doc_id",
                F.lit("quality").alias("reason"),
                F.col("ttr_ppm").cast("long").alias("detail"),
            )
            gated = scored.filter(F.col("ttr_ppm") >= min_ttr_ppm)

            hits = (
                doc_shingles(gated.select("doc_id", "text"))
                .join(F.broadcast(bench), "s")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_overlap"))
            )
            rej_contam = hits.select(
                "doc_id",
                F.lit("contaminated").alias("reason"),
                F.col("n_overlap").cast("long").alias("detail"),
            )
            # persisted: feeds the signature build and the survivor
            # anti-join — without it the shingle subtree of the
            # decontamination join recomputes per consumer
            decontaminated = gated.join(hits, "doc_id", "left_anti").persist()

            sigs = minhash_band_signatures(
                decontaminated.select("doc_id", "text"),
                n_bands,
                rows_per_band,
            ).persist()
            # near-dups against EARLIER batches ∪ near-dups WITHIN this
            # batch (earliest id wins in both) — without the intra-batch
            # leg, same-micro-batch copies would all pass and permanently
            # pollute the signature index
            dups = band_candidates_within(sigs, n_bands)
            if compacted_table is not None:
                upto = _resolve_upto(_upto, spark, compacted_table)
                hist_frames = [
                    spark.table(compacted_table).select("doc_id", "band_key")
                ]
                try:
                    hist_frames.append(_stored_sig_rows(
                        spark,
                        index_dir,
                        (F.col("batch_id") > F.lit(upto))
                        & (F.col("batch_id") < F.lit(batch_id)),
                        n_bands,
                    ))
                except AnalysisException as e:
                    # raw dir gone: fully folded; any other analysis
                    # failure raises (see streaming.dedup.is_missing_source)
                    if not is_missing_source(e):
                        raise
                dups = dups.unionByName(
                    band_candidates_against_rows(sigs, hist_frames, n_bands)
                )
            else:
                try:
                    hist = spark.read.parquet(index_dir).where(
                        F.col("batch_id") < F.lit(batch_id)
                    )
                except AnalysisException as e:
                    if not is_missing_source(e):
                        raise
                    hist = None  # first batch: no index yet
                if hist is not None:
                    dups = dups.unionByName(
                        band_candidates(sigs, hist, n_bands)
                    )
            dups = dups.groupBy("new_doc").agg(
                F.min("dup_of").alias("dup_of"),
                F.sum("n_candidates").alias("n_candidates"),
            )
            rej_dup = dups.select(
                F.col("new_doc").alias("doc_id"),
                F.lit("near_dup").alias("reason"),
                F.col("dup_of").cast("long").alias("detail"),
            )
            # the batch's verdict, computed once: every sink below reads
            # it, and the three reject sets are disjoint, so anti-joining
            # the whole verdict removes exactly the near-dups from the
            # decontaminated docs and their signatures
            rejected = (
                rej_quality.unionByName(rej_contam)
                .unionByName(rej_dup)
                .persist()
            )
            survivors = decontaminated.join(
                rejected.select("doc_id"), "doc_id", "left_anti"
            )
            surviving_sigs = sigs.join(
                rejected.select("doc_id"), "doc_id", "left_anti"
            )
            clean = shard_assignments(survivors, n_shards)

            sinks = [(clean, clean_dir), (rejected, rejected_dir)]
            if occupancy_dir is not None:
                sinks.append((band_occupancy(sigs, n_bands), occupancy_dir))
            if stats_dir is not None:
                from video_etl_spark.streaming.stats import batch_partial

                sinks.append((batch_partial(survivors), stats_dir))
            # only SURVIVORS' signatures join the index: a rejected
            # near-dup must not shadow later copies of text it was itself
            # rejected for
            sinks.append((surviving_sigs, index_dir))
            # sink order: clean, rejected, occupancy, stats, then the index
            # LAST — writing a path re-caches every cached plan that reads
            # it, the verdict included (its history leg reads index_dir),
            # so a sink written after the index would recompute the dedup
            # stage
            for df, out in sinks:
                (
                    df.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(out)
                )
        finally:
            scored.unpersist()
            for df in (decontaminated, sigs, rejected):
                if df is not None:
                    df.unpersist()

    return handle


def make_auto_refold_ingest_handler(
    index_dir: str,
    bench_dir: str,
    clean_dir: str,
    rejected_dir: str,
    compacted_table: str,
    tail_threshold: int = 98,
    files_per_bucket: int = 1,
    **handler_kwargs,
):
    """:func:`make_ingest_handler` under the UNATTENDED generation-
    rotation policy — the library form of the quiesce → ``maybe_refold``
    → carry config → re-create handler sequence (round-11 verdict #4;
    previously only the measured reference loop in
    ``examples/run_streaming_ingest.py --auto-refold``, which now drives
    this helper).

    ``compacted_table`` is the CURRENT generation: the stream must
    already be folded once (``streaming.dedup.compact_stream_index`` —
    an explicit capacity decision, not a policy default).  Returns a
    ``streaming.dedup.AutoRefoldHandler``: call it per micro-batch (or
    hand it to ``foreachBatch``); it consults the policy between
    batches, rotates its inner ingest handler when the raw tail crosses
    ``tail_threshold``, and logs fired configs in ``.rotations``.  See
    ``AutoRefoldHandler`` for the retry and restart discipline.
    ``handler_kwargs`` pass through to :func:`make_ingest_handler`
    (min_ttr_ppm, n_shards, bands, stats/occupancy sinks, …).
    """
    from video_etl_spark.streaming.dedup import AutoRefoldHandler

    def factory(table: str):
        return make_ingest_handler(
            index_dir,
            bench_dir,
            clean_dir,
            rejected_dir,
            compacted_table=table,
            **handler_kwargs,
        )

    return AutoRefoldHandler(
        factory,
        index_dir,
        compacted_table,
        tail_threshold=tail_threshold,
        files_per_bucket=files_per_bucket,
    )


def streaming_ingest_curation(
    docs: DataFrame,
    index_dir: str,
    bench_dir: str,
    clean_dir: str,
    rejected_dir: str,
    **kwargs,
):
    """Build the streaming curation writer over a (doc_id, text, source,
    ...) crawl stream.  Returns a ``DataStreamWriter`` — the caller sets
    checkpointLocation and trigger and calls ``start()``."""
    return docs.writeStream.foreachBatch(
        make_ingest_handler(
            index_dir, bench_dir, clean_dir, rejected_dir, **kwargs
        )
    )
