"""Streaming EMBEDDING ingest (SURVEY §2.8 ⊕ U21/U22 — the vector-side
twin of ``streaming/curation.py``'s document path).

A continuous embedding feed (fresh crawl embeddings, user uploads, model
re-encodes) is curated per micro-batch:

1. SEMANTIC DEDUP GATE — each batch's vectors are checked against the
   persistent vector index with the asymmetric LSH bucket join
   (``llm_ops.dedup.incremental_embedding_dedup``: new×history only,
   never history×history) AND against the batch itself (intra-batch
   copies must not both survive: the same earliest-wins discipline the
   text curation path enforces).
2. CLASSIFY — survivors get a nearest-centroid ``center_id`` via the
   stateless serving expression (``streaming/classify.py``), so the sink
   is already topic-routed for downstream consumers (IVF cells, per-topic
   mixing).
3. SINKS — accepted vectors land in ``clean_dir`` (with center_id),
   rejected ones in ``rejected_dir`` (with dup_of + max_cos evidence);
   survivors' vectors append to ``index_dir`` so later batches dedup
   against them.  All three are ``batch_id``-partitioned with dynamic
   partition overwrite — the repo's standard idempotent-retry discipline.

Intra-batch dedup semantics: within a batch, the LOWEST id of a duplicate
group survives (deterministic, order-free) — implemented with the same
asymmetric join run batch×batch restricted to new_id > old_id.

At 100 TB the index holds vectors keyed for the bucket join; per-batch
cost tracks the batch and its bucket collisions, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from video_etl_spark.llm_ops.dedup import incremental_embedding_dedup

INDEX_SCHEMA = "vec_id bigint, embedding array<double>, batch_id bigint"


def make_vector_ingest_handler(
    index_dir: str,
    clean_dir: str,
    rejected_dir: str,
    centers: DataFrame,
    threshold: float = 0.9,
):
    """Per-micro-batch step, exposed for direct testing (retry
    idempotence) and custom pipelines.  ``centers`` is a (center_id,
    c: array<bigint>) frame (e.g. kmeans_lloyd output re-assembled);
    its literals are captured once at handler build."""
    from pyspark.errors import AnalysisException

    from video_etl_spark.streaming.classify import (
        center_literals,
        nearest_center_col,
        quantize_embedding,
    )

    lits = center_literals(centers)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).persist()
        dups = None
        try:
            try:
                hist = (
                    spark.read.schema(INDEX_SCHEMA)
                    .parquet(index_dir)
                    # a RETRIED batch must not match its own partial write
                    .filter(F.col("batch_id") < F.lit(batch_id))
                    .select("vec_id", "embedding")
                )
            except AnalysisException:
                hist = None

            if hist is not None:
                dups = incremental_embedding_dedup(
                    batch, hist, threshold=threshold, id_col="vec_id"
                ).select("new_id", "dup_of", "max_cos")
            # intra-batch: earliest (lowest) id wins — asymmetric join of
            # the batch against itself restricted to new_id > old_id
            intra = incremental_embedding_dedup(
                batch,
                batch,
                threshold=threshold,
                id_col="vec_id",
                # drop self-pairs and enforce lowest-id-wins BEFORE the
                # aggregation, so max_cos is the real best duplicate
                # similarity, not cos(x,x)=1
                pair_predicate="new_id > old_id",
            ).select("new_id", "dup_of", "max_cos")
            dups = intra if dups is None else dups.unionByName(intra)
            # persisted: the clean, rejected and index sinks all read the
            # verdict, which would otherwise re-run both cosine joins per
            # sink
            dups = dups.groupBy("new_id").agg(
                F.min("dup_of").alias("dup_of"),
                F.max("max_cos").alias("max_cos"),
            ).persist()

            rejected = dups.select(
                F.col("new_id").alias("vec_id"),
                F.lit("near_dup").alias("reason"),
                F.col("dup_of").cast("long").alias("dup_of"),
                F.col("max_cos").cast("double").alias("max_cos"),
            )
            survivors = batch.join(
                dups.select(F.col("new_id").alias("vec_id")),
                "vec_id",
                "left_anti",
            )
            clean = quantize_embedding(survivors).select(
                "vec_id",
                "embedding",
                nearest_center_col(lits).alias("center_id"),
            )

            # the index goes LAST: writing a path re-caches every cached
            # plan that reads it, and the verdict reads ``index_dir``
            for df, out in (
                (clean, clean_dir),
                (rejected, rejected_dir),
                (survivors, index_dir),
            ):
                (
                    df.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(out)
                )
        finally:
            batch.unpersist()
            if dups is not None:
                dups.unpersist()

    return handle


def streaming_vector_ingest(
    vecs: DataFrame,
    index_dir: str,
    clean_dir: str,
    rejected_dir: str,
    centers: DataFrame,
    **kwargs,
):
    """Build the streaming vector-ingest writer over a (vec_id, embedding)
    stream.  Returns a ``DataStreamWriter`` — caller sets
    checkpointLocation/trigger and calls ``start()``."""
    return vecs.writeStream.foreachBatch(
        make_vector_ingest_handler(
            index_dir, clean_dir, rejected_dir, centers, **kwargs
        )
    )
