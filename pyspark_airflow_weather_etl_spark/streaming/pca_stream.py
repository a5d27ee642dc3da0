"""Streaming PCA moment accumulation — model maintenance at ingest
latency with an EXACTNESS guarantee no float pipeline can make: the
per-batch moment partials (``operators.pca.moment_partials``) are
INTEGER sums, integers are exactly additive, so the model trained
from the streaming store is BIT-IDENTICAL to the one-shot batch
``pca_train`` over the union corpus — for any batch decomposition,
any arrival order, any partitioning (pinned by pytest equality on
the full artifact dict).

Each micro-batch reduces to at most 1 + d + d(d+1)/2 integer rows
(batch-keyed dynamic overwrite — crash-replay idempotent); training
reads the store, performs one tiny DECIMAL(38,0) aggregation over
``batches × d²`` rows, and runs the shared driver-side eigh. The
production shape: embeddings trickle in from the encoder fleet,
moments fold per trigger, anyone can cut a PCA artifact at any time
without touching the corpus.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pca import (
    moment_partials,
    moments_from_rows,
    train_from_moments,
)
from ..sources.writers import write_parquet_partitioned

_run_ids = itertools.count()


def run_streaming_pca_moments(
    spark: SparkSession,
    vec_path: str,
    out_path: str,
    schema,
    vec_col: str = "embedding",
    d: int = 64,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``vec_path``; per micro-batch fold the batch's vectors
    into exact integer moment rows under ``out_path/batch=<id>``
    (dynamic overwrite — a replayed batch rewrites its own partition,
    so the store never double-counts)."""
    from ..session import streaming_session

    spark = streaming_session(spark)

    def process(batch: DataFrame, batch_id: int) -> None:
        rows = (
            moment_partials(batch, vec_col, d)
            .groupBy("i", "j")
            .agg(F.sum("v").alias("v"))
            .withColumn("batch", F.lit(batch_id))
        )
        write_parquet_partitioned(rows, out_path, ("batch",))

    name = f"pca_moments_{next(_run_ids)}"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(vec_path)
        .writeStream.foreachBatch(process)
        .outputMode("append")
        .queryName(name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.awaitTermination()
    finally:
        q.stop()


def pca_train_from_store(
    spark: SparkSession, out_path: str, d: int, k: int = 16
) -> dict:
    """Cut a PCA artifact from the streaming moment store: one exact
    DECIMAL(38,0) aggregation over the tiny store, then the shared
    driver-side factorization — bit-identical to the one-shot
    ``pca_train`` over the same vectors."""
    rows = (
        spark.read.schema("i int, j int, v long, batch long")
        .parquet(out_path)
        .groupBy("i", "j")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
        .collect()
    )
    n, s, ss = moments_from_rows(rows, d)
    return train_from_moments(n, s, ss, d, k)
