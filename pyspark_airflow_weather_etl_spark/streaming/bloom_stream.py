"""Streaming Bloom-filter maintenance — the membership artifact kept
current at ingest latency (the cms_stream/pca_stream store pattern,
with a stronger algebra): per-batch word partials merge by bitwise
OR, which is commutative, associative AND IDEMPOTENT — so the filter
cut from the store is bit-identical to the one-shot build for any
batch split, any arrival order, and even DOUBLE-COUNTED batches
(at-least-once delivery cannot corrupt a bloom the way it corrupts a
counter). Batch-keyed partitions are still written (uniform store
layout, sealing-compatible, and the batch column documents
provenance), but correctness does not depend on them.

The production loop: the crawler streams documents in; every batch's
n-gram digests fold into filter words; any later job loads the
current filter (one bit_or aggregation over batches x set-words
rows, bounded by filter size) and pre-filters ITS corpus map-side —
dedup / decontamination against an ever-growing history without ever
joining against it.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import bloom_build
from ..sources.writers import write_parquet_partitioned

_run_ids = itertools.count()


def run_streaming_bloom(
    spark: SparkSession,
    doc_path: str,
    out_path: str,
    schema,
    key_fn,
    m_bits: int,
    k: int = 4,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``doc_path``; per micro-batch build the batch's filter
    words (``key_fn(batch)`` must return a DataFrame with the key
    set in a column named ``__key``) and write them under
    ``out_path/batch=<id>``."""
    from ..session import streaming_session

    spark = streaming_session(spark)

    def process(batch: DataFrame, batch_id: int) -> None:
        words = bloom_build(key_fn(batch), "__key", m_bits, k).withColumn(
            "batch", F.lit(batch_id)
        )
        write_parquet_partitioned(words, out_path, ("batch",))

    name = f"bloom_words_{next(_run_ids)}"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(doc_path)
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


def bloom_words_from_store(spark: SparkSession, out_path: str) -> DataFrame:
    """The current filter from the streaming store: bitwise OR across
    batches — bit-identical to the one-shot build over everything
    ingested (OR is idempotent, so replayed or duplicated batches
    change nothing)."""
    return (
        spark.read.schema("word_idx long, word long, batch long")
        .parquet(out_path)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
