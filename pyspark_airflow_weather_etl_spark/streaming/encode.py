"""Streaming tokenize-to-ids against an at-rest vocabulary artifact —
the ingest→tokenize leg of the trainer chain at streaming latency:
documents arrive as micro-batches, each batch encodes with the SAME
persisted vocabulary (built once at bootstrap — the tokenizer
artifact every production encode job loads, exactly like the stored
centroid table of :mod:`.semantic_dedup` and the merge-rule artifact
of ``operators.bpe.bpe_save_merges``), and the encoded rows land
batch-keyed.

Because encoding is a STATELESS per-document map given a fixed
vocabulary, the union of per-batch outputs equals the one-shot batch
encode of the same corpus for ANY batch decomposition and arrival
order — so the catalog entry hash-matches the SAME DuckDB oracle as
the batch ``encode_documents_vocab`` entry, proving the streaming
decomposition loses and invents nothing.

Crash-replay idempotency: outputs land in ``out/batch=<id>``
partitions with dynamic overwrite (the ADVICE-r8 batch-keyed idiom of
the MinHash/semantic index appends), so a replayed batch overwrites
its own partition instead of double-appending — the reader needs no
distinct.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import encode_documents
from ..sources.writers import write_parquet_partitioned

_run_ids = itertools.count()


def run_streaming_encode(
    spark: SparkSession,
    doc_path: str,
    vocab_path: str,
    out_path: str,
    schema,
    checkpoint_dir: str | None = None,
    oov_id: int = 0,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``doc_path`` for document files; per micro-batch encode
    against the vocabulary at ``vocab_path`` (must exist BEFORE the
    stream starts — ``operators.text.build_vocab`` output written as
    parquet) and append ``(doc_id, token_ids, n_tokens)`` batch-keyed
    to ``out_path``. ``availableNow`` drains the staged files; a live
    deployment drops the trigger and tails forever.

    The vocabulary frame is resolved once here, not per batch — the
    artifact is immutable by contract (a vocab change is a new
    artifact path and a new stream), and each batch's broadcast join
    re-ships only the vocab-sized table."""
    from ..session import streaming_session

    spark = streaming_session(spark)
    vocab = spark.read.parquet(vocab_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        out = encode_documents(batch, vocab, oov_id=oov_id)
        write_parquet_partitioned(
            out.withColumn("batch", F.lit(batch_id)), out_path, ("batch",)
        )

    name = f"encode_{next(_run_ids)}"
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


def read_encoded(spark: SparkSession, out_path: str) -> DataFrame:
    """All encoded rows so far (batch partition column dropped — the
    batch-keyed layout is a replay-idempotency mechanism, not part of
    the logical output)."""
    return spark.read.parquet(out_path).drop("batch")
