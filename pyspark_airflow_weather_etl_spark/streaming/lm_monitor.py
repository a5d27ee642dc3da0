"""Streaming perplexity scoring against a FROZEN reference-LM
artifact — CCNet's deployment shape at INGEST latency: the bigram LM
trains ONCE on the reference corpus and persists
(``operators.text.bigram_lm_save``), then every arriving document
micro-batch scores against that artifact and lands batch-keyed with
its surprisal and OOV counts — the domain-shift / fluency monitor a
crawl pipeline runs at the door.

Scoring is a STATELESS pure function of (document, artifact): counts
are integers, the only float is the per-doc ``round(avg(ln …), 6)``
over that doc's own bigrams — so the union of per-batch outputs
equals the one-shot :func:`...operators.text.lm_bigram_score_against`
of the same corpus for ANY batch decomposition, and the catalog entry
hash-matches the SAME DuckDB oracle as the batch
``lm_reference_score_documents`` entry.

Crash-replay idempotency: ``out/batch=<id>`` dynamic overwrite (the
batch-keyed idiom).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import bigram_lm_load, lm_bigram_score_against
from ..sources.writers import write_parquet_partitioned

_run_ids = itertools.count()


def run_streaming_lm_score(
    spark: SparkSession,
    doc_path: str,
    model_path: str,
    out_path: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``doc_path``; per micro-batch score against the frozen LM
    artifact at ``model_path`` (must exist BEFORE the stream starts)
    and append ``(id, n_bigrams, n_oov_bigrams, avg_neg_logprob)``
    batch-keyed to ``out_path``. The artifact's count tables resolve
    once here and are re-read per batch join — model-sized, immutable
    by contract (a retrain is a new path and a new stream)."""
    from ..session import streaming_session

    spark = streaming_session(spark)
    model = bigram_lm_load(spark, model_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        out = lm_bigram_score_against(batch, model, id_col, text_col)
        write_parquet_partitioned(
            out.withColumn("batch", F.lit(batch_id)), out_path, ("batch",)
        )

    name = f"lm_score_{next(_run_ids)}"
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


def read_lm_scores(spark: SparkSession, out_path: str) -> DataFrame:
    """All scored rows so far (batch column dropped — replay
    mechanism, not logical output)."""
    return spark.read.parquet(out_path).drop("batch")
