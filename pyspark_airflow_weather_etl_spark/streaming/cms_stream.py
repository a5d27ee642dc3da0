"""Streaming count-min sketch — frequency tracking at ingest latency
with the exact-additivity guarantee (the pca_stream argument applied
to counts): per-batch sketch cells are INTEGER counts, integer adds
commute and associate, so the sketch cut from the streaming store is
BIT-IDENTICAL to the one-shot batch ``operators.sketch.cms_build``
over the union corpus — any batch split, any arrival order, any
partitioning.

Each micro-batch reduces to at most ``d*w`` integer rows under
``out_path/batch=<id>`` (batch-keyed dynamic overwrite — a replayed
batch rewrites its own partition, so crash replay never
double-counts). Cutting the current sketch is one tiny aggregation
over ``batches x d*w`` rows. The production shape: documents trickle
in from the crawler, the frequency artifact is always current, and
any job can probe it broadcast-side without a vocabulary-sized state
store — the bounded-memory alternative to a streaming
``groupBy(token).count()`` whose state grows with the key domain.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import cms_build
from ..sources.writers import write_parquet_partitioned

_run_ids = itertools.count()


def run_streaming_cms(
    spark: SparkSession,
    doc_path: str,
    out_path: str,
    schema,
    key_fn,
    w: int,
    d: int = 4,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``doc_path``; per micro-batch build the batch's sketch
    cells (``key_fn(batch)`` must return a DataFrame with the key
    multiset in a column named ``__key``) and write them under
    ``out_path/batch=<id>``."""
    from ..session import streaming_session

    spark = streaming_session(spark)

    def process(batch: DataFrame, batch_id: int) -> None:
        cells = cms_build(key_fn(batch), "__key", w=w, d=d).withColumn(
            "batch", F.lit(batch_id)
        )
        write_parquet_partitioned(cells, out_path, ("batch",))

    name = f"cms_cells_{next(_run_ids)}"
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


def cms_cells_from_store(spark: SparkSession, out_path: str) -> DataFrame:
    """The current sketch TABLE from the streaming store: cell-wise
    integer sum across batches — bit-identical to the one-shot
    ``cms_build`` over everything ingested (sum of longs; a sketch
    cell cannot exceed the total stream length, so no decimal
    accumulator is needed for counts)."""
    return (
        spark.read.schema("row_idx int, bucket long, cnt long, batch long")
        .parquet(out_path)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
