"""Similarity search over an embedding column (array<float>).

North-star extension (SURVEY.md §2.9): brute-force cosine top-k as
the exact baseline, and a random-hyperplane (SRP) LSH variant as the
scale path — at 100 TB the LSH bucket join touches a small candidate
set per query instead of every vector.

Scoring and ranking are JVM expressions (zip_with/aggregate fold —
see functions.vectors), deterministic regardless of partitioning.
SRP signature computation defaults to an Arrow-batched numpy matmul
(``srp_signature(impl='arrow')`` — the documented exception to the
built-ins-first rule; a pure-JVM expression form remains as
``impl='expr'``); both forms are seeded and deterministic. The
hyperplanes derive from a fixed seed and either enter the plan as
literals (~4 KB at 64 dims × 16 planes — broadcast-trivial) or are
regenerated inside the UDF, so nothing is closure-captured.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import claim_group, persist_into
from ..functions.vectors import cosine_similarity, dot, l2_norm, pair_dot_arrow
from ..sources import indexstore as store
from ..sources.writers import write_parquet_partitioned

SEED = 42

#: vector index layouts (``docs/overlap_contract.md``; every family's
#: overlap strategy is FOLD latest-wins over the pruned probe slice).
#: SQ8: (id, code, vec) rows under the frozen quantizer ``meta``.
SQ8 = store.Layout(
    subtrees=(("rows", ("batch",)),),
    manifest=store.VECTOR_MANIFEST,
    frozen=("meta",),
)
#: SRP: one (id, vec) row per (LSH table, vector) under t=/bucket=;
#: the fold keeps one row per (id, table), the manifest counts the
#: t=0 slice (one row per vector).
SRP = store.Layout(
    subtrees=(("rows", ("batch", "t", "bucket")),),
    manifest=store.VECTOR_MANIFEST,
    frozen=("meta",),
    fold_by=("t",),
    per_id=lambda rows: rows.where(F.col("t") == 0),
)
#: IVF and its fixed twin: rows under ivf_cell=, frozen centroids
#: (the creation marker) after ``meta``.
IVF = store.Layout(
    subtrees=(("rows", ("batch", "ivf_cell")),),
    manifest=store.VECTOR_MANIFEST,
    frozen=("meta", "centroids"),
)


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector.

    The query enters the plan as a literal array (no join, no
    broadcast variable); ranking is TakeOrderedAndProject — a per-
    partition k-heap, so memory is O(k) however many vectors scan by.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def sq8_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    overfetch: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN — the OTHER standard vector
    compression next to PQ (FAISS's ``SQ8``): each dimension is
    affinely mapped to one byte using the corpus per-dimension
    min/max, the coarse pass ranks by integer L2 in code space (4×
    smaller scans than float32, no codebook training), and the
    overfetched top ``overfetch*k`` re-rank by exact full-precision
    cosine. Unlike PQ/OPQ (trained codebooks ⇒ rows-only + fixed
    twins), the ENTIRE route is hash-exact: min/max are exact
    order-insensitive aggregates, the quantizer is per-value IEEE
    arithmetic both engines evaluate identically (one subtract, one
    multiply by a driver-computed scale, one floor, one clamp — no
    accumulation anywhere), and the coarse distance is an integer
    sum, so the DuckDB oracle replays every code byte and both cut
    boundaries.

    Scale shape: ONE corpus-width min/max aggregation (d columns, a
    bounded driver artifact re-entering as plan literals — the
    pca_project_fixed discipline), then a single JVM-codegen scan;
    ranking is TakeOrderedAndProject, memory O(candidates)."""
    d = len(query_vec)
    mn, sc = _sq8_params(embeddings, d, vec_col)
    qq = [
        max(0, min(255, math.floor((float(query_vec[j]) - mn[j]) * sc[j])))
        for j in range(d)
    ]
    codes = _sq8_codes(vec_col, mn, sc)
    qq_arr = F.array(*[F.lit(int(v)).cast("bigint") for v in qq])
    d2 = F.aggregate(
        F.zip_with(codes, qq_arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    coarse = (
        embeddings.select(F.col(id_col), d2.alias("__d2"))
        .orderBy(F.col("__d2").asc(), F.col(id_col))
        .limit(int(overfetch * k))
    )
    qfull = F.array(*[F.lit(float(v)) for v in query_vec])
    rerank = coarse.join(embeddings.select(id_col, vec_col), id_col).select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), qfull), 6).alias("cosine"),
    )
    return rerank.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _sq8_params(embeddings: DataFrame, d: int, vec_col: str):
    """Exact per-dimension (min, scale) of the SQ8 affine quantizer —
    one corpus-width aggregation, a bounded driver artifact."""
    x = F.col(vec_col)
    agg = embeddings.agg(
        *[
            f(x[j].cast("double")).alias(f"{n}{j}")
            for j in range(d)
            for n, f in (("mn", F.min), ("mx", F.max))
        ]
    ).collect()[0]
    mn = [float(agg[f"mn{j}"]) for j in range(d)]
    mx = [float(agg[f"mx{j}"]) for j in range(d)]
    sc = [255.0 / (mx[j] - mn[j]) if mx[j] > mn[j] else 0.0 for j in range(d)]
    return mn, sc


def _sq8_codes(vec_col: str, mn: list[float], sc: list[float]) -> F.Column:
    """The per-value IEEE quantizer as a JVM expression — shared by
    the ad-hoc scan and the index writer so at-rest codes are
    bit-identical to ad-hoc ones."""
    mn_arr = F.array(*[F.lit(v) for v in mn])
    sc_arr = F.array(*[F.lit(v) for v in sc])
    return F.zip_with(
        F.zip_with(
            F.transform(F.col(vec_col), lambda v: v.cast("double")),
            mn_arr,
            lambda a, b: a - b,
        ),
        sc_arr,
        lambda dlt, s: F.greatest(
            F.lit(0).cast("bigint"),
            F.least(F.lit(255).cast("bigint"), F.floor(dlt * s)),
        ),
    )


def _sq8_unclamped(vec_col: str, mn: list[float], sc: list[float]) -> F.Column:
    """The quantizer WITHOUT the [0,255] clamp — the drift guard's
    view: values outside the frozen per-dimension range quantize to
    codes <0 or >255 before clamping. A dimension CONSTANT at fit time
    has sc=0 (every value quantizes to code 0), which would hide
    arbitrary drift in that dimension from the clamp count — so a
    degenerate dimension emits the sentinel -1 (counted as clamped)
    whenever a value differs from the frozen constant; the delta
    comparison is exact because equal doubles subtract to exactly 0
    (ADVICE round 13)."""
    mn_arr = F.array(*[F.lit(v) for v in mn])
    sc_arr = F.array(*[F.lit(v) for v in sc])
    return F.zip_with(
        F.zip_with(
            F.transform(F.col(vec_col), lambda v: v.cast("double")),
            mn_arr,
            lambda a, b: a - b,
        ),
        sc_arr,
        lambda dlt, s: F.when(
            s == 0.0,
            F.when(dlt != 0.0, F.lit(-1).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        ).otherwise(F.floor(dlt * s)),
    )


def sq8_index_append(
    embeddings: DataFrame,
    path: str,
    batch_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Append one vector batch to an SQ8 index — the
    :func:`..operators.retrieval.bm25_index_append` lifecycle applied
    to the scalar-quantized family: O(batch) work per crawl
    increment, nothing at rest re-read, batch-keyed dynamic partition
    overwrite so a replayed batch lands identical bytes.

    Quantizer params are FROZEN at index creation (batch 0 trains
    them; every later batch encodes with the stored min/scale) —
    re-fitting per batch would silently re-code nothing-at-rest and
    desynchronize coarse distances across batches. The cost of
    freezing is DRIFT: a later batch whose values fall outside the
    frozen per-dimension [min, max] clamps lossily to 0/255, so every
    append returns ``clamped_frac`` — the fraction of this batch's
    values that clamped — as the re-fit signal (a monitoring pipeline
    alerts past a few percent and schedules a full rebuild; the
    probe stays correct meanwhile because the exact re-rank uses raw
    vectors, only coarse RECALL degrades).

    Returns {"batch", "n_rows", "n_values", "clamped_frac"}."""
    spark = embeddings.sparkSession
    meta = store.open_frozen(spark, path, SQ8, "SQ8")
    if meta is None:
        d = len(embeddings.select(vec_col).first()[0])
        mn, sc = _sq8_params(embeddings, d, vec_col)
        store.persist_frozen(
            path,
            SQ8,
            {
                "meta": spark.createDataFrame(
                    [(mn, sc)], "mn array<double>, sc array<double>"
                )
            },
        )
    else:
        mn = [float(v) for v in meta["mn"]]
        sc = [float(v) for v in meta["sc"]]
    embeddings = store.cast_to_stored(
        spark, path, SQ8, embeddings, (id_col, vec_col)
    )
    raw = _sq8_unclamped(vec_col, mn, sc)
    guard = embeddings.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.size(F.col(vec_col))).alias("n_values"),
        F.sum(
            F.size(F.filter(raw, lambda c: (c < 0) | (c > 255)))
        ).alias("n_clamped"),
    ).collect()[0]
    # per-batch id-range manifest: when every batch's vec_id range is
    # pairwise disjoint — the append-only crawl common case — the
    # at-rest probe skips its latest-wins fold entirely
    codes = F.transform(
        _sq8_codes(vec_col, mn, sc), lambda v: v.cast("smallint")
    )
    store.append(
        spark,
        path,
        SQ8,
        batch_id,
        {"rows": embeddings.select(id_col, codes.alias("code"), vec_col)},
        embeddings,
        id_col,
    )
    n_values = int(guard["n_values"] or 0)
    rep = {
        "batch": batch_id,
        "n_rows": int(guard["n_rows"]),
        "n_values": n_values,
        "clamped_frac": (
            int(guard["n_clamped"] or 0) / n_values if n_values else 0.0
        ),
    }
    # append-only drift log — sq8_drift_report's per-batch history for
    # batch AND streaming pipelines alike
    store.write_drift(
        spark,
        path,
        batch_id,
        n_rows=rep["n_rows"],
        n_values=n_values,
        clamped_frac=float(rep["clamped_frac"]),
    )
    return rep


def sq8_drift_report(
    spark,
    index_path: str,
    refit_threshold: float = 0.02,
    live: str = "sample",
    sample_fraction: float = 0.01,
) -> dict:
    """Should this SQ8 index be RE-FIT? — the maintenance decision
    the frozen-quantizer contract requires (sq8_index_append freezes
    min/scale at creation; a shifted corpus clamps). Reads the
    append-time drift log (one row per batch:
    streaming/sq8_index.py writes it; batch builds can append theirs)
    plus a LIVE estimate against the stored params over the at-rest
    rows — the log says how drift arrived, the estimate what the index
    looks like now — and recommends a re-fit when the live clamped
    fraction exceeds ``refit_threshold`` (coarse-recall damage is
    gradual: clamped dimensions collapse to code 0/255, so distances
    involving them lose resolution; the exact re-rank keeps answers
    correct, which is why this is a RECALL alert, not a correctness
    gate).

    ``live`` picks how the estimate is produced — at 100 TB a
    maintenance call must not imply a full index scan (VERDICT
    round 13; the DEFAULT flipped to the scale-safe ``'sample'`` in
    round 15 per VERDICT r14 — a maintenance decision should never
    default to a full index scan; ``'full'`` stays opt-in for exact
    audits):

    - ``'full'``: exact recount over every at-rest value.
    - ``'sample'`` (default): recount over ``rows.sample(sample_fraction)``
      (seeded — the decision is reproducible). Treating sampled
      values as Bernoulli(p) draws, the estimator's standard error is
      ``sqrt(p(1-p) / n_sampled_values)`` — at the default 1% of a
      10⁹-value index that is ~4e-5 against a 0.02 threshold, so the
      sampled decision only wavers when the true fraction sits within
      a hair of the threshold (exactly when either answer is
      defensible). The report carries ``live_stderr`` so callers can
      widen the alert band if they want hysteresis.
    - ``'off'``: no index read at all — the estimate is the
      n_values-weighted mean of the per-batch drift log (exactly the
      live fraction IF no batch was ever re-delivered with different
      vectors and the log is complete; :func:`sq8_drift_backfill`
      synthesizes the log for pre-log indexes).
    """
    log = store.read_drift(spark, index_path, live)
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    mn = [float(v) for v in meta["mn"]]
    sc = [float(v) for v in meta["sc"]]
    stderr = None
    if live == "off":
        n_values = sum(int(r["n_values"]) for r in log)
        live_frac = (
            sum(float(r["clamped_frac"]) * int(r["n_values"]) for r in log)
            / n_values
            if n_values
            else 0.0
        )
    else:
        rows = spark.read.parquet(f"{index_path}/rows")
        if live == "sample":
            rows = rows.sample(fraction=sample_fraction, seed=SEED)
        vec_col = [
            f.name
            for f in rows.schema.fields
            if f.name not in ("code", "batch")
            and "array" in f.dataType.simpleString()
            and "smallint" not in f.dataType.simpleString()
        ][0]
        raw = _sq8_unclamped(vec_col, mn, sc)
        cnt = rows.agg(
            F.sum(F.size(F.col(vec_col))).alias("n_values"),
            F.sum(
                F.size(F.filter(raw, lambda c: (c < 0) | (c > 255)))
            ).alias("n_clamped"),
        ).collect()[0]
        n_values = int(cnt["n_values"] or 0)
        live_frac = (
            int(cnt["n_clamped"] or 0) / n_values if n_values else 0.0
        )
        if live == "sample" and n_values:
            stderr = math.sqrt(live_frac * (1.0 - live_frac) / n_values)
    return {
        "live_mode": live,
        "live_clamped_frac": live_frac,
        "live_stderr": stderr,
        "n_values": n_values,
        "batches_logged": len(log),
        "max_batch_clamped_frac": max(
            (r["clamped_frac"] for r in log), default=0.0
        ),
        "refit_threshold": refit_threshold,
        "refit_recommended": live_frac > refit_threshold,
    }


def sq8_drift_backfill(spark, index_path: str) -> int:
    """Synthesize the per-batch drift log from the at-rest tree — the
    once-per-index migration for SQ8 trees written before the drift
    log existed (or by old ``sq8_index_write`` builds): recount each
    ``batch=`` partition's clamped fraction against the FROZEN stored
    params and land the rows batch-keyed (idempotent — a re-run
    overwrites each batch's row with identical bytes). After this,
    ``sq8_drift_report(live='off')`` decides from the log alone.
    Returns the number of batch rows written."""
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    mn = [float(v) for v in meta["mn"]]
    sc = [float(v) for v in meta["sc"]]
    rows = spark.read.parquet(f"{index_path}/rows")
    vec_col = [
        f.name
        for f in rows.schema.fields
        if f.name not in ("code", "batch")
        and "array" in f.dataType.simpleString()
        and "smallint" not in f.dataType.simpleString()
    ][0]
    raw = _sq8_unclamped(vec_col, mn, sc)
    per_batch = (
        rows.groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.size(F.col(vec_col))).cast("bigint").alias("n_values"),
            F.sum(
                F.size(F.filter(raw, lambda c: (c < 0) | (c > 255)))
            ).cast("bigint").alias("n_clamped"),
        )
        .select(
            F.col("batch").cast("bigint").alias("batch"),
            "n_rows",
            "n_values",
            F.when(F.col("n_values") > 0,
                   F.col("n_clamped") / F.col("n_values"))
            .otherwise(F.lit(0.0))
            .alias("clamped_frac"),
        )
    )
    n = per_batch.count()
    write_parquet_partitioned(per_batch, f"{index_path}/drift", ("batch",))
    return n


def sq8_index_refit(spark, src_path: str, dst_path: str) -> str:
    """RE-FIT an SQ8 index whose frozen quantizer has drifted: train
    fresh per-dimension min/scale over ALL at-rest vectors (the raw
    column is stored precisely so a re-fit never touches the source
    corpus), re-encode every code, and publish as the next serving
    version under ``dst_path`` — the publish_version crash contract
    (pointer flips last, previous version is rollback, source deltas
    untouched). The refit resets every batch's clamped fraction to
    zero by construction; pair with :func:`sq8_drift_report` for the
    WHEN (alert past a few percent live clamp)."""
    from ..sources.writers import publish_version

    rows = spark.read.parquet(f"{src_path}/rows")
    id_col, _, vec_col = rows.columns[:3]
    # a vec_id re-delivered under a later batch= folds to its LATEST
    # vector BEFORE the refit trains — the output is single-batch,
    # which downstream probes trust to be duplicate-free (ADVICE r13)
    rows = store.latest_wins(rows.select(id_col, vec_col, "batch"), [id_col])
    d = len(rows.select(vec_col).first()[0])
    mn, sc = _sq8_params(rows, d, vec_col)

    def build(vdir: str) -> None:
        store.persist_frozen(
            vdir,
            SQ8,
            {
                "meta": spark.createDataFrame(
                    [(mn, sc)], "mn array<double>, sc array<double>"
                )
            },
        )
        (
            rows.select(
                F.col(id_col),
                F.transform(
                    _sq8_codes(vec_col, mn, sc),
                    lambda v: v.cast("smallint"),
                ).alias("code"),
                F.col(vec_col),
                F.lit(0).cast("bigint").alias("batch"),
            )
            .write.mode("overwrite")
            .partitionBy("batch")
            .parquet(f"{vdir}/rows")
        )
        store.write_manifest(
            spark, vdir, SQ8, 0, spark.read.parquet(f"{vdir}/rows"), id_col
        )

    return publish_version(spark, dst_path, build)


def sq8_index_compact(spark, src_path: str, dst_path: str) -> str:
    """Compact an SQ8 delta tree (one ``batch=`` partition per
    append) into a single-batch index published as the next serving
    version under ``dst_path`` — the
    :func:`..operators.retrieval.positional_index_compact` economics:
    codes are per-vector facts with no cross-batch statistics, so
    compaction is a re-partition that kills the per-delta file-open
    tax, probe results bit-identical by construction. The frozen
    quantizer ``meta`` is copied verbatim (it IS the index identity —
    recomputing it here would re-code nothing-at-rest). A vec_id
    re-delivered under a later ``batch=`` folds to its LATEST row
    here (the compacted tree is single-batch, exactly the shape
    :func:`sq8_topk_at_rest` trusts to be duplicate-free; ADVICE
    round 13). Crash contract: publish_version (via
    :func:`..sources.indexstore.compact`)."""
    return store.compact(spark, src_path, dst_path, SQ8)


def sq8_index_write(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the SQ8 index: quantizer params once under ``meta``
    (the exact corpus min/scale doubles — parquet round-trips them
    bit-exact) and ``rows`` carrying (id, byte codes as
    array<smallint>, raw vector) under ``batch=0``. Codes are
    computed ONCE here at ingest with the same expression the ad-hoc
    scan uses, so the at-rest probe is bit-identical to
    :func:`sq8_topk`; the coarse pass then reads ONLY (id, code) via
    parquet column pruning — the 4×-narrower scan is the point of SQ8
    at 100 TB, and the raw vectors are touched only for the
    overfetched re-rank join. One-shot build = batch 0 of
    :func:`sq8_index_append`; later crawl increments append under
    their own ``batch=`` partition and :func:`sq8_index_compact`
    folds the delta tree into the next serving version."""
    sq8_index_append(embeddings, path, 0, id_col, vec_col)


def sq8_topk_at_rest(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    overfetch: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 ANN against a persisted :func:`sq8_index_write` layout —
    returns exactly the rows of :func:`sq8_topk` (shares its DuckDB
    oracle in the catalog). The query quantizes driver-side from the
    stored params; the coarse integer-L2 pass selects only
    (id, code) — column pruning keeps the raw vectors out of the
    scan (ReadSchema-asserted in tests/test_similarity.py) — and the
    top ``overfetch*k`` join back for the exact cosine re-rank.

    Duplicate-id safety (ADVICE round 13, the positional-postings
    threat model applied to vectors): a vec_id re-delivered under a
    LATER ``batch=`` partition would otherwise appear twice in the
    coarse ranking — duplicate ids in the top-k, displacing real
    neighbors — so on a multi-batch tree both passes fold to one row
    per id, LATEST batch wins (the upsert reading; codes are a pure
    function of the vector, so a re-delivered unchanged vector folds
    to identical bytes either way). The fold is PROVABLY skipped in
    two duplicate-free shapes (the
    :func:`..sources.indexstore.batches_disjoint` logic):
    single-batch trees — one-shot builds or freshly compacted/refit
    ones — and multi-batch trees whose per-append ``rows_manifest``
    id ranges are pairwise disjoint (the append-only crawl case), so
    the correctness fix costs nothing until a re-delivery actually
    overlaps."""
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    mn = [float(v) for v in meta["mn"]]
    sc = [float(v) for v in meta["sc"]]
    d = len(mn)
    qq = [
        max(0, min(255, math.floor((float(query_vec[j]) - mn[j]) * sc[j])))
        for j in range(d)
    ]
    # natural read, NOT a forced schema: the writer persists whatever
    # id / vector element types the source embeddings had (an index
    # built from array<double> vectors or a string id must probe the
    # same way it was written — ADVICE round 12). The ``batch=``
    # partition column IS inferred here (the r13 writer partitions
    # rows/ by batch), which is benign-by-construction for pruning —
    # the coarse pass never selects it on a single-batch tree — and
    # load-bearing for the multi-batch latest-wins fold below. Column
    # pruning still holds: the coarse pass reads only (id, code[,
    # batch]), ReadSchema-asserted in tests/test_similarity.py.
    rows = spark.read.parquet(f"{index_path}/rows")
    # batches_disjoint short-circuits True on <=1 live batches, so no
    # separate batch-count pre-check (one listStatus, not two)
    multi_batch = not store.batches_disjoint(spark, index_path, SQ8)
    qq_arr = F.array(*[F.lit(int(v)).cast("bigint") for v in qq])
    coarse_src = rows.select(id_col, "code")
    if multi_batch:
        coarse_src = (
            rows.select(id_col, "code", "batch")
            .groupBy(id_col)
            .agg(F.max_by("code", "batch").alias("code"))
        )
    d2 = F.aggregate(
        F.zip_with(
            F.transform(F.col("code"), lambda c: c.cast("bigint")),
            qq_arr,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    coarse = (
        coarse_src.select(F.col(id_col), d2.alias("__d2"))
        .orderBy(F.col("__d2").asc(), F.col(id_col))
        .limit(int(overfetch * k))
    )
    qfull = F.array(*[F.lit(float(v)) for v in query_vec])
    vec_side = rows.select(id_col, vec_col)
    if multi_batch:
        # overfetch*k rows at most survive the join — the fold here is
        # candidate-sized, never index-sized
        vec_side = (
            rows.select(id_col, vec_col, "batch")
            .join(F.broadcast(coarse.select(id_col)), id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.max_by(vec_col, "batch").alias(vec_col))
        )
    rerank = coarse.join(vec_side, id_col).select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), qfull), 6).alias("cosine"),
    )
    return rerank.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.default_rng(SEED)
    return rng.standard_normal((n_planes, dim))


def _srp_require_packable(bits_per_table: int, n_tables: int) -> None:
    """Refuse plane counts the packed signature cannot hold (round-16
    review): beyond 64 planes the uint64 packing in
    :func:`srp_signature` silently drops the high bits (``1 << i``
    wraps), while the driver-side Python qbits (arbitrary-precision
    ints) keeps them — corpus signatures and query predicates would
    diverge and probes return wrong candidates. Every SRP entry point
    (signature, one-shot probe, at-rest write/probe, both appends)
    funnels through this single guard."""
    n_planes = bits_per_table * n_tables
    if n_planes > 64:
        raise ValueError(
            f"bits_per_table ({bits_per_table}) * n_tables ({n_tables})"
            f" = {n_planes} planes exceeds the 64-bit signature packing"
            " — use <= 64 total planes (or multiple indexes)"
        )


def srp_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    out_col: str = "srp_bucket",
    impl: str = "arrow",
) -> DataFrame:
    """Signed-random-projection signature: one bit per hyperplane
    (sign of <v, r_i>), packed into a long bucket id. Cosine-similar
    vectors agree on most signs, so they land in the same bucket with
    high probability.

    ``impl='arrow'`` (default) computes all plane dots as ONE numpy
    matrix multiply per Arrow batch — this is the documented exception
    to the built-ins-first rule: a dense (batch × dim) @ (dim × planes)
    matmul is exactly what Catalyst expression eval is worst at
    (measured: 64 planes × 500 rows = 9.5 s as per-plane zip_with
    folds, milliseconds as a matmul; the per-plane literal tree also
    costs seconds of driver-side plan build). The hyperplanes are
    regenerated inside the UDF from the fixed SEED — nothing is
    captured by closure, so the batch transfer is the vector column
    and 8 bytes back. ``impl='expr'`` keeps the pure-JVM form (useful
    where Python workers are unavailable)."""
    if n_planes > 64:
        raise ValueError(
            f"n_planes={n_planes} exceeds the 64-bit signature packing"
        )
    if impl == "arrow":
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _sig(v: pd.Series) -> pd.Series:
            planes = _hyperplanes(dim, n_planes)  # deterministic: SEED
            mask = v.notna().to_numpy()
            out = [None] * len(v)
            if mask.any():
                x = np.vstack(v[mask].to_numpy())  # (batch, dim) float
                bits = (x.astype(np.float64) @ planes.T) >= 0
                weights = (1 << np.arange(n_planes)).astype(np.uint64)
                packed = (bits.astype(np.uint64) * weights).sum(axis=1)
                for row, i in enumerate(np.flatnonzero(mask)):
                    out[i] = int(np.int64(packed[row]))
            # null embedding -> null signature (the expr path folds
            # null dots to bucket 0; null is the honest answer — a
            # null vector belongs to no bucket and drops out of
            # bucket equi-joins)
            return pd.Series(out, dtype=object)

        return df.withColumn(out_col, _sig(F.col(vec_col)))
    planes = _hyperplanes(dim, n_planes)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = (
            F.when(dot(F.col(vec_col), p) >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return df.withColumn(out_col, bucket)


def _srp_query_bits(query_vec: list[float], dim: int, n_planes: int) -> int:
    """Driver-side packed SRP signature of one query vector — the
    same sign-per-hyperplane bits :func:`srp_signature` computes for
    the corpus, against the same SEED-derived planes. Shared by every
    probe that turns a query into (table, bucket) predicates (one
    definition, so the bit order can never desynchronize between the
    full-scan, at-rest, and lifecycle probes)."""
    if n_planes > 64:
        raise ValueError(
            f"n_planes={n_planes} exceeds the 64-bit signature packing"
        )
    planes = _hyperplanes(dim, n_planes)
    qv = np.asarray(query_vec, dtype=np.float64)
    qbits = 0
    for i, plane in enumerate(planes):
        if float(np.dot(qv, plane)) >= 0:
            qbits |= 1 << i
    return qbits


def _srp_table_structs(bits_per_table: int, n_tables: int) -> F.Column:
    """The ``array<struct<t, bucket>>`` expression slicing a packed
    ``srp_bucket`` signature into per-table int sub-buckets — the ONE
    definition of the at-rest (t, bucket) layout, shared by the
    one-shot write and the append lifecycle (a bit-order change must
    not be able to desynchronize them)."""
    mask = (1 << bits_per_table) - 1
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.shiftright(F.col("srp_bucket"), t * bits_per_table)
                .bitwiseAND(F.lit(mask))
                .cast("int")
                .alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )


def _srp_kind(meta_row) -> str:
    fields = meta_row.__fields__
    if "kind" in fields:
        return meta_row["kind"]
    return "fixed" if "scale" in fields else "gaussian"


def _srp_require_kind(meta_row, want: str, path: str) -> None:
    """Refuse to mix the two SRP quantizers (round-15 review): the
    Gaussian-plane lifecycle and the integer-plane fixed twin share
    one tree layout, so without a ``kind`` marker an append (or
    probe) of the wrong flavor would silently merge signatures
    hashed under DIFFERENT planes — buckets the other flavor's probe
    never prunes to. Trees written before the marker existed carry a
    ``scale`` column exactly when they are fixed-twin trees, so kind
    is inferred for them."""
    kind = _srp_kind(meta_row)
    if kind != want:
        raise ValueError(
            f"SRP index at {path} is a {kind!r}-quantizer tree; the"
            f" {want!r} append/probe would bucket under different"
            " hyperplanes — use the matching srp_index_* functions"
        )


def _srp_query_cond(
    qbits: int, bits_per_table: int, n_tables: int
) -> F.Column:
    """OR-of-(t, bucket)-equalities partition predicate for a query's
    packed signature — the probe-side twin of
    :func:`_srp_table_structs`."""
    mask = (1 << bits_per_table) - 1
    cond = None
    for t in range(n_tables):
        qbucket = (qbits >> (t * bits_per_table)) & mask
        c = (F.col("t") == t) & (F.col("bucket") == qbucket)
        cond = c if cond is None else cond | c
    return cond


def srp_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    bits_per_table: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via multi-table SRP-LSH: L independent tables of
    ``bits_per_table`` hyperplane signs each; a vector is a candidate
    if it matches the query's bucket in *any* table, and only
    candidates are exactly re-ranked.

    Per-table match probability for angle θ is (1−θ/π)^bits, so more
    tables trade scan volume for recall — the standard L·(1−p)ᴸ
    S-curve. The bucket filter is a plain predicate on one long
    column: at scale, store the signature at write time and
    bucket/partition by it, and the probe prunes file groups instead
    of scanning. Recall vs brute_force_topk is measured in
    tests/test_similarity.py (random Gaussian fixtures are LSH's
    worst case; clustered real embeddings bucket far better)."""
    _srp_require_packable(bits_per_table, n_tables)
    n_planes = bits_per_table * n_tables
    qbits = _srp_query_bits(query_vec, dim, n_planes)
    with_sig = srp_signature(embeddings, dim, n_planes, vec_col)
    mask = (1 << bits_per_table) - 1
    cond = None
    for t in range(n_tables):
        shift = t * bits_per_table
        qbucket = (qbits >> shift) & mask
        c = (
            F.shiftright(F.col("srp_bucket"), shift).bitwiseAND(F.lit(mask))
            == qbucket
        )
        cond = c if cond is None else cond | c
    candidates = with_sig.where(cond)
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def srp_index_write(
    embeddings: DataFrame,
    dim: int,
    path: str,
    bits_per_table: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the signature-at-rest LSH index: one row per
    (LSH table, vector), laid out as ``t=<table>/bucket=<subbucket>``
    parquet partitions — the classic L-hash-tables structure, expressed
    as Spark partition layout.

    A probe then reads exactly ``n_tables`` partitions (those matching
    the query's sub-bucket per table) via partition *pruning* — no
    signature recompute, no full scan. The trade: vectors are stored
    once per table (L× storage, here 8×); the alternative is an
    id-only index plus a fetch join against the base table, which
    reads less but adds a shuffle per probe. For read-heavy ANN
    serving the L× copy is the standard choice (it is what an
    in-memory LSH hash table does too).

    Signatures are computed ONCE here, at write time — at 100 TB this
    is the difference between paying 32 hyperplane dot products per
    vector per query and paying them once at ingest."""
    _srp_require_packable(bits_per_table, n_tables)
    n_planes = bits_per_table * n_tables
    sig = srp_signature(embeddings, dim, n_planes, vec_col)
    tables = _srp_table_structs(bits_per_table, n_tables)
    (
        sig.select(F.col(id_col), F.col(vec_col), F.explode(tables).alias("tb"))
        .select(id_col, vec_col, "tb.t", "tb.bucket")
        .write.mode("overwrite")
        .partitionBy("t", "bucket")
        .parquet(path)
    )


def srp_topk_at_rest(
    spark,
    index_path: str,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    bits_per_table: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted ``srp_index_write`` layout.

    The query's sub-bucket per table is computed driver-side; the probe
    predicate is an OR of ``(t, bucket)`` equalities on the two
    partition columns, so the scan touches only ``n_tables`` of the
    ``n_tables × 2^bits`` partitions (PartitionFilters in the plan —
    asserted in tests/test_plan_shapes.py). Candidates dedupe on id
    (a vector matching in several tables appears once per match) and
    are exactly re-ranked. Returns the same rows as the full-scan
    ``srp_topk`` — same planes, same multi-probe OR — at a fraction of
    the read (bench: srp_ann_topk vs srp_ann_topk_at_rest)."""
    _srp_require_packable(bits_per_table, n_tables)
    qbits = _srp_query_bits(query_vec, dim, bits_per_table * n_tables)
    idx = spark.read.parquet(index_path)
    cond = _srp_query_cond(qbits, bits_per_table, n_tables)
    candidates = idx.where(cond).dropDuplicates([id_col])
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def _srp_append(
    embeddings: DataFrame,
    path: str,
    batch_id: int,
    identity: dict,
    id_col: str,
    vec_col: str,
    sign,
) -> dict:
    """The SRP append shared by both quantizer flavors: freeze the
    plane ``identity`` (its ``kind`` included) in ``meta`` before any
    rows, then land one row per (LSH table, vector) — ``sign(src)``
    adds the packed ``srp_bucket`` signature."""
    spark = embeddings.sparkSession
    if (
        store.open_frozen(
            spark, path, SRP, "SRP", identity, "bucket", {"kind": _srp_kind}
        )
        is None
    ):
        ddl = ", ".join(
            f"{k} {'string' if k == 'kind' else 'int'}" for k in identity
        )
        store.persist_frozen(
            path,
            SRP,
            {"meta": spark.createDataFrame([tuple(identity.values())], ddl)},
        )
    src = store.cast_to_stored(
        spark, path, SRP, embeddings, (id_col, vec_col)
    ).persist()
    tables = _srp_table_structs(
        identity["bits_per_table"], identity["n_tables"]
    )
    mm = store.append(
        spark,
        path,
        SRP,
        batch_id,
        {
            "rows": sign(src)
            .select(id_col, vec_col, F.explode(tables).alias("tb"))
            .select(id_col, vec_col, "tb.t", "tb.bucket")
        },
        src,
        id_col,
    )
    src.unpersist(blocking=False)
    return {"batch": int(batch_id), "n_rows": mm["n"]}


def srp_index_append(
    embeddings: DataFrame,
    path: str,
    batch_id: int = 0,
    dim: int = 64,
    bits_per_table: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Append one vector batch to an SRP-LSH index — the
    :func:`sq8_index_append` lifecycle for the signature-at-rest
    family (VERDICT r14 #2, the last write-once index): O(batch) per
    crawl increment, nothing at rest re-read, batch-keyed dynamic
    partition overwrite so a replayed batch lands identical bytes.

    SRP is the EASY lifecycle: there is no trained state to freeze —
    hyperplanes derive deterministically from (SEED, dim, n_planes),
    so signatures are embarrassingly per-row and no drift concept
    exists (nothing was fit to data). What IS frozen is the plane
    IDENTITY ``(dim, bits_per_table, n_tables)``: batch 0 persists it
    to ``meta`` BEFORE any rows (the ivf_index_append crash
    ordering), and a later append passing different values raises —
    mixed-parameter buckets would silently break partition pruning.
    Layout::

        {path}/meta                    (dim, bits_per_table, n_tables)
        {path}/rows/batch=/t=/bucket=  (id, vec) — one row per
                                       (LSH table, vector), the
                                       srp_index_write L-copy layout
        {path}/rows_manifest/batch=    (min_id, max_id, n_rows)

    The manifest row is deleted before the batch's rows are
    rewritten, so a replay interrupted between the two leaves the
    batch missing from the manifest and :func:`srp_index_topk` fails
    CLOSED into its latest-wins fold (ADVICE r14). Returns
    ``{"batch", "n_rows"}``."""
    _srp_require_packable(bits_per_table, n_tables)
    n_planes = bits_per_table * n_tables
    return _srp_append(
        embeddings,
        path,
        batch_id,
        {
            "dim": dim,
            "bits_per_table": bits_per_table,
            "n_tables": n_tables,
            "kind": "gaussian",
        },
        id_col,
        vec_col,
        lambda src: srp_signature(src, dim, n_planes, vec_col),
    )


def _srp_index_probe(
    spark, index_path: str, meta, qbits: int, query_vec, k, id_col, vec_col
) -> DataFrame:
    """The (t, bucket)-pruned candidate read, fold and exact re-rank
    shared by both SRP lifecycle probes."""
    rows = spark.read.parquet(f"{index_path}/rows")
    cond = _srp_query_cond(
        qbits, int(meta["bits_per_table"]), int(meta["n_tables"])
    )
    candidates = rows.where(cond).select(id_col, vec_col, "batch")
    # batches_disjoint short-circuits True on <=1 live batches, so no
    # separate batch-count pre-check (one listStatus, not two)
    if not store.batches_disjoint(spark, index_path, SRP):
        candidates = candidates.groupBy(id_col).agg(
            F.max_by(vec_col, "batch").alias(vec_col)
        )
    else:
        candidates = candidates.dropDuplicates([id_col])
    return brute_force_topk(
        candidates.select(id_col, vec_col), query_vec, k, id_col, vec_col
    )


def srp_index_topk(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against an :func:`srp_index_append` lifecycle tree —
    SELF-CONTAINED (plane identity lives in ``meta``, unlike
    :func:`srp_topk_at_rest`'s caller-held parameters): the query's
    sub-bucket per table is computed driver-side from the stored
    (dim, bits, tables), the scan touches only ``n_tables`` of the
    ``n_tables × 2^bits`` (t, bucket) partitions per batch, and
    candidates are exactly re-ranked. Duplicate safety is the
    :func:`ivf_index_topk` contract: multi-batch trees fold
    candidates to one row per id (latest batch wins — which also
    collapses a vector's multi-table matches) UNLESS the per-append
    ``rows_manifest`` proves the batches' id ranges pairwise
    disjoint, where a plain per-id dropDuplicates suffices; either
    pass runs over the PRUNED probe slice only, never the index."""
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    _srp_require_kind(meta, "gaussian", index_path)
    qbits = _srp_query_bits(
        query_vec,
        int(meta["dim"]),
        int(meta["bits_per_table"]) * int(meta["n_tables"]),
    )
    return _srp_index_probe(
        spark, index_path, meta, qbits, query_vec, k, id_col, vec_col
    )


def srp_index_compact(spark, src_path: str, dst_path: str) -> str:
    """Compact an SRP delta tree into a single-batch index published
    as the next serving version under ``dst_path`` — the
    :func:`ivf_index_compact` economics: signatures are per-vector
    facts under the frozen plane identity, so compaction folds
    re-delivered ids to their latest row PER TABLE (bucket follows
    the winning vector — ONE max_by over the row, so vector and
    bucket always come from the same winning row, round-16 review)
    and re-partitions; probe results identical by construction. The
    rebuilt batch-0 ``rows_manifest`` counts VECTORS (one manifest
    row per id, not per L-copy — the t=0 slice) so the
    post-compaction disjoint fast path engages. Layout-driven, so
    :func:`srp_index_append_fixed` trees compact through this same
    path (meta — including the fixed twin's scale — is copied
    verbatim; probe-identity pytest). Crash contract:
    publish_version."""
    return store.compact(spark, src_path, dst_path, SRP)


def _srp_fixed_planes(n_planes: int, dim: int):
    """Deterministic INTEGER hyperplanes for the portable SRP twin —
    the :func:`..operators.pca._fixed_rotation` formula
    ``W[i][j] = ((i*31 + j*17) % 7) - 3``: small ints an external
    engine regenerates from the formula alone, replacing the
    numpy-RNG Gaussian planes (whose float dot signs depend on BLAS
    summation order and are therefore not SQL-replayable)."""
    return np.asarray(
        [
            [((i * 31 + j * 17) % 7) - 3 for j in range(dim)]
            for i in range(n_planes)
        ],
        dtype=np.int64,
    )


def srp_signature_fixed(
    df: DataFrame,
    dim: int,
    n_planes: int = 32,
    vec_col: str = "embedding",
    out_col: str = "srp_bucket",
    scale: int = 1000,
) -> DataFrame:
    """Portable-exact SRP signature: vectors floor-quantize to
    ``floor(x·scale)`` longs (the :func:`_fixed_base` discipline) and
    each bit is the sign of an INTEGER plane dot — integer sums are
    orderless, so the packed signature is identical on any engine,
    unlike :func:`srp_signature`'s float dots. Arrow-batched: one
    int64 matmul per batch (exact — no float rounding to replay)."""
    if n_planes > 64:
        raise ValueError(
            f"n_planes={n_planes} exceeds the 64-bit signature packing"
        )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        planes = _srp_fixed_planes(n_planes, dim)
        mask = v.notna().to_numpy()
        out = [None] * len(v)
        if mask.any():
            x = np.vstack(v[mask].to_numpy()).astype(np.float64)
            qv = np.floor(x * float(scale)).astype(np.int64)
            bits = (qv @ planes.T) >= 0
            weights = (1 << np.arange(n_planes)).astype(np.uint64)
            packed = (bits.astype(np.uint64) * weights).sum(axis=1)
            for row, i in enumerate(np.flatnonzero(mask)):
                out[i] = int(np.int64(packed[row]))
        return pd.Series(out, dtype=object)

    return df.withColumn(out_col, _sig(F.col(vec_col)))


def srp_index_append_fixed(
    embeddings: DataFrame,
    path: str,
    batch_id: int = 0,
    dim: int = 64,
    bits_per_table: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> dict:
    """Portable-oracle twin of :func:`srp_index_append` — the
    round-15 fixed-twin discipline (``ivf_index_append_fixed``)
    applied to the LSH family, so the SRP lifecycle too gets the
    cross-engine proof its Gaussian-plane entries (rows-only by
    necessity) cannot give: integer planes
    (:func:`_srp_fixed_planes`), floor-quantized integer dots
    (:func:`srp_signature_fixed`), the same batch=/t=/bucket= layout,
    manifest, fail-closed replay, and frozen identity — here
    ``(dim, bits_per_table, n_tables, scale)``, persisted to ``meta``
    before any rows; mismatched appends raise. Returns
    ``{"batch", "n_rows"}``."""
    _srp_require_packable(bits_per_table, n_tables)
    n_planes = bits_per_table * n_tables
    return _srp_append(
        embeddings,
        path,
        batch_id,
        {
            "dim": dim,
            "bits_per_table": bits_per_table,
            "n_tables": n_tables,
            "scale": scale,
            "kind": "fixed",
        },
        id_col,
        vec_col,
        lambda src: srp_signature_fixed(
            src, dim, n_planes, vec_col, scale=scale
        ),
    )


def srp_index_topk_fixed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe of the :func:`srp_index_append_fixed` tree —
    :func:`srp_index_topk` semantics with the portable quantizer,
    SELF-CONTAINED: (dim, bits, tables, scale) come from the index's
    own ``meta``. The query floor-quantizes driver-side, its integer
    plane dots pick one bucket per table, the scan prunes to those
    (t, bucket) partitions across all batches, candidates fold
    latest-batch-wins per id over the PRUNED slice (skipped for
    manifest-proven disjoint batches, where a plain per-id dedup
    suffices), and the exact double cosine re-ranks. Every step is
    integer or frozen-shape IEEE — the DuckDB oracle replays append,
    fold, and probe in one statement."""
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    _srp_require_kind(meta, "fixed", index_path)
    scale = int(meta["scale"])
    planes = _srp_fixed_planes(
        int(meta["bits_per_table"]) * int(meta["n_tables"]), int(meta["dim"])
    )
    qq = np.asarray(
        [int(math.floor(float(x) * scale)) for x in query_vec],
        dtype=np.int64,
    )
    qbits = 0
    for i, d in enumerate(planes @ qq):
        if int(d) >= 0:
            qbits |= 1 << i
    return _srp_index_probe(
        spark, index_path, meta, qbits, query_vec, k, id_col, vec_col
    )


def _srp_bucket_rows(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits_per_table: int,
    n_tables: int,
) -> DataFrame:
    """(id, t, bucket) rows for multi-table SRP blocking: one packed
    ``n_tables × bits_per_table``-plane signature per vector, sliced
    into per-table sub-buckets and exploded. Hyperplanes derive from
    the fixed SEED, so two corpora bucketized separately land
    compatible buckets — the property the cross-corpus join relies
    on."""
    n_planes = bits_per_table * n_tables
    sig = srp_signature(embeddings, dim, n_planes, vec_col)
    mask = (1 << bits_per_table) - 1
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.shiftright(F.col("srp_bucket"), t * bits_per_table)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return sig.select(F.col(id_col), F.explode(tables).alias("tb")).select(
        id_col, "tb.t", "tb.bucket"
    )


def embedding_near_duplicates_blocked(
    embeddings: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    bits_per_table: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT the cartesian: SRP sub-buckets
    as blocking keys (equi-join on (table, bucket)), then exact cosine
    verification of colliding pairs only — the embedding-space mirror
    of ``dedup.minhash_near_duplicates`` (banding → verify).

    Precision is exact (every emitted pair is verified); recall is the
    SRP S-curve 1−(1−p^b)^L with p = 1−θ/π, measured empirically in
    tests/test_similarity.py against the all-pairs ground truth
    (plans.simplans.embedding_near_dup_pairs keeps the cartesian form
    as exactly that oracle). Defaults (4 bits × 16 tables) are sized
    for the fixture's θ≈60° near-dups; a 100 TB dedup pass at
    cosine ≥ 0.9 wants more bits per table (candidate volume per
    table is Σ_bucket df²/2 — more bits → smaller buckets), fewer
    tables. The join itself is the scale story: candidates come from
    an equi-join shuffle on (t, bucket) — never an all-pairs product —
    and vectors/norms are computed once per row before the join.
    Bucket and norm tables are persist()-cached so the self-join's
    two sides (and the two verify-join sides) read the cached state
    instead of re-running the signature/norm kernels per side
    (lineage retained, so executor loss recomputes rather than
    failing).

    ``impl``: 'expr' (default) keeps the exact sequential-fold dot —
    LSH blocking leaves few verify pairs, so the fold is NOT the
    bottleneck here and the pure-JVM path avoids a Python-worker
    round-trip; 'arrow' switches to the einsum kernel
    (functions.vectors.pair_dot_arrow — measured a wash at sf0.1,
    identical output after round-6). Contrast pairwise_topk_per_label,
    whose within-block all-pairs density makes arrow the default."""
    caches = claim_group("embedding_near_duplicates_blocked")
    buckets = persist_into(
        caches,
        _srp_bucket_rows(
            embeddings, id_col, vec_col, dim, bits_per_table, n_tables
        ),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    normed = persist_into(
        caches,
        embeddings.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
            l2_norm(F.col(vec_col)).alias("nrm"),
        ),
    )
    va = normed.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("nrm_a"),
    )
    vb = normed.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pair_dot = (
        pair_dot_arrow()(F.col("v_a"), F.col("v_b"))
        if impl == "arrow"
        else dot(F.col("v_a"), F.col("v_b"))
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                pair_dot / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def cross_corpus_near_duplicates(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    bits_per_table: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora — the train-vs-eval
    leakage check at embedding level (the vector-space sibling of
    ``governance.decontaminate``): which ``left`` vectors have a
    cosine-near-duplicate in ``right``. Same blocking-then-verify
    shape as ``embedding_near_duplicates_blocked``, but the bucket
    equi-join runs ACROSS corpora: both sides bucketize with the same
    seeded hyperplanes (so buckets are compatible without any shared
    state), candidates are the (t, bucket) collisions between them,
    and only those pairs pay the exact cosine. Neither corpus ever
    joins itself, and the candidate volume is the cross-corpus
    collision count, never |L|x|R|. Precision is exact (every emitted
    pair verified >= threshold); recall is the SRP S-curve, bounded
    empirically in tests/test_similarity.py against the exact
    cross-join ground truth (plans.simplans.cross_corpus_near_dup_exact
    keeps that form as the oracle)."""
    caches = claim_group("cross_corpus_near_duplicates")
    lb = persist_into(
        caches,
        _srp_bucket_rows(left, id_col, vec_col, dim, bits_per_table, n_tables),
    )
    rb = persist_into(
        caches,
        _srp_bucket_rows(right, id_col, vec_col, dim, bits_per_table, n_tables),
    )
    cands = (
        lb.alias("l")
        .join(
            rb.alias("r"),
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_left"),
            F.col(f"r.{id_col}").alias("id_right"),
        )
        .distinct()
    )

    def _normed(df: DataFrame, out_id: str, v: str, n: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(v),
            l2_norm(F.col(vec_col)).alias(n),
        )

    pair_dot = (
        pair_dot_arrow()(F.col("v_l"), F.col("v_r"))
        if impl == "arrow"
        else dot(F.col("v_l"), F.col("v_r"))
    )
    return (
        cands.join(_normed(left, "id_left", "v_l", "n_l"), "id_left")
        .join(_normed(right, "id_right", "v_r", "n_r"), "id_right")
        .select(
            "id_left",
            "id_right",
            F.round(pair_dot / (F.col("n_l") * F.col("n_r")), 6).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
    )


def ivf_train_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    sample_rows: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train an IVF coarse quantizer: k-means (Lloyd, fixed seed) on a
    deterministic sample. Sampling+training a quantizer driver-side is
    the standard FAISS-style recipe — the sample is small by design;
    the *assignment* below is the distributed part."""
    sample = np.asarray(
        [
            [float(x) for x in r[0]]
            for r in embeddings.select(vec_col)
            .orderBy(id_col)
            .limit(sample_rows)
            .collect()
        ]
    )
    rng = np.random.default_rng(SEED)
    centroids = sample[rng.choice(len(sample), n_cells, replace=False)]
    for _ in range(iters):
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Assign each vector to its nearest centroid. At write time,
    partition/bucket by ``ivf_cell`` and probes become partition
    pruning.

    ``impl='arrow'`` (default) ranks all cells with ONE numpy matmul
    per Arrow batch (argmin of −2·x@cᵀ + |c|² — the |x|² term is
    constant per row and drops out): n_cells squared-distance folds
    per row evaluate as interpreted HOF expressions in the expr form
    and dominated the full-scan assign (same shape srp_signature
    escaped). ``impl='expr'`` keeps the pure-JVM form for deployments
    without Python workers.

    Parity contract between the two forms: BOTH rank cells by the
    same decision statistic −2·x·c + |c|² (the |x|² term is constant
    per row and drops out of the argmin) and break exact ties to the
    lowest cell index. Summation order still differs (numpy matmul is
    SIMD/pairwise, the SQL fold is sequential), so two cells whose
    statistics differ by less than float rounding (~1 ulp of the
    accumulated sum) may legitimately diverge between impls — each
    pick is then within rounding of the true nearest cell, which
    tests/test_similarity.py asserts on an exact-midpoint fixture.
    Oracle-checked catalog plans pin ONE impl (the default) so driver
    correctness never rides on cross-impl float agreement."""
    if impl == "arrow":
        from pyspark.sql.functions import pandas_udf

        c = np.asarray(centroids, dtype=np.float64)
        c_sq = (c**2).sum(axis=1)

        @pandas_udf("int")
        def _cell(v: pd.Series) -> pd.Series:
            mask = v.notna().to_numpy()
            out = [None] * len(v)
            if mask.any():
                x = np.vstack(v[mask].to_numpy()).astype(np.float64)
                cells = np.argmin(-2.0 * (x @ c.T) + c_sq[None, :], axis=1)
                for row, i in enumerate(np.flatnonzero(mask)):
                    out[i] = int(cells[row])
            return pd.Series(out, dtype=object)

        return df.withColumn("ivf_cell", _cell(F.col(vec_col)))
    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c**2).sum(axis=1)
    scores = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in row]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
                lambda dot_: F.lit(-2.0) * dot_ + F.lit(float(sq)),
            )
            for row, sq in zip(c, c_sq)
        ]
    )
    return df.withColumn("__d", scores).withColumn(
        "ivf_cell",
        (F.array_position(F.col("__d"), F.array_min(F.col("__d"))) - 1).cast(
            "int"
        ),
    ).drop("__d")


def ivf_assign_probes(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe cell assignment: ``probe_cells`` — the ``nprobe``
    nearest centroids in rank order (element 1 is the primary cell,
    identical to :func:`ivf_assign`'s pick: same decision statistic
    −2·x·c + |c|², same stable lowest-index tiebreak). One numpy
    argsort per Arrow batch; the dedup caller explodes this array so
    a near-dup pair straddling a cell boundary is still verified
    whenever ANY probe cell is shared (measured leakage numbers in
    :func:`semantic_dedup`)."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c**2).sum(axis=1)
    p = min(nprobe, len(c))

    @pandas_udf("array<int>")
    def _cells(v: pd.Series) -> pd.Series:
        mask = v.notna().to_numpy()
        out = [None] * len(v)
        if mask.any():
            x = np.vstack(v[mask].to_numpy()).astype(np.float64)
            stat = -2.0 * (x @ c.T) + c_sq[None, :]
            order = np.argsort(stat, axis=1, kind="stable")[:, :p]
            for row, i in enumerate(np.flatnonzero(mask)):
                out[i] = [int(z) for z in order[row]]
        return pd.Series(out, dtype=object)

    return df.withColumn("probe_cells", _cells(F.col(vec_col)))


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: rank the query's ``nprobe`` nearest cells driver-side,
    scan only vectors assigned to those cells, exact-rank the rest."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in d2.argsort()[:nprobe]]
    assigned = ivf_assign(embeddings, centroids, vec_col)
    candidates = assigned.where(F.col("ivf_cell").isin(probes))
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def ivf_index_write(
    embeddings: DataFrame,
    centroids: np.ndarray,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF layout: vectors partitioned by their coarse
    cell (``ivf_cell=<n>`` directories). Cell assignment is computed
    once at write time; a probe then reads exactly ``nprobe`` of the
    ``n_cells`` partitions via partition pruning — the FAISS inverted-
    list structure expressed as parquet partition layout (and unlike
    the SRP multi-table index, each vector lives in exactly ONE cell,
    so there is no storage multiplier)."""
    (
        ivf_assign(embeddings, centroids, vec_col)
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )


def ivf_topk_at_rest(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN against a persisted ``ivf_index_write`` layout: rank
    the query's ``nprobe`` nearest cells driver-side (O(n_cells) on
    the trained centroids), scan only those partitions, exact-rank the
    candidates. Same rows as the in-memory ``ivf_topk`` (identical
    centroids ⇒ identical cell assignment ⇒ identical candidate set);
    the difference is the scan reads nprobe/n_cells of the data via
    PartitionFilters instead of computing assignments over the full
    table per query."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in d2.argsort()[:nprobe]]
    idx = spark.read.parquet(index_path)
    candidates = idx.where(F.col("ivf_cell").isin(probes))
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def _ivf_assign_with_d2(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """:func:`ivf_assign` plus the exact squared distance to the
    assigned centroid — one numpy pass per Arrow batch. The distance
    is STORED by the append lifecycle so drift questions become a
    narrow column scan instead of a re-assignment job."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c**2).sum(axis=1)

    @pandas_udf("struct<ivf_cell:int,d2:double>")
    def _cell_d2(v: pd.Series) -> pd.DataFrame:
        n = len(v)
        cells = [None] * n
        dists = [None] * n
        mask = v.notna().to_numpy()
        if mask.any():
            x = np.vstack(v[mask].to_numpy()).astype(np.float64)
            stat = -2.0 * (x @ c.T) + c_sq[None, :]
            pick = np.argmin(stat, axis=1)
            x_sq = (x**2).sum(axis=1)
            d2 = x_sq + stat[np.arange(len(pick)), pick]
            for row, i in enumerate(np.flatnonzero(mask)):
                cells[i] = int(pick[row])
                # clamp tiny negative float residue (x==c exactly)
                dists[i] = float(max(d2[row], 0.0))
        return pd.DataFrame({"ivf_cell": cells, "d2": dists})

    out = df.withColumn("__a", _cell_d2(F.col(vec_col)))
    return out.withColumn("ivf_cell", F.col("__a.ivf_cell")).withColumn(
        "d2", F.col("__a.d2")
    ).drop("__a")


def ivf_index_append(
    embeddings: DataFrame,
    path: str,
    batch_id: int = 0,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Append one vector batch to an IVF index — the
    :func:`sq8_index_append` lifecycle applied to the inverted-list
    family: O(batch) per crawl increment, nothing at rest re-read,
    batch-keyed dynamic partition overwrite so a replayed batch lands
    identical bytes.

    The coarse quantizer (centroids) is FROZEN at creation — batch 0
    trains it (:func:`ivf_train_centroids`, deterministic seed) and
    every later batch assigns against the stored centroids; refitting
    per batch would re-cell nothing-at-rest and desynchronize
    partition pruning across batches. The cost of freezing is DRIFT:
    a shifted corpus assigns to ever-farther centroids, so each
    append computes its mean squared distance-to-centroid and
    returns/logs ``drift_ratio`` = batch mean_d2 / creation-batch
    mean_d2 (the re-fit signal; recall degrades gradually, answers
    stay exact because the probe exact-ranks candidates). The per-row
    ``d2`` is STORED in the rows so later drift questions are a
    narrow column scan. Layout::

        {path}/centroids           (cell, c array<double>)
        {path}/meta                (n_cells, fit_mean_d2)
        {path}/rows/batch=/ivf_cell=   (id, vec, d2)
        {path}/rows_manifest/batch=    (min_id, max_id, n_rows)
        {path}/drift/batch=        (n_rows, mean_d2, drift_ratio)

    Returns {"batch", "n_rows", "mean_d2", "drift_ratio"}."""
    spark = embeddings.sparkSession
    meta = store.open_frozen(spark, path, IVF, "IVF")
    if meta is None:
        centroids = ivf_train_centroids(
            embeddings, n_cells, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = _read_centroids(spark, path)
    embeddings = store.cast_to_stored(
        spark, path, IVF, embeddings, (id_col, vec_col)
    )
    assigned = _ivf_assign_with_d2(embeddings, centroids, vec_col).persist()
    stats = assigned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.avg("d2").alias("mean_d2"),
    ).collect()[0]
    mean_d2 = float(stats["mean_d2"] or 0.0)
    if meta is None:
        fit_mean_d2 = mean_d2
        store.persist_frozen(
            path,
            IVF,
            {
                "meta": spark.createDataFrame(
                    [(len(centroids), fit_mean_d2)],
                    "n_cells int, fit_mean_d2 double",
                ),
                "centroids": spark.createDataFrame(
                    [
                        (i, [float(x) for x in row])
                        for i, row in enumerate(centroids)
                    ],
                    "cell int, c array<double>",
                ),
            },
        )
    else:
        fit_mean_d2 = float(meta["fit_mean_d2"])
    store.append(
        spark, path, IVF, batch_id, {"rows": assigned}, assigned, id_col
    )
    drift_ratio = mean_d2 / fit_mean_d2 if fit_mean_d2 > 0 else 1.0
    store.write_drift(
        spark,
        path,
        batch_id,
        n_rows=int(stats["n_rows"]),
        mean_d2=mean_d2,
        drift_ratio=float(drift_ratio),
    )
    assigned.unpersist(blocking=False)
    return {
        "batch": int(batch_id),
        "n_rows": int(stats["n_rows"]),
        "mean_d2": mean_d2,
        "drift_ratio": float(drift_ratio),
    }


def _read_centroids(spark, path: str) -> np.ndarray:
    """The frozen coarse centroids, in cell order."""
    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell")
    return np.asarray([list(r["c"]) for r in crows.collect()])


def ivf_index_topk(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN against an :func:`ivf_index_append` lifecycle tree —
    SELF-CONTAINED (the centroids live in the index, unlike
    :func:`ivf_topk_at_rest`'s caller-held quantizer): rank the
    query's ``nprobe`` nearest stored centroids driver-side, scan
    only those ``ivf_cell=`` partitions across all batches (partition
    pruning), exact-rank the candidates. Duplicate-id safety is the
    :func:`sq8_topk_at_rest` contract: multi-batch trees fold to one
    row per id (latest batch wins) UNLESS the per-append
    ``rows_manifest`` proves the batches' id ranges pairwise disjoint
    — the append-only crawl case skips the fold entirely, and the
    fold only ever runs over the PRUNED nprobe/n_cells slice, never
    the index."""
    centroids = _read_centroids(spark, index_path)
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in d2.argsort()[:nprobe]]
    rows = spark.read.parquet(f"{index_path}/rows")
    candidates = rows.where(F.col("ivf_cell").isin(probes)).select(
        id_col, vec_col, "batch"
    )
    # batches_disjoint short-circuits True on <=1 live batches, so no
    # separate batch-count pre-check (one listStatus, not two)
    if not store.batches_disjoint(spark, index_path, IVF):
        candidates = candidates.groupBy(id_col).agg(
            F.max_by(vec_col, "batch").alias(vec_col)
        )
    return brute_force_topk(
        candidates.select(id_col, vec_col), query_vec, k, id_col, vec_col
    )


def ivf_drift_report(
    spark,
    index_path: str,
    refit_threshold: float = 1.5,
    live: str = "off",
    sample_fraction: float = 0.01,
) -> dict:
    """Should this IVF index be RE-FIT? — the frozen-centroid
    maintenance decision (:func:`sq8_drift_report`'s contract for the
    inverted-list family). ``live='off'`` (default) decides from the
    per-append drift log alone (n_rows-weighted mean ratio — O(batches),
    no index read); ``'full'``/``'sample'`` recount over the STORED
    per-row ``d2`` column — a narrow column scan (seeded sample for
    the latter), cheap because the append already paid the distance
    computation. Recommends a re-fit when the live mean squared
    distance exceeds ``refit_threshold ×`` the creation batch's."""
    log = store.read_drift(spark, index_path, live)
    fit_mean_d2 = float(
        spark.read.parquet(f"{index_path}/meta").collect()[0]["fit_mean_d2"]
    )
    if live == "off":
        n = sum(int(r["n_rows"]) for r in log)
        mean_d2 = (
            sum(float(r["mean_d2"]) * int(r["n_rows"]) for r in log) / n
            if n
            else 0.0
        )
    else:
        rows = spark.read.parquet(f"{index_path}/rows")
        if live == "sample":
            rows = rows.sample(fraction=sample_fraction, seed=SEED)
        got = rows.agg(
            F.count(F.lit(1)).alias("n"), F.avg("d2").alias("m")
        ).collect()[0]
        n = int(got["n"] or 0)
        mean_d2 = float(got["m"] or 0.0)
    ratio = mean_d2 / fit_mean_d2 if fit_mean_d2 > 0 else 1.0
    return {
        "live_mode": live,
        "mean_d2": mean_d2,
        "fit_mean_d2": fit_mean_d2,
        "drift_ratio": ratio,
        "n_rows": n,
        "batches_logged": len(log),
        "max_batch_drift_ratio": max(
            (float(r["drift_ratio"]) for r in log), default=1.0
        ),
        "refit_threshold": refit_threshold,
        "refit_recommended": ratio > refit_threshold,
    }


def ivf_index_compact(spark, src_path: str, dst_path: str) -> str:
    """Compact an IVF delta tree into a single-batch index published
    as the next serving version under ``dst_path`` — the
    :func:`sq8_index_compact` economics: cell assignment and d2 are
    per-vector facts under FROZEN centroids (copied verbatim — they
    ARE the index identity), so compaction folds re-delivered ids to
    their latest row and re-partitions; probe results identical by
    construction. Rewrites the folded batch-0 drift row and manifest
    so post-compaction appends keep both protocols working. Crash
    contract: publish_version."""
    fit = float(
        spark.read.parquet(f"{src_path}/meta").collect()[0]["fit_mean_d2"]
    )
    return store.compact(
        spark,
        src_path,
        dst_path,
        IVF,
        extra=store.fold_drift(spark, fit, "d2", "mean_d2"),
    )


def ivf_index_refit(
    spark, src_path: str, dst_path: str, n_cells: int | None = None
) -> str:
    """RE-FIT a drifted IVF index: retrain centroids over the folded
    at-rest vectors (latest row per id), re-assign everything, and
    publish as the next serving version — resets the drift baseline
    (fresh fit_mean_d2). ``n_cells=None`` keeps the stored cell
    count. Crash contract: publish_version; the source deltas are
    untouched."""
    from ..sources.writers import publish_version

    rows = spark.read.parquet(f"{src_path}/rows")
    id_col, vec_col = rows.columns[:2]
    if n_cells is None:
        n_cells = int(
            spark.read.parquet(f"{src_path}/meta").collect()[0]["n_cells"]
        )
    folded = store.latest_wins(rows.select(id_col, vec_col, "batch"), [id_col])

    def build(vdir: str) -> None:
        ivf_index_append(
            folded, vdir, 0, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )

    return publish_version(spark, dst_path, build)


def ivf_index_append_fixed(
    embeddings: DataFrame,
    path: str,
    batch_id: int = 0,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> dict:
    """Portable-oracle twin of :func:`ivf_index_append` — the
    cross-engine proof of the APPEND lifecycle (frozen quantizer →
    O(batch) batch-keyed assignment → latest-wins fold at probe) that
    the k-means-trained entry cannot give (VERDICT r14 #3), playing
    the role :func:`semantic_index_append_fixed` plays for the dedup
    loop. Two substitutions make every step SQL-replayable:

    1. FIXED centroids — the ``n_centroids`` lowest-id rows of the
       CREATION batch, floor-quantized (``floor(x·scale)`` longs),
       persisted BEFORE any rows (the ivf_index_append crash
       ordering) and frozen thereafter.
    2. EXACT integer assignment — :func:`_fixed_assign`: integer
       squared distance, ties to the lowest centroid id. No float
       comparison decides a cell on either engine.

    Rows land as ``(id, v double[], nrm)`` under
    ``batch=<id>/ivf_cell=<cell>`` plus the standard ``rows_manifest``
    (fail-closed replay: manifest row dropped first, then the batch's
    row dirs, so neither a crash mid-replay nor a completed
    different-content replay can leave stale rows a fresh manifest
    row would 'prove' away). The quantizer identity ``(n_centroids,
    scale)`` freezes in ``meta`` alongside the centroids (the
    srp_index_append discipline — round-15 review): a later append
    passing different values raises instead of silently
    mis-quantizing. Returns {"batch", "n_rows"}."""
    spark = embeddings.sparkSession
    base = _fixed_base(embeddings, id_col, vec_col, scale)
    # NEVER regenerate centroids for an existing tree (round-15
    # review): the centroids ARE the index identity — rebuilding them
    # from a later batch would desynchronize every already-assigned
    # row's ivf_cell from the probe's pruning. A crash between the
    # meta and centroids writes leaves a meta-only tree the next
    # append simply recreates (centroids are the creation marker).
    identity = {"n_centroids": n_centroids, "scale": scale}
    meta = store.open_frozen(spark, path, IVF, "fixed IVF", identity, "quantize")
    if meta is None:
        store.persist_frozen(
            path,
            IVF,
            {
                "meta": spark.createDataFrame(
                    [(n_centroids, scale)], "n_centroids int, scale int"
                ),
                "centroids": base.orderBy(id_col)
                .limit(n_centroids)
                .select(
                    F.col(id_col).alias("cent_id"), F.col("qv").alias("cq")
                ),
            },
        )
    cents = spark.read.parquet(f"{path}/centroids")
    assigned = _fixed_assign(base, cents, id_col).persist()
    mm = store.append(
        spark, path, IVF, batch_id, {"rows": assigned}, assigned, id_col
    )
    assigned.unpersist(blocking=False)
    return {"batch": int(batch_id), "n_rows": mm["n"]}


def ivf_index_topk_fixed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe of the :func:`ivf_index_append_fixed` lifecycle tree —
    :func:`ivf_index_topk` semantics with the portable quantizer:
    the query floor-quantizes driver-side, integer d2 ranks the
    stored centroids (ties to the lowest centroid id), the scan
    prunes to the ``nprobe`` winning ``ivf_cell=`` partitions across
    all batches, candidates fold latest-batch-wins per id over the
    PRUNED slice (the prune-before-fold order is part of the
    contract: a re-delivered id whose current cell is not probed
    serves its newest PROBED row — exactly what the DuckDB oracle
    replays), and the exact double cosine re-ranks. Every step is
    integer or frozen-shape IEEE, so the twin is hash-exact where the
    trained probe is rows-only. SELF-CONTAINED: ``scale`` comes from
    the index's own ``meta`` (round-15 review — a caller-held scale
    could silently quantize the query on a different grid than the
    stored centroids)."""
    scale = int(
        spark.read.parquet(f"{index_path}/meta").collect()[0]["scale"]
    )
    cents = sorted(
        (int(r["cent_id"]), [int(x) for x in r["cq"]])
        for r in spark.read.parquet(f"{index_path}/centroids").collect()
    )
    qq = [int(math.floor(float(x) * scale)) for x in query_vec]
    d2s = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qq, cq)), cid)
        for cid, cq in cents
    )
    probes = [cid for _, cid in d2s[:nprobe]]
    rows = spark.read.parquet(f"{index_path}/rows")
    candidates = rows.where(F.col("ivf_cell").isin(probes)).select(
        id_col, "v", "batch"
    )
    # batches_disjoint short-circuits True on <=1 live batches, so no
    # separate batch-count pre-check (one listStatus, not two)
    if not store.batches_disjoint(spark, index_path, IVF):
        candidates = candidates.groupBy(id_col).agg(
            F.max_by("v", "batch").alias("v")
        )
    return brute_force_topk(
        candidates.select(id_col, "v"), query_vec, k, id_col, "v"
    )


def pairwise_topk_per_label(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    impl: str = "arrow",
    hot_label_threshold: int | None = 4096,
    hot_target_block: int = 512,
    hot_tables: int = 4,
    hot_min_bits: int = 4,
    hot_max_bits: int = 12,
    dim: int = 64,
) -> DataFrame:
    """All-pairs top-k restricted to a blocking key (label): the
    grouped-blocking pattern that keeps all-pairs similarity from
    being a global cross join. Within each block: equi-join on the
    key, exact cosine, per-vector rank.

    **Hot-label guard.** Within-label all-pairs is O(Σ n_label²): one
    million-vector label at 100 TB is a quadratic block no cluster
    survives. Labels with ≥ ``hot_label_threshold`` rows therefore
    switch to SRP sub-blocking (the `embedding_near_duplicates_blocked`
    machinery): ``hot_tables`` independent bucket tables whose width
    is derived IN-PLAN from the label's own row count —
    ``bits = clamp(ceil(log2(n / hot_target_block)))`` — so every
    label's buckets hold ~``hot_target_block`` rows and candidate
    volume is O(n · hot_target_block · hot_tables), linear in n, not
    n². All rows of a label share its count, so the mask is
    label-consistent with no driver-side collect. Hot results are
    approximate (a true top-k neighbor in no shared bucket is missed —
    the SRP S-curve; recall bounded in tests/test_similarity.py);
    labels BELOW the threshold keep the exact path bit-for-bit, so
    the DuckDB oracle contract is unchanged at fixture scale, where
    every label is cold.

    ``hot_label_threshold=None`` disables the guard entirely and
    emits the pure exact plan — no routing window, no (empty) hot
    branch. The guarded plan's dormant hot branch costs ~0.5 s of
    empty-stage scheduling per run at sf0.1 (a pandas_udf stage plus
    four shuffles that plan and launch even with zero rows), so
    callers that KNOW their label sizes are bounded — oracle
    replays, benchmarked exact baselines — should pass None; the
    default keeps the guard for everyone else.

    ``impl='arrow'`` (default) scores pairs with the einsum kernel
    (functions.vectors.pair_dot_arrow): within-block all-pairs is
    dense (|block|² dots), where the batched matmul measured ~20%
    faster than the interpreted fold at sf0.1 with IDENTICAL output
    after the round-6 contract; 'expr' keeps the exact sequential
    fold (the form the DuckDB oracle replays). Residual contract
    note: the einsum sum and the sequential fold can differ by
    ~1e-13, absorbed by the 6-dp round except for a pair whose true
    cosine sits within that epsilon of a 0.5e-6 rounding boundary
    (can also flip a rank-k tie). Verified identical at sf0.1; a
    boundary hit grows more likely with pair count — oracle-critical
    runs that cannot tolerate a 1-ulp-at-6dp flake should pass
    'expr'.
    """
    from pyspark.sql import Window

    # Pre-compute the double-cast vector and its norm once per row,
    # *before* the join, and force materialization with the shuffle
    # the join needs anyway (repartition on the blocking key) — n
    # norm folds instead of n², and per-pair work is one dot + one
    # divide. The divide matches the oracle's dot/(|a|·|b|) formula.
    # (No localCheckpoint here: the dominant cost is the per-pair dot
    # fold after the join, not the pre-join recompute — measured, a
    # checkpoint buys nothing and its storage lingers.)
    # Explicit partition count (round 16): a bare repartition(col)
    # inherits spark.sql.shuffle.partitions (200 on a vanilla driver
    # session) and is exempt from AQE coalescing, paying hundreds of
    # near-empty tasks at fixture scale; defaultParallelism tracks
    # the cluster's actual cores on any deployment.
    normed = embeddings.select(
        F.col(group_col),
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    ).repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism, group_col
    )
    # Label sizes route each label to the exact or sub-blocked path.
    # Window count over the SAME partitioning the repartition already
    # established — no join, no broadcast, no extra exchange (an
    # agg+join variant measured +0.75 s cold at sf0.1 from its extra
    # stages; a broadcast join ties the window here but inherits a
    # broadcast-size ceiling at extreme label cardinality that the
    # window form doesn't have).
    routed = (
        None
        if hot_label_threshold is None
        else normed.withColumn(
            "label_n", F.count(F.lit(1)).over(Window.partitionBy(group_col))
        )
    )

    def _directed_pairs(scored_side: DataFrame) -> tuple[DataFrame, DataFrame]:
        a = scored_side.select(
            F.col(group_col),
            F.col(id_col).alias("id_a"),
            F.col("v").alias("vec_a"),
            F.col("nrm").alias("nrm_a"),
        )
        b = scored_side.select(
            F.col(group_col),
            F.col(id_col).alias("id_b"),
            F.col("v").alias("vec_b"),
            F.col("nrm").alias("nrm_b"),
        )
        return a, b

    pair_dot = (
        pair_dot_arrow()(F.col("vec_a"), F.col("vec_b"))
        if impl == "arrow"
        else dot(F.col("vec_a"), F.col("vec_b"))
    )
    cosine = F.round(pair_dot / (F.col("nrm_a") * F.col("nrm_b")), 6).alias(
        "cosine"
    )

    cold = (
        normed
        if routed is None
        else routed.where(F.col("label_n") < F.lit(hot_label_threshold))
    )
    ca, cb = _directed_pairs(cold)
    scored = (
        ca.join(cb, group_col)
        .where(F.col("id_a") != F.col("id_b"))
        .select(group_col, "id_a", "id_b", cosine)
    )

    if routed is not None:
        hot = routed.where(F.col("label_n") >= F.lit(hot_label_threshold))
        hot_scored = _hot_label_scored_pairs(
            hot,
            cosine,
            id_col=id_col,
            group_col=group_col,
            target_block=hot_target_block,
            n_tables=hot_tables,
            min_bits=hot_min_bits,
            max_bits=hot_max_bits,
            dim=dim,
        )
        scored = scored.unionByName(hot_scored)
    # Rank per (label, id) — not id alone — so ids that are only
    # unique within a label rank inside their own label instead of
    # mixing across labels; identical output when ids are global.
    w = Window.partitionBy(group_col, "id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def hot_label_candidate_pairs(
    hot: DataFrame,
    id_col: str = "vec_id",
    group_col: str = "label",
    target_block: int = 512,
    n_tables: int = 4,
    min_bits: int = 4,
    max_bits: int = 12,
    dim: int = 64,
) -> DataFrame:
    """Directed candidate pairs for hot labels via per-label-width SRP
    sub-blocking. ``hot`` carries (group_col, id_col, ``v`` double
    vector, ``label_n`` row count). Exposed separately so tests can
    assert the pair-volume bound directly.

    Each label masks the shared ``n_tables × max_bits``-plane SRP
    signature down to its own width (in-plan from ``label_n``), so
    candidate count per label is ~``n_tables · n · target_block``
    instead of n². Pairs are directed (both (a,b) and (b,a)) because
    the consumer ranks per id_a.
    """
    n_planes = n_tables * max_bits
    sig = srp_signature(hot, dim, n_planes, vec_col="v")
    bits = F.least(
        F.lit(max_bits),
        F.greatest(
            F.lit(min_bits),
            F.ceil(
                F.log2(F.col("label_n") / F.lit(float(target_block)))
            ).cast("int"),
        ),
    )
    sig = sig.withColumn("label_bits", bits)
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.expr(
                    f"shiftright(srp_bucket, {t} * label_bits) & "
                    f"(shiftleft(CAST(1 AS BIGINT), label_bits) - 1)"
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    buckets = sig.select(
        F.col(group_col), F.col(id_col), F.explode(tables).alias("tb")
    ).select(group_col, id_col, F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    a, b = buckets.alias("ba"), buckets.alias("bb")
    return (
        a.join(
            b,
            (F.col(f"ba.{group_col}") == F.col(f"bb.{group_col}"))
            & (F.col("ba.t") == F.col("bb.t"))
            & (F.col("ba.bucket") == F.col("bb.bucket"))
            & (F.col(f"ba.{id_col}") != F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{group_col}").alias(group_col),
            F.col(f"ba.{id_col}").alias("id_a"),
            F.col(f"bb.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _hot_label_scored_pairs(
    hot: DataFrame,
    cosine,
    id_col: str,
    group_col: str,
    target_block: int,
    n_tables: int,
    min_bits: int,
    max_bits: int,
    dim: int,
) -> DataFrame:
    """Score hot-label SRP candidates with the same cosine expression
    the exact path uses. Vectors are re-joined on (group_col, id) —
    not id alone — so ids only unique within a label still resolve to
    the right vector, matching how the cold exact path keys its pairs.
    """
    cands = hot_label_candidate_pairs(
        hot,
        id_col=id_col,
        group_col=group_col,
        target_block=target_block,
        n_tables=n_tables,
        min_bits=min_bits,
        max_bits=max_bits,
        dim=dim,
    )
    va = hot.select(
        F.col(group_col),
        F.col(id_col).alias("id_a"),
        F.col("v").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    vb = hot.select(
        F.col(group_col),
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        cands.join(va, [group_col, "id_a"])
        .join(vb, [group_col, "id_b"])
        .select(group_col, "id_a", "id_b", cosine)
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 512,
    iters: int = 5,
    hot_cell_threshold: int | None = 4096,
    hot_target_block: int = 512,
    hot_tables: int = 4,
    hot_min_bits: int = 4,
    hot_max_bits: int = 12,
    dim: int = 64,
    nprobe: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the IVF
    coarse quantizer (:func:`ivf_train_centroids` — driver k-means on
    a bounded deterministic sample, the FAISS recipe), then verify
    exact cosine ONLY within a cluster and drop every row that has a
    lower-id near-duplicate (cosine ≥ ``threshold``) in its cell.
    Keep-lowest is the same deterministic survivor rule as exact
    dedup (operators.dedup); like SemDeDup itself, a cross-cluster
    near-dup pair is out of scope by construction (the clustering IS
    the blocking), and the keep rule is per-pair, not
    connected-component — a chain a~b~c with a≁c keeps a and drops
    both b and c (documented SemDeDup semantics: anything with a
    "better" near-dup goes).

    Output: the KEPT rows as ``(id, ivf_cell)`` plus a ``n_dropped``
    corpus-level sanity column is NOT emitted — callers needing the
    complement anti-join the input on ``id``.

    Scale design: candidate volume is Σ_cell |cell|²/2, bounded by
    the quantizer granularity — ``n_cells`` should scale ~√n (FAISS
    practice) so cells stay ~√n rows. Heavy-tailed cluster sizes are
    handled by the HOT-CELL GUARD: cells with ≥
    ``hot_cell_threshold`` rows route through SRP sub-blocking
    WITHIN the cell (the :func:`pairwise_topk_per_label` hot-label
    machinery with ``group_col='ivf_cell'`` — per-cell bucket widths
    derived in-plan from the cell's row count), so a degenerate
    mega-cell contributes ~n·target_block·tables candidates instead
    of n². Hot-cell drops are approximate (a near-dup pair sharing
    no SRP bucket is missed — recall bounded in
    tests/test_similarity.py); cells below the threshold stay exact,
    so fixture-scale output is unchanged. ``hot_cell_threshold=None``
    disables the guard (pure exact plan, no routing window). The
    verify join is an equi-join shuffle on ``ivf_cell`` — never an
    all-pairs product across cells. Assignment is the Arrow matmul
    kernel (:func:`ivf_assign`), one numpy matmul per batch.

    CROSS-CELL LEAKAGE (measured, r9): SemDeDup's "clustering IS the
    blocking" contract means a near-dup pair split across cells is
    invisible. On the fixture geometry (threshold 0.4, 16 cells) that
    is NOT rare: 62-64% of exact near-dup pairs straddle a cell
    boundary at nprobe=1 (tests/test_similarity.py::
    test_cross_cell_leakage_measured_and_nprobe_recovers). The fix is
    the FAISS-style ``nprobe``: assign every vector to its ``nprobe``
    nearest cells (:func:`ivf_assign_probes`) and verify within every
    probe cell — a pair is caught if ANY probe cell is shared.
    Measured pair coverage on the fixture: 1 probe → 36-38%, 2 →
    71-76%, 3 → 88-91%, 4 → 96-100%. Candidate volume multiplies by
    ≤ nprobe² (each side appears in nprobe cells), so this is a
    recall/cost dial: production SemDeDup typically accepts nprobe=1
    (arXiv:2303.09540 measures quality, not pair recall); a
    dedup-completeness-critical run pays nprobe=3-4. The kept-row
    ``ivf_cell`` stays the PRIMARY (nearest) cell regardless of
    nprobe, so the output contract is unchanged.

    Rows-only catalog entry (the k-means quantizer is not
    SQL-expressible); bounds are pinned by
    tests/test_similarity.py::TestSemanticDedup — drop precision is
    1.0 by construction (every drop carries an exact verified
    cosine), recall ≥ 0.9 on planted same-cell near-dup clusters,
    and determinism across repeated runs.
    """
    from pyspark.sql import Window

    caches = claim_group("semantic_dedup")
    cents = ivf_train_centroids(
        embeddings, n_cells, sample_rows, iters, id_col, vec_col
    )
    if nprobe <= 1:
        assigned = persist_into(
            caches,
            ivf_assign(embeddings, cents)
            .select(
                F.col(id_col),
                F.col("ivf_cell"),
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double")
                ).alias("v"),
                l2_norm(F.col(vec_col)).alias("nrm"),
            ),
        )
        verify = assigned
    else:
        probed = persist_into(
            caches,
            ivf_assign_probes(embeddings, cents, nprobe, vec_col).select(
                F.col(id_col),
                F.col("probe_cells"),
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double")
                ).alias("v"),
                l2_norm(F.col(vec_col)).alias("nrm"),
            ),
        )
        assigned = probed.select(
            F.col(id_col),
            F.element_at("probe_cells", 1).alias("ivf_cell"),
            "v",
            "nrm",
        )
        verify = probed.select(
            F.col(id_col),
            F.explode("probe_cells").alias("ivf_cell"),
            "v",
            "nrm",
        )
    routed = (
        None
        if hot_cell_threshold is None
        else verify.withColumn(
            "label_n",
            F.count(F.lit(1)).over(Window.partitionBy("ivf_cell")),
        )
    )
    cold = (
        verify
        if routed is None
        else routed.where(F.col("label_n") < F.lit(hot_cell_threshold))
    )
    if nprobe <= 1:
        a = cold.alias("sa").select(
            F.col("sa.ivf_cell").alias("cell_a"),
            F.col(f"sa.{id_col}").alias("id_a"),
            F.col("sa.v").alias("v_a"),
            F.col("sa.nrm").alias("nrm_a"),
        )
        b = cold.alias("sb").select(
            F.col("sb.ivf_cell").alias("cell_b"),
            F.col(f"sb.{id_col}").alias("id_b"),
            F.col("sb.v").alias("v_b"),
            F.col("sb.nrm").alias("nrm_b"),
        )
        cosine = F.round(
            dot(F.col("v_a"), F.col("v_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
            6,
        )
        dropped = (
            a.join(
                b,
                (F.col("id_a") < F.col("id_b"))
                & (F.col("cell_a") == F.col("cell_b")),
            )
            .where(cosine >= threshold)
            .select(F.col("id_b").alias(id_col))
        )
    else:
        # Multi-probe verify, candidate-volume-aware: at nprobe=p of
        # n_cells the blocking is structurally COARSE (p=4 of 16 makes
        # ~73% of all pairs candidates — birthday over probe sets), so
        # (a) candidates generate through NARROW (id, cell) frames and
        # a pair sharing several probe cells collapses to ONE verify
        # via distinct, and (b) the cosine runs in the Arrow pair-dot
        # kernel, the pairwise_topk_per_label precedent for dense
        # pair-verify (measured here: 23 s → ~4 s at sf0.1 vs the
        # one-fold-per-pair-per-shared-cell join). Vectors attach by
        # id equi-join AFTER the distinct — the vector table never
        # rides the cell join.
        narrow = cold.select(F.col(id_col), F.col("ivf_cell"))
        ca = narrow.select(F.col(id_col).alias("id_a"), "ivf_cell")
        cb = narrow.select(F.col(id_col).alias("id_b"), "ivf_cell")
        cand = (
            ca.join(cb, "ivf_cell")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        va = assigned.select(
            F.col(id_col).alias("id_a"),
            F.col("v").alias("v_a"),
            F.col("nrm").alias("nrm_a"),
        )
        vb = assigned.select(
            F.col(id_col).alias("id_b"),
            F.col("v").alias("v_b"),
            F.col("nrm").alias("nrm_b"),
        )
        pdot = pair_dot_arrow()
        cos_np = F.round(
            pdot(F.col("v_a"), F.col("v_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
            6,
        )
        dropped = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .where(cos_np >= threshold)
            .select(F.col("id_b").alias(id_col))
        )
    if routed is not None:
        hot = routed.where(F.col("label_n") >= F.lit(hot_cell_threshold))
        hot_cosine = F.round(
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
            6,
        ).alias("cosine")
        hot_scored = _hot_label_scored_pairs(
            hot,
            hot_cosine,
            id_col=id_col,
            group_col="ivf_cell",
            target_block=hot_target_block,
            n_tables=hot_tables,
            min_bits=hot_min_bits,
            max_bits=hot_max_bits,
            dim=dim,
        )
        hot_dropped = (
            hot_scored.where(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("cosine") >= threshold)
            )
            .select(F.col("id_b").alias(id_col))
        )
        dropped = dropped.unionByName(hot_dropped)
    return assigned.join(dropped.distinct(), id_col, "left_anti").select(
        id_col, "ivf_cell"
    )


def semantic_dedup_fixed_cells(
    embeddings: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Portable-oracle twin of :func:`semantic_dedup` — the
    cross-engine proof of the cluster→verify→keep-lowest pipeline
    that the k-means entry (rows-only by necessity) cannot give,
    playing the role ``minhash_lsh_portable_pairs`` plays for the
    MinHash family.

    Two substitutions make every step replayable bit-for-bit in
    ANSI-ish SQL:

    1. FIXED centroids — the corpus rows with ``id < n_centroids``
       (no k-means training; at scale these would be any agreed
       centroid table).
    2. EXACT integer assignment — vectors quantize to
       ``floor(x · scale)`` longs (floor, not round: round-half
       semantics differ across engines) and the argmin runs on the
       integer squared distance ``Σ (a−b)²`` with ties to the lowest
       centroid id. No float comparison decides a cell, so the
       blocking is deterministic on every engine — the float-argmin
       near-tie caveat of :func:`ivf_assign` cannot leak into the
       oracle contract.

    Verification inside a cell stays the exact double cosine at 6 dp
    (the hash-green idiom of ``cross_corpus_near_dup_exact``).

    Scale shape: the centroid table broadcasts (n_centroids rows);
    assignment is a broadcast cross join (n·n_centroids, linear) with
    a per-id window over n_centroids rows; the verify join is the
    same equi-join-on-cell shuffle as semantic_dedup.
    """
    caches = claim_group("semantic_dedup_fixed_cells")
    base = _fixed_base(embeddings, id_col, vec_col, scale)
    cents = base.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col("qv").alias("cq")
    )
    assigned = persist_into(caches, _fixed_assign(base, cents, id_col))
    a = assigned.alias("fa").select(
        F.col("fa.ivf_cell").alias("cell_a"),
        F.col(f"fa.{id_col}").alias("id_a"),
        F.col("fa.v").alias("v_a"),
        F.col("fa.nrm").alias("nrm_a"),
    )
    b = assigned.alias("fb").select(
        F.col("fb.ivf_cell").alias("cell_b"),
        F.col(f"fb.{id_col}").alias("id_b"),
        F.col("fb.v").alias("v_b"),
        F.col("fb.nrm").alias("nrm_b"),
    )
    dropped = (
        a.join(
            b,
            (F.col("id_a") < F.col("id_b"))
            & (F.col("cell_a") == F.col("cell_b")),
        )
        .where(
            F.round(
                dot(F.col("v_a"), F.col("v_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            )
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, "ivf_cell"
    )


# --- incremental semantic dedup against an at-rest index -------------------
#
# The embedding-family parity of the MinHash crawl loop
# (operators.dedup.portable_minhash_dedup_incremental): the corpus's
# dedup state lives at rest as (centroid table, assigned rows
# partitioned by cell); each arriving batch assigns against the SAME
# stored centroids, verifies exact cosine only within its TOUCHED
# cells (partition-pruned index read — per-batch cost O(batch +
# touched-cell rows), never O(corpus)), and appends. SemDeDup's drop
# rule — drop any row with a lower-id near-dup in its cell — is
# MONOTONE (adding rows never un-drops), and a pair's two members are
# first co-present exactly when the later-arriving one lands, so the
# union of per-batch drop sets equals the one-shot run's drop set for
# ANY arrival order. That equality is what the hash-exact catalog
# entry (`semantic_dedup_incremental_cells`, fixed-quantizer twin) and
# the batch-restriction pytests assert.


def _fixed_base(
    df: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """(id, qv, v, nrm): floor-quantized integer vector for portable
    cell assignment + double vector/norm for exact cosine verify."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast(
                "long"
            ),
        ).alias("qv"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )


def _fixed_assign(base: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Portable-exact cell assignment: broadcast the centroid table,
    integer squared distance Σ(a−b)², argmin with ties to the lowest
    centroid id. (id, ivf_cell, v, nrm)."""
    from pyspark.sql import Window

    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy("d2", "cent_id")
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("cent_id").cast("long").alias("ivf_cell"),
            F.col("v"),
            F.col("nrm"),
        )
    )


def _incremental_drops(
    idx_rows: DataFrame,
    new_assigned: DataFrame,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """Drop decisions from the batch's arrival: for every verified
    near-dup pair that becomes co-present (index×batch within a cell,
    or batch×batch), the HIGHER id is dropped — including an INDEX
    row when the batch brings a lower-id near-dup (arrival order is
    not id order; the minhash loop's least/greatest normalization,
    applied to drops). Output: distinct (id, ivf_cell) of dropped
    rows."""
    cos = F.round(
        dot(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b")),
        6,
    )

    def side(df: DataFrame, tag: str) -> DataFrame:
        # partition-discovered ivf_cell arrives as int; normalize to
        # long so cross/within branches union cleanly
        return df.select(
            F.col("ivf_cell").cast("long").alias(f"cell_{tag}"),
            F.col(id_col).alias(f"id_{tag}"),
            F.col("v").alias(f"v_{tag}"),
            F.col("nrm").alias(f"nrm_{tag}"),
        )

    cross = (
        side(idx_rows, "a")
        .join(
            side(new_assigned, "b"),
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("id_a") != F.col("id_b")),
        )
        .where(cos >= threshold)
        .select(
            F.greatest("id_a", "id_b").alias(id_col),
            F.col("cell_a").alias("ivf_cell"),
        )
    )
    within = (
        side(new_assigned, "a")
        .join(
            side(new_assigned, "b"),
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(cos >= threshold)
        .select(F.col("id_b").alias(id_col), F.col("cell_a").alias("ivf_cell"))
    )
    return cross.unionByName(within).distinct()


def semantic_centroids_write_fixed(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> None:
    """Persist the agreed centroid table (here: the ``n_centroids``
    lowest-id rows, floor-quantized) — written ONCE before any batch
    arrives; every incremental pass assigns against this same table,
    which is what makes per-batch cell assignment consistent with the
    full-corpus one-shot run."""
    base = _fixed_base(embeddings, id_col, vec_col, scale)
    (
        base.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col("qv").alias("cq"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def semantic_index_write_fixed(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> None:
    """Persist the fixed-quantizer semantic-dedup state at rest in one
    bootstrap call: ``path/centroids`` (see
    :func:`semantic_centroids_write_fixed`) + ``path/rows`` — the
    assigned corpus ``(id, ivf_cell, v, nrm)`` hive-partitioned by
    cell, so an incremental pass reads only its touched cells via
    partition pruning. Assignment is computed ONCE here, at ingest —
    the srp_index_write/portable_minhash_index_write economics."""
    semantic_centroids_write_fixed(
        embeddings, path, n_centroids, id_col, vec_col, scale
    )
    spark = embeddings.sparkSession
    stored = spark.read.parquet(f"{path}/centroids")
    base = _fixed_base(embeddings, id_col, vec_col, scale)
    (
        _fixed_assign(base, stored, id_col)
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(f"{path}/rows")
    )


def semantic_dedup_incremental_fixed(
    new_df: DataFrame,
    index_path: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    before_batch: int | None = None,
) -> DataFrame:
    """One incremental pass of the fixed-quantizer semantic dedup: the
    batch assigns against the STORED centroid table, and drop
    decisions come from index×batch (touched cells only —
    partition-pruned read, asserted in tests/test_similarity.py) plus
    batch×batch verification. Returns the distinct dropped
    (id, ivf_cell) rows — index rows included when the batch brings a
    lower-id near-dup. Does NOT append; call
    :func:`semantic_index_append_fixed` after consuming the drops.

    An absent ``rows/`` tree is an EMPTY index (the loop's first
    batch). ``before_batch`` pins the index snapshot on a batch-keyed
    layout (``batch < before_batch`` partition filter) so a lazily
    consumed result stays correct even if later batches append before
    it is evaluated."""
    spark = new_df.sparkSession
    cents = spark.read.parquet(f"{index_path}/centroids")
    caches = claim_group("semantic_dedup_incremental_fixed")
    new_assigned = persist_into(
        caches,
        _fixed_assign(
            _fixed_base(new_df, id_col, vec_col, scale), cents, id_col
        ),
    )
    from ..sources import rawstore

    if not (
        store.exists(spark, f"{index_path}/rows")
        or store.exists(spark, rawstore.sealed_root(f"{index_path}/rows"))
    ):
        idx_rows = new_assigned.where(F.lit(False)).select(
            id_col, "ivf_cell", "v", "nrm"
        )
    else:
        # sealed ∪ unsealed-live view (sources.rawstore): identical to
        # a plain read until seal_batches compacts old batch=
        # partitions; cell pruning holds on both sides (the sealed
        # snapshot is hive-partitioned by ivf_cell) and the ledger
        # excludes a crash-replay's re-created copy of a sealed batch
        idx_rows = rawstore.read_raw_store(spark, f"{index_path}/rows")
        if before_batch is not None and "batch" in idx_rows.columns:
            idx_rows = idx_rows.where(F.col("batch") < before_batch)
        # bounded collect: ≤ n_centroids values (quantizer-sized, not
        # data-sized) — the literal list is what lets the scan prune
        touched = sorted(
            r[0]
            for r in new_assigned.select("ivf_cell").distinct().collect()
        )
        idx_rows = idx_rows.where(
            F.col("ivf_cell").isin(touched)
        ).select(id_col, "ivf_cell", "v", "nrm")
    return _incremental_drops(idx_rows, new_assigned, threshold, id_col)


def semantic_index_append_fixed(
    new_df: DataFrame,
    index_path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> None:
    """Fold a batch's assigned rows into the at-rest index. Batch-
    keyed like the streaming MinHash index (ADVICE r8): rows land in
    ``rows/ivf_cell=<c>/batch=<id>`` with ``mode('overwrite')``
    scoped to this batch's partitions (dynamic overwrite), so a
    SAME-content crash-replay overwrites its own partitions instead
    of double-appending — and the batch's leaves are deleted first
    across ALL cells (round-15 review: dynamic overwrite only swaps
    the (cell, batch) leaves present in the new data, so a replay
    whose corrected vectors assign to DIFFERENT cells would otherwise
    strand the superseded rows, and the incremental dedup would keep
    verifying candidates against them)."""
    spark = new_df.sparkSession
    cents = spark.read.parquet(f"{index_path}/centroids")
    assigned = _fixed_assign(
        _fixed_base(new_df, id_col, vec_col, scale), cents, id_col
    ).withColumn("batch", F.lit(batch_id))
    store.drop_batch_dirs(spark, batch_id, f"{index_path}/rows/ivf_cell=*")
    write_parquet_partitioned(
        assigned, f"{index_path}/rows", ("ivf_cell", "batch")
    )


def semantic_index_write(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    sample_rows: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Production-shape at-rest semantic-dedup state: IVF k-means
    centroids (:func:`ivf_train_centroids`, trained once at index
    bootstrap) persisted as ``path/centroids`` parquet, plus the
    assigned corpus ``(id, ivf_cell, v, nrm)`` hive-partitioned by
    cell under ``path/rows``. The fixed-quantizer twin
    (:func:`semantic_index_write_fixed`) is the hash-exact oracle
    surface; THIS is what a deployment runs — Arrow matmul
    assignment, trained quantizer."""
    spark = embeddings.sparkSession
    cents = ivf_train_centroids(
        embeddings, n_cells, sample_rows, iters, id_col, vec_col
    )
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cell_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        ivf_assign(embeddings, cents, vec_col)
        .select(
            F.col(id_col),
            F.col("ivf_cell"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
            l2_norm(F.col(vec_col)).alias("nrm"),
        )
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(f"{path}/rows")
    )


def semantic_read_centroids(spark, path: str) -> np.ndarray:
    rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cell_id").collect()
    )
    return np.asarray([r.centroid for r in rows], dtype=np.float64)


def _assign_vnrm(
    df: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    return ivf_assign(df, centroids, vec_col).select(
        F.col(id_col),
        F.col("ivf_cell").cast("long").alias("ivf_cell"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )


def semantic_dedup_incremental(
    new_df: DataFrame,
    index_path: str,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    before_batch: int | None = None,
) -> DataFrame:
    """One incremental pass of production-shape semantic dedup: the
    batch assigns against the STORED k-means centroids (never
    retrained — retraining would reassign history and invalidate the
    at-rest cells), verifies exact cosine within its touched cells
    against the index plus itself, and returns the distinct dropped
    (id, ivf_cell) decisions — index rows included when the batch
    brings a lower-id near-dup. Same drop kernel and snapshot/empty
    semantics as :func:`semantic_dedup_incremental_fixed`; rows-only
    catalog surface (k-means is not SQL), with the batch-restriction
    equality pinned in tests/test_similarity.py."""
    spark = new_df.sparkSession
    cents = semantic_read_centroids(spark, index_path)
    caches = claim_group("semantic_dedup_incremental")
    new_assigned = persist_into(
        caches, _assign_vnrm(new_df, cents, id_col, vec_col)
    )
    if not store.exists(spark, f"{index_path}/rows"):
        idx_rows = new_assigned.where(F.lit(False))
    else:
        idx_rows = spark.read.parquet(f"{index_path}/rows")
        if before_batch is not None and "batch" in idx_rows.columns:
            idx_rows = idx_rows.where(F.col("batch") < before_batch)
        touched = sorted(
            r[0]
            for r in new_assigned.select("ivf_cell").distinct().collect()
        )
        idx_rows = idx_rows.where(
            F.col("ivf_cell").isin(touched)
        ).select(id_col, "ivf_cell", "v", "nrm")
    return _incremental_drops(idx_rows, new_assigned, threshold, id_col)


def semantic_index_append(
    new_df: DataFrame,
    index_path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a batch into the production-shape index — batch-keyed
    dynamic-overwrite partitions (``rows/ivf_cell=<c>/batch=<id>``),
    replay-idempotent like :func:`semantic_index_append_fixed`,
    including the same cross-cell leaf delete before the write (a
    different-content replay must replace, not merge)."""
    spark = new_df.sparkSession
    cents = semantic_read_centroids(spark, index_path)
    assigned = _assign_vnrm(new_df, cents, id_col, vec_col).withColumn(
        "batch", F.lit(batch_id)
    )
    store.drop_batch_dirs(spark, batch_id, f"{index_path}/rows/ivf_cell=*")
    write_parquet_partitioned(
        assigned, f"{index_path}/rows", ("ivf_cell", "batch")
    )
