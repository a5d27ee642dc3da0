"""Batch-keyed index store — the ONE owner of the index lifecycle.

Every incremental index family (sq8, srp and its fixed twin, ivf and
its fixed twin, ivf-pq, bm25, positional) persists the same shape: a
set of ``batch=<id>`` delta subtrees, a one-row-per-batch id-range
manifest, optionally frozen quantizer artefacts written once at
creation, and (for the drift-monitored families) a per-batch drift
log. This module implements that lifecycle once; a family supplies
only a :class:`Layout` constant, its batch → rows kernel, and its
overlap strategy (``docs/overlap_contract.md``).

The contract is the reference's "a replayed load replaces, never
duplicates" (dedup + UPSERT keyed on (location, date),
weather_daily_etl.py:167-210) applied to batch-keyed trees:

1. **Fail-closed manifests** — :func:`append` drops the batch's
   manifest row, then the batch dir in every subtree, then writes the
   rows, then the manifest row. A crash anywhere leaves the batch
   missing from the manifest, so :func:`batches_disjoint` returns
   False and the family's fold/dedup/guard ENGAGES instead of trusting
   a stale range. The honest width of the window: a crash between the
   deletes and the rows write leaves the batch absent until the feed
   replays it — deliberately fail-closed (writing first and diffing
   stale leaves after would serve superseded rows through the window,
   and needs a leaf diff the filesystem cannot give atomically).
2. **Replay is replacement** — dynamic partition overwrite replaces
   only the LEAF partitions present in the new data, so on a
   multi-level layout (``batch=/pfx=``, ``batch=/ivf_cell=``,
   ``batch=/t=/bucket=``) a batch re-delivered with a different id
   set would keep old rows in leaves the new delivery does not touch.
   Dropping the whole batch dir first makes a completed replay a true
   replacement (and covers the empty re-delivery on single-level
   trees, where a zero-row write replaces nothing).
3. **Frozen identity** — the quantizer identity persists in ``meta``
   (and the frozen artefacts after it, the last one being the
   creation marker) BEFORE any rows; later appends compare against it
   and raise on a mismatch, and a tree with rows or a marker but no
   ``meta`` is refused rather than silently re-created.

Writes go through :func:`..sources.writers.write_parquet_partitioned`
— the per-write ``partitionOverwriteMode=dynamic`` option, so the
session conf is never touched (a foreachBatch clone session and a
vanilla ``STATIC`` session behave the same).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .writers import _hadoop_fs, publish_version, write_parquet_partitioned


@dataclass(frozen=True)
class Manifest:
    """One of the two on-disk manifest schemas: subtree name, the
    (min, max, count) column names, the id type (``None`` keeps the
    id column's OWN type, so string ids range lexicographically) and
    the (min, max) recorded for an empty batch."""

    subtree: str
    lo: str
    hi: str
    n: str
    id_type: str | None
    empty: tuple


#: text families: doc ids as bigint, an empty batch records (0, -1)
TEXT_MANIFEST = Manifest(
    "manifest", "min_doc_id", "max_doc_id", "n_docs", "bigint", (0, -1)
)
#: vector families: ids in their own type, an empty batch records nulls
VECTOR_MANIFEST = Manifest(
    "rows_manifest", "min_id", "max_id", "n_rows", None, (None, None)
)


@dataclass(frozen=True)
class Layout:
    """A family's on-disk layout.

    - ``subtrees``: every batch-keyed ``(name, partition columns)``
      pair an append replaces; the FIRST is the rows subtree, whose
      ``batch=`` dirs define the live batches.
    - ``frozen``: artefacts written once at creation, in write order —
      ``meta`` first, the creation marker last; compaction copies them
      verbatim (a missing optional one, e.g. the OPQ rotation, is
      skipped).
    - ``fold_by``: keys beyond the id of the latest-wins fold (srp
      keeps one row per (id, table)).
    - ``schema``: explicit read schema of the rows subtree (text
      layouts — partition-type inference would misread hex ``pfx``
      values), ``None`` for a natural read.
    - ``per_id``: narrows written rows to one per id for the manifest
      count (postings carry many rows per document).
    """

    subtrees: tuple[tuple[str, tuple[str, ...]], ...]
    manifest: Manifest
    frozen: tuple[str, ...] = ()
    fold_by: tuple[str, ...] = ()
    schema: str | None = None
    per_id: Callable[[DataFrame], DataFrame] | None = None

    @property
    def rows(self) -> str:
        return self.subtrees[0][0]


def exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check (correct for hdfs://, s3a:// too)."""
    _, fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def batch_ids(spark: SparkSession, tree_path: str) -> list[int]:
    """The ``batch=`` delta partition ids under a subtree — one
    driver-side listStatus."""
    _, fs, root = _hadoop_fs(spark, tree_path)
    return [
        int(st.getPath().getName()[len("batch="):])
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("batch=")
    ]


def drop_batch_dirs(
    spark: SparkSession, batch_id: int, *tree_paths: str
) -> None:
    """Delete each tree's ``batch=<id>`` directory (invariant 2).
    No-op on paths that do not exist yet. A ``tree_paths`` entry
    containing ``*`` is a Hadoop glob (the semantic index's cell-first
    ``rows/ivf_cell=*`` layout, where ``batch=`` is not the outermost
    level); every other path is deleted LITERALLY — globStatus would
    misread legitimate ``[...]``/``{...}`` characters in a caller's
    path as pattern syntax and silently skip (or over-match)."""
    for tp in tree_paths:
        _, fs, p = _hadoop_fs(spark, f"{tp}/batch={int(batch_id)}")
        if "*" in tp:
            for st in fs.globStatus(p) or []:
                fs.delete(st.getPath(), True)
        elif fs.exists(p):
            fs.delete(p, True)


def drop_manifest_row(
    spark: SparkSession, manifest_path: str, batch_id: int
) -> None:
    """Invalidate one batch's manifest row BEFORE its rows are
    rewritten (invariant 1): a replay whose job dies between the rows
    and the manifest write leaves the batch MISSING from the manifest
    — never a stale range that 'proves' overlapping rows disjoint.
    No-op when the row (or the manifest tree) does not exist."""
    drop_batch_dirs(spark, batch_id, manifest_path)


def ranges_disjoint(
    spark: SparkSession,
    tree_path: str,
    manifest_path: str,
    min_col: str,
    max_col: str,
    n_col: str,
) -> bool:
    """Whether a delta tree's per-batch id ranges are PAIRWISE
    DISJOINT according to its manifest — the proof that no id landed
    under two batches, so id-keyed fold/dedup passes can be skipped.
    True on <=1 live batches; any live batch missing from the manifest
    (pre-manifest tree, interrupted replay) or any range overlap
    returns False — the manifest is a fast-path marker, never a
    correctness input. Ranges compare in the id column's own type (a
    shared id sits inside both ranges under any total order). Driver
    cost: one listStatus plus a batches-sized manifest read."""
    from pyspark.errors import AnalysisException

    live = batch_ids(spark, tree_path)
    if len(live) <= 1:
        return True
    try:
        rows = spark.read.parquet(manifest_path).collect()
    except AnalysisException:
        return False
    by_batch = {int(r["batch"]): r for r in rows}
    if not set(live) <= set(by_batch):
        return False  # some delta predates the manifest: assume overlap
    ranges = sorted(
        (by_batch[b][min_col], by_batch[b][max_col])
        for b in live
        if int(by_batch[b][n_col]) > 0
    )
    return all(
        ranges[i][0] > ranges[i - 1][1] for i in range(1, len(ranges))
    )


def batches_disjoint(spark: SparkSession, path: str, layout: Layout) -> bool:
    """:func:`ranges_disjoint` for an index at ``path``."""
    m = layout.manifest
    return ranges_disjoint(
        spark,
        f"{path}/{layout.rows}",
        f"{path}/{m.subtree}",
        m.lo,
        m.hi,
        m.n,
    )


def has_manifest(spark: SparkSession, path: str, layout: Layout) -> bool:
    """Whether the index has a manifest tree at all — distinguishes
    'no overlap report' (pre-manifest trees keep historical behavior)
    from 'manifest says maybe-overlap'."""
    return exists(spark, f"{path}/{layout.manifest.subtree}")


def manifest_rows(spark: SparkSession, path: str, layout: Layout) -> list:
    """Every manifest row of the index (empty when there is none)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(
            f"{path}/{layout.manifest.subtree}"
        ).collect()
    except AnalysisException:
        return []


def _literal_row(spark: SparkSession, fields) -> DataFrame:
    """A one-row frame built in the JVM from ``(name, type, value)``
    triples — no Python-worker stage, one partition, one file."""
    return spark.range(1, numPartitions=1).select(
        *[F.lit(v).cast(t).alias(n) for n, t, v in fields]
    )


def write_manifest(
    spark: SparkSession,
    path: str,
    layout: Layout,
    batch_id: int,
    ids: DataFrame,
    id_col: str,
) -> dict:
    """Write one batch's manifest row from ONE aggregate job over
    ``ids`` (one row per id) and return ``{lo, hi, n}``."""
    m = layout.manifest
    idc = F.col(id_col)
    if m.id_type:
        idc = idc.cast(m.id_type)
    agg = ids.agg(
        F.min(idc).alias(m.lo),
        F.max(idc).alias(m.hi),
        F.count(F.lit(1)).cast("bigint").alias(m.n),
    )
    id_type = agg.schema[m.lo].dataType.simpleString()
    row = agg.collect()[0]
    n = int(row[m.n])
    lo, hi = (row[m.lo], row[m.hi]) if n else m.empty
    write_parquet_partitioned(
        _literal_row(
            spark,
            [
                ("batch", "bigint", int(batch_id)),
                (m.lo, id_type, lo),
                (m.hi, id_type, hi),
                (m.n, "bigint", n),
            ],
        ),
        f"{path}/{m.subtree}",
        ("batch",),
    )
    return {"lo": lo, "hi": hi, "n": n}


def append(
    spark: SparkSession,
    path: str,
    layout: Layout,
    batch_id: int,
    subtrees: dict[str, DataFrame],
    ids: DataFrame,
    id_col: str,
) -> dict:
    """Land one batch: drop its manifest row → drop its dir in EVERY
    layout subtree (also those this delivery does not write, so a
    downgrade replay removes them) → write each subtree frame under
    ``batch=<id>`` → write the manifest row from ``ids``. Returns the
    manifest ``{lo, hi, n}``."""
    drop_manifest_row(spark, f"{path}/{layout.manifest.subtree}", batch_id)
    drop_batch_dirs(
        spark, batch_id, *(f"{path}/{name}" for name, _ in layout.subtrees)
    )
    parts = dict(layout.subtrees)
    for name, df in subtrees.items():
        write_parquet_partitioned(
            df.withColumn("batch", F.lit(int(batch_id)).cast("bigint")),
            f"{path}/{name}",
            parts[name],
        )
    return write_manifest(spark, path, layout, batch_id, ids, id_col)


def open_frozen(
    spark: SparkSession,
    path: str,
    layout: Layout,
    what: str,
    identity: dict | None = None,
    verb: str = "encode",
    legacy: dict | None = None,
):
    """The stored ``meta`` row of an existing index, or None for a new
    one (invariant 3). An existing index is one whose creation marker
    (the last frozen artefact) exists: its ``meta`` must exist too,
    and every ``identity`` field must equal the stored value (a field
    absent from an older ``meta`` is derived by ``legacy[field](meta)``).
    A tree with rows but no marker is a foreign/partial artefact and is
    refused; a marker-less tree without rows (a crash mid-creation) is
    new and gets re-created."""
    marker = layout.frozen[-1]
    if not exists(spark, f"{path}/{marker}"):
        if exists(spark, f"{path}/{layout.rows}"):
            raise ValueError(
                f"{what} index at {path} has rows but no {marker} — its"
                " quantizer identity is unknowable; rebuild the index"
            )
        return None
    if not exists(spark, f"{path}/meta"):
        raise ValueError(
            f"{what} index at {path} has {marker} but no meta — its"
            " quantizer identity is unknowable; rebuild the index"
        )
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    if identity:
        derive = legacy or {}
        stored = tuple(
            meta[k]
            if k in meta.__fields__
            else derive.get(k, lambda _: None)(meta)
            for k in identity
        )
        wanted = tuple(identity.values())
        if stored != wanted:
            raise ValueError(
                f"{what} index at {path} was created with quantizer"
                f" identity ({', '.join(identity)})={stored}; appending"
                f" with {wanted} would {verb} incompatibly"
            )
    return meta


def persist_frozen(path: str, layout: Layout, artefacts: dict) -> None:
    """Write the creation artefacts in layout order (``meta`` first,
    the creation marker last) — BEFORE any rows."""
    for name in layout.frozen:
        if name in artefacts:
            artefacts[name].coalesce(1).write.mode("overwrite").parquet(
                f"{path}/{name}"
            )


def cast_to_stored(
    spark: SparkSession, path: str, layout: Layout, df: DataFrame, cols
) -> DataFrame:
    """``df``'s ``cols``, cast to the index's stored column types (one
    footer read): a feed switching float → double mid-stream would
    otherwise write a mixed-type tree that FAILS at probe time. The
    first batch defines the types."""
    from pyspark.errors import AnalysisException

    try:
        stored = spark.read.parquet(f"{path}/{layout.rows}").schema
    except AnalysisException:
        return df.select(*cols)
    return df.select(*[F.col(c).cast(stored[c].dataType) for c in cols])


def _read_rows(spark: SparkSession, path: str, layout: Layout) -> DataFrame:
    reader = spark.read
    if layout.schema:
        reader = reader.schema(layout.schema)
    return reader.parquet(f"{path}/{layout.rows}")


def latest_wins(rows: DataFrame, keys) -> DataFrame:
    """One row per ``keys``, the row of the LATEST batch, as ONE
    ``max_by(struct(...), batch)`` — every column of the result comes
    from the same winning row even on a batch tie between in-batch
    duplicates (independent per-column max_by calls could mix rows,
    e.g. persist a bucket or cell inconsistent with the stored
    vector). Columns keep ``rows``' order, minus ``batch``."""
    keys = list(keys)
    cols = [c for c in rows.columns if c != "batch"]
    others = [c for c in cols if c not in keys]
    return (
        rows.groupBy(*keys)
        .agg(F.max_by(F.struct(*others), "batch").alias("__w"))
        .select(
            *[
                F.col(c) if c in keys else F.col(f"__w.{c}").alias(c)
                for c in cols
            ]
        )
    )


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    layout: Layout,
    fold: Callable[[DataFrame], DataFrame] | None = None,
    extra: Callable[[str, DataFrame], dict | None] | None = None,
) -> str:
    """Compact a delta tree into a single-batch index published as the
    next serving version under ``dst_path`` (the
    :func:`..sources.writers.publish_version` crash contract: the tree
    builds in an unreferenced ``v-<n>`` dir, the pointer flips last,
    the previous version is rollback, the source deltas are never
    touched). Frozen artefacts are copied verbatim (they ARE the index
    identity); rows fold latest-wins per id (``fold`` overrides, e.g.
    a postings-level dedup) and land under ``batch=0`` with a fresh
    batch-0 manifest row, so appends AFTER the compaction can still
    prove disjointness against the folded history. ``extra(vdir,
    written_rows)`` may write family extras itself (a drift row) and
    returns the other layout subtrees to land under ``batch=0``.
    Returns the version directory name."""
    parts = dict(layout.subtrees)

    def build(vdir: str) -> None:
        def land(name: str, df: DataFrame) -> None:
            (
                df.withColumn("batch", F.lit(0).cast("bigint"))
                .write.mode("overwrite")
                .partitionBy(*parts[name])
                .parquet(f"{vdir}/{name}")
            )

        for name in layout.frozen:
            if exists(spark, f"{src_path}/{name}"):
                spark.read.parquet(f"{src_path}/{name}").coalesce(
                    1
                ).write.mode("overwrite").parquet(f"{vdir}/{name}")
        rows = _read_rows(spark, src_path, layout)
        id_col = rows.columns[0] if layout.schema is None else "doc_id"
        if fold is None:
            rows = latest_wins(rows, (id_col, *layout.fold_by))
        else:
            rows = fold(rows)
        land(layout.rows, rows)
        written = _read_rows(spark, vdir, layout)
        per_id = layout.per_id(written) if layout.per_id else written
        write_manifest(spark, vdir, layout, 0, per_id, id_col)
        for name, df in ((extra and extra(vdir, written)) or {}).items():
            land(name, df)

    return publish_version(spark, dst_path, build)


def write_drift(
    spark: SparkSession, path: str, batch_id: int, **values
) -> None:
    """One batch's drift-log row under ``{path}/drift/batch=<id>``
    (python ints land as bigint, floats as double; dynamic overwrite,
    so a replayed batch replaces its own row, never double-logs)."""
    fields = [("batch", "bigint", int(batch_id))] + [
        (k, "bigint" if isinstance(v, int) else "double", v)
        for k, v in values.items()
    ]
    write_parquet_partitioned(
        _literal_row(spark, fields), f"{path}/drift", ("batch",)
    )


def read_drift(spark: SparkSession, path: str, live: str) -> list[dict]:
    """The per-batch drift log in batch order (empty for a pre-log
    index), after validating the report's ``live`` mode."""
    from pyspark.errors import AnalysisException

    if live not in ("full", "sample", "off"):
        raise ValueError(f"unknown live mode {live!r}")
    try:
        return [
            r.asDict()
            for r in spark.read.parquet(f"{path}/drift")
            .orderBy("batch")
            .collect()
        ]
    except AnalysisException:
        return []


def fold_drift(spark: SparkSession, fit: float, col: str, name: str):
    """A :func:`compact` ``extra``: the folded tree's batch-0 drift row
    — the mean of the stored per-row ``col`` (as ``name``) and its
    ratio to the creation fit — so appends after a compaction keep the
    drift protocol working."""

    def extra(vdir: str, rows: DataFrame) -> None:
        st = rows.agg(
            F.count(F.lit(1)).alias("n"), F.avg(col).alias("m")
        ).collect()[0]
        m = float(st["m"] or 0.0)
        write_drift(
            spark,
            vdir,
            0,
            n_rows=int(st["n"]),
            **{name: m},
            drift_ratio=m / fit if fit > 0 else 1.0,
        )

    return extra
