"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

North-star extensions (SURVEY.md §2.9 "distinct / dedup"): the
reference's only dedup is an AVG-collapse of duplicate upsert keys
(/root/reference/dags/weather_daily_etl.py:186-196, reproduced in
operators.merge.collapse_duplicates); a training-data pipeline needs
document-level exact and *near*-duplicate removal.

Scale design:
- every pairwise step is an **inverted-index join** (explode a
  bucketing key, self-join on it), never a cross product;
- hash functions are seeded ``xxhash64`` — deterministic across runs,
  partitionings, and cluster sizes;
- candidate pairs are verified with exact Jaccard before anything is
  dropped, so LSH banding only affects recall, not precision.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import claim_group, persist_into
from .text import fingerprint, shingles, tokens

#: Seed for the multiply-shift MinHash lane coefficients (arrow impl).
MINHASH_SEED = 1337


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan has
    fewer splits than cores. The shingle/signature transforms below
    multiply each row ~100× in compute; a fixture-sized corpus read as
    ONE parquet split would otherwise run that entire pipeline on a
    single core (measured: 10.5 s single-task vs ~1 s spread at
    sf0.1). On a real deployment the input has more splits than cores
    and this is a no-op — the guard is what makes it safe to leave in
    the operator.

    Contract: callers apply this at the HEAD of an operator, to a
    scan-rooted frame (every in-repo call site does) — the split
    estimate below reasons about the frame's input files, which is
    the scan's parallelism only when nothing upstream re-partitions.

    Round-17 guard cost fix (VERDICT r16 #3): the previous guard
    called ``df.rdd.getNumPartitions()``, which converts the whole
    plan to an RDD on the driver — pure per-invocation driver
    overhead at any scale, paid by every bm25/phrase/prox/bloom/
    substring call even when the guard is a no-op. The split count is
    now DERIVED from the input files' sizes with Spark's own
    FilePartition bin-packing arithmetic (maxSplitBytes +
    greedy packing — FilePartition.getFilePartitions), so the guard
    costs one file listing (already cached on the relation) plus a
    few os.stat calls. Frames whose files cannot be stat'ed cheaply
    (non-local URIs, in-memory frames) keep the old rdd fallback."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Short-circuit without any file stats when bin-packing PROVABLY
    # cannot collapse the scan under ``target`` splits. A raw file
    # count is not enough — Spark packs tiny files together
    # (FilePartition), so 1000 near-empty files can scan as one
    # split. Each file contributes at least ``openCostInBytes`` of
    # packing mass and each split holds at most ``maxPartitionBytes``
    # of it, so n_files * openCost >= target * maxPartitionBytes
    # guarantees >= target splits.
    open_cost = _bytes_conf(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    max_pb = _bytes_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    files = df.inputFiles()
    n_files = len(files)
    if n_files * open_cost >= target * max_pb:
        return df
    n_splits = _estimated_scan_splits(
        spark, files, open_cost, max_pb, target
    )
    if n_splits < 0:  # could not stat cheaply — old (exact) fallback
        n_splits = df.rdd.getNumPartitions()
    if n_splits < target:
        return df.repartition(target)
    return df


def _estimated_scan_splits(
    spark, files: list[str], open_cost: int, max_pb: int, target: int
) -> int:
    """Replicate Spark's FilePartition packing arithmetic over the
    scan's file sizes — the split count the scan WILL get, computed
    driver-side from a few os.stat calls instead of a plan-to-RDD
    conversion. Returns -1 when any file is not a stat-able local
    path (the caller falls back to ``df.rdd``). Mirrors
    ``FilePartition.maxSplitBytes`` + ``getFilePartitions`` (Spark
    3.5/4.x): bytesPerCore over minPartitionNum (else
    leafNodeDefaultParallelism, else ``target``), files chunked at
    maxSplitBytes, chunks sorted desc and greedily packed with
    openCost charged per chunk."""
    import os as _os
    from urllib.parse import unquote, urlparse

    if not files:
        return -1  # no file scan (in-memory frame): not estimable
    sizes: list[int] = []
    for f in files:
        if f.startswith("file:"):
            p = unquote(urlparse(f).path)
        elif f.startswith("/"):
            p = f
        else:
            return -1
        try:
            sizes.append(_os.path.getsize(p))
        except OSError:
            return -1
    min_pn = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or target
    )
    total = sum(sizes) + len(sizes) * open_cost
    bytes_per_core = total // max(min_pn, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    if max_split <= 0:
        return len(sizes)
    chunks: list[int] = []
    for sz in sizes:
        while sz > max_split:
            chunks.append(max_split)
            sz -= max_split
        if sz > 0:
            chunks.append(sz)
    chunks.sort(reverse=True)
    n_parts, cur = 0, 0
    for c in chunks:
        if cur + c > max_split and cur > 0:
            n_parts += 1
            cur = 0
        cur += c + open_cost
    if cur > 0:
        n_parts += 1
    return n_parts


_BYTE_UNITS = {
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
}


def _bytes_conf(spark, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ('134217728', '128m', '4MB')."""
    raw = spark.conf.get(key, None)
    if not raw:
        return default
    m = re.fullmatch(r"(\d+)\s*([a-zA-Z]*)", raw.strip())
    if not m:
        return default
    return int(m.group(1)) * _BYTE_UNITS.get(m.group(2).lower() or "b", 1)


def hashed_shingles(text_col: str, n: int = 3):
    """Distinct n-gram shingles of a document as 64-bit hashes.

    Everything pairwise downstream (postings joins, intersections)
    runs on 8-byte longs instead of shingle strings — smaller
    shuffles, cheaper equality. A 64-bit collision merges two
    shingles with probability ~|shingles|²/2⁶⁴ — immaterial to
    Jaccard at any realistic corpus size.

    Prefer ``add_hashed_shingles`` (the DataFrame form): this Column
    helper references the token array several times, and inside ONE
    projection CollapseProject may inline (= re-evaluate) it per
    reference."""
    return F.transform(
        F.array_distinct(shingles(text_col, n)), lambda s: F.xxhash64(s)
    )


def add_hashed_shingles(
    df: DataFrame, text_col: str, n: int = 3, out_col: str = "__shingles"
) -> DataFrame:
    """``df`` plus a distinct shingle-hash array column, computed
    WITHOUT materializing shingle strings: each token is xxhash64'd
    once (its own projection — the multi-reference combine step below
    then can't be inlined into per-element re-evaluation), and ``n``
    consecutive token hashes combine via one more xxhash64. The
    string form (split → slice → concat_ws → hash) allocates a string
    per shingle and compiles ~10× more generated code — it measured
    5-15 s for 5 000 docs where this form is sub-second. Distinct-set
    semantics are identical: tokens are space-free, so the
    (t_i..t_{i+n-1}) tuple ↔ string shingle map is a bijection,
    modulo the same 64-bit collision odds."""
    ht_df = df.withColumn(
        "__ht",
        F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)),
    )
    ht = F.col("__ht")
    # Chained pairwise combine: zip the hash array against itself
    # shifted by 1..n-1 (slice is ONE array copy per shift; zip_with
    # one pass). element_at(ht, i+j) with a computed index measured
    # ~15× slower here — per-element bound-checked lookups inside a
    # transform lambda don't codegen tightly.
    combined = ht
    for j in range(1, n):
        combined = F.zip_with(
            combined,
            F.slice(ht, j + 1, F.size(ht) - j),
            lambda a, b: F.xxhash64(a, b),
        )
    shingle_arr = F.slice(combined, 1, F.size(ht) - (n - 1))
    out = F.when(
        F.size(ht) < n, F.array().cast("array<bigint>")
    ).otherwise(F.array_distinct(shingle_arr))
    return ht_df.withColumn(out_col, out).drop("__ht")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by md5 fingerprint; keep the min-id row
    as canonical. Output: one row per distinct text with its
    duplicate count. A single hash-shuffle on the 32-byte digest —
    never on the document bodies — so 100 TB of text shuffles ~3 GB
    of keys."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return df minus non-canonical exact duplicates."""
    keep = exact_duplicates(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


#: Shingle count per lane-matrix chunk inside ``_minhash_sig_udf``.
#: Peak temp = chunk · k · 8 B — 64 MiB at the default k = 32 — so
#: worker memory is bounded no matter how large an Arrow batch (or a
#: single pathological document) gets.
MINHASH_LANE_CHUNK = 1 << 18


def _minhash_sig_udf(num_hashes: int, lane_chunk: int = MINHASH_LANE_CHUNK):
    """Arrow-batched MinHash signature kernel: shingle-hash array in,
    ``num_hashes`` lane-mins out via vectorized passes per batch.

    The k lanes are a multiply-shift universal hash family
    h_i(x) = a_i·x + b_i (mod 2⁶⁴, a_i odd) — the standard MinHash
    construction; coefficients regenerate inside the UDF from
    MINHASH_SEED, so nothing is closure-captured and the Arrow
    transfer is the hash array in, k longs back. Rows evaluate as
    (Σ|shingles|, k) outer products + segmented min
    (``np.minimum.reduceat``) — the same shape that took
    ``srp_signature`` from 9.5 s of interpreted HOF eval to
    milliseconds (similarity.py) — but chunked to
    ``MINHASH_LANE_CHUNK`` shingles per matrix so peak memory stays
    fixed: Arrow batch size is a row-count knob, not a byte knob, and
    one batch of long documents would otherwise materialize a
    multi-GiB lane matrix. A single document larger than the chunk is
    itself processed in slices with a running per-lane min."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _sig(h: pd.Series) -> pd.Series:
        rng = np.random.default_rng(MINHASH_SEED)
        a = rng.integers(0, 2**63, num_hashes, dtype=np.uint64) * 2 + 1
        b = rng.integers(0, 2**63, num_hashes, dtype=np.uint64)
        arrs = h.to_numpy()
        out: list = [None] * len(arrs)

        def emit(rows: list[int]) -> None:
            # One (flat, k) matrix for a group of rows whose total
            # shingle count fits the chunk budget.
            flat = np.concatenate(
                [np.asarray(arrs[i], dtype=np.int64) for i in rows]
            ).astype(np.uint64)
            lanes = flat[:, None] * a[None, :] + b[None, :]
            lens = np.array([len(arrs[i]) for i in rows], dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            mins = np.minimum.reduceat(lanes, starts, axis=0).astype(
                np.int64
            )
            for row, i in enumerate(rows):
                out[i] = mins[row]

        def emit_sliced(i: int) -> None:
            # Monster document: running per-lane min over fixed slices.
            flat = np.asarray(arrs[i], dtype=np.int64).astype(np.uint64)
            acc = None
            for s in range(0, len(flat), lane_chunk):
                piece = flat[s : s + lane_chunk]
                m = (piece[:, None] * a[None, :] + b[None, :]).min(axis=0)
                acc = m if acc is None else np.minimum(acc, m)
            out[i] = acc.astype(np.int64)

        pending: list[int] = []
        pending_len = 0
        for i, v in enumerate(arrs):
            n = 0 if v is None else len(v)
            if n == 0:
                continue
            if n > lane_chunk:
                emit_sliced(i)
                continue
            if pending and pending_len + n > lane_chunk:
                emit(pending)
                pending, pending_len = [], 0
            pending.append(i)
            pending_len += n
        if pending:
            emit(pending)
        return pd.Series(out)

    return _sig


def _signatures_over(
    hashed: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int,
    impl: str,
) -> DataFrame:
    """(id, signature) from a (id, shingle-hash-array) DataFrame."""
    if impl == "arrow":
        sig_udf = _minhash_sig_udf(num_hashes)
        return hashed.select(
            F.col(id_col), sig_udf(F.col(shingle_col)).alias("signature")
        )
    # expr form: 'shingle_col' is referenced k times from its own
    # projection, which stops CollapseProject from inlining the
    # shingle computation back into every lane.
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col(shingle_col),
                    lambda h, i=i: F.xxhash64(h, F.lit(i)),
                )
            )
            for i in range(num_hashes)
        ]
    )
    return hashed.select(F.col(id_col), sig.alias("signature"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    n: int = 3,
    impl: str = "arrow",
) -> DataFrame:
    """MinHash signature per document: k seeded hash mins over the
    document's n-gram shingle set. One narrow projection — no shuffle.

    ``impl='arrow'`` (default) computes all k lanes as one vectorized
    numpy pass per Arrow batch (see ``_minhash_sig_udf``);
    ``impl='expr'`` keeps the pure-JVM expression form (xxhash64 lane
    family) for deployments without Python workers. The two families
    produce different (but each deterministic) signatures with the
    same collision statistics."""
    # Pre-hash each distinct shingle string ONCE, then derive the k
    # signature lanes from that 8-byte value — k×shingles long-hashes
    # instead of k×shingles string-hashes, whichever impl runs.
    hashed = add_hashed_shingles(
        spread_small_scan(df), text_col, n, out_col="h"
    ).select(id_col, "h")
    return _signatures_over(hashed, id_col, "h", num_hashes, impl)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` hashes, hash each band, and self-join documents
    that collide in *any* band. The explode keeps the join an
    equi-join on (band_idx, band_hash) — a shuffle, not a cross
    product; frequent-bucket skew is handled by AQE skew-join."""
    buckets = signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("signature")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    ).select(id_col, "bucket.band", "bucket.band_hash")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard for all pairs sharing ≥1 shingle,
    via an inverted-index self-join (shingle → postings → pair
    counts).

    ``max_df`` is the stop-shingle document-frequency cap: a shingle
    appearing in more than ``max_df`` documents is removed from every
    document's shingle set *before* the self-join (sizes shrink too,
    so Jaccard stays a true set similarity — over the pruned space).
    The postings join is quadratic per shingle (df·(df−1)/2 pairs), so
    one boilerplate phrase shared by 1 M documents is 5·10¹¹ pairs —
    the cap is what makes the join feasible at 100 TB. Hot shingles
    are few by construction, so the pruning side broadcasts; the extra
    cost is one map-side-combined groupBy of shingle hashes.

    The shingle kernel is cached ONCE (``persist`` of the per-doc
    hash arrays): the self-join's two sides plus the size and
    hot-shingle consumers would otherwise each re-run it (Spark does
    no cross-consumer common-subexpression reuse) — measured, the
    recompute dominated the query. ``persist`` rather than
    ``localCheckpoint``: same reuse, but lineage is retained so an
    executor loss at scale recomputes the lost blocks instead of
    failing the query. Sizes for the uncapped form come straight
    from ``F.size`` on the cached arrays — no groupBy shuffle at
    all."""
    caches = claim_group("jaccard_pairs")
    hashed = persist_into(
        caches,
        add_hashed_shingles(spread_small_scan(df), text_col, n).select(
            id_col, "__shingles"
        ),
    )
    sh = hashed.select(
        F.col(id_col), F.explode(F.col("__shingles")).alias("shingle")
    )
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        # pruned postings feed three consumers (sizes, both join
        # sides) — materialize them too
        sh = persist_into(
            caches, sh.join(F.broadcast(hot), "shingle", "left_anti")
        )
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    else:
        sizes = hashed.select(
            F.col(id_col), F.size("__shingles").alias("n_shingles")
        )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    impl: str = "arrow",
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures → banded candidate
    pairs → exact-Jaccard verification of candidates only. Precision
    is exact; recall is the LSH S-curve (tests assert it empirically
    against brute-force jaccard_pairs).

    Both the LSH band join and the verification join are SELF-joins,
    and Spark does no cross-side common-subexpression reuse: left
    as lazy plans, the shingle pass would run 4× and the signature
    pass 2× (measured: the recompute, not signature eval, dominated
    the round-2 4.9 s — each stage is sub-second evaluated once).
    ``persist`` caches shingles and signatures exactly once so every
    join side reads the cached state (lineage retained — an executor
    loss recomputes, unlike localCheckpoint). At scale this is the
    standard design anyway: signatures are tiny (k longs/doc) and the
    shingle table is corpus-sized but spills to executor disk,
    cheaper than re-running the shingle kernel over the full corpus
    three more times."""
    caches = claim_group("minhash_near_duplicates")
    hashed = persist_into(
        caches,
        add_hashed_shingles(
            spread_small_scan(df), text_col, n, out_col="sh"
        ).select(id_col, "sh"),
    )
    sigs = persist_into(
        caches, _signatures_over(hashed, id_col, "sh", num_hashes, impl)
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes // bands)
    a = hashed.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = hashed.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.array_size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.array_size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


#: Portable MinHash lane coefficients: odd a < 2³⁰, b < 2³⁰, fixed
#: (numpy default_rng(2026)). With 32-bit shingle hashes, every
#: a·x + b stays below 2⁶³ — EXACT in signed-64 arithmetic in any
#: engine (no wraparound, no HUGEINT needed), which is what lets the
#: full LSH pipeline be replayed by the SQL oracle.
PORTABLE_MINHASH_A = [
    914669163, 192129793, 28365615, 687101529, 392428667, 501725625,
    85714717, 397821911, 690900359, 381089585, 892345035, 848812503,
    756373207, 971890795, 774391813, 190431539,
]
PORTABLE_MINHASH_B = [
    921758931, 700922344, 105727811, 320300157, 177890572, 1038267756,
    781641116, 987681589, 303331142, 682761077, 648727104, 808239934,
    126719000, 553142069, 692073037, 886798281,
]
PORTABLE_MINHASH_MOD = 1 << 61


def _portable_hashed(df: DataFrame, id_col: str, text_col: str, n: int):
    """(id, h): distinct portable 32-bit shingle hashes, empty docs
    dropped (an empty shingle set has no signature)."""
    from .text import portable_shingle_hash

    return (
        spread_small_scan(df)
        .select(
            F.col(id_col),
            F.array_distinct(portable_shingle_hash(text_col, n)).alias("h"),
        )
        .where(F.size("h") > 0)
    )


def _portable_sig() -> F.Column:
    """Portable multiply-mod MinHash signature over column ``h``."""

    def _lane(a: int, b: int):
        # single-arg lambda: PySpark infers HOF arity from the
        # Python signature, so coefficients bind via closure
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(
            PORTABLE_MINHASH_MOD
        )

    return F.array(
        *[
            F.array_min(F.transform(F.col("h"), _lane(a, b)))
            for a, b in zip(PORTABLE_MINHASH_A, PORTABLE_MINHASH_B)
        ]
    )


def _portable_band_explode(
    sigs: DataFrame, id_col: str, rows_per_band: int
) -> DataFrame:
    """(id, band_idx, bslice) — one row per band, key = the raw
    signature slice (portable: array equality is a plain join key in
    any engine)."""
    k = len(PORTABLE_MINHASH_A)
    n_bands = k // rows_per_band
    band_slices = F.array(
        *[
            F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band)
            for bi in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.posexplode(band_slices)).select(
        id_col,
        F.col("pos").alias("band_idx"),
        F.col("col").alias("bslice"),
    )


def portable_minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    rows_per_band: int = 4,
) -> DataFrame:
    """Fully PORTABLE MinHash-LSH near-dup pairs: every stage —
    md5-derived 32-bit shingle hashes, multiply-mod signature lanes,
    band keys as raw signature slices (no opaque hash), candidate
    equi-join, exact-Jaccard verification — uses arithmetic any
    engine reproduces bit-for-bit, so the WHOLE pipeline is checkable
    against an independent SQL oracle (the xxhash64 family in
    ``minhash_near_duplicates`` is faster but engine-specific, hence
    rows-only checked; this twin is the cross-engine proof of the
    banding math). Band join keys are the 4-lane signature slices
    themselves: array equality is a plain shuffle key in Spark and a
    list key in SQL — at 100 TB hash the slice (one key column
    instead of four) and keep this form as the verification twin."""
    caches = claim_group("portable_minhash_pairs")
    hashed = persist_into(caches, _portable_hashed(df, id_col, text_col, n))
    bands = persist_into(
        caches,
        _portable_band_explode(
            hashed.select(F.col(id_col), _portable_sig().alias("sig")),
            id_col,
            rows_per_band,
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bslice") == F.col("b.bslice"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    ha = hashed.select(F.col(id_col).alias("id_a"), F.col("h").alias("h_a"))
    hb = hashed.select(F.col(id_col).alias("id_b"), F.col("h").alias("h_b"))
    inter = F.array_size(F.array_intersect("h_a", "h_b")).cast("double")
    union = (
        F.array_size("h_a") + F.array_size("h_b")
        - F.array_size(F.array_intersect("h_a", "h_b"))
    )
    return (
        cands.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint: per token-hash bit, vote +1/−1 weighted by
    term frequency; the sign vector packs into one long. Hamming-close
    fingerprints ≈ similar token distributions. Pure codegen
    (explode → hash → bit votes → conditional aggregate)."""
    tok = spread_small_scan(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    hashed = tok.select(id_col, F.xxhash64("token").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit_{i}")
        for i in range(bits)
    ]
    voted = hashed.groupBy(id_col).agg(*votes)
    packed_expr = F.lit(0).cast("long")
    for i in range(bits):
        bit = (
            F.when(F.col(f"bit_{i}") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        packed_expr = packed_expr.bitwiseOR(F.shiftleft(bit, i))
    return voted.select(F.col(id_col), packed_expr.alias("simhash"))


def portable_minhash_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> None:
    """Persist the corpus's portable-MinHash dedup state at rest:
    ``(id, h, sig)`` parquet — the distinct shingle-hash set (for
    exact verification) and the multiply-mod signature (for banding).
    Signatures are computed ONCE here, at ingest: an incremental
    dedup pass (:func:`portable_minhash_dedup_incremental`) then
    reads this index instead of re-hashing the historical corpus, so
    per-batch cost is O(batch + matched candidates), never O(corpus)
    recompute — the same signature-at-rest economics as
    ``similarity.srp_index_write``."""
    hashed = _portable_hashed(df, id_col, text_col, n)
    (
        hashed.withColumn("sig", _portable_sig())
        .write.mode("overwrite")
        .parquet(path)
    )


def portable_minhash_dedup_incremental(
    new_df: DataFrame,
    index_path: str | DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental near-dup detection of a NEW batch against the
    at-rest corpus index — the production crawl-dedup shape: every
    arriving batch is checked against the full history, but history
    is touched only through its persisted signatures/shingles (scan,
    no recompute). Output: ``(corpus_id, new_id, jaccard)`` — one row
    per cross near-dup pair regardless of id order.

    Pipeline: the batch computes its own shingle hashes + signatures
    (persisted once — both the band join and the verify join consume
    them); both sides explode band slices and CROSS-side equi-join on
    ``(band_idx, bslice)``; candidates verify with exact Jaccard on
    the stored corpus shingle set vs the batch's. Identical portable
    arithmetic to :func:`portable_minhash_pairs`, so the result
    equals the full-batch pipeline restricted to (corpus, new) pairs
    — asserted in tests/test_dedup.py and hash-checked by the
    ``minhash_dedup_incremental`` oracle, which replays the WHOLE
    thing (index included) in SQL.

    ``index_path`` also accepts an already-loaded index DataFrame —
    the streaming loop uses this to exclude its own replayed batch
    partition from the read (ADVICE r8 idempotency fix)."""
    spark = new_df.sparkSession
    idx = (
        index_path
        if isinstance(index_path, DataFrame)
        else spark.read.parquet(index_path)
    )
    caches = claim_group("portable_minhash_dedup_incremental")
    new_hashed = persist_into(
        caches, _portable_hashed(new_df, id_col, text_col, n)
    )
    old_bands = _portable_band_explode(
        idx.select(F.col(id_col), F.col("sig")), id_col, rows_per_band
    ).select(
        F.col(id_col).alias("corpus_id"), "band_idx", "bslice"
    )
    new_bands = _portable_band_explode(
        new_hashed.select(F.col(id_col), _portable_sig().alias("sig")),
        id_col,
        rows_per_band,
    ).select(F.col(id_col).alias("new_id"), "band_idx", "bslice")
    cands = (
        old_bands.join(new_bands, ["band_idx", "bslice"])
        .select("corpus_id", "new_id")
        .distinct()
    )
    ha = idx.select(F.col(id_col).alias("corpus_id"), F.col("h").alias("h_a"))
    hb = new_hashed.select(
        F.col(id_col).alias("new_id"), F.col("h").alias("h_b")
    )
    inter = F.array_size(F.array_intersect("h_a", "h_b")).cast("double")
    union = (
        F.array_size("h_a")
        + F.array_size("h_b")
        - F.array_size(F.array_intersect("h_a", "h_b"))
    )
    return (
        cands.join(ha, "corpus_id")
        .join(hb, "new_id")
        .select("corpus_id", "new_id", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _band_key(rows_per_band: int) -> F.Column:
    """Scalar join/bucket key for a band slice: xxhash64 of its
    lanes. Bucketed tables cannot bucket on an array column; the
    residual exact slice equality rides the join as a filter, so the
    hash only has to be collision-rare, not perfect."""
    return F.xxhash64(
        *[F.col("bslice")[i] for i in range(rows_per_band)]
    )


def portable_minhash_index_write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    rows_per_band: int = 4,
    n_buckets: int = 16,
) -> None:
    """Bucketed-at-rest dedup index for HIGH-FREQUENCY incremental
    dedup: the band table is hash-BUCKETED (and sorted) on the band
    join key, so every arriving batch's candidate join re-shuffles
    ONLY the batch — the corpus-sized index side reads its buckets
    straight into the sort-merge join with no exchange and no sort,
    every batch, forever (the write-once shuffle amortization of
    plans/bucketplans.py applied to the dedup loop). Layout:
    ``<table>_bands`` bucketed on (band_idx, band_key) +
    ``<path>/docs`` flat (id, shingle set) for verification."""
    hashed = _portable_hashed(df, id_col, text_col, n)
    bands = _portable_band_explode(
        hashed.select(F.col(id_col), _portable_sig().alias("sig")),
        id_col,
        rows_per_band,
    ).withColumn("bhash", _band_key(rows_per_band))
    from .scale import write_bucketed

    write_bucketed(
        bands,
        f"{table}_bands",
        ["band_idx", "bhash"],
        n_buckets,
        f"{path}/bands",
        sort_cols=["band_idx", "bhash"],
    )
    hashed.write.mode("overwrite").parquet(f"{path}/docs")


def portable_minhash_dedup_incremental_bucketed(
    new_df: DataFrame,
    table: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    rows_per_band: int = 4,
) -> DataFrame:
    """:func:`portable_minhash_dedup_incremental` against the
    BUCKETED index — identical output (the catalog entry shares the
    flat form's oracle; tests assert result and plan), different
    physics: the equi-join keys (band_idx, band_key) match the
    index's bucket spec exactly, so Catalyst plans the index side
    scan → join with NO exchange and NO sort; only the new batch
    hashes/shuffles. Exact slice equality rides as a join residual
    (the scalar key exists only because buckets can't key on
    arrays)."""
    spark = new_df.sparkSession
    bands_t = spark.table(f"{table}_bands")
    docs_t = spark.read.parquet(f"{path}/docs")
    caches = claim_group("portable_minhash_dedup_incremental_bucketed")
    new_hashed = persist_into(
        caches, _portable_hashed(new_df, id_col, text_col, n)
    )
    new_bands = _portable_band_explode(
        new_hashed.select(F.col(id_col), _portable_sig().alias("sig")),
        id_col,
        rows_per_band,
    ).withColumn("bhash", _band_key(rows_per_band))
    old = bands_t.select(
        F.col(id_col).alias("corpus_id"),
        "band_idx",
        "bhash",
        F.col("bslice").alias("bslice_old"),
    )
    new = new_bands.select(
        F.col(id_col).alias("new_id"),
        "band_idx",
        "bhash",
        F.col("bslice").alias("bslice_new"),
    )
    # The exact-slice residual is written as a zip_with fold, NOT
    # ``bslice_old == bslice_new``: Catalyst promotes a top-level
    # attribute equality into the equi-join keys, and keys
    # (bslice, band_idx, bhash) no longer match the bucket spec —
    # both sides would re-shuffle, defeating the layout. The fold is
    # opaque to key extraction, so the join keys stay exactly the
    # bucket columns and the index side scans straight into the SMJ.
    slices_equal = (
        F.aggregate(
            F.zip_with(
                F.col("bslice_old"),
                F.col("bslice_new"),
                lambda x, y: F.when(x == y, F.lit(0)).otherwise(F.lit(1)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        == 0
    )
    cands = (
        old.join(new, ["band_idx", "bhash"])
        .where(slices_equal)
        .select("corpus_id", "new_id")
        .distinct()
    )
    ha = docs_t.select(
        F.col(id_col).alias("corpus_id"), F.col("h").alias("h_a")
    )
    hb = new_hashed.select(
        F.col(id_col).alias("new_id"), F.col("h").alias("h_b")
    )
    inter = F.array_size(F.array_intersect("h_a", "h_b")).cast("double")
    union = (
        F.array_size("h_a")
        + F.array_size("h_b")
        - F.array_size(F.array_intersect("h_a", "h_b"))
    )
    return (
        cands.join(ha, "corpus_id")
        .join(hb, "new_id")
        .select("corpus_id", "new_id", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_hex: tuple[str, ...] = ("0", "1"),
) -> DataFrame:
    """Content-defined chunking over the token stream — the storage-
    dedup primitive (LBFS/restic/borg family): a chunk boundary falls
    AFTER token i whenever md5(token_i)'s last hex digit is in
    ``boundary_hex`` (P = len/16, here 1/8 → expected ~8-token
    chunks). Boundaries depend only on local content, so an insertion
    reshapes chunks only near the edit and every untouched chunk keeps
    its digest — which is exactly what makes chunk-level dedup between
    corpus snapshots work where fixed-offset blocks would all shift.

    Output: one row per chunk — (id, chunk_idx, digest, n_tokens).

    Scale shape: ENTIRELY per-row — boundary positions via a
    higher-order filter over per-token md5s, chunk texts via dynamic
    array slices between consecutive boundaries; no explode-then-
    window, no shuffle of text (only the digest rows leave the scan
    stage). The boundary/starts/ends arrays are MATERIALIZED as
    columns before the chunk transform references them: higher-order
    lambdas are interpreted, and an element_at against an inline
    expression re-evaluates that expression's whole tree (the md5
    filter included) per chunk — measured 54 s vs 1.5 s at sf0.1 on
    this exact operator. The scan is also spread across cores
    (spread_small_scan): per-row HOF work on a one-file fixture would
    otherwise run on a single task. md5 keeps digests replayable by
    external engines."""
    t = tokens(text_col)
    last_hex = lambda x: F.substring(F.md5(x), 32, 1)  # noqa: E731
    is_b = lambda x: last_hex(x).isin(*boundary_hex)  # noqa: E731
    base = (
        spread_small_scan(df)
        .where(F.size(tokens(text_col)) > 0)
        .select(F.col(id_col), t.alias("__t"))
        .withColumn(
            "__bpos",
            F.filter(
                F.sequence(
                    F.lit(1), F.greatest(F.size("__t") - 1, F.lit(0))
                ),
                lambda i: is_b(F.element_at(F.col("__t"), i)),
            ),
        )
        .withColumn(
            "__starts",
            F.concat(
                F.array(F.lit(1)),
                F.transform("__bpos", lambda p: p + 1),
            ),
        )
        .withColumn(
            "__ends", F.concat(F.col("__bpos"), F.array(F.size("__t")))
        )
    )
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("__starts")),
        lambda k: F.struct(
            (k - 1).cast("bigint").alias("chunk_idx"),
            F.array_join(
                F.slice(
                    F.col("__t"),
                    F.element_at(F.col("__starts"), k),
                    F.element_at(F.col("__ends"), k)
                    - F.element_at(F.col("__starts"), k)
                    + 1,
                ),
                " ",
            ).alias("chunk_text"),
            (
                F.element_at(F.col("__ends"), k)
                - F.element_at(F.col("__starts"), k)
                + 1
            )
            .cast("bigint")
            .alias("n_tokens"),
        ),
    )
    return base.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col,
        "c.chunk_idx",
        F.md5("c.chunk_text").alias("digest"),
        "c.n_tokens",
    )


def cdc_dedup_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Chunk-store economics of :func:`cdc_chunks` in one row: chunks
    and tokens before/after digest-level dedup — the 'how much smaller
    is the content-addressed store' number a snapshotting corpus
    pipeline tracks. Exact integers: one groupBy(digest) collapse
    (map-side combined, 16-byte keys) feeding one global aggregate."""
    ch = cdc_chunks(df, id_col, text_col)
    per_digest = ch.groupBy("digest").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.first("n_tokens").alias("n_tokens"),
    )
    return per_digest.agg(
        F.sum("n_copies").cast("bigint").alias("total_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chunks"),
        F.sum(F.col("n_copies") * F.col("n_tokens"))
        .cast("bigint")
        .alias("total_tokens"),
        F.sum("n_tokens").cast("bigint").alias("distinct_tokens"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram-shingle CONTAINMENT near-dup pairs — the
    asymmetric companion to :func:`jaccard_pairs`:
    containment = |A∩B| / min(|A|, |B|) flags a document mostly
    CONTAINED in another (quote inclusion, page-within-crawl,
    article-within-digest) that Jaccard misses whenever the sizes are
    lopsided (A⊂B with |B| = 4|A| has Jaccard 0.25 but containment
    1.0 — Lee et al.'s inclusion case). Same inverted-index self-join
    shape and scale story as jaccard_pairs (shared shingle kernel
    cache, hot-shingle df capping applies identically if needed);
    the ratio is one division of exact ints, engine-stable."""
    caches = claim_group("containment_pairs")
    hashed = persist_into(
        caches,
        add_hashed_shingles(spread_small_scan(df), text_col, n).select(
            id_col, "__shingles"
        ),
    )
    sh = hashed.select(
        F.col(id_col), F.explode(F.col("__shingles")).alias("shingle")
    )
    sizes = hashed.select(
        F.col(id_col), F.size("__shingles").alias("n_shingles")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def simhash_portable(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """Portable twin of :func:`simhash` — the portable_minhash
    discipline applied to the SimHash family: token hashes come from
    an md5 prefix (15 hex digits = 60 bits, safely inside BIGINT)
    instead of the engine-internal xxhash64, so ANY system replays
    the fingerprint bit-for-bit (the property a cross-store
    fingerprint needs, and what makes the DuckDB oracle possible —
    plans/textplans.py). Same vote semantics: every token OCCURRENCE
    votes +1/-1 per bit, the sign vector packs LSB-first. Pure
    codegen, one groupBy."""
    tok = spread_small_scan(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    hashed = tok.select(
        id_col,
        F.expr(
            "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"bit_{i}")
        for i in range(bits)
    ]
    voted = hashed.groupBy(id_col).agg(*votes)
    packed_expr = F.lit(0).cast("long")
    for i in range(bits):
        bit = (
            F.when(F.col(f"bit_{i}") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        packed_expr = packed_expr.bitwiseOR(F.shiftleft(bit, i))
    return voted.select(F.col(id_col), packed_expr.alias("simhash"))
