"""BM25 lexical retrieval — batch scoring and an at-rest postings index.

The retrieval counterpart of the embedding ANN family: given a small
set of keyword queries, rank documents by Okapi BM25. Two shapes:

- :func:`bm25_topk` — everything computed from the corpus in one job
  (the ad-hoc / benchmark shape).
- :func:`bm25_index_write` + :func:`bm25_topk_at_rest` — the serving
  shape: postings, term statistics, and corpus scalars persist once at
  ingest; a probe reads ONLY the partitions of the query's terms
  (partition pruning on a token-hash prefix), never the corpus.

Exactness contract (what makes the result hash-checkable across
engines): with k1 = 1.2 and b = 0.75 the BM25 term weight

    idf(t)    = ln((N + 1) / (df + 0.5))            (Robertson/Lucene)
    tfpart(t) = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

is algebraically a single ln over a ratio of exact integers times a
ratio of exact integers: multiplying tfpart through by 20*SDL (SDL =
total corpus tokens, avgdl = SDL/N) gives

    idf    = ln((2N+2) / (2df+1))
    tfpart = 44*tf*SDL / (20*tf*SDL + 6*SDL + 18*dl*N)

All inputs to the float stage are exact BIGINTs; the float stage is a
fixed shape (one divide + ln, one divide, two multiplies, round) that
an external engine replays bit-for-bit; the per-term score is then
frozen to integer micro-units (×1e6) so the per-document SUM is exact
integer arithmetic — orderless, partitioning-independent. See the
cross-engine float-parity note in plans/statplans.py.

Reference scope: the reference repo has no retrieval operator (508 LoC
of linear ETL — see SURVEY.md §2.9); this is north-star LLM-pipeline
surface (hard-negative mining, eval-retrieval, corpus audit by query).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import claim_group, persist_into
from ..sources import indexstore as store
from .dedup import spread_small_scan
from .text import tokens

#: partition-prefix width of the at-rest postings layout: first byte of
#: md5(token) → 256 partitions, enough spread for any vocabulary while
#: keeping the probe's IN-list tiny.
_PFX_LEN = 2

_POSTINGS_DDL = (
    "token string, doc_id bigint, tf bigint, dl bigint, batch bigint,"
    " pfx string"
)
_POSITIONS_DDL = (
    "token string, doc_id bigint, pos bigint, batch bigint, pfx string"
)


def _distinct_docs(rows: DataFrame) -> DataFrame:
    return rows.select("doc_id").dropna().distinct()


#: BM25 layout: postings with dl denormalized, additive per-batch
#: term-stats and corpus-scalar deltas, the optional doc-keyed forward
#: index. Overlap strategy GUARD (+ REPAIR at compaction).
BM25 = store.Layout(
    subtrees=(
        ("postings", ("batch", "pfx")),
        ("termstats", ("batch",)),
        ("stats", ("batch",)),
        ("docterms", ("batch", "dpfx")),
    ),
    manifest=store.TEXT_MANIFEST,
    schema=_POSTINGS_DDL,
    per_id=_distinct_docs,
)
#: positional layout: one (token, doc_id, pos) row per occurrence.
#: Overlap strategy REPAIR in-plan (a probe-side distinct).
POSITIONAL = store.Layout(
    subtrees=(("postings_pos", ("batch", "pfx")),),
    manifest=store.TEXT_MANIFEST,
    schema=_POSITIONS_DDL,
    per_id=_distinct_docs,
)


class OverlappingBatchesError(RuntimeError):
    """A BM25 probe refused to serve from a delta tree whose batch
    manifest cannot prove the batches doc-id-disjoint (``on_overlap=
    'raise'``). BM25's term stats and corpus scalars are additive
    over DISJOINT batches only — a re-delivered document
    double-counts df/dl and silently inflates every score involving
    its terms. Remediation: ``bm25_index_compact(..., repair='auto')``
    folds re-delivered documents latest-batch-wins and recomputes the
    statistics."""


class OverlapWarning(UserWarning):
    """The explicit overlap-warning channel of the BM25 probes
    (``on_overlap='warn'``, the default): the batch manifest reports
    MAYBE-overlapping doc-id ranges, so served scores are correct
    only if no document was actually re-delivered across batches
    (ranges can interleave — e.g. a mod-N keyed feed — without
    sharing an id)."""


def _bm25_overlap_guard(
    spark: SparkSession, index_path: str, on_overlap: str
) -> None:
    """Probe-side arm of the BM25 disjoint-batch contract (VERDICT
    r14 #1): before ANY at-rest scoring read — postings, termstats,
    stats, and the PRF ``docterms`` pass — consult the append-time
    doc-id-range ``manifest`` the way the positional family's
    :func:`_pos_dedup_needed` does. Positional probes can REPAIR
    in-plan (positions are per-document facts, so a distinct restores
    semantics); BM25's pre-aggregated df/dl deltas cannot, so on a
    can't-prove-disjoint tree the probe raises
    :class:`OverlappingBatchesError` (``'raise'``) or emits
    :class:`OverlapWarning` (``'warn'``, default) instead of silently
    double-counting. ``'ignore'`` opts out for feeds the caller has
    verified out-of-band. Single-batch and provably-disjoint trees
    pass silently and their scoring plan is byte-identical to the
    unguarded one; a PRE-manifest tree (no ``manifest`` subtree at
    all) keeps historical serve-silently behavior — there is no
    overlap report to act on. Driver cost: one exists-check plus one
    listStatus, plus a batches-sized manifest read only on
    multi-batch trees."""
    if on_overlap not in ("warn", "raise", "ignore"):
        raise ValueError(f"unknown on_overlap {on_overlap!r}")
    if on_overlap == "ignore":
        return
    if not store.has_manifest(spark, index_path, BM25):
        return
    # batches_disjoint short-circuits True on <=1 live batches, so no
    # separate batch-count pre-check (one listStatus, not two)
    if store.batches_disjoint(spark, index_path, BM25):
        return
    msg = (
        f"BM25 index at {index_path} has multiple batches whose"
        " manifest doc-id ranges cannot be proven pairwise disjoint:"
        " df/dl statistics are additive over disjoint batches only,"
        " so scores are correct only if no document was re-delivered"
        " across batches. Run bm25_index_compact(repair='auto') to"
        " fold re-delivered documents and recompute statistics, or"
        " pass on_overlap='ignore' for a feed verified disjoint"
        " out-of-band."
    )
    if on_overlap == "raise":
        raise OverlappingBatchesError(msg)
    import warnings

    warnings.warn(msg, OverlapWarning, stacklevel=3)


def _query_terms(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """(query_id, token) — distinct whitespace terms of each query."""
    q = spark.createDataFrame(queries, "query_id bigint, qtext string")
    return q.select(
        "query_id", F.explode(tokens("qtext")).alias("token")
    ).distinct()


def _term_micro() -> F.Column:
    """The frozen-shape float stage: BIGINT columns ``tf, df, dl,
    n_docs, sum_dl`` → integer micro-units of the BM25 term weight.

    Every cast/multiply/add is written out so the oracle SQL mirrors
    the exact op sequence (same parse tree → same IEEE result)."""
    idf = F.log(
        (F.lit(2) * F.col("n_docs") + F.lit(2)).cast("double")
        / (F.lit(2) * F.col("df") + F.lit(1)).cast("double")
    )
    num = (F.lit(44) * F.col("tf")).cast("double") * F.col("sum_dl").cast(
        "double"
    )
    den = (
        (F.lit(20) * F.col("tf")).cast("double")
        * F.col("sum_dl").cast("double")
        + (F.lit(6) * F.col("sum_dl")).cast("double")
    ) + (F.lit(18) * F.col("dl")).cast("double") * F.col("n_docs").cast(
        "double"
    )
    return F.round(idf * (num / den) * F.lit(1000000.0), 0).cast("bigint")


#: the same stage as a DuckDB SQL fragment (columns tf, df, dl,
#: n_docs, sum_dl in scope) — keep in lockstep with :func:`_term_micro`.
SQL_TERM_MICRO = (
    "CAST(ROUND(ln(CAST(2*n_docs+2 AS DOUBLE) / CAST(2*df+1 AS DOUBLE))"
    " * ((CAST(44*tf AS DOUBLE) * CAST(sum_dl AS DOUBLE))"
    "    / ((CAST(20*tf AS DOUBLE) * CAST(sum_dl AS DOUBLE)"
    "        + CAST(6*sum_dl AS DOUBLE))"
    "       + CAST(18*dl AS DOUBLE) * CAST(n_docs AS DOUBLE)))"
    " * 1000000.0, 0) AS BIGINT)"
)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("query_id", "doc_id", "score_micro", "rnk")
    )


def _corpus_stats_df(docs: DataFrame, text_col: str, caches) -> DataFrame:
    """The BM25 corpus scalars ``(n_docs, sum_dl)`` as a PERSISTED
    one-row frame. PRF runs two ranking passes over the same corpus;
    sharing this frame computes the scalars tokenize pass once — it
    fills inside pass 1's own broadcast subtree (no separate driver
    action, no extra job barrier), and pass 2's broadcast re-reads
    the one-row cache instead of re-tokenizing the corpus (round 17,
    guide §2.4 — the scalars are identical by construction, so every
    score is unchanged; an earlier draft collected them driver-side
    up front, which paid a whole extra job for the same sharing)."""
    return persist_into(
        caches,
        docs.select(tokens(text_col).alias("t")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.array_size("t")).alias("sum_dl"),
        ),
    )


def bm25_scores(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """BM25 scores (query_id, doc_id, score_micro) for every document
    matching ≥1 query term, computed from the corpus in one job.

    Scale shape (round 16, guide §2.3/§2.4 — two passes, not three,
    and no corpus-sized join): the query's terms are known
    driver-side, so the exploded token stream is pruned with an
    in-plan ``isin`` predicate (codegen hash-set lookup, no join, no
    exchange before the prune) and CARRIES the document length
    through its groupBy — doc_id determines dl, so the groups are
    identical and the pre-r16 corpus-wide ``(doc_id, dl)`` join
    disappears outright (the dl bytes ride the already-tiny matched
    shuffle instead). The corpus scalars are the second tokenize
    pass (a one-row broadcast aggregate). tf stays PERSISTED
    (query-term-sized; df reuses it instead of a two-phase
    countDistinct). The at-rest index removes the remaining passes
    by persisting postings with dl denormalized at ingest.
    """
    spark = docs.sparkSession
    terms = sorted({t for _, q in queries for t in q.split(" ") if t})
    qt = F.broadcast(_query_terms(spark, queries))
    # spread_small_scan: a fixture-sized corpus reads as ONE parquet
    # split and the whole tokenize pass would run on a single core;
    # the guard makes it a no-op on any real many-split deployment
    tok = spread_small_scan(docs).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    )
    posted = (
        tok.select(
            "doc_id",
            F.array_size("t").cast("bigint").alias("dl"),
            F.explode("t").alias("token"),
        )
        .where(F.col("token").isin(terms))
    )
    return _bm25_scores_from_posted(tok, posted, qt, "bm25_topk", stats_df)


def _bm25_scores_from_posted(
    tok: DataFrame,
    posted: DataFrame,
    qt,
    cache_name: str,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Shared BM25 core: ``tok`` is the tokenized corpus
    ``(doc_id, t)``, ``posted`` the pruned exploded token stream
    ``(doc_id, dl BIGINT, token)`` restricted to the query's terms
    (duplicates preserved), ``qt`` a broadcast (query_id, token)
    frame. One corpus scan for tf, one for the corpus scalars —
    nothing corpus-sized is ever joined or shuffled. ``stats_df``
    (round 17): a caller that runs several scoring passes over the
    same corpus (PRF — :func:`_corpus_stats_df`) passes the persisted
    one-row scalars frame, so only the FIRST pass pays the scalars
    tokenize subtree (it fills the cache) and later passes broadcast
    the cached row; values are identical by construction, so every
    score is unchanged."""
    caches = claim_group(cache_name)
    tf = persist_into(
        caches,
        posted.groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf")),
    )
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    if stats_df is None:
        # corpus scalars: one-row broadcast aggregate (no driver action)
        stats = F.broadcast(
            tok.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.array_size("t")).alias("sum_dl"),
            )
        )
    else:
        stats = F.broadcast(stats_df)
    term = (
        tf.join(F.broadcast(df), "token")
        .join(qt, "token")
        .crossJoin(stats)
        .select("query_id", "doc_id", _term_micro().alias("term_micro"))
    )
    return term.groupBy("query_id", "doc_id").agg(
        F.sum("term_micro").cast("bigint").alias("score_micro")
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k per query — :func:`bm25_scores` + the ranked cut."""
    return _rank_topk(bm25_scores(docs, queries, id_col, text_col), k)


def bm25_hard_negatives(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    positives: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR/SBERT
    recipe): the top-k BM25-ranked documents per query AFTER removing
    the known positives — lexically confusable non-answers, the
    negatives that actually teach a bi-encoder.

    ``positives`` is a (query_id, doc_id) DataFrame; removal is a
    LEFT ANTI join on the scored candidates (query-term-sized, tiny
    relative to the corpus), so ranks close up over the gap — rank 1
    is the hardest surviving negative."""
    scored = bm25_scores(docs, queries, id_col, text_col)
    neg = scored.join(
        positives.select("query_id", "doc_id"),
        ["query_id", "doc_id"],
        "left_anti",
    )
    return _rank_topk(neg, k)


def bm25_index_append(
    docs: DataFrame,
    path: str,
    batch_id: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    forward_index: bool = False,
) -> dict:
    """Append one document batch to the BM25 serving index: postings
    with the document length DENORMALIZED in
    (``token, doc_id, tf, dl``) under ``batch=<id>/pfx=<md5 byte>``,
    a vocabulary-sized per-batch term-stats DELTA (``token, df``), and
    a one-row per-batch corpus-scalars delta.

    The crawl-loop contract: per-batch cost is O(batch) — nothing
    already at rest is read or rewritten (document frequency and the
    corpus scalars are additive over disjoint batches, so they land as
    batch-keyed deltas the probe sums at vocabulary size). Dynamic
    partition overwrite makes a replayed batch idempotent.
    Denormalizing dl is the classic search-engine doc-values trick: a
    probe joins nothing corpus-sized — it reads only the partitions of
    its query terms (partition pruning on ``pfx``), sums and
    broadcasts the filtered term stats, and scores. Statistics are
    computed ONCE at ingest; at 100 TB that is the difference between
    re-aggregating a corpus per query and reading a few parquet
    partitions.

    ``forward_index=True`` additionally writes ``docterms`` — the
    doc-keyed twin of the postings (distinct ``doc_id, token`` under
    ``batch=<id>/dpfx=<md5 byte of doc_id>``), the classic
    inverted+forward index pair. Pseudo-relevance feedback needs the
    term sets of a handful of feedback documents; dpfx partition
    pruning makes that lookup O(feedback docs), not a postings scan.
    Opt-in because it roughly doubles index bytes for a capability
    only PRF-style consumers use. Replaying a batch with
    ``forward_index=False`` on a forward-indexed tree REMOVES that
    batch's docterms (the replay is a true replacement); PRF probes
    then fail closed via :func:`_require_docterms_coverage` instead
    of serving feedback from partial docterms (round-16 review).

    Disjoint-batch contract, now CHECKED (round 14): df and the
    corpus scalars are additive only when no doc_id lands under two
    batch ids — a re-delivered document double-counts df/dl and
    silently inflates every score involving its terms (the positional
    family dedups at probe time; pre-aggregated statistics cannot).
    Each append therefore lands the same one-row doc-id ``manifest``
    the positional index writes and RETURNS
    ``{"batch", "n_docs", "maybe_overlap"}`` — ``maybe_overlap`` is
    True when this batch's id range intersects any OTHER batch's
    manifest range (a replay of the SAME batch id is idempotent and
    never flagged). Range intersection is a MAYBE, not proof (ranges
    can interleave without sharing an id), so the signal is the
    monitoring hook: alert on it and either re-key the feed or
    rebuild via ``bm25_index_write``; probes stay cheap and
    unchanged."""
    caches = claim_group("bm25_index_append")
    tok = persist_into(
        caches,
        docs.select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
        ),
    )
    tf = persist_into(
        caches,
        tok.select(
            "doc_id",
            F.array_size("t").cast("bigint").alias("dl"),
            F.explode("t").alias("token"),
        )
        .groupBy("token", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf")),
    )
    spark = docs.sparkSession
    subtrees = {
        "postings": tf.withColumn(
            "pfx", F.substring(F.md5("token"), 1, _PFX_LEN)
        ),
        "termstats": tf.groupBy("token").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        ),
        "stats": tok.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.array_size("t")).cast("bigint").alias("sum_dl"),
        ),
    }
    if forward_index:
        subtrees["docterms"] = tf.select("doc_id", "token").withColumn(
            "dpfx",
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, _PFX_LEN),
        )
    # replaying with forward_index=False still drops this batch's
    # docterms: the store replaces every layout subtree
    mm = store.append(spark, path, BM25, batch_id, subtrees, tok, "doc_id")
    for c in caches:
        c.unpersist()
    maybe_overlap = mm["n"] > 0 and any(
        mm["lo"] <= int(r["max_doc_id"]) and int(r["min_doc_id"]) <= mm["hi"]
        for r in store.manifest_rows(spark, path, BM25)
        if int(r["batch"]) != int(batch_id) and int(r["n_docs"]) > 0
    )
    return {
        "batch": int(batch_id),
        "n_docs": mm["n"],
        "maybe_overlap": maybe_overlap,
    }


def bm25_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    forward_index: bool = False,
) -> None:
    """One-shot index build — batch 0 of :func:`bm25_index_append`."""
    bm25_index_append(docs, path, 0, id_col, text_col, forward_index)


def bm25_topk_at_rest(
    spark: SparkSession,
    index_path: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    on_overlap: str = "warn",
) -> DataFrame:
    """BM25 top-k against a persisted :func:`bm25_index_write` layout.

    The probe's partition predicate is computed driver-side (md5 of
    each query term — the same hash Spark's ``md5()`` wrote, so the
    pruning is exact): the postings scan touches only the partitions
    containing the query's terms, never the corpus
    (PartitionFilters — asserted in tests/test_retrieval.py). Term
    stats and corpus scalars are the SUM of the batch deltas
    (vocabulary-sized and one-row-per-batch respectively — additive
    because batches are disjoint), filtered to the query terms and
    broadcast. Returns exactly the rows of :func:`bm25_topk` on the
    union of all indexed batches.

    ``on_overlap`` (``'warn'`` default / ``'raise'`` / ``'ignore'``)
    arms :func:`_bm25_overlap_guard` — the probe-side check that the
    tree's batch manifest proves the df/dl deltas safe to sum."""
    _bm25_overlap_guard(spark, index_path, on_overlap)
    term_rows = sorted(
        {(qid, t) for qid, q in queries for t in q.split(" ") if t}
    )
    return _rank_topk(_scores_at_rest(spark, index_path, term_rows), k)


def _scores_at_rest(
    spark: SparkSession,
    index_path: str,
    term_rows: list[tuple[int, str]],
) -> DataFrame:
    """BM25 scores (query_id, doc_id, score_micro) against a persisted
    index for an explicit per-query term table. ``term_rows`` is
    driver-side so the partition predicate is computable BEFORE the
    scan — the shared scoring core of :func:`bm25_topk_at_rest` and
    both passes of :func:`bm25_prf_expand_at_rest` (whose second-pass
    term set is only known after expansion selection)."""
    terms = sorted({t for _, t in term_rows})
    pfxs = sorted(
        {hashlib.md5(t.encode("utf-8")).hexdigest()[:_PFX_LEN] for t in terms}
    )
    qt = F.broadcast(
        spark.createDataFrame(
            sorted(set(term_rows)), "query_id bigint, token string"
        )
    )
    # explicit schemas on every index read: partition-column type
    # INFERENCE would misread an all-numeric-looking set of hex pfx
    # directory values as DOUBLE and break the string probe (found by
    # the positional twin's test) — and pinning the schema skips the
    # inference pass entirely
    postings = (
        spark.read.schema(_POSTINGS_DDL)
        .parquet(f"{index_path}/postings")
        .where(F.col("pfx").isin(pfxs) & F.col("token").isin(terms))
        .select("token", "doc_id", "tf", "dl")
    )
    termstats = F.broadcast(
        spark.read.schema("token string, df bigint, batch bigint")
        .parquet(f"{index_path}/termstats")
        .where(F.col("token").isin(terms))
        .groupBy("token")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )
    stats = F.broadcast(
        spark.read.schema("n_docs bigint, sum_dl bigint, batch bigint")
        .parquet(f"{index_path}/stats")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_dl").cast("bigint").alias("sum_dl"),
        )
    )
    term = (
        postings.join(termstats, "token")
        .join(qt, "token")
        .crossJoin(stats)
        .select("query_id", "doc_id", _term_micro().alias("term_micro"))
    )
    return term.groupBy("query_id", "doc_id").agg(
        F.sum("term_micro").cast("bigint").alias("score_micro")
    )


def bm25_prf_expand_at_rest(
    spark: SparkSession,
    index_path: str,
    queries: list[tuple[int, str]],
    k_feedback: int = 10,
    n_expansion: int = 3,
    k: int = 10,
    on_overlap: str = "warn",
) -> DataFrame:
    """:func:`bm25_prf_expand` served from a persisted
    :func:`bm25_index_write` layout built with ``forward_index=True``
    — returns bit-identical rows, but neither ranking pass touches
    the corpus.

    All three reads are partition-pruned probes:

    1. feedback ranking — postings pruned to the original query
       terms' ``pfx`` partitions (:func:`_scores_at_rest`);
    2. expansion selection — the ``docterms`` forward index pruned to
       the feedback documents' ``dpfx`` partitions (the feedback set
       is queries × k_feedback rows, collected driver-side: a bounded
       model-artifact collect that makes the partition predicate
       computable);
    3. re-ranking — postings pruned to ONLY the expansion pairs
       (round 17, guide §2.3/§2.4): the expanded set is the
       pair-disjoint union of original and expansion (query, term)
       pairs and the per-doc score is an exact integer sum over
       pairs, so the final ranking adds the PERSISTED pass-1 scores
       to an expansion-only scoring pass (union + groupBy-sum,
       orderless BIGINT — bit-identical to re-scoring the full
       expanded set). Pass 1's postings partitions are read once,
       not twice.

    At 100 TB the ad-hoc PRF re-tokenizes the corpus twice per query
    batch; this shape reads a few parquet partitions per pass — the
    same economics the repo measures for bm25_adhoc vs at_rest.

    ``on_overlap`` (``'warn'`` default / ``'raise'`` / ``'ignore'``)
    arms :func:`_bm25_overlap_guard` ONCE up front — the same
    manifest covers all three reads (postings, docterms, postings
    again), since every append lands postings and docterms from the
    same document batch. A live batch WITHOUT docterms (a
    forward_index=False downgrade replay on a forward-indexed tree)
    raises via :func:`_require_docterms_coverage` — feedback from
    partial docterms would otherwise be silently wrong."""
    from pyspark.sql import Window as W

    _bm25_overlap_guard(spark, index_path, on_overlap)
    _require_docterms_coverage(spark, index_path)

    orig_rows = sorted(
        {(qid, t) for qid, q in queries for t in q.split(" ") if t}
    )
    caches = claim_group("bm25_prf_at_rest_pass1")
    s1 = persist_into(caches, _scores_at_rest(spark, index_path, orig_rows))
    fb = _rank_topk(s1, k_feedback).select("query_id", "doc_id")
    fb_rows = [(r.query_id, r.doc_id) for r in fb.collect()]
    if not fb_rows:
        return _rank_topk(s1, k)
    fb_ids = sorted({d for _, d in fb_rows})
    dpfxs = sorted(
        {
            hashlib.md5(str(d).encode("utf-8")).hexdigest()[:_PFX_LEN]
            for d in fb_ids
        }
    )
    # batches hold disjoint documents, so no cross-batch distinct is
    # needed: the per-batch rows are already distinct (doc_id, token)
    dterms = (
        spark.read.schema(
            "doc_id bigint, token string, batch bigint, dpfx string"
        )
        .parquet(f"{index_path}/docterms")
        .where(F.col("dpfx").isin(dpfxs) & F.col("doc_id").isin(fb_ids))
        .select("doc_id", "token")
    )
    fbdf = F.broadcast(
        spark.createDataFrame(fb_rows, "query_id bigint, doc_id bigint")
    )
    orig = F.broadcast(
        spark.createDataFrame(orig_rows, "query_id bigint, token string")
    )
    cand = (
        dterms.join(fbdf, "doc_id")
        .join(orig, ["query_id", "token"], "left_anti")
        .groupBy("query_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_fb"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("df_fb").desc(), F.col("token"))
    expansion = (
        cand.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= n_expansion)
        .select("query_id", "token")
    )
    exp_rows = sorted({(r.query_id, r.token) for r in expansion.collect()})
    if not exp_rows:
        return _rank_topk(s1, k)
    s2 = _scores_at_rest(spark, index_path, exp_rows)
    total = (
        s1.unionByName(s2)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_micro").cast("bigint").alias("score_micro"))
    )
    return _rank_topk(total, k)


def _id_type(docs: DataFrame, id_col: str) -> str:
    """DDL type of the corpus's id column — what the non-empty result
    carries, so an empty-input result types identically."""
    return docs.schema[id_col].dataType.simpleString()


def phrase_counts(
    docs: DataFrame,
    phrases: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase occurrence counts — (phrase_id, doc_id, n_matches)
    for every document containing the phrase's tokens ADJACENT and in
    order, overlapping occurrences included ('x x x' contains 'x x'
    twice).

    Whole-stage-codegen evaluation: the tiny phrase table broadcasts
    onto the corpus and matches come from built-in higher-order
    functions — no Python, no explode, no shuffle of text; the only
    aggregation is the already-tiny result.

    Round-16 shape (guide §1.2 per-task work + §4.4's duplication
    trap): the final ``n_matches > 0`` filter is pushed into the
    broadcast join's condition, so whatever expression computes
    n_matches is evaluated TWICE per doc×phrase row (plan-verified:
    the pre-r16 plan carried the full slice-compare HOF in both the
    BNLJ condition and the Project). The pre-r16 form paid
    O(tokens) ARRAY SLICES per row per evaluation. Now a per-doc
    first-token position map is computed ONCE below the join (one
    integer-compare scan per distinct leading token), and each
    doc×phrase row only slice-compares at those few candidate
    positions — the duplicated evaluation is of the cheap tail, not
    the corpus scan. Candidates beyond ``size(t)-size(p)+1`` probe a
    truncated slice that can never equal the phrase, so the wider
    candidate range is semantics-free (same rows, same counts).
    The at-rest twin (:func:`phrase_match_at_rest`) answers the same
    query from positional postings without touching the corpus."""
    spark = docs.sparkSession
    if not phrases:
        # ADVICE r16: an empty phrase list would build
        # map_from_arrays(array(), array()) — VOID-typed, fails
        # analysis. Pre-r16 behavior: an empty result frame.
        return spark.createDataFrame(
            [],
            f"phrase_id bigint, doc_id {_id_type(docs, id_col)},"
            " n_matches bigint",
        )
    # split(" ") never returns an empty array (an empty string
    # tokenizes to [""]), so every phrase has a leading token
    firsts = sorted({q.split(" ")[0] for _, q in phrases})
    p = spark.createDataFrame(phrases, "phrase_id bigint, phrase string")
    p = p.select(
        "phrase_id",
        tokens("phrase").alias("p"),
        F.element_at(tokens("phrase"), 1).alias("__ft"),
    )

    def _positions_of(term: str):
        return F.filter(
            "__seq",
            lambda i: F.element_at("t", i) == F.lit(term),
        )

    t = (
        spread_small_scan(docs).select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
        )
        # shared 1..n position axis (one allocation per doc, not one
        # per distinct leading token)
        .select(
            "doc_id",
            "t",
            F.sequence(F.lit(1), F.size("t")).alias("__seq"),
        )
        .select(
            "doc_id",
            "t",
            F.map_from_arrays(
                F.array(*[F.lit(ft) for ft in firsts]),
                F.array(*[_positions_of(ft) for ft in firsts]),
            ).alias("__fpos"),
        )
    )
    n_matches = F.size(
        F.filter(
            F.element_at("__fpos", F.col("__ft")),
            lambda i: F.slice("t", i, F.size("p")) == F.col("p"),
        )
    ).cast("bigint")
    return (
        t.crossJoin(F.broadcast(p))
        .select("phrase_id", "doc_id", n_matches.alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )


def positional_index_append(
    docs: DataFrame,
    path: str,
    batch_id: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append one document batch of positional postings — one
    (token, doc_id, pos) row per token OCCURRENCE under
    ``batch=<id>/pfx=<md5 byte>`` (the bm25_index_append layout and
    contract: O(batch) appends, nothing at rest re-read, dynamic
    partition overwrite makes a replayed batch idempotent; positions
    are per-document, so no cross-batch statistics exist to
    maintain). Positions are what phrase and proximity queries
    consume; a probe reads only its query tokens' partitions across
    all batches.

    Alongside the postings, each append lands a one-row ``manifest``
    entry (batch, min_doc_id, max_doc_id, n_docs): duplicate postings
    can only arise from the SAME doc_id landing in two batches, so
    when every batch's doc-id range is pairwise disjoint — the
    append-only crawl common case — the probes skip their
    semantics-restoring (token, doc_id, pos) distinct and its
    exchange entirely (VERDICT round 13: the dedup cost grows with
    delta count; the manifest makes disjoint-batch trees as cheap as
    single-batch ones). Overlapping ranges or a missing manifest fall
    back to the dedup — the marker is a pure fast-path, never a
    correctness assumption."""
    t = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    posted = t.select(
        "doc_id", F.posexplode("t").alias("pos", "token")
    ).select(
        "token",
        "doc_id",
        (F.col("pos") + 1).cast("bigint").alias("pos"),
        F.substring(F.md5("token"), 1, _PFX_LEN).alias("pfx"),
    )
    store.append(
        docs.sparkSession,
        path,
        POSITIONAL,
        batch_id,
        {"postings_pos": posted},
        t,
        "doc_id",
    )


def positional_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One-shot build — batch 0 of :func:`positional_index_append`."""
    positional_index_append(docs, path, 0, id_col, text_col)


def positional_index_compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
) -> str:
    """Compact a :func:`positional_index_append` tree (one
    ``batch=<id>`` delta per crawl increment) into a SINGLE-batch
    positional index published as the next serving version under
    ``dst_path`` — returns the version directory name.

    The phrase/proximity twin of :func:`bm25_index_compact`, and the
    same 100 TB economics: O(batch) appends leave one ``batch=``
    delta per crawl increment, and a phrase probe then opens every
    historical batch's files for each of its tokens' pfx partitions
    on every query (the linear-in-deltas file-open cost BENCH's
    ``phrase_at_rest_16deltas`` / ``_compacted`` pair prices).
    Positions are per-document facts — there are no cross-batch
    statistics to re-sum — so compaction is a pure re-partition of
    the postings under ``batch=0``, one well-sized file set per pfx;
    probe results are bit-identical by construction (the catalog's
    ``phrase_match_compacted`` shares the ad-hoc phrase oracle).

    Crash contract is :func:`..sources.writers.publish_version`: the
    compacted tree builds inside an unreferenced ``v-<n>`` dir, the
    ``_current`` pointer flips only after the build commits, the
    previous version survives as rollback, and the SOURCE deltas are
    never touched (append cadence continues; the next compaction
    folds the new deltas)."""
    # cross-batch duplicate postings (a re-delivered document) MUST
    # fold away: the compacted tree is single-batch, exactly the shape
    # the probes' dedup skip trusts to be duplicate-free — positions
    # are per-document facts, so the distinct is semantics-restoring,
    # paid once here instead of per probe
    return store.compact(
        spark,
        src_path,
        dst_path,
        POSITIONAL,
        fold=lambda rows: rows.drop("batch").dropDuplicates(
            ["token", "doc_id", "pos"]
        ),
    )


#: query-set size above which the at-rest phrase/NEAR probes switch
#: from per-query plan branches to the single data-driven plan.
#: Round-13 band (scripts/phrase_strategy_probe.py — ×32 corpus, 300
#: DISTINCT mined bigrams, interleaved median-of-3, equality
#: asserted): loop/set are a wash at 3 and 9 queries (1.88/1.96 s,
#: 4.49/4.60 s), set wins 1.8× at 30 (12.8/7.3 s), 2.0× at 100
#: (32.3/16.5 s), 1.4× at 300 (76.8/55.1 s) — and the loop side
#: additionally builds q·m plan branches, the batched-BPE
#: analyzer-wall class, so past the wash zone 'set' is strictly
#: safer. The fixture-scale interactive case (loop 0.56 s vs set
#: 1.1 s at 3 phrases, round 12) keeps the small-set branch alive.
_SET_STRATEGY_MIN = 9


def _require_docterms_coverage(spark: SparkSession, index_path: str) -> None:
    """Fail closed when any live document batch lacks its ``docterms``
    forward-index twin (round-16 review): ``bm25_index_append`` drops
    ``docterms/batch=<id>`` on every replay, so replaying a batch with
    ``forward_index=False`` on a tree originally built with
    ``forward_index=True`` removes that batch's docterms and never
    rewrites them — the manifest still completes (it doesn't record
    the forward bit), so PRF would otherwise silently compute feedback
    from PARTIAL docterms with no guard firing. One listStatus per
    subtree; live = manifest batches with ``n_docs > 0`` when a
    manifest exists (a zero-doc batch legitimately has no docterms
    dir), else every postings batch dir."""
    live = set(store.batch_ids(spark, f"{index_path}/postings"))
    rows = store.manifest_rows(spark, index_path, BM25)
    if rows:
        live &= {int(r["batch"]) for r in rows if int(r["n_docs"]) > 0}
    covered = (
        set(store.batch_ids(spark, f"{index_path}/docterms"))
        if store.exists(spark, f"{index_path}/docterms")
        else set()
    )
    missing = sorted(live - covered)
    if missing:
        raise ValueError(
            f"BM25 index at {index_path} has document batches"
            f" {missing} without a docterms forward index — PRF"
            " feedback would silently use partial term sets. Replay"
            " those batches with forward_index=True (or rebuild via"
            " bm25_index_write(..., forward_index=True))"
        )


def _pos_dedup_needed(spark: SparkSession, index_path: str) -> bool:
    """Whether the positional probes must run their (token, doc_id,
    pos) distinct. False in exactly two provably-duplicate-free
    shapes: a single-batch tree (one-shot build or freshly
    compacted), or a multi-batch tree whose per-batch ``manifest``
    doc-id ranges are pairwise disjoint
    (:func:`..sources.indexstore.batches_disjoint` — duplicates
    require the same doc_id under two batches, which disjoint ranges
    exclude)."""
    return not store.batches_disjoint(spark, index_path, POSITIONAL)


def phrase_match_at_rest(
    spark: SparkSession,
    index_path: str,
    phrases: list[tuple[int, str]],
    strategy: str = "auto",
) -> DataFrame:
    """Phrase counts from the positional postings index — the classic
    inverted-index phrase evaluation. Two physical strategies with
    identical results (equality pytested): ``'loop'`` chains the m
    posting lists per phrase on (doc_id, position offset) — the
    low-latency shape for interactive query counts; ``'set'`` is
    DATA-DRIVEN — the phrase set becomes a broadcast
    (phrase_id, token, offset) table, each posting row projects a
    candidate match START (pos − offset), and a start where every
    offset is present is a match (each (start, offset) pair arises
    from at most one posting row, so a plain count suffices) — ONE
    constant-size plan however many phrases are asked, where the loop
    builds q·m plan branches (the batched-BPE analyzer-wall class).
    ``'auto'`` picks by query-set size (``_SET_STRATEGY_MIN``).
    Either way the scan touches only the phrases' OWN tokens
    (partition pruning on pfx, driver-side md5 — asserted in
    tests/test_retrieval.py); the corpus is never read. Returns
    exactly the rows of :func:`phrase_counts` (overlapping
    occurrences included).

    Duplicate-posting safety: a document re-delivered in a later
    crawl batch leaves the SAME (token, doc_id, pos) row under two
    ``batch=`` deltas. The loop joins would inflate counts
    multiplicatively and the set strategy's offset count could
    manufacture a false match (two copies of offset 0 satisfying
    ``n_off == plen`` for a 2-token phrase), so the pruned postings
    dedupe on (token, doc_id, pos) BEFORE either strategy — positions
    are per-document facts, so the distinct is semantics-restoring,
    it runs over query-term postings only (never the index), and both
    strategies agree bit-for-bit whatever the batch history
    (duplicate-delta pytest in tests/test_retrieval.py)."""
    if strategy not in ("auto", "loop", "set"):
        raise ValueError(f"unknown strategy {strategy!r}")
    term_rows = [
        (pid, t, off)
        for pid, q in phrases
        for off, t in enumerate([t for t in q.split(" ") if t])
    ]
    if not term_rows:
        return spark.createDataFrame(
            [], "phrase_id bigint, doc_id bigint, n_matches bigint"
        )
    all_terms = sorted({t for _, t, _ in term_rows})
    pfxs = sorted(
        {
            hashlib.md5(t.encode("utf-8")).hexdigest()[:_PFX_LEN]
            for t in all_terms
        }
    )
    postings = (
        spark.read.schema(_POSITIONS_DDL)
        .parquet(f"{index_path}/postings_pos")
        .where(F.col("pfx").isin(pfxs) & F.col("token").isin(all_terms))
        .select("token", "doc_id", "pos")
    )
    # cross-batch duplicates are the ONLY way a (token, doc_id, pos)
    # row repeats (same-batch replay is absorbed by dynamic partition
    # overwrite), so single-batch trees AND multi-batch trees whose
    # manifest doc-id ranges are pairwise disjoint provably have none
    # and skip the distinct's exchange (_pos_dedup_needed; the 32x
    # at-rest and 16-delta bench keys price the skip)
    if _pos_dedup_needed(spark, index_path):
        postings = postings.dropDuplicates(["token", "doc_id", "pos"])
    if strategy == "loop" or (
        strategy == "auto" and len(phrases) < _SET_STRATEGY_MIN
    ):
        out = None
        for phrase_id, q in phrases:
            terms = [t for t in q.split(" ") if t]
            if not terms:
                continue
            cur = postings.where(F.col("token") == terms[0]).select(
                "doc_id", F.col("pos").alias("p0")
            )
            for j, term in enumerate(terms[1:], start=1):
                nxt = postings.where(F.col("token") == term).select(
                    F.col("doc_id").alias("d"), F.col("pos").alias("p")
                )
                cur = cur.join(
                    nxt,
                    (F.col("doc_id") == F.col("d"))
                    & (F.col("p") == F.col("p0") + j),
                ).select("doc_id", "p0")
            m = (
                cur.groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
                .select(
                    F.lit(phrase_id).cast("bigint").alias("phrase_id"),
                    "doc_id",
                    "n_matches",
                )
            )
            out = m if out is None else out.unionByName(m)
        assert out is not None  # term_rows non-empty above
        return out
    plens: dict[int, int] = {}
    for pid, _, _ in term_rows:
        plens[pid] = plens.get(pid, 0) + 1
    terms_df = spark.createDataFrame(
        term_rows, "phrase_id bigint, token string, off bigint"
    )
    plen_df = spark.createDataFrame(
        sorted(plens.items()), "phrase_id bigint, plen bigint"
    )
    starts = (
        postings.join(F.broadcast(terms_df), "token")
        .select(
            "phrase_id", "doc_id", (F.col("pos") - F.col("off")).alias("start")
        )
        .groupBy("phrase_id", "doc_id", "start")
        .agg(F.count(F.lit(1)).alias("n_off"))
    )
    return (
        starts.join(F.broadcast(plen_df), "phrase_id")
        .where(F.col("n_off") == F.col("plen"))
        .groupBy("phrase_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
    )


def proximity_counts(
    docs: DataFrame,
    pairs: list[tuple[int, str, str]],
    window: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Proximity (sloppy-phrase) search: for each (pair_id, term_a,
    term_b), count position pairs with ``0 < |pos_a - pos_b| <= window``
    per document — the NEAR operator (unordered co-occurrence within a
    window) that sits between bag-of-words BM25 and exact phrase match.

    Per-row codegen like phrase_counts: the pair count is a nested
    aggregate over the two terms' position arrays, computed from a
    per-doc term→positions map built ONCE per document (one
    integer-compare scan per DISTINCT term across all pairs, round
    16). Round-17 shape (guide §4.4's duplication trap, closed): the
    pair set is driver-side, so instead of a broadcast crossJoin —
    whose pushed ``n_pairs > 0`` join condition re-evaluated the
    counting aggregate a second time per doc×pair row — each document
    EXPLODES a literal array of (pair_id, n_pairs) structs. A filter
    on a generator output cannot be pushed below the Generate, so
    every pair's aggregate runs exactly once per document and the
    join disappears outright (plan-pinned in tests/test_plan_shapes).
    Position arrays are doc-local; nothing shuffles but the result."""
    spark = docs.sparkSession
    if not pairs:
        # ADVICE r16: mirrors the phrase_counts empty-input guard —
        # an empty pair list would fail analysis on the VOID-typed
        # empty map; pre-r16 behavior was an empty result frame.
        return spark.createDataFrame(
            [],
            f"pair_id bigint, doc_id {_id_type(docs, id_col)},"
            " n_pairs bigint",
        )
    all_terms = sorted({t for _, a, b in pairs for t in (a, b)})

    def _positions_of(term: str):
        return F.filter(
            "__seq",
            lambda i: F.element_at(F.col("__t"), i) == F.lit(term),
        )

    base = (
        spread_small_scan(docs).select(
            F.col(id_col).alias("doc_id"),
            tokens(text_col).alias("__t"),
        )
        # the 1..n position axis is built ONCE per document and shared
        # by every term's position filter (it was re-materialized per
        # term before — |terms| array allocations per row)
        .select(
            "doc_id",
            "__t",
            F.sequence(F.lit(1), F.size("__t")).alias("__seq"),
        )
        .select(
            "doc_id",
            F.map_from_arrays(
                F.array(*[F.lit(t) for t in all_terms]),
                F.array(*[_positions_of(t) for t in all_terms]),
            ).alias("__tpos"),
        )
    )
    w = F.lit(window)

    def _n_pairs(term_a: str, term_b: str):
        # both position arrays are projected ONCE per row below the
        # lambda (the settled HOF rule): an element_at inside the
        # aggregate lambda would re-evaluate per element of pa
        return F.aggregate(
            F.col(f"__p{all_terms.index(term_a)}"),
            F.lit(0).cast("bigint"),
            lambda acc, a: acc
            + F.size(
                F.filter(
                    F.col(f"__p{all_terms.index(term_b)}"),
                    lambda b: (F.abs(b - a) <= w) & (b != a),
                )
            ).cast("bigint"),
        )

    per_pair = F.array(
        *[
            F.struct(
                F.lit(int(pid)).cast("bigint").alias("pair_id"),
                _n_pairs(a, b).alias("n_pairs"),
            )
            for pid, a, b in pairs
        ]
    )
    return (
        base.select(
            "doc_id",
            *[
                F.element_at("__tpos", F.lit(t)).alias(f"__p{i}")
                for i, t in enumerate(all_terms)
            ],
        )
        .select("doc_id", F.explode(per_pair).alias("__m"))
        .select("__m.pair_id", "doc_id", "__m.n_pairs")
        .where(F.col("n_pairs") > 0)
    )


def proximity_match_at_rest(
    spark: SparkSession,
    index_path: str,
    pairs: list[tuple[int, str, str]],
    window: int = 3,
    strategy: str = "auto",
) -> DataFrame:
    """Proximity (NEAR) counts from the positional postings index —
    the :func:`proximity_counts` semantics (position pairs with
    ``0 < |pos_a - pos_b| <= window`` per document) answered without
    touching the corpus: the two terms' posting lists (partition
    pruning on pfx, driver-side md5 — the :func:`phrase_match_at_rest`
    contract) join per document under the window band. Gives NEAR
    queries the same serve-from-index + compaction lifecycle phrase
    queries have; returns exactly the rows of
    :func:`proximity_counts`. Same two physical strategies as
    :func:`phrase_match_at_rest` (``'loop'`` per-pair branches for
    interactive sizes, ``'set'`` one broadcast-pair-table plan for
    production batches; ``'auto'`` picks by ``_SET_STRATEGY_MIN``),
    and the same duplicate-posting dedup on (token, doc_id, pos) so a
    cross-batch re-delivered document cannot inflate pair counts in
    either strategy."""
    if strategy not in ("auto", "loop", "set"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if not pairs:
        return spark.createDataFrame(
            [], "pair_id bigint, doc_id bigint, n_pairs bigint"
        )
    all_terms = sorted({t for _, a, b in pairs for t in (a, b) if t})
    pfxs = sorted(
        {
            hashlib.md5(t.encode("utf-8")).hexdigest()[:_PFX_LEN]
            for t in all_terms
        }
    )
    postings = (
        spark.read.schema(_POSITIONS_DDL)
        .parquet(f"{index_path}/postings_pos")
        .where(F.col("pfx").isin(pfxs) & F.col("token").isin(all_terms))
        .select("token", "doc_id", "pos")
    )
    # single-batch and manifest-disjoint trees provably have no
    # duplicate postings — skip the distinct's exchange
    # (phrase_match_at_rest rationale)
    if _pos_dedup_needed(spark, index_path):
        postings = postings.dropDuplicates(["token", "doc_id", "pos"])
    if strategy == "loop" or (
        strategy == "auto" and len(pairs) < _SET_STRATEGY_MIN
    ):
        out = None
        for pair_id, term_a, term_b in pairs:
            pa = postings.where(F.col("token") == term_a).select(
                "doc_id", F.col("pos").alias("pa")
            )
            pb = postings.where(F.col("token") == term_b).select(
                F.col("doc_id").alias("d"), F.col("pos").alias("pb")
            )
            m = (
                pa.join(
                    pb,
                    (F.col("doc_id") == F.col("d"))
                    & (F.abs(F.col("pb") - F.col("pa")) <= F.lit(window))
                    & (F.col("pb") != F.col("pa")),
                )
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
                .select(
                    F.lit(pair_id).cast("bigint").alias("pair_id"),
                    "doc_id",
                    "n_pairs",
                )
            )
            out = m if out is None else out.unionByName(m)
        assert out is not None  # pairs non-empty above
        return out
    # data-driven: the pair set is a broadcast table joined to the
    # postings ONCE per side — one constant-size plan regardless of
    # how many NEAR queries are asked
    p = spark.createDataFrame(
        pairs, "pair_id bigint, term_a string, term_b string"
    )
    pa = postings.join(
        F.broadcast(p.select("pair_id", F.col("term_a").alias("token"))),
        "token",
    ).select("pair_id", "doc_id", F.col("pos").alias("pa"))
    pb = postings.join(
        F.broadcast(p.select("pair_id", F.col("term_b").alias("token"))),
        "token",
    ).select(
        F.col("pair_id").alias("pid2"),
        F.col("doc_id").alias("d"),
        F.col("pos").alias("pb"),
    )
    return (
        pa.join(
            pb,
            (F.col("pair_id") == F.col("pid2"))
            & (F.col("doc_id") == F.col("d"))
            & (F.abs(F.col("pb") - F.col("pa")) <= F.lit(window))
            & (F.col("pb") != F.col("pa")),
        )
        .groupBy("pair_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def kwic_snippets(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    context: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context snippets: for each (query, document, term)
    match, the ±``context``-token window around the FIRST occurrence
    of each query term — what a retrieval UI shows under every hit
    and what an annotation pipeline hands to raters.

    Output: (query_id, doc_id, token, pos, snippet) — pos is the
    1-based position of the first occurrence; snippet is the
    space-joined window clamped to the document bounds. Per-row
    codegen: array_position + one slice per matched term; the only
    rows leaving the scan are actual matches joined to the broadcast
    query-term table."""
    spark = docs.sparkSession
    qt = F.broadcast(_query_terms(spark, queries))
    t = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t")
    )
    matched = t.join(qt, F.array_contains(F.col("__t"), F.col("token")))
    pos = F.array_position("__t", F.col("token")).cast("bigint")
    start = F.greatest(pos - context, F.lit(1))
    end = F.least(pos + context, F.size("__t").cast("bigint"))
    return matched.select(
        "query_id",
        "doc_id",
        "token",
        pos.alias("pos"),
        F.array_join(
            F.slice("__t", start, (end - start + F.lit(1)).cast("int")), " "
        ).alias("snippet"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard way
    to combine a dense (embedding) and a sparse (BM25) ranking without
    score calibration: each list contributes 1/(k_rrf + rank) and the
    fused order is by the sum. Every input is a (doc_id, rnk)
    DataFrame (its own top-K cut; absent docs contribute zero, the
    top-K-lists convention).

    Integer-exact: each contribution freezes to
    round(1e6/(k_rrf + rank)) — one float divide + round over exact
    ints, identical expression shape in the oracle — and the fusion
    SUM is BIGINT arithmetic, orderless. Candidate lists are top-K
    sized, so the whole fusion is broadcast-scale regardless of corpus
    size."""
    from functools import reduce

    contribs = [
        r.select(
            "doc_id",
            F.round(
                F.lit(1000000.0)
                / (F.lit(k_rrf) + F.col("rnk")).cast("double"),
                0,
            )
            .cast("bigint")
            .alias("__c"),
        )
        for r in rankings
    ]
    u = reduce(lambda a, b: a.unionByName(b), contribs)
    scored = u.groupBy("doc_id").agg(
        F.sum("__c").cast("bigint").alias("rrf_micro")
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "rrf_micro", "rnk")
    )


def ranking_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Retrieval evaluation per query — nDCG@k, MRR@k, recall@k —
    given ``results`` (query_id, doc_id, rnk) and binary ``qrels``
    (query_id, doc_id): the harness numbers a retrieval change is
    judged by.

    Exactness: each rank's DCG gain freezes to integer micro-units
    round(1e6/log2(rank+1)) (one log per rank over exact ints, the
    BM25 recipe), so the per-query sums are orderless BIGINT
    arithmetic; nDCG/MRR land as one fixed-shape division rounded to
    6 dp. IDCG@k is the ideal prefix over min(n_relevant, k). Queries
    with no relevant documents report zeros (defined, not NULL).
    Both inputs are top-K/qrel-sized — the whole evaluation is
    broadcast-scale."""
    hits = results.where(F.col("rnk") <= k).join(
        qrels.select("query_id", "doc_id").withColumn(
            "__rel", F.lit(1).cast("bigint")
        ),
        ["query_id", "doc_id"],
        "left",
    )
    gain = F.round(
        F.lit(1000000.0)
        / (F.log2((F.col("rnk") + F.lit(1)).cast("double"))),
        0,
    ).cast("bigint")
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.when(F.col("__rel") == 1, gain).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("dcg_micro"),
        F.min(F.when(F.col("__rel") == 1, F.col("rnk"))).alias(
            "first_rel_rnk"
        ),
        F.sum(F.when(F.col("__rel") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
    )
    n_rel = qrels.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    # ideal DCG: gains at ranks 1..min(n_relevant, k), same micro freeze
    ideal = F.aggregate(
        F.sequence(
            F.lit(1),
            F.greatest(F.least(F.col("n_relevant"), F.lit(k)), F.lit(0))
            .cast("int"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, r: acc
        + F.round(
            F.lit(1000000.0) / F.log2((r + F.lit(1)).cast("double")), 0
        ).cast("bigint"),
    )
    joined = (
        n_rel.join(per_q, "query_id", "left")
        .withColumn("idcg_micro", ideal)
        .na.fill(
            {"dcg_micro": 0, "n_hits": 0}
        )
    )
    ndcg = F.when(F.col("idcg_micro") > 0,
                  F.round(
                      F.col("dcg_micro").cast("double")
                      / F.col("idcg_micro").cast("double"),
                      6,
                  )).otherwise(F.lit(0.0))
    mrr = F.when(
        F.col("first_rel_rnk").isNotNull(),
        F.round(
            F.lit(1.0) / F.col("first_rel_rnk").cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    recall = F.when(
        F.col("n_relevant") > 0,
        F.round(
            F.col("n_hits").cast("double")
            / F.least(F.col("n_relevant"), F.lit(k)).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "query_id",
        "n_relevant",
        "n_hits",
        ndcg.alias("ndcg"),
        mrr.alias("mrr"),
        recall.alias("recall"),
    )


def bm25_scores_for_terms(
    docs: DataFrame,
    query_terms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """:func:`bm25_scores` for a DATA-DEPENDENT term set — the query
    terms arrive as a (query_id, token) DataFrame (e.g. produced by
    relevance feedback) instead of driver-side literals, so the
    posting prune is a broadcast semi-join rather than an in-plan
    ``isin``. Same exactness contract as :func:`bm25_scores`, and
    the same round-16 two-pass shape (dl carried through the tf
    groupBy — no corpus-sized dl join; the pre-r16 form paid three
    tokenize scans plus that join)."""
    qt = F.broadcast(query_terms.select("query_id", "token").distinct())
    tok = spread_small_scan(docs).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    )
    posted = (
        tok.select(
            "doc_id",
            F.array_size("t").cast("bigint").alias("dl"),
            F.explode("t").alias("token"),
        )
        .join(
            F.broadcast(qt.select("token").distinct()), "token", "left_semi"
        )
    )
    return _bm25_scores_from_posted(
        tok, posted, qt, "bm25_scores_for_terms", stats_df
    )


def bm25_prf_expand(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k_feedback: int = 10,
    n_expansion: int = 3,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3-lite): run BM25,
    take each query's top ``k_feedback`` documents as assumed-relevant
    feedback, add the ``n_expansion`` terms most frequent across the
    feedback set (by feedback document frequency, ties by token; the
    original query's terms excluded), and re-rank with the expanded
    term set — the classic recall lever when queries undershoot the
    corpus vocabulary.

    Fully deterministic: both ranking passes are the integer-exact
    BM25, expansion selection is an integer count with a total
    tie-break — an external engine replays the whole loop. Scale
    shape: the feedback set is (queries × k_feedback) rows and the
    expansion table (queries × n_expansion) rows; both are collected
    driver-side as bounded model artifacts — the SAME pattern the
    at-rest twin (:func:`bm25_prf_expand_at_rest`) documents — so the
    second ranking pass references literal frames instead of
    re-executing the whole first-pass pipeline once per broadcast
    reference (round 16: the lazy form re-ran the pass-1 score
    aggregation + rank up to 4× inside pass 2; each pass prunes
    postings to its term set before any aggregation either way).

    Round 17 (guide §2.3/§2.4 — score decomposition): the expanded
    term set is the PAIR-disjoint union of the original (query, term)
    pairs and the expansion pairs (expansion excludes each query's
    own terms), and the per-document score is an exact integer SUM
    over pairs — so pass 2 re-scores ONLY the expansion pairs and
    adds the persisted pass-1 scores (union + groupBy-sum, orderless
    BIGINT arithmetic: bit-identical to re-scoring the full expanded
    set). The corpus scalars are likewise computed once — a persisted
    one-row frame (:func:`_corpus_stats_df`) that FILLS inside pass
    1's own broadcast subtree and is re-broadcast from cache by pass
    2 (no separate stats job: an earlier round-17 draft collected the
    scalars up front and the extra job barrier measurably cost more
    at fixture scale than the tokenize pass it saved). Net: pass 2's
    corpus passes score a strictly smaller term set and the scalars
    tokenize happens once, not twice.

    Input-edge note (ADVICE r16): query tokenization here keeps only
    non-empty whitespace terms (``t for t in q.split(" ") if t``), so
    queries with consecutive/leading spaces contribute no ``''``
    token to either pass — both passes and both twins share this one
    tokenization rule."""
    from pyspark.sql import Window as W

    spark = docs.sparkSession
    caches = claim_group("bm25_prf_pass1")
    # corpus scalars once, shared by both passes: a persisted one-row
    # frame — pass 1's broadcast fills it, pass 2 re-reads the cache
    stats_df = _corpus_stats_df(docs, text_col, caches)
    s1 = persist_into(
        caches,
        bm25_scores(docs, queries, id_col, text_col, stats_df),
    )
    fb = _rank_topk(s1, k_feedback).select("query_id", "doc_id")
    # bounded collect: queries × k_feedback rows (model artifact)
    fb_rows = [(r.query_id, r.doc_id) for r in fb.collect()]
    orig_rows = sorted(
        {(qid, t) for qid, q in queries for t in q.split(" ") if t}
    )
    exp_rows: list[tuple[int, str]] = []
    if fb_rows:
        fb_ids = sorted({d for _, d in fb_rows})
        # prune to the feedback docs BEFORE exploding — in-plan isin,
        # pushed into the scan (the expansion vocabulary comes from
        # (queries × k_feedback) documents; a corpus-wide explode
        # would be pure waste — measured 5.9 s at sf0.1)
        doc_terms = (
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
            .where(F.col("doc_id").isin(fb_ids))
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(tokens(text_col))
                ).alias("token"),
            )
        )
        fbdf = F.broadcast(
            spark.createDataFrame(
                fb_rows, "query_id bigint, doc_id bigint"
            )
        )
        orig = F.broadcast(
            spark.createDataFrame(
                orig_rows, "query_id bigint, token string"
            )
        )
        cand = (
            doc_terms.join(fbdf, "doc_id")
            .join(orig, ["query_id", "token"], "left_anti")
            .groupBy("query_id", "token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df_fb"))
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("df_fb").desc(), F.col("token")
        )
        expansion = (
            cand.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= n_expansion)
            .select("query_id", "token")
        )
        # bounded collect: queries × n_expansion rows
        exp_rows = sorted({(r.query_id, r.token) for r in expansion.collect()})
    if not exp_rows:
        # nothing expanded: the expanded set IS the original set
        return _rank_topk(s1, k)
    exp_df = spark.createDataFrame(
        exp_rows, "query_id bigint, token string"
    )
    s2 = bm25_scores_for_terms(docs, exp_df, id_col, text_col, stats_df)
    total = (
        s1.unionByName(s2)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_micro").cast("bigint").alias("score_micro"))
    )
    return _rank_topk(total, k)


def bm25_index_compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    forward_index: bool = False,
    repair: str = "auto",
) -> str:
    """Compact a :func:`bm25_index_append` tree (one batch=<id> delta
    per crawl increment) into a SINGLE-batch index published as the
    next serving version under ``dst_path`` — returns the version
    directory name.

    Why this exists at 100 TB: the incremental contract keeps appends
    O(batch) by never rewriting what's at rest, so a year of crawl
    cadence leaves thousands of ``batch=`` deltas — a probe then opens
    every batch's files per pfx partition and re-sums
    thousands-of-rows-per-term stats deltas on every query. Compaction
    pays the rewrite ONCE, off the serving path: postings rows are
    already unique across batches (disjoint documents), so the data
    tree re-partitions under ``batch=0`` (one well-sized file set per
    pfx), term stats collapse to their sums, and the corpus scalars to
    one row. Probe results are BIT-IDENTICAL by construction (sums of
    sums; the catalog entry shares the ad-hoc oracle).

    Crash contract is :func:`..sources.writers.publish_version`: the
    compacted tree builds inside an unreferenced ``v-<n>`` dir, the
    ``_current`` pointer flips only after the build commits, and the
    previous version survives as rollback — readers of
    :func:`bm25_index_current` never see a partial index, and the
    SOURCE deltas are never touched (append cadence continues; the
    next compaction folds the new deltas).

    ``repair`` is the REMEDIATION arm for the disjoint-batch contract
    (round 14): a doc re-delivered under a later batch id
    double-counts df/dl in the additive statistics, and the fast
    sums-of-sums fold above would PRESERVE the corruption. Postings
    carry full doc-level rows, so repair folds them LATEST-batch-wins
    per doc_id and recomputes termstats/stats/docterms from the
    folded postings — the compacted index then equals one built from
    the latest version of every document, with ONE documented
    root-cause edge (ADVICE r14, pinned in
    tests/test_retrieval.py::test_bm25_compact_repair_empty_doc_edge):
    ZERO-token documents are invisible to postings — their ids
    survive only as manifest ranges, which cannot name them. Two
    visible symptoms:

    - a document whose only delivery is empty drops out of the
      recomputed ``n_docs`` where :func:`bm25_index_write` over the
      latest corpus would count it (idf nudged by the empty-doc
      count; no posting affected);
    - a document RE-delivered emptied under a later batch id leaves
      no row in that batch, so the latest-batch-wins fold cannot see
      the supersession and keeps the previous delivery's postings
      (a from-scratch build over the latest corpus would drop them).

    Re-keying empty deliveries out of the feed (or sending explicit
    deletes through a rebuild) removes both; modulo empty deliveries,
    a repaired tree serves BIT-EQUAL to a from-scratch build over the
    latest corpus (the pin test asserts this equality and both
    symptoms). ``'auto'`` (default) repairs exactly when
    the append-time manifest reports possible overlap
    (``maybe_overlap`` ranges; provably-disjoint or pre-manifest
    trees keep the bit-identical additive fold); ``'always'`` /
    ``'never'`` force either arm."""
    if repair not in ("auto", "always", "never"):
        raise ValueError(f"unknown repair {repair!r}")
    do_repair = repair == "always" or (
        repair == "auto"
        and not store.batches_disjoint(spark, src_path, BM25)
        # pre-manifest trees keep the historical additive fold: with
        # no manifest at all there is no overlap REPORT to act on
        and store.has_manifest(spark, src_path, BM25)
    )

    def latest(df: DataFrame) -> DataFrame:
        # multi-row-per-doc fold: keep every row of each doc's latest
        # batch (a re-delivered doc replaces its whole token set)
        if not do_repair:
            return df
        newest = df.groupBy("doc_id").agg(F.max("batch").alias("batch"))
        return df.join(newest, ["doc_id", "batch"])

    def src(name: str, ddl: str) -> DataFrame:
        return spark.read.schema(f"{ddl}, batch bigint").parquet(
            f"{src_path}/{name}"
        )

    def rebuild(vdir: str, folded: DataFrame) -> dict:
        if do_repair:
            # statistics recomputed from the FOLDED postings — the
            # additive deltas still contain the superseded docs
            out = {
                "termstats": folded.groupBy("token").agg(
                    F.count(F.lit(1)).cast("bigint").alias("df")
                ),
                "stats": folded.groupBy("doc_id")
                .agg(F.first("dl").alias("dl"))
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                    F.sum("dl").cast("bigint").alias("sum_dl"),
                ),
            }
        else:
            out = {
                "termstats": src("termstats", "token string, df bigint")
                .groupBy("token")
                .agg(F.sum("df").cast("bigint").alias("df")),
                "stats": src("stats", "n_docs bigint, sum_dl bigint").agg(
                    F.sum("n_docs").cast("bigint").alias("n_docs"),
                    F.sum("sum_dl").cast("bigint").alias("sum_dl"),
                ),
            }
        if forward_index:
            docterms = src(
                "docterms", "doc_id bigint, token string, dpfx string"
            )
            out["docterms"] = latest(docterms).select(
                "doc_id", "token", "dpfx"
            )
        return out

    return store.compact(
        spark,
        src_path,
        dst_path,
        BM25,
        fold=lambda raw: latest(raw).select(
            "token", "doc_id", "tf", "dl", "pfx"
        ),
        extra=rebuild,
    )


def compaction_cost_model(
    spark: SparkSession,
    src_path: str,
    kind: str = "bm25",
    per_delta_sec: float = 0.078,
    expected_probes: int = 10,
    rewrite_floor_sec: float = 2.0,
    rewrite_mb_per_sec: float = 50.0,
) -> dict:
    """Is compacting this delta tree worth it NOW? — the maintenance
    cadence decision, priced with measured constants instead of a
    fixed delta-count threshold.

    The probe side is linear in deltas: every query opens each
    batch's files per touched pfx partition and (BM25) re-sums
    per-term stats deltas. BENCH_r11's 16-delta pair measured that
    slope at this fixture scale — 3.28 s vs 2.03 s compacted, i.e.
    ~0.078 s/delta (the ``per_delta_sec`` default) — and the rewrite
    at ~``rewrite_floor_sec`` of publish_version fixed cost plus
    throughput-bound bytes. Compaction pays when the probes expected
    before the NEXT maintenance window (``expected_probes``) save
    more than one rewrite costs:

        (n_deltas - 1) * per_delta_sec * expected_probes
            >  rewrite_floor_sec + total_mb / rewrite_mb_per_sec

    Defaults decline a 2-delta tree (0.8 s of savings vs a 2 s floor)
    and take a 16-delta one (11.7 s vs ~2 s). At 100 TB the constants
    come from the deployment's own bench pair; the SHAPE (linear
    probe tax vs one-time rewrite) is what this encodes. Returns the
    decision plus every input so callers can log the why."""
    from ..sources.writers import _hadoop_fs

    sub = {"bm25": "postings", "positional": "postings_pos",
           "sq8": "rows", "ivf": "rows", "srp": "rows"}[kind]
    n_deltas = len(store.batch_ids(spark, f"{src_path.rstrip('/')}/{sub}"))
    _, fs, root = _hadoop_fs(spark, src_path)
    total_mb = fs.getContentSummary(root).getLength() / (1024.0 * 1024.0)
    savings = max(0, n_deltas - 1) * per_delta_sec * expected_probes
    cost = rewrite_floor_sec + total_mb / rewrite_mb_per_sec
    return {
        "kind": kind,
        "n_deltas": n_deltas,
        "total_mb": round(total_mb, 3),
        "probe_savings_sec": round(savings, 3),
        "rewrite_cost_sec": round(cost, 3),
        "worth_it": savings > cost,
    }


def bm25_index_current(spark: SparkSession, dst_path: str) -> str:
    """Full path of the live compacted index version under
    ``dst_path`` (crash-recovery semantics of
    resolve_serving_version). Pass the result anywhere an index path
    goes: :func:`bm25_topk_at_rest`, :func:`bm25_prf_expand_at_rest`."""
    from ..sources.writers import resolve_serving_version

    vname = resolve_serving_version(spark, dst_path)
    if vname is None:
        raise FileNotFoundError(f"no complete index version under {dst_path}")
    return f"{dst_path.rstrip('/')}/{vname}"
