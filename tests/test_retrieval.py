"""BM25 retrieval: independent-reference parity, at-rest equivalence,
partition pruning, and the exactness contract's edge cases."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from pyspark_airflow_weather_etl_spark.operators.retrieval import (
    bm25_index_write,
    bm25_topk,
    bm25_topk_at_rest,
)

CORPUS = [
    (0, "hash join hash join table"),
    (1, "slow scan of the big table"),
    (2, "merge join on the key column"),
    (3, "hash"),
    (4, "a very long document about nothing relevant at all here now"),
    (5, "table table table table"),
]
QUERIES = [(1, "hash join"), (2, "table"), (3, "absent tokens only")]


def py_bm25_micro(corpus, query_terms):
    """Independent plain-Python BM25 (k1=1.2, b=0.75, Lucene idf),
    replaying the engine's micro-unit freeze: per-term
    round(idf * tfpart * 1e6) summed as ints."""
    toks = {i: t.split(" ") for i, t in corpus}
    n = len(corpus)
    sdl = sum(len(t) for t in toks.values())
    out = {}
    for qid, terms in query_terms.items():
        for term in terms:
            df = sum(1 for t in toks.values() if term in t)
            if df == 0:
                continue
            idf = math.log((2 * n + 2) / (2 * df + 1))
            for i, t in toks.items():
                tf = t.count(term)
                if tf == 0:
                    continue
                dl = len(t)
                tfpart = (44 * tf * sdl) / (
                    (20 * tf * sdl + 6 * sdl) + 18 * dl * n
                )
                out[(qid, i)] = out.get((qid, i), 0) + int(
                    round(idf * tfpart * 1e6)
                )
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id bigint, text string")


def test_bm25_matches_independent_reference(spark, docs):
    got = {
        (r.query_id, r.doc_id): r.score_micro
        for r in bm25_topk(docs, QUERIES, k=10).collect()
    }
    want = py_bm25_micro(
        CORPUS, {q: t.split(" ") for q, t in QUERIES}
    )
    assert got == want
    # sanity on the semantics the numbers should encode: doc 0 (two
    # 'hash join' hits, short) beats everything on query 1; the
    # all-absent query returns nothing
    top_q1 = bm25_topk(docs, QUERIES, k=1).where(F.col("query_id") == 1)
    assert [r.doc_id for r in top_q1.collect()] == [0]
    assert not [k for k in got if k[0] == 3]


def test_bm25_rank_ties_break_by_doc_id(spark):
    """Identical documents tie on score; rank must order by doc_id."""
    dup = spark.createDataFrame(
        [(7, "x y"), (3, "x y"), (5, "x y")], "doc_id bigint, text string"
    )
    rows = bm25_topk(dup, [(1, "x")], k=3).collect()
    assert [r.doc_id for r in rows] == [3, 5, 7]
    assert [r.rnk for r in rows] == [1, 2, 3]
    assert len({r.score_micro for r in rows}) == 1


def test_bm25_at_rest_equals_ad_hoc_and_prunes(spark, docs, tmp_path):
    path = str(tmp_path / "bm25_index")
    bm25_index_write(docs, path)
    at_rest = bm25_topk_at_rest(spark, path, QUERIES, k=10)
    adhoc = bm25_topk(docs, QUERIES, k=10)
    key = lambda r: (r.query_id, r.rnk)  # noqa: E731
    assert sorted(map(tuple, at_rest.collect()), key=lambda t: t[:2]) == (
        sorted(map(tuple, adhoc.collect()), key=lambda t: t[:2])
    )
    # the postings scan must carry partition filters on pfx — the
    # probe reads the query terms' partitions, not the corpus
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pfx" in m.group(1), f"no pfx pruning in scan:\n{plan}"


def test_bm25_index_tolerates_new_queries(spark, docs, tmp_path):
    """The index is query-independent: terms unseen at build time
    simply match nothing; a fresh query set needs no rebuild."""
    path = str(tmp_path / "bm25_index2")
    bm25_index_write(docs, path)
    rows = bm25_topk_at_rest(
        spark, path, [(9, "column key nothing"), (8, "zzz")], k=5
    ).collect()
    assert {r.query_id for r in rows} == {9}
    got = {(r.query_id, r.doc_id): r.score_micro for r in rows}
    want = py_bm25_micro(CORPUS, {9: ["column", "key", "nothing"]})
    assert got == want


def test_bm25_incremental_append_equals_one_shot(spark, docs, tmp_path):
    """Disjoint batches appended with bm25_index_append must be
    probe-identical to the one-shot build — df and length
    normalization reflect the full corpus either way."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
    )

    one = str(tmp_path / "one")
    inc = str(tmp_path / "inc")
    bm25_index_write(docs, one)
    for b in range(3):
        bm25_index_append(
            docs.where(F.col("doc_id") % 3 == b), inc, batch_id=b
        )
    key = lambda t: t[:2]  # noqa: E731
    got_inc = sorted(
        map(tuple, bm25_topk_at_rest(spark, inc, QUERIES, k=10).collect()),
        key=key,
    )
    got_one = sorted(
        map(tuple, bm25_topk_at_rest(spark, one, QUERIES, k=10).collect()),
        key=key,
    )
    assert got_inc == got_one


def test_bm25_append_duplicate_delivery_idempotent(spark, docs, tmp_path):
    """Replaying a batch (crash recovery / at-least-once delivery)
    must leave the index bit-identical: batch-keyed dynamic overwrite
    replaces, never duplicates."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
    )

    path = str(tmp_path / "dup")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    bm25_index_append(b0, path, batch_id=0)
    bm25_index_append(b1, path, batch_id=1)
    before = sorted(
        map(tuple, bm25_topk_at_rest(spark, path, QUERIES, k=10).collect())
    )
    bm25_index_append(b1, path, batch_id=1)  # duplicate delivery
    after = sorted(
        map(tuple, bm25_topk_at_rest(spark, path, QUERIES, k=10).collect())
    )
    assert before == after
    # stats deltas did not double-count either
    stats = spark.read.parquet(f"{path}/stats")
    total = stats.groupBy().sum("n_docs").collect()[0][0]
    assert total == docs.count()


def py_phrase_counts(corpus, phrases):
    out = []
    for pid, p in phrases:
        pp = p.split(" ")
        for i, t in corpus:
            tt = t.split(" ")
            n = sum(
                1
                for j in range(len(tt) - len(pp) + 1)
                if tt[j : j + len(pp)] == pp
            )
            if n:
                out.append((pid, i, n))
    return sorted(out)


def test_phrase_counts_overlaps_and_reference(spark):
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        phrase_counts,
    )

    corpus = [(0, "x x x y"), (1, "x y x x"), (2, "y y"), (3, "x")]
    phrases = [(1, "x x"), (2, "x y"), (3, "z q"), (4, "x x x")]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    got = sorted(map(tuple, phrase_counts(df, phrases).collect()))
    assert got == py_phrase_counts(corpus, phrases)
    # overlapping runs: 'x x x' contains 'x x' twice, 'x x x' once
    assert (1, 0, 2) in got and (4, 0, 1) in got


def test_phrase_at_rest_equals_ad_hoc_and_prunes(spark, docs, tmp_path):
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        phrase_counts,
        phrase_match_at_rest,
        positional_index_write,
    )

    path = str(tmp_path / "pos_idx")
    positional_index_write(docs, path)
    phrases = [(1, "hash join"), (2, "the big table"), (3, "nope nope")]
    at_rest = phrase_match_at_rest(spark, path, phrases)
    assert sorted(map(tuple, at_rest.collect())) == sorted(
        map(tuple, phrase_counts(docs, phrases).collect())
    )
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pfx" in m.group(1), f"no pfx pruning in scan:\n{plan}"


def test_index_probe_survives_numeric_looking_prefixes(spark, tmp_path):
    """Regression: every indexed token here has an ALL-DIGIT md5
    prefix, so partition-column type inference would read pfx= as
    DOUBLE and break the string probe — the explicit read schemas
    must keep it a string."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_write,
        bm25_topk,
        bm25_topk_at_rest,
        phrase_counts,
        phrase_match_at_rest,
        positional_index_write,
    )

    corpus = [(0, "w2 w5 w2"), (1, "w5 w10 w14"), (2, "w14 w2")]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    queries = [(1, "w2 w14"), (2, "w5")]
    phrases = [(1, "w2 w5"), (2, "w14 w2")]
    b = str(tmp_path / "bm")
    p = str(tmp_path / "pos")
    bm25_index_write(df, b)
    positional_index_write(df, p)
    assert sorted(
        map(tuple, bm25_topk_at_rest(spark, b, queries, k=5).collect())
    ) == sorted(map(tuple, bm25_topk(df, queries, k=5).collect()))
    assert sorted(
        map(tuple, phrase_match_at_rest(spark, p, phrases).collect())
    ) == sorted(map(tuple, phrase_counts(df, phrases).collect()))


def test_hard_negatives_exclude_positives_and_close_ranks(spark, docs):
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_hard_negatives,
    )

    full = {
        (r.query_id, r.rnk): r.doc_id
        for r in bm25_topk(docs, QUERIES, k=10).collect()
    }
    # remove query 1's top doc; everything else shifts up one rank
    positives = spark.createDataFrame(
        [(1, full[(1, 1)])], "query_id bigint, doc_id bigint"
    )
    neg = {
        (r.query_id, r.rnk): r.doc_id
        for r in bm25_hard_negatives(docs, QUERIES, positives, k=10).collect()
    }
    assert (1, full[(1, 1)]) not in {
        (q, d) for (q, _), d in neg.items() if q == 1
    } or full[(1, 1)] != neg.get((1, 1))
    assert neg[(1, 1)] == full[(1, 2)]
    # untouched query unchanged
    assert all(neg[(2, r)] == full[(2, r)] for r in range(1, 3) if (2, r) in full)


def test_proximity_counts_window_semantics(spark):
    """Window boundary inclusive, self-position excluded, symmetric
    (unordered), multiplicity counted per position pair."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        proximity_counts,
    )

    df = spark.createDataFrame(
        [
            (0, "x a a y"),       # |1-4| = 3 -> inside w=3
            (1, "x b b b y"),     # |1-5| = 4 -> outside
            (2, "y x"),           # reversed order still counts
            (3, "x x y"),         # two x's near one y -> 2 pairs
            (4, "x"),             # no partner
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r.n_pairs
        for r in proximity_counts(df, [(1, "x", "y")], window=3).collect()
    }
    assert got == {0: 1, 2: 1, 3: 2}


def test_kwic_snippets_window_clamps(spark):
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        kwic_snippets,
    )

    df = spark.createDataFrame(
        [(0, "a b c TARGET d e f"), (1, "TARGET x y"), (2, "p q TARGET")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.pos, r.snippet)
        for r in kwic_snippets(df, [(1, "TARGET")], context=2).collect()
    }
    assert got[0] == (4, "b c TARGET d e")      # full window
    assert got[1] == (1, "TARGET x y")          # clamped left
    assert got[2] == (3, "p q TARGET")          # clamped right


def test_rrf_fuse_matches_reference(spark):
    """RRF on two hand-built rankings: contribution table checked
    against the round(1e6/(60+r)) reference, absent docs contribute
    zero, ties break by doc_id."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id bigint, rnk int"
    )
    b = spark.createDataFrame(
        [(11, 1), (13, 2)], "doc_id bigint, rnk int"
    )
    got = {
        r.doc_id: (r.rrf_micro, r.rnk)
        for r in rrf_fuse([a, b], k=10).collect()
    }
    c = lambda r: round(1e6 / (60 + r))  # noqa: E731
    want_scores = {
        10: c(1), 11: c(2) + c(1), 12: c(3), 13: c(2),
    }
    assert {d: s for d, (s, _) in got.items()} == want_scores
    order = sorted(want_scores, key=lambda d: (-want_scores[d], d))
    assert [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][1])] == order


def test_ranking_metrics_reference(spark):
    """Hand-checked nDCG/MRR/recall: hits at ranks 2 and 3 of 3
    relevant; a no-result query reports zeros; a perfect single-hit
    query reports ones."""
    import math

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        ranking_metrics,
    )

    res = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1)],
        "query_id bigint, doc_id bigint, rnk int",
    )
    qrels = spark.createDataFrame(
        [(1, 11), (1, 12), (1, 99), (3, 5), (2, 20)],
        "query_id bigint, doc_id bigint",
    )
    got = {
        r.query_id: (r.n_relevant, r.n_hits, r.ndcg, r.mrr, r.recall)
        for r in ranking_metrics(res, qrels, k=10).collect()
    }
    g = lambda r: round(1e6 / math.log2(r + 1))  # noqa: E731
    dcg = g(2) + g(3)
    idcg = g(1) + g(2) + g(3)
    assert got[1] == (3, 2, round(dcg / idcg, 6), 0.5, round(2 / 3, 6))
    assert got[2] == (1, 1, 1.0, 1.0, 1.0)
    assert got[3] == (1, 0, 0.0, 0.0, 0.0)


def test_prf_expansion_recalls_term_disjoint_doc(spark):
    """The recall case PRF exists for: a document sharing NO term with
    the query but dominated by the feedback set's companion term is
    unreachable for plain BM25 and retrieved after expansion."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_prf_expand,
    )

    corpus = [
        # feedback docs: query term 'q' always travels with 'comp'
        (i, "q comp filler" + str(i)) for i in range(6)
    ] + [
        (100, "comp comp comp"),   # no 'q' — invisible to plain BM25
        (200, "noise other words"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    base = {
        r.doc_id
        for r in bm25_topk(docs, [(1, "q")], k=10).collect()
    }
    assert 100 not in base
    prf = {
        r.doc_id
        for r in bm25_prf_expand(
            docs, [(1, "q")], k_feedback=6, n_expansion=1, k=10
        ).collect()
    }
    assert 100 in prf
    assert 200 not in prf


def test_prf_at_rest_equals_ad_hoc_and_prunes(spark, docs, tmp_path):
    """The at-rest PRF loop is pinned to the ad-hoc result, and every
    scan in it is partition-pruned: postings on pfx (both passes),
    the docterms forward index on dpfx — no corpus read anywhere."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_prf_expand,
        bm25_prf_expand_at_rest,
    )

    path = str(tmp_path / "prf_index")
    bm25_index_write(docs, path, forward_index=True)
    at_rest = bm25_prf_expand_at_rest(
        spark, path, QUERIES, k_feedback=3, n_expansion=2, k=10
    )
    adhoc = bm25_prf_expand(
        docs, QUERIES, k_feedback=3, n_expansion=2, k=10
    )
    assert sorted(map(tuple, at_rest.collect())) == sorted(
        map(tuple, adhoc.collect())
    )
    # the final (second-pass) plan: its one file scan is the postings
    # probe, pruned on pfx — the corpus parquet never appears
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pfx" in m.group(1), f"no pfx pruning in scan:\n{plan}"
    assert "documents" not in plan


def test_prf_at_rest_docterms_probe_prunes_on_dpfx(spark, docs, tmp_path):
    """The expansion-selection read touches only the feedback docs'
    dpfx partitions of the forward index."""
    import hashlib

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        _PFX_LEN,
    )

    path = str(tmp_path / "prf_index2")
    bm25_index_write(docs, path, forward_index=True)
    fb_ids = [0, 3]
    dpfxs = sorted(
        hashlib.md5(str(d).encode()).hexdigest()[:_PFX_LEN] for d in fb_ids
    )
    dterms = (
        spark.read.schema(
            "doc_id bigint, token string, batch bigint, dpfx string"
        )
        .parquet(f"{path}/docterms")
        .where(F.col("dpfx").isin(dpfxs) & F.col("doc_id").isin(fb_ids))
        .select("doc_id", "token")
    )
    plan = dterms._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dpfx" in m.group(1), f"no dpfx pruning:\n{plan}"
    # and the forward index holds exactly the docs' distinct terms
    got = {(r.doc_id, r.token) for r in dterms.collect()}
    want = {
        (i, t)
        for i, txt in CORPUS
        if i in fb_ids
        for t in set(txt.split(" "))
    }
    assert got == want


def test_prf_at_rest_recalls_term_disjoint_doc(spark, tmp_path):
    """The recall scenario, served from the index: a doc invisible to
    plain BM25 is reachable after at-rest expansion."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_prf_expand_at_rest,
    )

    corpus = [(i, "q comp filler" + str(i)) for i in range(6)] + [
        (100, "comp comp comp"),
        (200, "noise other words"),
    ]
    d = spark.createDataFrame(corpus, "doc_id bigint, text string")
    path = str(tmp_path / "prf_recall")
    bm25_index_write(d, path, forward_index=True)
    hits = {
        r.doc_id
        for r in bm25_prf_expand_at_rest(
            spark, path, [(1, "q")], k_feedback=6, n_expansion=1, k=10
        ).collect()
    }
    assert 100 in hits and 200 not in hits


def test_batch_keyed_write_restores_unset_conf(spark, docs, tmp_path):
    """Building an index on a session where partitionOverwriteMode was
    never set must not leave the session in dynamic mode — that would
    silently change later user overwrite-partitionBy writes."""
    key = "spark.sql.sources.partitionOverwriteMode"
    had = spark.conf.get(key, None)
    if had is not None:
        spark.conf.unset(key)
    try:
        bm25_index_write(docs, str(tmp_path / "leak_idx"))
        assert spark.conf.get(key, None) in (None, "STATIC", "static")
    finally:
        if had is not None:
            spark.conf.set(key, had)


def test_index_compaction_probe_identical_and_versioned(spark, docs, tmp_path):
    """Compacting N batch deltas into one published version changes
    probe results not one bit; the version dir resolves through the
    crash-safe pointer; a second compaction publishes v2 and the
    probe still answers; the SOURCE deltas are untouched."""
    import os

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_current,
    )

    src = str(tmp_path / "src_idx")
    dst = str(tmp_path / "compacted")
    for b in range(3):
        bm25_index_append(docs.where(F.col("doc_id") % 3 == b), src, b)
    want = sorted(
        map(tuple, bm25_topk_at_rest(spark, src, QUERIES, k=10).collect())
    )
    v1 = bm25_index_compact(spark, src, dst)
    live = bm25_index_current(spark, dst)
    assert live.endswith(v1)
    got = sorted(
        map(tuple, bm25_topk_at_rest(spark, live, QUERIES, k=10).collect())
    )
    assert got == want
    # single batch dir in the compacted postings
    batches = [
        d for d in os.listdir(f"{live}/postings") if d.startswith("batch=")
    ]
    assert batches == ["batch=0"]
    # source tree untouched: three delta dirs remain
    src_batches = [
        d for d in os.listdir(f"{src}/postings") if d.startswith("batch=")
    ]
    assert sorted(src_batches) == ["batch=0", "batch=1", "batch=2"]
    # append a 4th delta, recompact: new version published, probe
    # reflects the full corpus again
    extra = spark.createDataFrame(
        [(1000, "hash join table scan probe")], "doc_id bigint, text string"
    )
    bm25_index_append(extra, src, 3)
    v2 = bm25_index_compact(spark, src, dst)
    assert v2 != v1
    live2 = bm25_index_current(spark, dst)
    r2 = {
        (r.query_id, r.doc_id)
        for r in bm25_topk_at_rest(spark, live2, QUERIES, k=10).collect()
    }
    assert (1, 1000) in r2


def test_compacted_forward_index_serves_prf(spark, docs, tmp_path):
    """Compaction with forward_index=True keeps PRF servable from the
    published version, bit-identical to the delta-tree answer."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_current,
        bm25_prf_expand_at_rest,
    )

    src = str(tmp_path / "src_prf")
    dst = str(tmp_path / "compacted_prf")
    for b in range(2):
        bm25_index_append(
            docs.where(F.col("doc_id") % 2 == b), src, b, forward_index=True
        )
    want = sorted(
        map(
            tuple,
            bm25_prf_expand_at_rest(
                spark, src, QUERIES, k_feedback=3, n_expansion=2, k=10
            ).collect(),
        )
    )
    bm25_index_compact(spark, src, dst, forward_index=True)
    got = sorted(
        map(
            tuple,
            bm25_prf_expand_at_rest(
                spark,
                bm25_index_current(spark, dst),
                QUERIES,
                k_feedback=3,
                n_expansion=2,
                k=10,
            ).collect(),
        )
    )
    assert got == want


def test_positional_compaction_probe_identical_and_versioned(
    spark, docs, tmp_path
):
    """Compacting N positional batch deltas into one published version
    changes phrase-probe results not one bit; the version dir resolves
    through the crash-safe pointer; a second compaction after a new
    delta publishes v2 and the probe reflects the full corpus; the
    SOURCE deltas are untouched."""
    import os

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
        phrase_counts,
        phrase_match_at_rest,
        positional_index_append,
        positional_index_compact,
    )

    src = str(tmp_path / "pos_src")
    dst = str(tmp_path / "pos_compacted")
    phrases = [(1, "hash join"), (2, "the big table"), (3, "table table")]
    for b in range(3):
        positional_index_append(docs.where(F.col("doc_id") % 3 == b), src, b)
    want = sorted(
        map(tuple, phrase_match_at_rest(spark, src, phrases).collect())
    )
    assert want == sorted(map(tuple, phrase_counts(docs, phrases).collect()))
    v1 = positional_index_compact(spark, src, dst)
    live = bm25_index_current(spark, dst)
    assert live.endswith(v1)
    got = sorted(
        map(tuple, phrase_match_at_rest(spark, live, phrases).collect())
    )
    assert got == want
    # single batch dir in the compacted postings; pfx pruning intact
    batches = [
        d
        for d in os.listdir(f"{live}/postings_pos")
        if d.startswith("batch=")
    ]
    assert batches == ["batch=0"]
    probe = phrase_match_at_rest(spark, live, phrases)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pfx" in m.group(1), f"no pfx pruning in scan:\n{plan}"
    # source tree untouched: three delta dirs remain
    src_batches = [
        d for d in os.listdir(f"{src}/postings_pos") if d.startswith("batch=")
    ]
    assert sorted(src_batches) == ["batch=0", "batch=1", "batch=2"]
    # append a 4th delta, recompact: new version published, the new
    # document's phrase hit shows up
    extra = spark.createDataFrame(
        [(1000, "hash join hash join")], "doc_id bigint, text string"
    )
    positional_index_append(extra, src, 3)
    v2 = positional_index_compact(spark, src, dst)
    assert v2 != v1
    live2 = bm25_index_current(spark, dst)
    r2 = {
        (r.phrase_id, r.doc_id, r.n_matches)
        for r in phrase_match_at_rest(spark, live2, phrases).collect()
    }
    assert (1, 1000, 2) in r2


def test_proximity_at_rest_equals_ad_hoc_and_prunes(spark, docs, tmp_path):
    """NEAR served from the positional index returns exactly the
    ad-hoc proximity_counts rows (incl. a same-term pair, counted in
    both directions like the ad-hoc loop) and probes with pfx
    partition pruning; survives compaction through the published
    version."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
        positional_index_append,
        positional_index_compact,
        proximity_counts,
        proximity_match_at_rest,
    )

    src = str(tmp_path / "prox_src")
    for b in range(2):
        positional_index_append(docs.where(F.col("doc_id") % 2 == b), src, b)
    pairs = [(1, "hash", "join"), (2, "the", "table"), (3, "table", "table")]
    want = sorted(
        map(tuple, proximity_counts(docs, pairs, window=3).collect())
    )
    at_rest = proximity_match_at_rest(spark, src, pairs, window=3)
    assert sorted(map(tuple, at_rest.collect())) == want
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pfx" in m.group(1), f"no pfx pruning in scan:\n{plan}"
    # compacted version answers identically
    dst = str(tmp_path / "prox_dst")
    positional_index_compact(spark, src, dst)
    live = bm25_index_current(spark, dst)
    assert sorted(
        map(
            tuple,
            proximity_match_at_rest(spark, live, pairs, window=3).collect(),
        )
    ) == want
    # empty pair list: typed empty frame
    empty = proximity_match_at_rest(spark, src, [])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "pair_id", "doc_id", "n_pairs",
    ]
    # the ad-hoc empty-input guards carry the corpus's OWN id type
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        phrase_counts,
    )

    sdocs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    for empty in (proximity_counts(sdocs, []), phrase_counts(sdocs, [])):
        assert empty.count() == 0
        assert empty.schema["doc_id"].dataType.simpleString() == "string"


def test_at_rest_strategies_are_result_identical(spark, docs, tmp_path):
    """The two physical strategies of phrase_match_at_rest /
    proximity_match_at_rest (per-query plan branches vs one
    data-driven broadcast-table plan) return identical rows — on sets
    spanning repeated-token phrases, same-term pairs, and misses —
    and 'auto' dispatches by query-set size without changing
    results."""
    import pytest as _pytest

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        phrase_match_at_rest,
        positional_index_write,
        proximity_match_at_rest,
    )

    path = str(tmp_path / "strat_idx")
    positional_index_write(docs, path)
    phrases = [
        (1, "hash join"), (2, "table table"), (3, "the big table"),
        (4, "hash"), (5, "nope nope"),
    ]
    pairs = [(1, "hash", "join"), (2, "table", "table"), (3, "the", "big")]
    ph_loop = sorted(map(tuple, phrase_match_at_rest(
        spark, path, phrases, strategy="loop").collect()))
    ph_set = sorted(map(tuple, phrase_match_at_rest(
        spark, path, phrases, strategy="set").collect()))
    ph_auto = sorted(map(tuple, phrase_match_at_rest(
        spark, path, phrases).collect()))
    assert ph_loop == ph_set == ph_auto
    px_loop = sorted(map(tuple, proximity_match_at_rest(
        spark, path, pairs, window=3, strategy="loop").collect()))
    px_set = sorted(map(tuple, proximity_match_at_rest(
        spark, path, pairs, window=3, strategy="set").collect()))
    px_auto = sorted(map(tuple, proximity_match_at_rest(
        spark, path, pairs, window=3).collect()))
    assert px_loop == px_set == px_auto
    # a big auto set routes to 'set' and still matches per-query loops
    big = [(i, phrases[i % 5][1]) for i in range(20)]
    big_auto = sorted(map(tuple, phrase_match_at_rest(
        spark, path, big).collect()))
    big_loop = sorted(map(tuple, phrase_match_at_rest(
        spark, path, big, strategy="loop").collect()))
    assert big_auto == big_loop
    with _pytest.raises(ValueError):
        phrase_match_at_rest(spark, path, phrases, strategy="nope")
    with _pytest.raises(ValueError):
        proximity_match_at_rest(spark, path, pairs, strategy="nope")


def test_at_rest_duplicate_postings_do_not_corrupt_matches(
    spark, docs, tmp_path
):
    """A document re-delivered in a later crawl batch duplicates its
    (token, doc_id, pos) rows across two batch= deltas. Without the
    probe-side dedup the loop strategy inflates counts
    multiplicatively and the set strategy can manufacture a false
    match (two copies of offset 0 satisfying n_off == plen) — both
    strategies must instead return exactly the ad-hoc answer on the
    un-duplicated corpus (ADVICE round 12)."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        phrase_counts,
        phrase_match_at_rest,
        positional_index_append,
        proximity_counts,
        proximity_match_at_rest,
    )

    path = str(tmp_path / "dup_idx")
    positional_index_append(docs, path, 0)
    positional_index_append(docs, path, 1)  # same docs, later batch
    phrases = [(1, "hash join"), (2, "table table"), (3, "hash")]
    want_ph = sorted(map(tuple, phrase_counts(docs, phrases).collect()))
    for strat in ("loop", "set"):
        got = sorted(map(tuple, phrase_match_at_rest(
            spark, path, phrases, strategy=strat).collect()))
        assert got == want_ph, f"phrase strategy={strat}"
    pairs = [(1, "hash", "join"), (2, "table", "table")]
    want_px = sorted(
        map(tuple, proximity_counts(docs, pairs, window=3).collect())
    )
    for strat in ("loop", "set"):
        got = sorted(map(tuple, proximity_match_at_rest(
            spark, path, pairs, window=3, strategy=strat).collect()))
        assert got == want_px, f"proximity strategy={strat}"


def test_compacted_duplicate_postings_stay_correct(spark, docs, tmp_path):
    """Compaction of a tree holding cross-batch duplicate postings
    must fold them away: the compacted tree is single-batch — the
    shape the probes' dedup skip trusts to be duplicate-free — so a
    compaction that preserved duplicates would corrupt phrase counts
    silently. Probe of the compacted-from-duplicates tree must equal
    the ad-hoc answer under BOTH strategies."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
        phrase_counts,
        phrase_match_at_rest,
        positional_index_append,
        positional_index_compact,
    )

    src = str(tmp_path / "dup_src")
    positional_index_append(docs, src, 0)
    positional_index_append(docs, src, 1)  # duplicate delivery
    dst = str(tmp_path / "dup_dst")
    positional_index_compact(spark, src, dst)
    live = bm25_index_current(spark, dst)
    # compacted tree is single-batch AND duplicate-free
    rows = spark.read.schema(
        "token string, doc_id bigint, pos bigint, batch bigint, pfx string"
    ).parquet(f"{live}/postings_pos")
    assert rows.select("batch").distinct().count() == 1
    assert rows.count() == rows.dropDuplicates(
        ["token", "doc_id", "pos"]
    ).count()
    phrases = [(1, "hash join"), (2, "table table"), (3, "hash")]
    want = sorted(map(tuple, phrase_counts(docs, phrases).collect()))
    for strat in ("loop", "set"):
        got = sorted(map(tuple, phrase_match_at_rest(
            spark, live, phrases, strategy=strat).collect()))
        assert got == want, f"strategy={strat}"


def test_disjoint_batch_manifest_skips_dedup(spark, docs, tmp_path):
    """Batches with pairwise-disjoint doc-id ranges (the append-only
    crawl common case) provably hold no cross-batch duplicate
    postings, so the probes skip the (token, doc_id, pos) distinct —
    the manifest written by each append is the proof. Results equal
    the ad-hoc answer and the Deduplicate operator is absent from the
    plan (VERDICT r13 directive #3)."""
    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        _pos_dedup_needed,
        phrase_counts,
        phrase_match_at_rest,
        positional_index_append,
        proximity_counts,
        proximity_match_at_rest,
    )

    path = str(tmp_path / "disjoint_idx")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    positional_index_append(docs.where(F.col("doc_id") <= cut), path, 0)
    positional_index_append(docs.where(F.col("doc_id") > cut), path, 1)
    assert _pos_dedup_needed(spark, path) is False

    phrases = [(1, "hash join"), (2, "table table"), (3, "hash")]
    want_ph = sorted(map(tuple, phrase_counts(docs, phrases).collect()))
    for strat in ("loop", "set"):
        got_df = phrase_match_at_rest(spark, path, phrases, strategy=strat)
        plan = got_df._jdf.queryExecution().analyzed().toString()
        assert "Deduplicate" not in plan, f"strategy={strat}"
        assert sorted(map(tuple, got_df.collect())) == want_ph, strat
    pairs = [(1, "hash", "join"), (2, "table", "table")]
    want_px = sorted(
        map(tuple, proximity_counts(docs, pairs, window=3).collect())
    )
    for strat in ("loop", "set"):
        got_df = proximity_match_at_rest(
            spark, path, pairs, window=3, strategy=strat
        )
        plan = got_df._jdf.queryExecution().analyzed().toString()
        assert "Deduplicate" not in plan, f"strategy={strat}"
        assert sorted(map(tuple, got_df.collect())) == want_px, strat

    # a pre-manifest tree (manifest missing) must keep the dedup
    import shutil

    shutil.rmtree(f"{path}/manifest")
    assert _pos_dedup_needed(spark, path) is True
    got_df = phrase_match_at_rest(spark, path, phrases, strategy="set")
    plan = got_df._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in plan
    assert sorted(map(tuple, got_df.collect())) == want_ph


def test_overlapping_batch_manifest_keeps_dedup(spark, docs, tmp_path):
    """Overlapping doc-id ranges — a re-delivered document — keep the
    semantics-restoring distinct, and a manifest missing one live
    batch (partial pre-manifest history) is treated as overlapping."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        _pos_dedup_needed,
        phrase_counts,
        phrase_match_at_rest,
        positional_index_append,
    )

    path = str(tmp_path / "overlap_idx")
    positional_index_append(docs, path, 0)
    positional_index_append(docs, path, 1)  # same ids: overlap
    assert _pos_dedup_needed(spark, path) is True
    phrases = [(1, "hash join"), (2, "table table")]
    want = sorted(map(tuple, phrase_counts(docs, phrases).collect()))
    for strat in ("loop", "set"):
        got = sorted(map(tuple, phrase_match_at_rest(
            spark, path, phrases, strategy=strat).collect()))
        assert got == want, strat
    # drop ONE batch's manifest row: incomplete manifest → dedup stays
    shutil.rmtree(f"{path}/manifest/batch=1")
    assert _pos_dedup_needed(spark, path) is True


def test_bm25_append_overlap_signal(spark, docs, tmp_path):
    """BM25's additive df/scalars silently corrupt under a
    re-delivered doc_id (no probe-side dedup can exist for
    pre-aggregated stats), so each append lands a doc-id manifest and
    returns maybe_overlap — the monitoring hook for the disjoint-batch
    contract. Disjoint ranges: clean; intersecting ranges: flagged;
    replaying the SAME batch id is idempotent and never flagged."""
    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
    )

    path = str(tmp_path / "bm25_sig")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    r0 = bm25_index_append(docs.where(F.col("doc_id") <= cut), path, 0)
    assert r0["maybe_overlap"] is False and r0["n_docs"] > 0
    r1 = bm25_index_append(docs.where(F.col("doc_id") > cut), path, 1)
    assert r1["maybe_overlap"] is False
    # same-batch replay: idempotent, not an overlap
    r1b = bm25_index_append(docs.where(F.col("doc_id") > cut), path, 1)
    assert r1b["maybe_overlap"] is False
    # a re-delivery under a NEW batch id intersects batch 0's range
    r2 = bm25_index_append(docs.where(F.col("doc_id") <= cut), path, 2)
    assert r2["maybe_overlap"] is True


def test_bm25_compact_repairs_redelivered_docs(spark, docs, tmp_path):
    """The remediation arm of the disjoint-batch contract: a doc
    re-delivered (with NEW text) under a later batch id double-counts
    df/dl in the additive stats — repair='auto' compaction folds
    postings latest-batch-wins and recomputes the statistics, so the
    compacted probe equals an index built from the latest version of
    every document. Provably-disjoint trees keep the bit-identical
    additive fold."""
    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_current,
        bm25_topk,
        bm25_topk_at_rest,
    )

    queries = [(1, "hash join"), (2, "table scan"), (3, "the")]
    changed = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.lit("updated text "), F.col("text")).alias("text")
    )
    latest = docs.where(F.col("doc_id") % 5 != 0).unionByName(changed)
    want = sorted(map(tuple, bm25_topk(latest, queries, k=10).collect()))

    src = str(tmp_path / "bm25_rep_src")
    r0 = bm25_index_append(docs, src, 0)
    r1 = bm25_index_append(changed, src, 1)  # re-delivery, new text
    assert r1["maybe_overlap"] is True
    dst = str(tmp_path / "bm25_rep_dst")
    bm25_index_compact(spark, src, dst)  # auto: manifest says overlap
    live = bm25_index_current(spark, dst)
    got = sorted(
        map(tuple, bm25_topk_at_rest(spark, live, queries, k=10).collect())
    )
    assert got == want
    # the repaired index carries exact folded statistics
    st = spark.read.parquet(f"{live}/stats").collect()[0]
    assert int(st["n_docs"]) == latest.count()
    # disjoint trees keep the additive fold bit-identical to before
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    src2 = str(tmp_path / "bm25_disj_src")
    bm25_index_append(docs.where(F.col("doc_id") <= cut), src2, 0)
    bm25_index_append(docs.where(F.col("doc_id") > cut), src2, 1)
    dst2 = str(tmp_path / "bm25_disj_dst")
    bm25_index_compact(spark, src2, dst2)
    live2 = bm25_index_current(spark, dst2)
    want2 = sorted(map(tuple, bm25_topk(docs, queries, k=10).collect()))
    got2 = sorted(
        map(tuple, bm25_topk_at_rest(spark, live2, queries, k=10).collect())
    )
    assert got2 == want2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_index_compact(spark, src, dst, repair="nope")


def test_bm25_probe_overlap_guard(spark, docs, tmp_path):
    """The probe-side arm of the disjoint-batch contract (VERDICT r14
    #1): at-rest and PRF probes consult the batch manifest like
    _pos_dedup_needed — a can't-prove-disjoint tree warns (default)
    or raises with a message directing to bm25_index_compact(repair),
    a provably-disjoint tree serves silently with a byte-identical
    plan, and a pre-manifest tree keeps historical behavior."""
    import shutil
    import warnings

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        OverlappingBatchesError,
        OverlapWarning,
        bm25_index_append,
        bm25_index_compact,
        bm25_index_current,
        bm25_prf_expand_at_rest,
    )

    # re-delivered doc under a new batch id: guard fires
    bad = str(tmp_path / "bm25_guard_bad")
    bm25_index_append(docs, bad, 0, forward_index=True)
    bm25_index_append(
        docs.where(F.col("doc_id") % 5 == 0), bad, 1, forward_index=True
    )
    with pytest.warns(OverlapWarning, match="bm25_index_compact"):
        bm25_topk_at_rest(spark, bad, QUERIES, k=10)
    with pytest.raises(OverlappingBatchesError, match="repair"):
        bm25_topk_at_rest(spark, bad, QUERIES, k=10, on_overlap="raise")
    with pytest.warns(OverlapWarning):
        bm25_prf_expand_at_rest(spark, bad, QUERIES, k=5)
    with pytest.raises(OverlappingBatchesError):
        bm25_prf_expand_at_rest(spark, bad, QUERIES, k=5, on_overlap="raise")
    with pytest.raises(ValueError):
        bm25_topk_at_rest(spark, bad, QUERIES, k=10, on_overlap="nope")
    # 'ignore' serves (the caller's out-of-band proof)
    with warnings.catch_warnings():
        warnings.simplefilter("error", OverlapWarning)
        bm25_topk_at_rest(
            spark, bad, QUERIES, k=10, on_overlap="ignore"
        ).collect()
    # the repaired compaction clears the guard (single folded batch)
    dst = str(tmp_path / "bm25_guard_fixed")
    bm25_index_compact(spark, bad, dst)
    live = bm25_index_current(spark, dst)
    with warnings.catch_warnings():
        warnings.simplefilter("error", OverlapWarning)
        bm25_topk_at_rest(spark, live, QUERIES, k=10).collect()
    # provably-disjoint multi-batch tree: silent, plan byte-identical
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    good = str(tmp_path / "bm25_guard_good")
    bm25_index_append(docs.where(F.col("doc_id") <= cut), good, 0)
    bm25_index_append(docs.where(F.col("doc_id") > cut), good, 1)
    with warnings.catch_warnings():
        warnings.simplefilter("error", OverlapWarning)
        guarded = bm25_topk_at_rest(spark, good, QUERIES, k=10)
    unguarded = bm25_topk_at_rest(
        spark, good, QUERIES, k=10, on_overlap="ignore"
    )
    norm = lambda df: re.sub(  # noqa: E731 — exprIds differ per-plan
        r"#\d+", "#", df._jdf.queryExecution().analyzed().toString()
    )
    assert norm(guarded) == norm(unguarded)
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, unguarded.collect())
    )
    # pre-manifest tree: historical serve-silently behavior
    shutil.rmtree(f"{bad}/manifest")
    with warnings.catch_warnings():
        warnings.simplefilter("error", OverlapWarning)
        bm25_topk_at_rest(spark, bad, QUERIES, k=10).collect()


def test_bm25_completed_replay_replaces_stale_subpartitions(
    spark, docs, tmp_path
):
    """The bm25 edition of the stale-leaf replay hole: a completed
    different-content replay of a batch must leave no postings rows
    from the superseded delivery in pfx= leaves the new delivery
    doesn't touch."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
        bm25_topk,
        bm25_topk_at_rest,
    )

    path = str(tmp_path / "bm25_replay")
    bm25_index_append(docs.where(F.col("doc_id") <= 2), path, 0)
    bm25_index_append(docs.where(F.col("doc_id") == 3), path, 1)  # "hash"
    # corrected batch 1: doc 4 instead of doc 3 (disjoint token sets)
    bm25_index_append(docs.where(F.col("doc_id") == 4), path, 1)
    live_docs = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/postings")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert 3 not in live_docs and 4 in live_docs
    queries = [(1, "hash join"), (2, "table")]
    want = sorted(
        map(
            tuple,
            bm25_topk(
                docs.where(F.col("doc_id").isin([0, 1, 2, 4])), queries, k=10
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, bm25_topk_at_rest(spark, path, queries, k=10).collect())
    )
    assert got == want


def test_prf_fails_closed_on_forward_index_downgrade(spark, docs, tmp_path):
    """ADVICE r15: bm25_index_append drops docterms/batch=<id> on
    every replay, so a forward_index=False replay on a forward-indexed
    tree removes that batch's docterms and never rewrites them — the
    manifest still completes, so without a probe-side check PRF would
    silently compute feedback from PARTIAL docterms. The probe must
    raise on the uncovered batch and serve again once the batch is
    replayed with forward_index=True."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
        bm25_prf_expand_at_rest,
    )

    path = str(tmp_path / "prf_downgrade")
    b0 = docs.where(F.col("doc_id") < 3)
    b1 = docs.where(F.col("doc_id") >= 3)
    bm25_index_append(b0, path, 0, forward_index=True)
    bm25_index_append(b1, path, 1, forward_index=True)
    want = sorted(
        map(
            tuple,
            bm25_prf_expand_at_rest(
                spark, path, QUERIES, k_feedback=3, n_expansion=2, k=10
            ).collect(),
        )
    )
    # downgrade replay: batch 1's docterms are gone, manifest complete
    bm25_index_append(b1, path, 1, forward_index=False)
    with pytest.raises(ValueError, match="docterms"):
        bm25_prf_expand_at_rest(
            spark, path, QUERIES, k_feedback=3, n_expansion=2, k=10
        )
    # healing replay restores coverage and the original answer
    bm25_index_append(b1, path, 1, forward_index=True)
    got = sorted(
        map(
            tuple,
            bm25_prf_expand_at_rest(
                spark, path, QUERIES, k_feedback=3, n_expansion=2, k=10
            ).collect(),
        )
    )
    assert got == want


def test_bm25_compact_repair_empty_doc_edge(spark, tmp_path):
    """VERDICT r15 #4: pin the repair arm's empty-doc contract so a
    refactor can't silently widen it. (1) Modulo empty deliveries, a
    repaired tree serves BIT-EQUAL to a from-scratch build over the
    latest corpus. (2) The two documented symptoms of the zero-token
    root cause are pinned exactly: an empty-only doc drops out of the
    recomputed n_docs, and an emptied RE-delivery keeps its previous
    postings (invisible supersession)."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_current,
        bm25_topk_at_rest,
    )

    # batch 0: docs 0, 1; batch 1 RE-delivers doc 1 changed (overlap
    # -> repair engages under 'auto') and doc 2 with EMPTY text
    path = str(tmp_path / "src")
    b0 = spark.createDataFrame(
        [(0, "hash join table scan"), (1, "merge join key")],
        "doc_id bigint, text string",
    )
    # NULL text is the zero-token delivery (split("") yields [''] —
    # one empty-string token — so "" is NOT empty to this tokenizer)
    b1 = spark.createDataFrame(
        [(1, "hash index rebuild"), (2, None)],
        "doc_id bigint, text string",
    )
    bm25_index_append(b0, path, 0)
    r = bm25_index_append(b1, path, 1)
    assert r["maybe_overlap"] is True
    dst = str(tmp_path / "pub")
    bm25_index_compact(spark, path, dst, repair="auto")
    live = bm25_index_current(spark, dst)
    # (1) equality modulo the edge: from-scratch over the latest
    # corpus WITHOUT the empty delivery == repaired tree, bit-equal
    scratch = str(tmp_path / "scratch")
    latest_nonempty = spark.createDataFrame(
        [(0, "hash join table scan"), (1, "hash index rebuild")],
        "doc_id bigint, text string",
    )
    bm25_index_append(latest_nonempty, scratch, 0)
    queries = [(1, "hash join"), (2, "key rebuild")]
    got = sorted(
        map(
            tuple,
            bm25_topk_at_rest(spark, live, queries, k=10).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            bm25_topk_at_rest(spark, scratch, queries, k=10).collect(),
        )
    )
    assert got == want
    # (2a) pinned symptom: the empty-only doc 2 is absent from the
    # recomputed n_docs (a from-scratch build over the latest corpus
    # INCLUDING the empty delivery would say 3)
    stats = spark.read.parquet(f"{live}/stats").collect()[0]
    assert int(stats["n_docs"]) == 2
    full_scratch = str(tmp_path / "full")
    bm25_index_append(
        latest_nonempty.unionByName(
            spark.createDataFrame(
                [(2, None)], "doc_id bigint, text string"
            )
        ),
        full_scratch,
        0,
    )
    assert (
        int(
            spark.read.parquet(f"{full_scratch}/stats").collect()[0][
                "n_docs"
            ]
        )
        == 3
    )
    # (2b) pinned symptom: an emptied RE-delivery is invisible to the
    # fold — doc 0 re-delivered empty in batch 2 keeps its batch-0
    # postings through a repair
    bm25_index_append(
        spark.createDataFrame([(0, None)], "doc_id bigint, text string"),
        path,
        2,
    )
    dst2 = str(tmp_path / "pub2")
    bm25_index_compact(spark, path, dst2, repair="always")
    live2 = bm25_index_current(spark, dst2)
    kept0 = {
        r.token
        for r in spark.read.parquet(f"{live2}/postings")
        .where(F.col("doc_id") == 0)
        .collect()
    }
    assert kept0 == {"hash", "join", "table", "scan"}
