"""Catalog hygiene: the driver contract must stay internally
consistent as entries are added."""

from __future__ import annotations

import __spark_entry__ as E
from pyspark_airflow_weather_etl_spark.plans import (
    CHANGED,
    HEAD,
    RECORDS,
    REGISTRATION_ORDER,
    REGISTRY,
    verification_order,
)

import conftest


def test_every_entry_documented():
    for name, q in REGISTRY.items():
        assert q.doc, f"{name} has no docstring"


def test_contract_exports_match_registry():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(qs) == set(REGISTRY)
    assert set(oracles) <= set(qs)
    # every oracle references only pre-registered fixture views
    fixtures = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    import re

    for name, sql in oracles.items():
        # string literals can contain SQL keywords (the BM25 query
        # text 'hash join table scan' made `JOIN table` look like a
        # table reference) — blank them before scanning
        sql = re.sub(r"'[^']*'", "''", sql)
        # negative lookbehind: SQL's `IS [NOT] DISTINCT FROM x`
        # comparisons are not table references
        tables = set(re.findall(
            r"(?:(?<!DISTINCT )FROM|JOIN)\s+([a-z_][a-z0-9_]*)", sql,
            re.IGNORECASE))
        cte_names = set(re.findall(r"(?:WITH(?:\s+RECURSIVE)?\s+|,\s*)"
                                   r"([a-z_][a-z0-9_]*)\s*(?:\([^)]*\))?"
                                   r"\s+AS\s+(?:MATERIALIZED\s*)?\(", sql,
                                   re.IGNORECASE))
        aliases = {"t", "n", "c", "s", "o", "l", "a", "b", "e", "q", "j",
                   "n1", "n2", "sa", "sb", "v", "p", "r", "u", "w"}
        tables = {t.lower() for t in tables}
        cte_names = {t.lower() for t in cte_names}
        unknown = tables - fixtures - cte_names - aliases - {
            "unnest", "lateral", "read_parquet",
            "read_json",  # committed bronze fixture (weatherplans)
            "null",  # 'IS NOT DISTINCT FROM NULL' matches the regex
        }
        assert not unknown, f"{name} references non-fixture tables: {unknown}"


def test_rows_only_entries_are_the_documented_sketches():
    rows_only = {n for n, q in REGISTRY.items() if not q.oracle}
    assert rows_only == {
        "minhash_near_dup_pairs",
        "simhash_documents",
        "srp_ann_topk",
        "srp_ann_topk_at_rest",
        "embedding_near_dup_blocked",
        "ivf_ann_topk",
        "ivf_ann_topk_at_rest",
        # round-14 lifecycle edition: float-trained frozen centroids,
        # probe==in-memory equality pytest in tests/test_similarity.py
        # (its fixed-quantizer twin ivf_ann_topk_incremental_fixed,
        # round 15, IS oracle-bearing — append+fold+probe replayed in
        # one DuckDB statement)
        "ivf_ann_topk_incremental",
        # round-15 SRP lifecycle: LSH probe set like every srp entry;
        # equality with one-shot srp_topk_at_rest + replay idempotency
        # pinned in tests/test_similarity.py
        "srp_ann_topk_incremental",
        "approx_distinct_users",
        "approx_percentile_prices",
        # SRP sub-blocked hot-label path: approximate by design, recall
        # bounded in tests/test_similarity.py::TestHotLabelSubBlocking
        "pairwise_topk_per_label_hot",
        # SRP-blocked cross-corpus leakage check: approximate, recall
        # bounded vs the oracle-checked cross_corpus_near_dup_exact
        "cross_corpus_near_dup_blocked",
        # SemDeDup: the k-means quantizer is not SQL-expressible;
        # bounds in tests/test_similarity.py::TestSemanticDedup
        "semantic_dedup_embeddings",
        # forced hot-cell SRP sub-blocking scale path of the above
        "semantic_dedup_embeddings_hot",
        # nprobe=4 multi-probe edition (k-means): leakage + coverage
        # bounds in tests/test_similarity.py (r9)
        "semantic_dedup_embeddings_nprobe",
        # k-means incremental loop: batch-restriction equality in
        # tests/test_similarity.py::TestIncrementalSemanticDedup (its
        # fixed-quantizer twin semantic_dedup_incremental_cells is
        # hash-exact against the one-shot oracle)
        "semantic_dedup_incremental_embeddings",
        # (BPE merges/encode moved OUT of this set in round 11: the
        # training loop and encode are now round-unrolled
        # recursive-CTE oracles — hash-exact)
        # PQ with trained codebooks: quantized ranking is approximate
        # by design; encode/LUT exactness + recall bounds in
        # tests/test_pq.py (the fixed-codebook twins
        # pq_encode_fixed_embeddings / pq_adc_topk_fixed ARE
        # oracle-bearing — the hash-exact proof of the same pipeline)
        "pq_ann_topk_adc",
        "ivfpq_ann_topk_at_rest",
        # IVF-PQ lifecycle: same trained quantizers, frozen in the
        # tree; lifecycle equality/recall/plan shape in
        # tests/test_pq.py::TestIvfpqLifecycle (the hash-exact twin is
        # ivfpq_ann_topk_fixed — oracle-bearing)
        "ivfpq_ann_topk_incremental",
        # streaming twin of the same lifecycle: streamed == incremental
        # batch build == compacted, pinned in tests/test_pq.py
        "streaming_ivfpq_index_topk",
        # OPQ edition of the lifecycle (learned rotation frozen in the
        # tree); one-batch == at-rest equality + flavor guard pinned
        # in tests/test_pq.py
        "opq_ann_topk_incremental",
        # OPQ at-rest serving shape (codes quantize rotated vectors at
        # write time); plan contract shared with ivfpq_ann_topk_at_rest
        "opq_ann_topk_at_rest",
        # OPQ: learned rotation (SVD Procrustes) + trained codebooks;
        # orthogonality, error-reduction vs plain PQ, and encode
        # parity pinned in tests/test_pq.py::TestOpq
        "opq_ann_topk_adc",
        # (unigram hard-EM vocab/encode moved OUT of this set in
        # round 11: the Viterbi trainer and encode replay as
        # recursive-CTE oracles — hash-exact)
        # full-EM edition: forward-backward expected counts quantized
        # to integer micro-counts before aggregation; exact equality
        # with an independent Python reference in
        # tests/test_unigram.py::TestFullEm
        "unigram_vocab_em_documents",
        # trained quality classifier: iterative full-batch logistic GD
        # is not one SQL query; training+scoring are bit-exact against
        # an independent numpy reference in tests/test_classifier.py,
        # and the streaming twin is batch-parity + replay pinned in
        # tests/test_streaming.py
        "quality_classifier_scores",
        "quality_classifier_select",
        "streaming_classifier_scores",
        # distributed exact PCA: driver-side eigh over exact integer
        # moments; bit-exact numpy parity in tests/test_pca.py
        "pca_project_embeddings",
        "pca_reduced_ann_topk",
        # streaming twin: bit-identical artifact from the streamed
        # moment store (integer additivity) — pinned in
        # tests/test_streaming.py
        "streaming_pca_project_embeddings",
    }, f"unexpected rows-only set: {rows_only}"


# --- the driver's verification schedule (plans/__init__.py) ----------

GREEN = {"hash_match": True, "err": None}
ROWS_ONLY = {"hash_match": None, "err": "no_oracle"}
RED = {"hash_match": False, "err": None}


def test_registry_order_is_a_permutation_of_registration():
    assert sorted(REGISTRY) == sorted(REGISTRATION_ORDER)
    assert len(REGISTRATION_ORDER) == len(set(REGISTRATION_ORDER))


def test_changed_names_are_registered():
    assert CHANGED <= set(REGISTRY), sorted(CHANGED - set(REGISTRY))


def test_no_records_is_registration_order_then_head():
    assert verification_order("abcd", {}) == list("abcd")
    # the changed-path head follows the never-verified names
    assert verification_order("abcd", {}, {"c"}, 17) == list("abdc")


def test_unverified_first_then_stalest_green():
    rounds = {
        3: {"a": GREEN, "b": GREEN, "c": RED},
        1: {"d": ROWS_ONLY, "e": GREEN},
        2: {"a": GREEN, "e": GREEN, "gone": GREEN},
    }
    # c only red, f never sampled: unverified, in registration order;
    # then d (r1, a rows-only row counts as green), e (freshest r2), a
    # and b (freshest r3) — a's r3 row wins over its r2 row, and the
    # unregistered name is ignored.
    assert verification_order("abcdef", rounds) == list("cfdeab")


def test_red_row_does_not_refresh_a_green_name():
    rounds = {1: {"a": GREEN, "b": GREEN}, 2: {"a": RED, "c": GREEN}}
    assert verification_order("cba", rounds) == list("bac")


def test_changed_head_follows_unverified_and_expires():
    rounds = {1: {"a": GREEN, "b": GREEN}, 2: {"c": GREEN}}
    # b changed after round 2: it jumps every green tier but not the
    # never-verified d.
    assert verification_order("abcd", rounds, {"b"}, 2) == list("dbac")
    # a newer green row retires it into its own tier...
    rounds[3] = {"b": GREEN}
    assert verification_order("abcd", rounds, {"b"}, 2) == list("dacb")
    # ...but a newer red row does not.
    rounds[3] = {"b": RED}
    assert verification_order("abcd", rounds, {"b"}, 2) == list("dbac")


def test_live_order_after_head_skips_the_freshest_record():
    """The next driver sample after the changed-path head comes from
    the stale green tiers, never from the freshest record."""
    order = list(REGISTRY)
    start = max((order.index(n) + 1 for n in HEAD), default=0)
    assert not set(order[start : start + 50]) & set(RECORDS[max(RECORDS)])


def test_changed_head_parity_cases_are_default_selected():
    """Oracle-parity / rows-only cases of changed-path entries run in
    the default (``-m "not slow"``) selection even when profiled slow."""
    for name in HEAD:
        test = (
            "test_oracle_parity"
            if REGISTRY[name].oracle
            else "test_rows_only_queries_run"
        )
        assert not conftest.marked_slow(
            f"test_oracle_parity.py::{test}[{name}]"
        ), name
    assert any(
        conftest.PARITY_CASE.fullmatch(nid) for nid in conftest.SLOW_TESTS
    )
