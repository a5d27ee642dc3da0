"""Query catalog — importing this package populates the registry.

Registration order matters: the correctness driver walks ``queries()``
in dict order under a per-round budget (~50 names/round), so import
reorders ``REGISTRY`` stalest-evidence-first. The order is derived
from the driver's own records, the committed ``CORRECTNESS_rNN.json``
files at the repo root (round NN parsed from the file name), by
:func:`verification_order`:

1. names with no green row in any record (green: ``hash_match`` is
   true, or ``err == "no_oracle"`` — a rows-only entry that ran);
2. the changed-path head: ``CHANGED`` names with no green row in a
   record newer than ``CHANGED_AFTER``, whatever older records say;
3. every other name by the round of its freshest green row, stalest
   round first — stale green is the main correctness risk, since
   later refactors of shared operators were never re-checked.

Within each group registration order is kept. Record names that are
not registered are ignored. With no record files every name outside
the head is unverified, so the order is registration order with the
head moved last.
"""

from __future__ import annotations

import json
import re
from collections.abc import Collection, Iterable, Mapping
from pathlib import Path

from . import (  # noqa: F401
    relational,
    simplans,
    sqlplans,
    statplans,
    streamplans,
    temporal,
    textplans,
    weatherplans,
    bucketplans,
    tpchplans,
    curationplans,
    bpeplans,
    pqplans,
    kmeansplans,
    unigramplans,
    classifierplans,
    pcaplans,
    bloomplans,
    sketchplans,
    retrievalplans,
)
from .registry import REGISTRY, oracles, queries  # noqa: F401

#: Entries whose engine path changed after their latest driver row
#: (the round-17 record). A name leaves the head by itself once a
#: record newer than ``CHANGED_AFTER`` has it green.
CHANGED: frozenset[str] = frozenset(
    {
        # the batch-keyed index store (sources/indexstore.py): bm25,
        # positional, sq8, srp, ivf, ivf-pq/OPQ and semantic appends,
        # compactions, frozen identity and drift logs, and the probe
        # guards moved onto it (_bm25_overlap_guard,
        # _require_docterms_coverage, _pos_dedup_needed)
        "bm25_prf_expanded_at_rest",
        "bm25_topk_at_rest",
        "bm25_topk_compacted",
        "bm25_topk_incremental",
        "ivf_ann_topk_incremental",
        "ivf_ann_topk_incremental_fixed",
        "ivfpq_ann_topk_incremental",
        "opq_ann_topk_incremental",
        "phrase_match_at_rest",
        "phrase_match_at_rest_set",
        "phrase_match_compacted",
        "phrase_match_incremental",
        "proximity_match_at_rest",
        "proximity_match_at_rest_set",
        "semantic_dedup_incremental_cells",
        "semantic_dedup_incremental_embeddings",
        "sq8_ann_topk_at_rest",
        "sq8_ann_topk_incremental",
        "sq8_ann_topk_incremental_disjoint",
        "srp_ann_topk_incremental",
        "srp_ann_topk_incremental_fixed",
        "streaming_bm25_index_topk",
        "streaming_ivfpq_index_topk",
        "streaming_phrase_index_match",
        "streaming_semantic_dedup",
        "streaming_sq8_index_topk",
        # foreachBatch writers whose dynamic-overwrite conf blocks
        # became write_parquet_partitioned's per-write option
        "streaming_bloom_membership",
        "streaming_cdc_chunk_store",
        "streaming_classifier_scores",
        "streaming_cms_token_counts",
        "streaming_decontaminate_documents",
        "streaming_encode_documents",
        "streaming_lm_score_documents",
        "streaming_pca_project_embeddings",
        "streaming_pseudonymize_events",
        "streaming_scd2_history",
        "streaming_scd2_sealed_store",
        "streaming_span_corruption",
        # proximity_counts projects each term's position array once
        # per row below the lambda
        "proximity_match_documents",
    }
)
CHANGED_AFTER = 17

_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _green(row: Mapping) -> bool:
    return row.get("hash_match") is True or row.get("err") == "no_oracle"


def driver_records(root: Path) -> dict[int, dict[str, dict]]:
    """``{round: {name: row}}`` from the ``CORRECTNESS_rNN.json`` files
    directly under ``root``."""
    return {
        int(m.group(1)): json.loads(p.read_text())
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := _RECORD.fullmatch(p.name))
    }


def changed_head(
    rounds: Mapping[int, Mapping[str, Mapping]],
    changed: Collection[str],
    changed_after: int,
) -> frozenset[str]:
    """The ``changed`` names with no green row newer than
    ``changed_after``."""
    regreened = {
        name
        for rnd, rows in rounds.items()
        if rnd > changed_after
        for name, row in rows.items()
        if _green(row)
    }
    return frozenset(changed) - regreened


def verification_order(
    order: Iterable[str],
    rounds: Mapping[int, Mapping[str, Mapping]],
    changed: Collection[str] = frozenset(),
    changed_after: int = 0,
) -> list[str]:
    """``order`` (registration order) rearranged for the driver: no
    green row first, then the changed-path head, then by the round of
    the freshest green row, stalest first; ties keep ``order``."""
    freshest: dict[str, int] = {}
    for rnd, rows in rounds.items():
        for name, row in rows.items():
            if _green(row):
                freshest[name] = max(rnd, freshest.get(name, rnd))
    head = changed_head(rounds, changed, changed_after)

    def key(name: str) -> tuple[int, int]:
        if name in head:
            return (1, 0)
        if name in freshest:
            return (2, freshest[name])
        return (0, 0)

    return sorted(order, key=key)


REGISTRATION_ORDER = tuple(REGISTRY)
RECORDS = driver_records(Path(__file__).parents[2])  # the repo root
HEAD = changed_head(RECORDS, CHANGED, CHANGED_AFTER)
for _name in verification_order(
    REGISTRATION_ORDER, RECORDS, CHANGED, CHANGED_AFTER
):
    REGISTRY[_name] = REGISTRY.pop(_name)
