"""Seeded input generators for the four benchmark workloads.

Every generator takes a ``random.Random`` (or a seed) and writes plain
files; the engine only ever sees those files. The same seed gives
byte-identical files: values are rounded before they are formatted,
JSON is written with a fixed key order, and parquet is written by
pyarrow with no timestamps in its metadata.

Sizes are fixed per workload and independent of the seed, so runs
with different seeds do the same amount of work; only the values,
the query stream and the positions of the injected cases change.
"""

from __future__ import annotations

import json
import math
from array import array
import os
import random
from datetime import date, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

#: The word list of the engine's synthetic ``documents`` table (the
#: sf0.1 vocabulary: 30 near-uniform words plus the rare token
#: ``dup``), so generated corpora have the same token statistics the
#: catalog's oracles were written against.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE = "dup"
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20
DIM = 64
N_LABELS = 10

#: The phrases ``curate_corpus_documents`` decontaminates against;
#: contamination is injected with exactly these.
BENCHMARK_PHRASES = ["key agg row", "batch window spark"]

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
VEC_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def zipf_choice(rng: random.Random, items: list, s: float = 1.1):
    """One item drawn with Zipf(s) weights over ``items`` in order."""
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights=weights, k=1)[0]


def _text(rng: random.Random) -> str:
    n = rng.randint(10, 100)
    return " ".join(
        RARE if rng.random() < 0.001 else rng.choice(VOCAB) for _ in range(n)
    )


def _doc(doc_id: int, text: str, rng: random.Random) -> dict:
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": rng.choice(LANGS),
        "source": f"src{doc_id % N_SOURCES}",
        "n_chars": len(text),
    }


def documents(rng: random.Random, n: int, start_id: int = 0) -> list[dict]:
    """``n`` documents shaped like the engine's ``documents`` table."""
    return [_doc(i, _text(rng), rng) for i in range(start_id, start_id + n)]


def curation_corpus(rng: random.Random, n: int) -> tuple[list[dict], dict]:
    """A corpus for one ``curate_corpus`` release: ``n`` documents of
    which about 5% are exact duplicates of an earlier document, 5% are
    near-duplicates (one token changed, so exact dedup must keep them)
    and 4% carry one of the benchmark phrases (contamination)."""
    docs: list[dict] = []
    counts = {"exact_dup": 0, "near_dup": 0, "contaminated": 0}
    for i in range(n):
        r = rng.random()
        if docs and r < 0.05:
            text = rng.choice(docs)["text"]
            counts["exact_dup"] += 1
        elif docs and r < 0.10:
            toks = rng.choice(docs)["text"].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            text = " ".join(toks)
            counts["near_dup"] += 1
        elif r < 0.14:
            toks = _text(rng).split(" ")
            toks.insert(rng.randrange(len(toks) + 1), rng.choice(BENCHMARK_PHRASES))
            text = " ".join(toks)
            counts["contaminated"] += 1
        else:
            text = _text(rng)
        docs.append(_doc(i, text, rng))
    return docs, counts


def embeddings(rng: random.Random, n: int, start_id: int = 0,
               centers: list[list[float]] | None = None) -> list[dict]:
    """``n`` unit vectors of dimension 64 around 10 label centres, like
    the engine's ``embeddings`` table. Pass the same ``centers`` to
    draw later batches from the same distribution. Components are
    rounded to float32, the stored type, so a vector taken from the
    returned rows is the one a reader of the file gets."""
    centers = centers or label_centers(rng)
    out = []
    for i in range(start_id, start_id + n):
        label = rng.randrange(N_LABELS)
        v = [c * 0.5 + rng.gauss(0.0, 1.0) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        emb = array("f", [x / norm for x in v]).tolist()
        out.append({"vec_id": i, "embedding": emb, "label": label})
    return out


def label_centers(rng: random.Random) -> list[list[float]]:
    return [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(N_LABELS)]


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> int:
    """One parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# --- bronze weather landing ------------------------------------------------

BRONZE_START = date(2024, 1, 1)


def locations(rng: random.Random, n: int) -> list[tuple[float, float]]:
    return [
        (round(rng.uniform(-60.0, 70.0), 2), round(rng.uniform(-180.0, 180.0), 2))
        for _ in range(n)
    ]


def _bronze_doc(rng: random.Random, lat: float, lon: float, day: date,
                with_precip: bool) -> dict:
    base = 25.0 - abs(lat) * 0.4 + rng.uniform(-5.0, 5.0)
    hourly = {
        "time": [f"{day.isoformat()}T{h:02d}:00" for h in range(24)],
        "temperature_2m": [
            round(base + 6.0 * math.sin((h - 9) * math.pi / 12)
                  + rng.gauss(0.0, 1.0), 2)
            for h in range(24)
        ],
        "relative_humidity_2m": [
            round(min(100.0, max(0.0, rng.gauss(65.0, 15.0))), 1)
            for _ in range(24)
        ],
    }
    if with_precip:
        hourly["precipitation"] = [
            round(rng.expovariate(0.8), 1) if rng.random() < 0.2 else 0.0
            for _ in range(24)
        ]
    return {"latitude": lat, "longitude": lon, "timezone": "UTC",
            "hourly": hourly}


def bronze_day_dir(root: str, day: date) -> str:
    return f"{root}/y={day.year}/m={day.month:02d}/d={day.day:02d}"


def bronze_landing(rng: random.Random, root: str, n_locations: int,
                   n_days: int, dup_days: set[int], dry_days: set[int]) -> dict:
    """Line-delimited Open-Meteo JSON, one file per day under
    ``y=/m=/d=``, one line per location. Days in ``dup_days`` get a
    second file re-landing the first four documents verbatim (the
    duplicate-landing case); days in ``dry_days`` carry no
    precipitation array (the missing-metric case). Returns the input
    sizes."""
    locs = locations(rng, n_locations)
    files = nbytes = docs = 0
    for i in range(n_days):
        day = BRONZE_START + timedelta(days=i)
        ddir = bronze_day_dir(root, day)
        os.makedirs(ddir, exist_ok=True)
        lines = [
            json.dumps(_bronze_doc(rng, lat, lon, day, i not in dry_days))
            for lat, lon in locs
        ]
        batches = [("", lines)]
        if i in dup_days:
            batches.append(("_dup", lines[:4]))
        for suffix, body in batches:
            path = f"{ddir}/openmeteo_{day.isoformat()}{suffix}.json"
            with open(path, "w") as f:
                f.write("\n".join(body) + "\n")
            files += 1
            nbytes += os.path.getsize(path)
            docs += len(body)
    return {"files": files, "bytes": nbytes, "documents": docs,
            "hourly_rows": docs * 24}


def day_of(i: int) -> date:
    return BRONZE_START + timedelta(days=i)


def bronze_rows(root: str, n_days: int) -> int:
    """Hourly readings landed for the first ``n_days`` days."""
    docs = 0
    for i in range(n_days):
        ddir = bronze_day_dir(root, day_of(i))
        for name in sorted(os.listdir(ddir)):
            with open(os.path.join(ddir, name)) as f:
                docs += sum(1 for line in f if line.strip())
    return docs * 24
