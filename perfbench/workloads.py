"""The benchmark's workloads. Each takes a :class:`run.Run`, generates
its inputs from the run's seed, sets up, drives one closed-loop client
through a fixed number of timed ops (derived from ``run.seconds``) and
returns its end-to-end metrics.

Timed ops are top-level tracer ops; set-up is the ``setup`` op (the
session start, program-side prebuilds and an untimed warm-up pass);
oracle checks and cache releases run between ops, outside any timed
op. Input generation and oracle replays run before set-up starts.
"""

from __future__ import annotations

import os
import random
import time
from datetime import date

import gen
import oracle
from run import median, tail

from pyspark_airflow_weather_etl_spark.caching import release_cached


def _release(run) -> None:
    """``release_cached`` after an op, and the persisted RDDs it left."""
    with run.tracer.span("caching.release") as s:
        release_cached()
    s.attrs["persisted_after_op"] = run.spark.sparkContext._jsc.getPersistentRDDs().size()


def _walk(roots: list[str]) -> dict[str, tuple[int, float]]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """Files (and their bytes) that are new or rewritten in ``after``."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)


# --- medallion_etl -----------------------------------------------------------

MEDALLION_LOCATIONS = 64
MEDALLION_BACKFILL_DAYS = 30
MEDALLION_DAG_DAYS = 30
#: Timed backfill re-runs (idempotent: dynamic partition overwrite and
#: a new serving version each time), so the backfill rate is a median.
BACKFILL_RUNS = 3
#: Nominal DAG-run time on the reference box: ``--seconds`` buys this
#: many seconds' worth of DAG runs, the same count on any machine.
DAG_RUN_NOMINAL_S = 2.0


def n_ops(seconds: float, nominal_s: float, minimum: int) -> int:
    """How many timed ops a run of ``seconds`` makes: a count fixed by
    the arguments, so every run of a workload does the same work."""
    return max(minimum, int(seconds / nominal_s))


def medallion_etl(run) -> dict:
    """Bronze landing → backfill (silver, gold, first serving version),
    then one DAG run per following day: silver → gold → ``serve``
    upsert → ``write_serving_version``. Set-up ends with one untimed
    backfill; the first DAG run is an untimed warm-up too."""
    from pyspark_airflow_weather_etl_spark.pipeline import WeatherPipeline
    from pyspark_airflow_weather_etl_spark.sources.writers import (
        read_serving_table, write_serving_version)

    rng = random.Random(run.seed)
    b = MEDALLION_BACKFILL_DAYS
    n_days = b + MEDALLION_DAG_DAYS
    dag_runs = min(n_ops(run.seconds, DAG_RUN_NOMINAL_S, 3), MEDALLION_DAG_DAYS - 1)
    bronze = run.path("bronze")
    # the duplicate landing and the day with no precipitation array fall
    # once in the backfill and once in the timed DAG runs
    sizes = gen.bronze_landing(rng, bronze, MEDALLION_LOCATIONS, n_days,
                               dup_days={3, b + 1}, dry_days={5, b + 2})
    expected, cols = oracle.weather_rollup(bronze)
    run.inputs = {"locations": MEDALLION_LOCATIONS, "days": n_days,
                  "backfill_days": b, **sizes}
    p = WeatherPipeline(None, bronze, run.path("silver"), run.path("gold"))
    serving = run.path("serving")
    outputs = [p.silver_path, p.gold_path, serving]

    def backfill():
        p.run_silver(gen.day_of(0), gen.day_of(b - 1))
        p.run_gold(gen.day_of(0), gen.day_of(b - 1))
        write_serving_version(run.spark.read.parquet(p.gold_path), serving)

    def dag_run(day):
        with run.tracer.span("pipeline.run_silver"):
            p.run_silver(day, day)
        with run.tracer.span("pipeline.run_gold"):
            p.run_gold(day, day)
        with run.tracer.span("pipeline.serve"):
            with run.tracer.span("sources.read_serving"):
                target = read_serving_table(run.spark, serving)
            merged = p.serve(target, day, day)
            with run.tracer.span("sources.write"):
                write_serving_version(merged, serving)

    def timed(kind, fn, *args):
        before = _walk(outputs)
        with run.tracer.op(kind) as s:
            fn(*args)
        s.attrs["files_written"], s.attrs["bytes_written"] = _written(
            before, _walk(outputs))
        _release(run)
        return s

    def check(state, what):
        with run.tracer.op("check"):
            got = [tuple(r[c] for c in cols)
                   for r in read_serving_table(run.spark, serving).collect()]
        run.check(oracle.same_rows(got, list(state.values()), 1e-9, 1e-9), what)

    # the expected serving table after the backfill and after each DAG run
    states = [{k: v for k, v in expected.items() if date(*k) < gen.day_of(b)}]
    days = [gen.day_of(i) for i in range(b, b + 1 + dag_runs)]
    for day in days:
        key = (day.year, day.month, day.day)
        states.append(oracle.merge_upsert(states[-1], {key: expected[key]}, cols))
    backfill_rows = gen.bronze_rows(bronze, b)

    run.reset_peak_rss()
    with run.tracer.op("setup"):
        with run.tracer.span("session.start"):
            p.spark = run.start_session()
        backfill()
        _release(run)
    check(states[0], "serving table after the set-up backfill")

    backfill_ms = []
    for _ in range(BACKFILL_RUNS):
        s = run.attempt(timed, "backfill", backfill)
        if s:
            backfill_ms.append(s.ms)
            check(states[0], "serving table after a backfill")

    dag_ms = []
    for i, day in enumerate(days):
        s = run.attempt(timed, "dag_run" if i else "warmup", dag_run, day)
        if s:
            if i:
                dag_ms.append(s.ms)
            check(states[i + 1], f"serving table after the DAG run of {day}")

    run.extra.update({
        "dag_run_p50_ms": (median(dag_ms), "ms"),
        "dag_runs": (len(dag_ms), "count"),
        "backfill_rows": (backfill_rows, "rows"),
    })
    return {
        "setup_s": _setup_s(run),
        "rows_per_s": backfill_rows / (median(backfill_ms) / 1000.0),
        "op_p50_ms": median(dag_ms),
        "peak_rss_mb": run.peak_rss_mb(),
    }


def _setup_s(run) -> float:
    s = run.tracer.ops("setup")[0]
    return s.end - s.start


# --- corpus_curation ---------------------------------------------------------

CURATION_DOCS = 5000
CURATION_WARM_DOCS = 200
CURATE_NOMINAL_S = 16.0
#: The release parameters of the catalog's ``curate_corpus_documents``
#: entry, whose oracle the benchmark replays.
CURATE_ARGS = dict(
    benchmark_phrases=gen.BENCHMARK_PHRASES,
    gopher_rules={"min_words": 20, "min_stopwords": 1},
    drop_worst_numer=1, drop_worst_denom=10, per_source_cap=10,
    budget_numer=3, budget_denom=10, shard_rows=64,
)


def corpus_curation(run) -> dict:
    """Repeated ``curate_corpus`` release builds over one seeded corpus
    with injected exact duplicates, near-duplicates and benchmark-phrase
    contamination."""
    from pyspark_airflow_weather_etl_spark.operators.curation import curate_corpus

    rng = random.Random(run.seed)
    docs, injected = gen.curation_corpus(rng, CURATION_DOCS)
    corpus = run.path("corpus", "documents.parquet")
    nbytes = gen.write_parquet(docs, gen.DOC_SCHEMA, corpus)
    warm_docs, _ = gen.curation_corpus(random.Random(run.seed + 1), CURATION_WARM_DOCS)
    warm = run.path("warm", "documents.parquet")
    gen.write_parquet(warm_docs, gen.DOC_SCHEMA, warm)
    cols, expected = oracle.curate(oracle.connect(documents=corpus))
    run.inputs = {"documents": CURATION_DOCS, "files": 1, "bytes": nbytes,
                  "released": len(expected), **injected}

    run.reset_peak_rss()
    with run.tracer.op("setup"):
        with run.tracer.span("session.start"):
            spark = run.start_session()
        curate_corpus(spark.read.parquet(os.path.dirname(warm)),
                      run.path("warm_release"), **CURATE_ARGS)
        _release(run)

    def curate(out):
        with run.tracer.op("curate") as s:
            with run.tracer.span("operators.curation.curate"):
                curate_corpus(spark.read.parquet(os.path.dirname(corpus)), out,
                              **CURATE_ARGS)
        _release(run)
        return s

    curate_ms = []
    for i in range(n_ops(run.seconds, CURATE_NOMINAL_S, 2)):
        out = run.path(f"release_{i}")
        s = run.attempt(curate, out)
        if not s:
            continue
        curate_ms.append(s.ms)
        with run.tracer.op("check"):
            got = [tuple(r) for r in spark.read.parquet(out).select(*cols).collect()]
        s.attrs["rows"] = len(got)
        run.check_rows(got, expected, f"release {i}")

    run.extra["curate_builds"] = (len(curate_ms), "count")
    return {
        "setup_s": _setup_s(run),
        "rows_per_s": CURATION_DOCS / (median(curate_ms) / 1000.0),
        "op_p50_ms": median(curate_ms),
        "peak_rss_mb": run.peak_rss_mb(),
    }


# --- index_serving -----------------------------------------------------------

#: The sf0.1 ``documents`` and ``embeddings`` row counts.
SERVING_DOCS = 5000
SERVING_VECS = 2000
PROBE_KINDS = ("bm25", "phrase", "sq8")
#: Distinct terms per bm25 query. Fixed, so every seed's probe stream
#: costs the same; which terms is Zipf-skewed.
BM25_TERMS = 3
WARM_ROUNDS = 2
#: Nominal time of one round (one probe of each kind) on the reference box.
PROBE_ROUND_NOMINAL_S = 2.0


def bm25_query(rng: random.Random, words: list[str]) -> str:
    """``BM25_TERMS`` distinct Zipf-skewed terms."""
    terms: list[str] = []
    while len(terms) < BM25_TERMS:
        w = gen.zipf_choice(rng, words)
        if w not in terms:
            terms.append(w)
    return " ".join(terms)


def query_stream(rng: random.Random, n_vecs: int):
    """Endless seeded probe stream, kinds in a fixed round robin; query
    terms and query vectors are Zipf-skewed over a seeded ranking."""
    words = list(gen.VOCAB)
    rng.shuffle(words)
    ids = list(range(n_vecs))
    rng.shuffle(ids)
    i = 0
    while True:
        kind = PROBE_KINDS[i % len(PROBE_KINDS)]
        if kind == "bm25":
            yield kind, bm25_query(rng, words)
        elif kind == "phrase":
            yield kind, " ".join(gen.zipf_choice(rng, words) for _ in range(2))
        else:
            yield kind, gen.zipf_choice(rng, ids)
        i += 1


def index_serving(run) -> dict:
    """bm25, positional and sq8 indexes built in set-up, then a seeded
    closed-loop stream of top-k probes against them."""
    from pyspark_airflow_weather_etl_spark.operators import retrieval as R
    from pyspark_airflow_weather_etl_spark.operators import similarity as S

    rng = random.Random(run.seed)
    centers = gen.label_centers(rng)
    vecs = gen.embeddings(rng, SERVING_VECS, centers=centers)
    docs_path = run.path("docs", "documents.parquet")
    emb_path = run.path("emb", "embeddings.parquet")
    nbytes = gen.write_parquet(gen.documents(rng, SERVING_DOCS), gen.DOC_SCHEMA, docs_path)
    nbytes += gen.write_parquet(vecs, gen.VEC_SCHEMA, emb_path)
    run.inputs = {"documents": SERVING_DOCS, "vectors": SERVING_VECS, "files": 2,
                  "bytes": nbytes}
    rounds = n_ops(run.seconds, PROBE_ROUND_NOMINAL_S, 2)
    stream = query_stream(rng, SERVING_VECS)
    probes = [next(stream) for _ in range((WARM_ROUNDS + rounds) * len(PROBE_KINDS))]
    con = oracle.connect(documents=docs_path, embeddings=emb_path)
    replay = {"bm25": oracle.bm25, "phrase": oracle.phrase, "sq8": oracle.sq8}
    expected = {(kind, q): replay[kind](con, q) for kind, q in set(probes)}
    con.close()
    idx = {k: run.path("index", k) for k in PROBE_KINDS}

    def probe(kind, q, label):
        layer = "operators.similarity" if kind == "sq8" else "operators.retrieval"
        with run.tracer.op(label) as s:
            with run.tracer.span(f"{layer}.build"):
                if kind == "bm25":
                    df = R.bm25_topk_at_rest(run.spark, idx[kind], [(1, q)], k=10)
                elif kind == "phrase":
                    df = R.phrase_match_at_rest(run.spark, idx[kind], [(1, q)])
                else:
                    df = S.sq8_topk_at_rest(run.spark, idx[kind],
                                            vecs[q]["embedding"], k=10, overfetch=8)
            with run.tracer.span(f"{layer}.exec"):
                rows = df.collect()
        _release(run)
        s.attrs["rows"] = len(rows)
        return s, rows

    def check(kind, q, rows) -> None:
        cols, want = expected[kind, q]
        run.check_rows([tuple(r[c] for c in cols) for r in rows], want,
                       f"{kind} probe {q!r}")

    run.reset_peak_rss()
    with run.tracer.op("setup"):
        with run.tracer.span("session.start"):
            spark = run.start_session()
        docs = spark.read.parquet(os.path.dirname(docs_path))
        with run.tracer.span("operators.retrieval.bm25_index_write"):
            R.bm25_index_write(docs, idx["bm25"])
        with run.tracer.span("operators.retrieval.positional_index_write"):
            R.positional_index_write(docs, idx["phrase"])
        with run.tracer.span("operators.similarity.sq8_index_write"):
            S.sq8_index_write(spark.read.parquet(os.path.dirname(emb_path)),
                              idx["sq8"])
        _release(run)
    # untimed probes of each kind finish JIT warm-up; they are checked
    # but count in set-up
    warm_start = time.time()
    n_warm = WARM_ROUNDS * len(PROBE_KINDS)
    for kind, q in probes[:n_warm]:
        done = run.attempt(probe, kind, q, "warmup")
        if done:
            check(kind, q, done[1])
    setup_s = _setup_s(run) + (time.time() - warm_start)

    lat_ms = []
    searched = 0  # index rows the completed probes searched
    for kind, q in probes[n_warm:]:
        done = run.attempt(probe, kind, q, f"{kind}_probe")
        if not done:
            continue
        s, rows = done
        lat_ms.append(s.ms)
        searched += SERVING_VECS if kind == "sq8" else SERVING_DOCS
        check(kind, q, rows)

    t, pct = tail(lat_ms)
    run.extra.update({
        "probe_p50_ms": (median(lat_ms), "ms"),
        "probe_tail_ms": (t, "ms"),
        "probe_tail_pct": (pct, "percentile"),
        "probes": (len(lat_ms), "count"),
    })
    for kind in PROBE_KINDS:
        ms = [s.ms for s in run.tracer.ops(f"{kind}_probe")]
        run.extra[f"{kind}_probe_p50_ms"] = (median(ms), "ms")
    return {
        "setup_s": setup_s,
        # closed-loop throughput: index rows searched per second of
        # summed probe wall time (a mean, where op_p50_ms is a median)
        "rows_per_s": searched / (sum(lat_ms) / 1000.0),
        "op_p50_ms": median(lat_ms),
        "peak_rss_mb": run.peak_rss_mb(),
    }


# --- index_ingest ------------------------------------------------------------

INGEST_BATCHES = 4
#: The issue's scratch batch size: sf0.1's 5,000 documents in 12 landings.
INGEST_BATCH_ROWS = 417
INGEST_FINAL_PROBES = 3


def index_ingest(run) -> dict:
    """Document and vector batches land one file at a time; each landing
    runs the streaming bm25 or sq8 index runner and then one probe
    against the growing delta tree. Both trees are compacted last, then
    probed again."""
    import pyarrow.parquet as pq

    from pyspark_airflow_weather_etl_spark.operators import retrieval as R
    from pyspark_airflow_weather_etl_spark.operators import similarity as S
    from pyspark_airflow_weather_etl_spark.streaming.bm25_index import (
        run_streaming_bm25_index)
    from pyspark_airflow_weather_etl_spark.streaming.sq8_index import (
        run_streaming_sq8_index)

    rng = random.Random(run.seed)
    centers = gen.label_centers(rng)
    n = INGEST_BATCH_ROWS
    staged: dict[str, list[str]] = {"docs": [], "vecs": []}
    nbytes = 0
    for i in range(INGEST_BATCHES + 1):  # batch 0 lands during warm-up
        for kind, rows, schema in (
            ("docs", gen.documents(rng, n, start_id=i * n), gen.DOC_SCHEMA),
            ("vecs", gen.embeddings(rng, n, start_id=i * n, centers=centers),
             gen.VEC_SCHEMA),
        ):
            path = run.path("staged", kind, f"batch_{i:03d}.parquet")
            nbytes += gen.write_parquet(rows, schema, path)
            staged[kind].append(path)
    run.inputs = {"documents": n * (INGEST_BATCHES + 1),
                  "vectors": n * (INGEST_BATCHES + 1),
                  "files": 2 * (INGEST_BATCHES + 1), "bytes": nbytes}
    watch = {k: run.path("landing", k) for k in staged}
    index = {"docs": run.path("index", "bm25"), "vecs": run.path("index", "sq8")}
    ckpt = {k: run.path("ckpt", k) for k in staged}
    landed: dict[str, list[str]] = {"docs": [], "vecs": []}
    vecs_by_id = {r["vec_id"]: r["embedding"] for path in staged["vecs"]
                  for r in pq.read_table(path).to_pylist()}

    def land(kind: str, i: int) -> None:
        dst = os.path.join(watch[kind], os.path.basename(staged[kind][i]))
        os.makedirs(watch[kind], exist_ok=True)
        os.replace(staged[kind][i], dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        landed[kind].append(dst)

    def append(kind: str, i: int, label: str):
        with run.tracer.op(label) as s:
            land(kind, i)
            with run.tracer.span("streaming.run"):
                if kind == "docs":
                    run_streaming_bm25_index(
                        run.spark, watch[kind], index[kind], gen_schema["docs"],
                        checkpoint_dir=ckpt[kind])
                else:
                    run_streaming_sq8_index(
                        run.spark, watch[kind], index[kind], gen_schema["vecs"],
                        checkpoint_dir=ckpt[kind])
        s.attrs["rows"] = n
        _release(run)
        return s

    def probe(kind: str, path: str, q, label: str):
        with run.tracer.op(label) as s:
            if kind == "docs":
                with run.tracer.span("operators.retrieval.build"):
                    df = R.bm25_topk_at_rest(run.spark, path, [(1, q)], k=10)
                with run.tracer.span("operators.retrieval.exec"):
                    rows = df.collect()
            else:
                with run.tracer.span("operators.similarity.build"):
                    df = S.sq8_topk_at_rest(run.spark, path, vecs_by_id[q],
                                            k=10, overfetch=8)
                with run.tracer.span("operators.similarity.exec"):
                    rows = df.collect()
        s.attrs["rows"] = len(rows)
        _release(run)
        if kind == "docs":
            cols, want = oracle.bm25(oracle.connect(documents=landed[kind]), q)
        else:
            cols, want = oracle.streaming_sq8(
                oracle.connect(embeddings=landed[kind]), q, n)
        run.check_rows([tuple(r[c] for c in cols) for r in rows], want,
                       f"{label} {q!r}")
        return s

    words = list(gen.VOCAB)
    rng.shuffle(words)

    def next_query(kind: str, i: int):
        if kind == "docs":
            return bm25_query(rng, words)
        return rng.randrange((i + 1) * n)

    run.reset_peak_rss()
    with run.tracer.op("setup"):
        with run.tracer.span("session.start"):
            spark = run.start_session()
        gen_schema = {
            "docs": spark.read.parquet(staged["docs"][0]).schema,
            "vecs": spark.read.parquet(staged["vecs"][0]).schema,
        }
    for kind in ("docs", "vecs"):
        append(kind, 0, "warmup")
        probe(kind, index[kind], next_query(kind, 0), "warmup")
    setup_s = _setup_s(run) + sum(s.end - s.start for s in run.tracer.ops("warmup"))

    append_ms, probe_ms = [], []
    for i in range(1, INGEST_BATCHES + 1):
        for kind in ("docs", "vecs"):
            append_ms.append(append(kind, i, f"{kind}_append").ms)
            probe_ms.append(probe(kind, index[kind], next_query(kind, i),
                                  f"{kind}_delta_probe").ms)

    live = {}
    for kind, compact in (("docs", R.bm25_index_compact),
                          ("vecs", S.sq8_index_compact)):
        layer = "operators.retrieval" if kind == "docs" else "operators.similarity"
        dst = index[kind] + "_compact"
        with run.tracer.op(f"{kind}_compact") as s:
            with run.tracer.span(f"{layer}.compact"):
                vname = compact(run.spark, index[kind], dst)
        _release(run)
        live[kind] = f"{dst}/{vname}"
        s.attrs["compact_bytes_rewritten"] = sum(
            v[0] for v in _walk([live[kind]]).values())
    compacted_ms = [
        probe(kind, live[kind], next_query(kind, INGEST_BATCHES),
              f"{kind}_compacted_probe").ms
        for _ in range(INGEST_FINAL_PROBES) for kind in ("docs", "vecs")
    ]

    run.extra.update({
        "append_p50_ms": (median(append_ms), "ms"),
        "probe_p50_ms": (median(probe_ms), "ms"),
        "compacted_probe_p50_ms": (median(compacted_ms), "ms"),
        "appends": (len(append_ms), "count"),
    })
    return {
        "setup_s": setup_s,
        "rows_per_s": n * len(append_ms) / (sum(append_ms) / 1000.0),
        "op_p50_ms": median(append_ms),
        "peak_rss_mb": run.peak_rss_mb(),
    }
