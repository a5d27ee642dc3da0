"""Tests of the benchmark's own code: generator determinism, the
oracle hook, and event-log attribution on a tiny traced run.

    python3 -m pytest perfbench/tests
"""

from __future__ import annotations

import hashlib
import os
import random

import gen
import oracle
import spans


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict:
    rng = random.Random(seed)
    sizes = gen.bronze_landing(rng, f"{root}/bronze", 3, 4, {1}, {2})
    gen.write_parquet(gen.documents(rng, 20), gen.DOC_SCHEMA, f"{root}/docs.parquet")
    gen.write_parquet(gen.embeddings(rng, 20), gen.VEC_SCHEMA, f"{root}/emb.parquet")
    corpus, injected = gen.curation_corpus(rng, 60)
    gen.write_parquet(corpus, gen.DOC_SCHEMA, f"{root}/corpus.parquet")
    return {**sizes, **injected}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    _generate(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_generated_vectors_are_the_stored_vectors(tmp_path):
    # a probe passes the generated vector while the oracle reads the
    # float32 file, so the two must be the same numbers
    import pyarrow.parquet as pq

    rows = gen.embeddings(random.Random(3), 5)
    path = str(tmp_path / "emb.parquet")
    gen.write_parquet(rows, gen.VEC_SCHEMA, path)
    assert pq.read_table(path).to_pylist() == rows


def test_bronze_landing_has_duplicate_and_dry_day(tmp_path):
    root = str(tmp_path / "bronze")
    sizes = gen.bronze_landing(random.Random(1), root, 5, 3, {1}, {2})
    assert sizes["files"] == 4 and sizes["documents"] == 5 * 3 + 4
    assert gen.bronze_rows(root, 2) == 24 * (5 * 2 + 4)
    dup = gen.bronze_day_dir(root, gen.day_of(1))
    names = sorted(os.listdir(dup))
    with open(os.path.join(dup, names[0])) as a, open(os.path.join(dup, names[1])) as b:
        assert b.read().splitlines() == a.read().splitlines()[:4]
    dry = gen.bronze_day_dir(root, gen.day_of(2))
    with open(os.path.join(dry, os.listdir(dry)[0])) as f:
        assert '"precipitation"' not in f.read()


def test_oracle_rejects_a_tampered_answer(tmp_path):
    path = str(tmp_path / "documents.parquet")
    gen.write_parquet(gen.documents(random.Random(3), 40), gen.DOC_SCHEMA, path)
    con = oracle.connect(documents=path)
    cols, rows = oracle.bm25(con, "hash join")
    assert cols == ["query_id", "doc_id", "score_micro", "rnk"] and len(rows) == 10
    assert oracle.same_rows(list(reversed(rows)), rows)
    i = cols.index("score_micro")
    tampered = [rows[0][:i] + (rows[0][i] + 1,) + rows[0][i + 1:]] + rows[1:]
    assert not oracle.same_rows(tampered, rows)
    assert not oracle.same_rows(rows[1:], rows)
    assert not oracle.same_rows(rows[:1] + rows[:-1], rows)


def test_float_tolerance_is_relative():
    assert oracle.same_rows([(1, 2.0000000001)], [(1, 2.0)], rel=1e-9)
    assert not oracle.same_rows([(1, 2.0000000001)], [(1, 2.0)])
    assert not oracle.same_rows([(1, 2.001)], [(1, 2.0)], rel=1e-9)
    assert not oracle.same_rows([(1, None)], [(1, 2.0)], rel=1e-9)


def test_merge_upsert_replaces_matched_and_inserts_new():
    cols = ["y", "m", "d", "v"]
    target = {(2024, 1, 1): (2024, 1, 1, 1.0), (2024, 1, 2): (2024, 1, 2, 2.0)}
    got = oracle.merge_upsert(target, {(2024, 1, 2): (2024, 1, 2, 5.0),
                                       (2024, 1, 3): (2024, 1, 3, 6.0)}, cols)
    assert got == {(2024, 1, 1): (2024, 1, 1, 1.0), (2024, 1, 2): (2024, 1, 2, 5.0),
                   (2024, 1, 3): (2024, 1, 3, 6.0)}


def test_tail_percentile_leaves_ten_samples_beyond():
    from run import tail

    assert tail(list(range(10))) == (0.0, 0.0)
    value, pct = tail([float(x) for x in range(100)])
    assert value == 89.0 and pct == 90.0


def test_traced_run_attributes_jobs_and_stream_runs(tmp_path):
    """A tiny traced session: jobs of an op carry its job group, and
    jobs of a streaming micro-batch (group = the query's runId) are
    mapped back to the op that started the query."""
    from pyspark_airflow_weather_etl_spark.session import get_spark
    from pyspark_airflow_weather_etl_spark.streaming.bm25_index import (
        run_streaming_bm25_index)

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    watch = tmp_path / "landing"
    gen.write_parquet(gen.documents(random.Random(5), 30), gen.DOC_SCHEMA,
                      str(watch / "batch_000.parquet"))
    spark = get_spark(app_name="perfbench-test", cpus=2, driver_memory="1g",
                      extra_confs={
                          "spark.eventLog.enabled": "true",
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.dir": str(log_dir),
                          "spark.ui.showConsoleProgress": "false",
                      })
    tr = spans.Tracer("t", enabled=True)
    tr.bind(spark.sparkContext)
    try:
        with tr.op("count"):
            docs = spark.read.parquet(str(watch))
            with tr.span("x.build"):
                df = docs.groupBy("lang").count()
            with tr.span("x.exec"):
                assert df.collect()
        with tr.op("eager"):
            with tr.span("x.build"):
                n = docs.count()
            assert n == 30
        with tr.op("append"):
            schema = spark.read.parquet(str(watch)).schema
            run_streaming_bm25_index(spark, str(watch), str(tmp_path / "index"),
                                     schema, checkpoint_dir=str(tmp_path / "ckpt"))
    finally:
        spark.stop()
    jobs, stages, queries = spans.read_eventlog(str(log_dir))
    assert len(queries) == 1
    att = spans.attribute(tr.spans, jobs, stages, queries, 2)
    count, append = att["ops"]["t:count:0"], att["ops"]["t:append:0"]
    assert count["jobs"] >= 1 and count["tasks"] >= 1 and count["eager_jobs"] == 0
    assert att["ops"]["t:eager:0"]["eager_jobs"] >= 1
    assert append["stream_batches"] == 1 and append["add_batch_ms"] > 0
    assert append["jobs"] >= 1 and append["task_run_s"] > 0
    run_id = next(iter(queries))
    stream_jobs = sum(1 for j in jobs.values() if j.group == run_id)
    assert stream_jobs >= 1 and append["jobs"] >= stream_jobs
    assert att["unattributed_task_s"] == 0.0
