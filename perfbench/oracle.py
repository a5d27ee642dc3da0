"""DuckDB replays of every benchmarked op over the generated inputs.

The SQL is the engine registry's own oracle text, imported and
re-pointed at the benchmark's inputs (its query literal, query vector
or bronze path substituted), so the benchmark checks the engine
against the same contract its catalog is graded on. Checks run
outside every timed region.
"""

from __future__ import annotations

import math

import duckdb

from pyspark_airflow_weather_etl_spark.plans import curationplans, retrievalplans
from pyspark_airflow_weather_etl_spark.plans import weatherplans
from pyspark_airflow_weather_etl_spark.plans.registry import REGISTRY


def _sub(sql: str, old: str, new: str, count: int = 1) -> str:
    if sql.count(old) != count:
        raise ValueError(f"oracle text changed: {old!r} x{sql.count(old)}")
    return sql.replace(old, new)


def connect(**tables: str | list[str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name=parquet path`` (or
    list of paths)."""
    con = duckdb.connect()
    for name, paths in tables.items():
        files = ", ".join(f"'{p}'" for p in ([paths] if isinstance(paths, str) else paths))
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{files}])")
    return con


def _rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def bm25(con, query: str) -> tuple[list[str], list[tuple]]:
    """``bm25_topk_at_rest`` top-10 for one query (query_id 1)."""
    sql = _sub(REGISTRY["bm25_topk_at_rest"].oracle,
               f"VALUES {retrievalplans._SQL_QUERIES}", f"VALUES (1, '{query}')")
    return _rows(con, sql)


def phrase(con, text: str) -> tuple[list[str], list[tuple]]:
    """``phrase_match_at_rest`` counts for one phrase (phrase_id 1)."""
    sql = _sub(REGISTRY["phrase_match_at_rest"].oracle,
               f"VALUES {retrievalplans._SQL_PHRASES}", f"VALUES (1, '{text}')")
    return _rows(con, sql)


def sq8(con, vec_id: int) -> tuple[list[str], list[tuple]]:
    """``sq8_ann_topk_at_rest`` top-10 for the stored vector ``vec_id``."""
    sql = _sub(REGISTRY["sq8_ann_topk_at_rest"].oracle, "vec_id = 7",
               f"vec_id = {int(vec_id)}", count=2)
    return _rows(con, sql)


def streaming_sq8(con, vec_id: int, first_batch: int) -> tuple[list[str], list[tuple]]:
    """``streaming_sq8_index_topk`` top-10 for the stored vector
    ``vec_id``: quantizer params frozen on the first landed batch,
    re-pointed from the registry's ``vec_id % 3 = 0`` to the ids below
    ``first_batch``."""
    sql = _sub(REGISTRY["streaming_sq8_index_topk"].oracle, "q.vec_id % 3 = 0",
               f"q.vec_id < {int(first_batch)}")
    return _rows(con, _sub(sql, "vec_id = 7", f"vec_id = {int(vec_id)}", count=2))


def curate(con) -> tuple[list[str], list[tuple]]:
    """``curate_corpus_documents`` release over the ``documents`` view."""
    return _rows(con, curationplans._CURATE_ORACLE)


def weather_rollup(bronze_root: str) -> tuple[dict[tuple, tuple], list[str]]:
    """Gold rows keyed by (y, m, d), and their column names, of the
    ``weather_daily_rollup`` replay over a bronze landing (the
    registry's flatten CTE re-pointed from its fixture to
    ``bronze_root``)."""
    sql = _sub(REGISTRY["weather_daily_rollup"].oracle,
               weatherplans.BRONZE_FIXTURE, bronze_root)
    cols, rows = _rows(duckdb.connect(), sql)
    k = [cols.index(c) for c in ("y", "m", "d")]
    return {tuple(r[i] for i in k): r for r in rows}, cols


def merge_upsert(target: dict[tuple, tuple], updates: dict[tuple, tuple],
                 cols: list[str]) -> dict[tuple, tuple]:
    """The ``merge_upsert_daily`` shape in DuckDB: collapse the
    updates to one row per key (AVG of every value column, the
    pipeline's ``how='avg'``), then FULL OUTER JOIN the target and
    take the update's values where its key is present."""
    keys = ["y", "m", "d"]
    vals = [c for c in cols if c not in keys]
    con = duckdb.connect()
    decl = ", ".join(f"{c} {'INT' if c in keys else 'DOUBLE'}" for c in cols)
    for name, rows in (("target", target), ("raw_updates", updates)):
        con.execute(f"CREATE TABLE {name} ({decl})")
        if rows:
            con.executemany(
                f"INSERT INTO {name} VALUES ({', '.join('?' * len(cols))})",
                [list(r) for r in rows.values()])
    on = " AND ".join(f"t.{k} = u.{k}" for k in keys)
    sel = ", ".join(
        [f"coalesce(u.{k}, t.{k}) AS {k}" for k in keys]
        + [f"CASE WHEN u.y IS NOT NULL THEN u.{v} ELSE t.{v} END AS {v}"
           for v in vals])
    sql = f"""
        WITH collapsed AS (
          SELECT {', '.join(keys)}, {', '.join(f'avg({v}) AS {v}' for v in vals)}
          FROM raw_updates GROUP BY {', '.join(keys)}
        )
        SELECT {sel} FROM target t FULL OUTER JOIN collapsed u ON {on}
        """
    out_cols, rows = _rows(con, sql)
    order = [out_cols.index(c) for c in cols]
    return {tuple(r[i] for i in order[:3]): tuple(r[i] for i in order)
            for r in rows}


def _close(a, b, rel: float, abs_tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if rel == 0.0 and abs_tol == 0.0:
            return float(a) == float(b)
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_tol)
    return a == b


def same_rows(actual: list[tuple], expected: list[tuple],
              rel: float = 0.0, abs_tol: float = 0.0) -> bool:
    """Multiset equality of two row lists. Integers and strings must be
    equal; floats equal too unless ``rel``/``abs_tol`` allow an error
    (the pipeline's serving path sums in double where the oracle
    accumulates in DECIMAL)."""
    if len(actual) != len(expected):
        return False

    def key(r):
        return tuple((x is None, str(x) if not isinstance(x, float) else
                      round(x, 6)) for x in r)

    return all(
        len(a) == len(b) and all(_close(x, y, rel, abs_tol) for x, y in zip(a, b))
        for a, b in zip(sorted(actual, key=key), sorted(expected, key=key))
    )
