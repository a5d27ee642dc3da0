"""The batch-keyed index store (sources/indexstore.py): the lifecycle
invariants on a few-row tree, and the guard that keeps the protocol
in that one module.

Both tests are fast by design, so the default selection exercises the
store on every run (the family-level lifecycle scenarios are in the
slow tail)."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest

import pyspark_airflow_weather_etl_spark as pkg

_MODE = "spark.sql.sources.partitionOverwriteMode"


def test_store_append_fails_closed_replays_as_replacement_without_conf(
    spark, tmp_path, monkeypatch
):
    """Two batches of a few rows on a two-level ``batch=/cell=``
    layout, appended on a STATIC-overwrite session:

    - dynamic replacement comes from the per-write option (batch 0
      survives batch 1's overwrite) and the session conf is never set;
    - a replay that dies after its rows landed but before its manifest
      row leaves ``batches_disjoint`` False (the manifest row was
      dropped first);
    - a completed replay with different content leaves no leaf of the
      old delivery (its ``cell=1`` leaf is gone, not merged)."""
    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    from pyspark_airflow_weather_etl_spark.sources import indexstore as store

    layout = store.Layout(
        subtrees=(("rows", ("batch", "cell")),),
        manifest=store.VECTOR_MANIFEST,
    )
    path = str(tmp_path / "idx")

    def land(batch_id, ids, tag):
        # an in-JVM literal frame: no Python-worker stage per write
        df = spark.range(1, numPartitions=1).select(
            F.explode(F.array(*[F.lit(i).cast("bigint") for i in ids]))
            .alias("id")
        )
        df = df.select(
            "id", (df.id % 2).cast("int").alias("cell"), F.lit(tag).alias("v")
        )
        return store.append(
            spark, path, layout, batch_id, {"rows": df}, df, "id"
        )

    def leaves(batch_id):
        return sorted(os.listdir(f"{path}/rows/batch={batch_id}"))

    old_mode = spark.conf.get(_MODE, None)
    spark.conf.set(_MODE, "static")
    sets = []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def spy(self, key, *a, _real=real, _name=name):
            if key == _MODE:
                sets.append((_name, a))
            return _real(self, key, *a)

        monkeypatch.setattr(RuntimeConfig, name, spy)
    try:
        assert land(0, [0, 1, 2], "a") == {"lo": 0, "hi": 2, "n": 3}
        land(1, [3, 4, 5], "a")
        assert sorted(store.batch_ids(spark, f"{path}/rows")) == [0, 1]
        assert leaves(1) == ["cell=0", "cell=1"]
        assert store.batches_disjoint(spark, path, layout)

        real_write = store.write_parquet_partitioned

        def dies_after_rows(df, out, keys):
            real_write(df, out, keys)
            if out.endswith("/rows"):
                raise RuntimeError("job died before the manifest write")

        monkeypatch.setattr(
            store, "write_parquet_partitioned", dies_after_rows
        )
        with pytest.raises(RuntimeError):
            land(1, [1, 3], "b")
        monkeypatch.setattr(store, "write_parquet_partitioned", real_write)
        assert not store.batches_disjoint(spark, path, layout)

        land(1, [6, 8], "c")
        assert leaves(1) == ["cell=0"]
        got = spark.read.parquet(f"{path}/rows").where("batch = 1").collect()
        assert sorted((r.id, r.v) for r in got) == [(6, "c"), (8, "c")]
        assert store.batches_disjoint(spark, path, layout)
        assert spark.conf.get(_MODE) == "static"
    finally:
        monkeypatch.undo()
        if old_mode is None:
            spark.conf.unset(_MODE)
        else:
            spark.conf.set(_MODE, old_mode)
    assert sets == []


_PKG = Path(pkg.__file__).parent
_OWNER = _PKG / "sources" / "indexstore.py"
_MANIFEST_TREE = re.compile(r"(^|/)(rows_)?manifest($|/)")


def _literal_parts(node):
    """String literals of an expression: constants and the literal
    pieces of f-strings."""
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def _protocol_violations(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    # docstrings and bare string statements are prose, not code
    prose = {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    found = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("set", "unset")
            and n.args
            and any(
                "partitionOverwriteMode" in s
                for s in _literal_parts(n.args[0])
            )
        ):
            found.append(f"line {n.lineno}: sets the {_MODE} session conf")
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            deletes = any(
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Attribute)
                and c.func.attr in ("delete", "globStatus")
                for c in ast.walk(n)
            )
            builds_batch_path = any(
                isinstance(j, ast.JoinedStr)
                and any("batch=" in s for s in _literal_parts(j))
                for j in ast.walk(n)
            )
            if deletes and builds_batch_path:
                found.append(f"line {n.lineno}: {n.name} deletes a batch= dir")
        if (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in prose
            and _MANIFEST_TREE.search(n.value)
        ):
            found.append(f"line {n.lineno}: names a manifest tree {n.value!r}")
    return found


def test_only_the_index_store_owns_the_batch_protocol():
    """No package module other than ``sources/indexstore.py`` deletes
    a ``batch=`` directory it builds a path to, names a ``manifest`` /
    ``rows_manifest`` tree, or sets the ``partitionOverwriteMode``
    session conf — a new index family must use the store (a Layout +
    its kernel), not grow its own copy of the protocol. (Per-write
    ``.option("partitionOverwriteMode", ...)`` and the engine session
    builder's default are not conf switches and stay allowed.)"""
    offenders = {
        str(p.relative_to(_PKG)): v
        for p in sorted(_PKG.rglob("*.py"))
        if p != _OWNER and (v := _protocol_violations(p))
    }
    assert offenders == {}
    # the guard is live: the owner itself trips every rule it enforces
    # except the conf switch, which nothing may do
    owner = " ".join(_protocol_violations(_OWNER))
    assert "deletes a batch= dir" in owner
    assert "names a manifest tree" in owner
