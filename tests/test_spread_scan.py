"""spread_small_scan must spread a many-tiny-files scan even when the
file count exceeds core count: Spark bin-packs tiny files into few
FilePartitions, so file count alone never proves parallelism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_airflow_weather_etl_spark.operators.dedup import (
    _bytes_conf,
    spread_small_scan,
)


def test_many_tiny_files_still_spread(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    n_files = target + 4  # more files than cores, each a few rows
    for i in range(n_files):
        spark.range(i * 10, i * 10 + 10).withColumn(
            "text", F.lit("tiny doc payload")
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"f{i}.parquet")
        )
    df = spark.read.parquet(str(tmp_path / "*.parquet"))
    assert len(df.inputFiles()) >= n_files
    # Bin-packing collapses the tiny files into fewer splits than
    # cores — the exact situation the old file-count short-circuit
    # misjudged.
    assert df.rdd.getNumPartitions() < target
    spread = spread_small_scan(df)
    assert spread.rdd.getNumPartitions() >= target
    assert spread.count() == n_files * 10


def test_large_scan_short_circuits(spark):
    """A scan whose packing mass guarantees >= target splits must be
    returned untouched (no repartition node)."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    big = spark.range(0, 1000)  # not a file scan: inputFiles() == []
    # range has defaultParallelism partitions already — no-op path
    out = spread_small_scan(big)
    assert out.rdd.getNumPartitions() >= 1
    assert "Repartition" not in out._jdf.queryExecution().logical().toString()


@pytest.mark.parametrize(
    "conf",
    [
        {},
        {"spark.sql.files.minPartitionNum": "3"},
        {"spark.sql.leafNodeDefaultParallelism": "2"},
        {"spark.sql.leafNodeDefaultParallelism": "64"},
    ],
    ids=["default", "minPartitionNum=3", "leaf=2", "leaf=64"],
)
def test_split_estimate_matches_spark_packing(spark, tmp_path, conf):
    """The driver-side split estimate (_estimated_scan_splits —
    FilePartition arithmetic over os.stat sizes) must agree with the
    split count Spark actually gives the scan
    (df.rdd.getNumPartitions()) across one-file and many-tiny-files
    layouts, and under the session confs FilePartition.maxSplitBytes
    reads (minPartitionNum, then leafNodeDefaultParallelism) —
    otherwise the repartition decision silently changes."""
    from pyspark_airflow_weather_etl_spark.operators.dedup import (
        _estimated_scan_splits,
    )

    target = spark.sparkContext.defaultParallelism
    open_cost = _bytes_conf(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    max_pb = _bytes_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    layouts = {
        "one": spark.range(0, 2000).withColumn("t", F.lit("x" * 50)),
        "many": spark.range(0, 64).withColumn("t", F.lit("y")),
    }
    layouts["one"].coalesce(1).write.parquet(str(tmp_path / "one"))
    layouts["many"].repartition(16).write.parquet(str(tmp_path / "many"))
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        for name in layouts:
            df = spark.read.parquet(str(tmp_path / name))
            est = _estimated_scan_splits(
                spark, df.inputFiles(), open_cost, max_pb, target
            )
            assert est == df.rdd.getNumPartitions(), name
    finally:
        for key in conf:
            spark.conf.unset(key)


def test_split_estimate_unstatable_falls_back(spark):
    from pyspark_airflow_weather_etl_spark.operators.dedup import (
        _estimated_scan_splits,
    )

    assert _estimated_scan_splits(spark, [], 4, 128, 8) == -1
    assert (
        _estimated_scan_splits(
            spark, ["s3a://bucket/nope.parquet"], 4, 128, 8
        )
        == -1
    )


def test_bytes_conf_parsing(spark):
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    assert (
        _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 0)
        == 128 * 1024**2
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    assert (
        _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 0)
        == 134217728
    )
    assert _bytes_conf(spark, "spark.graft.nonexistent.conf", 7) == 7
