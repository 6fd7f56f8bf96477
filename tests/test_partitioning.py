"""kernel_partitions: the one partition rule for Python-kernel stages,
decided from the plan without running a Spark job."""

import pathlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ingest_spark.operators.partitioning import kernel_partitions

PKG = pathlib.Path(__file__).resolve().parent.parent / "ingest_spark"


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("partitioning")
    rows = spark.range(2000).select("id", (F.col("id") % 7).alias("k"))
    rows.coalesce(1).write.parquet(str(root / "one"))
    rows.repartition(4).write.parquet(str(root / "many"))
    return root


def _par(spark):
    return spark.sparkContext.defaultParallelism


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _inputs(spark, tables):
    one = spark.read.parquet(str(tables / "one"))
    many = spark.read.parquet(str(tables / "many"))
    return {
        "scan": many,
        "semi_join": many.join(one.where("id < 100"), "id", "left_semi"),
        "aggregate": many.groupBy("k").agg(F.count("*").alias("n")),
        "streaming": spark.readStream.schema(many.schema).parquet(str(tables / "many")),
    }


@pytest.mark.parametrize("kind", ["scan", "semi_join", "aggregate", "streaming"])
def test_runs_no_job(spark, tables, count_jobs, kind):
    df = _inputs(spark, tables)[kind]
    assert count_jobs(f"kernel_partitions_{kind}", lambda: kernel_partitions(df)) == 0


def test_streaming_input_is_returned_unchanged(spark, tables):
    df = _inputs(spark, tables)["streaming"]
    assert kernel_partitions(df) is df


def test_single_split_scan_is_spread(spark, tables):
    df = spark.read.parquet(str(tables / "one"))
    assert df.rdd.getNumPartitions() == 1
    out = kernel_partitions(df)
    assert out.rdd.getNumPartitions() == _par(spark)
    assert _rows(out) == _rows(df)


def test_parallel_scan_is_left_alone(spark, tables):
    df = spark.read.parquet(str(tables / "many"))
    assert df.rdd.getNumPartitions() >= _par(spark) // 2
    assert kernel_partitions(df) is df


@pytest.mark.parametrize("kind", ["semi_join", "aggregate"])
def test_exchange_input_is_spread(spark, tables, kind):
    df = _inputs(spark, tables)[kind]
    out = kernel_partitions(df)
    assert out.rdd.getNumPartitions() == _par(spark)
    assert _rows(out) == _rows(df)


def test_keys_hash_partition_at_default_parallelism(spark, tables):
    df = spark.read.parquet(str(tables / "many"))
    out = kernel_partitions(df, "k")
    assert out.rdd.getNumPartitions() == _par(spark)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k#" in plan and f", {_par(spark)}), REPARTITION_BY_NUM" in plan
    placed = out.select("k", F.spark_partition_id().alias("p")).distinct()
    assert placed.groupBy("k").count().where("count > 1").count() == 0
    assert _rows(out) == _rows(df)


def test_partition_width_is_read_only_by_the_helper():
    """Python-kernel stages size themselves through kernel_partitions:
    no other engine module reads the core count or a partition count."""
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "operators" / "partitioning.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "defaultParallelism" in line or "getNumPartitions" in line
    ]
    assert offenders == []
