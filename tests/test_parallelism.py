"""ensure_parallelism (functions/parallelism.py): fires only on
under-parallel scan chains, never downstream of a shuffle, and never
runs a Spark job at plan-construction time."""

import pytest

from pyspark.sql import functions as F

from cl_readability_spark.functions.parallelism import ensure_parallelism

pytestmark = pytest.mark.spark


def test_floors_small_scan_to_shuffle_partitions(spark, tmp_path):
    path = str(tmp_path / "small.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)  # 1 file, 1 row group
    df = spark.read.parquet(path).select("id", (F.col("id") * 2).alias("x"))
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = ensure_parallelism(df)
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == target
    assert sorted(r["x"] for r in out.collect()) == [2 * i for i in range(1000)]


def test_noop_downstream_of_shuffle_and_for_local_frames(spark, tmp_path):
    path = str(tmp_path / "small2.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    shuffled = spark.read.parquet(path).repartition(3, "id")
    assert ensure_parallelism(shuffled) is shuffled
    local = spark.createDataFrame([(1,), (2,)], "a int")
    assert ensure_parallelism(local) is local
    assert ensure_parallelism(shuffled, min_partitions=1) is shuffled


def test_probe_is_action_free(spark, tmp_path):
    """The probe must not execute upstream stages (the AQE .rdd trap)."""
    import pandas as pd

    path = str(tmp_path / "probe.parquet")
    spark.range(50).coalesce(1).write.parquet(path)
    acc = spark.sparkContext.accumulator(0)

    def _counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    base = spark.read.parquet(path)
    df = base.repartition(2).mapInPandas(_counting, base.schema)
    ensure_parallelism(df)
    ensure_parallelism(base.select("id"))
    assert acc.value == 0


@pytest.mark.parametrize("scheme", ["s3a://bucket", "hdfs://nn:8020"])
def test_noop_for_remote_inputs(spark, tmp_path, scheme):
    """Footers of non-``file:`` inputs cannot be probed; the floor must
    treat them as unknown instead of counting each file as one split."""
    path = str(tmp_path / "remote.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path).select("id")
    df.inputFiles = lambda: [f"{scheme}/warehouse/part-00000.parquet"]
    assert ensure_parallelism(df) is df
