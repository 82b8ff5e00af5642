"""Iceberg integration skeleton (VERDICT r3 #6).

The sandbox ships no Iceberg runtime jar, so the end-to-end tests below
SKIP (visibly, not absently) — they light up unmodified the moment a
`iceberg-spark-runtime` jar lands on the classpath (drop it in
$SPARK_HOME/jars or pyspark's jars/ dir).  They are the first thing to
run on a real cluster: the IcebergSink contract (atomic snapshot append,
parent-id batch-handle resolution, incremental batch read-back,
committed-key resume view) has never executed against a real catalog.

The handle-validation unit test at the bottom runs everywhere.
"""

from __future__ import annotations

import glob
import os

import pytest

import pyspark


def _iceberg_jar_present() -> bool:
    jar_dirs = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    if os.environ.get("SPARK_HOME"):
        jar_dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    return any(
        glob.glob(os.path.join(d, "*iceberg-spark-runtime*")) for d in jar_dirs
    )


requires_iceberg = pytest.mark.skipif(
    not _iceberg_jar_present(),
    reason="no iceberg-spark-runtime jar on the classpath — the IcebergSink "
    "end-to-end contract is UNEXECUTED until run against a real catalog "
    "(this skip is the visible reminder)",
)


@pytest.fixture(scope="module")
def iceberg_spark(tmp_path_factory):
    """A dedicated session with a local hadoop catalog — only built when
    the runtime jar exists (module-scoped: catalog conf is session-wide)."""
    if not _iceberg_jar_present():  # pragma: no cover - sandbox path
        pytest.skip("no iceberg jar")
    from pyspark.sql import SparkSession

    warehouse = str(tmp_path_factory.mktemp("iceberg-warehouse"))
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-integration")
        .config("spark.sql.shuffle.partitions", "4")
        .config(
            "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
        )
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", warehouse)
        .getOrCreate()
    )
    yield spark
    spark.stop()


@requires_iceberg
def test_iceberg_sink_snapshot_scoped_batches(iceberg_spark):
    """write_batch → parent-id-resolved handle; read_batch returns exactly
    that batch's rows (incremental snapshot read, never the table); a
    second append chains prev correctly."""
    from cl_readability_spark.pipeline.sink import IcebergSink

    spark = iceberg_spark
    table = "local.db.extracted_it"
    spark.sql(
        f"CREATE TABLE {table} (conv_id STRING, turn_idx INT, body STRING) "
        "USING iceberg"
    )
    sink = IcebergSink(table)
    assert IcebergSink.is_available(spark)
    sink.prepare(spark)
    assert sink.committed_keys(spark).count() == 0

    b1 = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 1, "y")], "conv_id string, turn_idx int, body string"
    )
    h1 = sink.write_batch(b1)
    assert sink.read_batch(spark, h1).count() == 2

    b2 = spark.createDataFrame(
        [("c2", 0, "z")], "conv_id string, turn_idx int, body string"
    )
    h2 = sink.write_batch(b2)
    # batch-scoped: each read-back sees only its own rows
    assert sink.read_batch(spark, h2).count() == 1
    assert sink.read_batch(spark, h1).count() == 2
    # the second handle's range starts at the first's end snapshot
    assert h1.rsplit("..", 1)[1] == h2.split("@")[1].split("..")[0]
    assert sink.committed_keys(spark).count() == 3
    assert sink.read(spark).count() == 3


@requires_iceberg
def test_iceberg_resume_anti_join_idempotence(iceberg_spark, tmp_path):
    """The generic resume runner over the Iceberg sink: a re-run appends
    only the missing keys (the CheckpointedSink contract, same semantics).
    Extraction reads ``text`` and writes the extraction schema, so the
    source carries HTML in ``text`` and the table has the output schema."""
    from pyspark.sql import functions as F

    from cl_readability_spark.pipeline.resume import run_resumable
    from cl_readability_spark.pipeline.sink import IcebergSink
    from cl_readability_spark.pipeline.udfs import EXTRACT_OUTPUT_SCHEMA

    spark = iceberg_spark
    table = "local.db.resume_it"
    spark.createDataFrame([], EXTRACT_OUTPUT_SCHEMA).writeTo(table).using(
        "iceberg"
    ).create()
    sink = IcebergSink(table)
    src = spark.createDataFrame(
        [(f"c{i}", j, f"<p>turn {j} of conversation {i}</p>")
         for i in range(4) for j in range(3)],
        "conv_id string, turn_idx int, text string",
    )
    n1 = run_resumable(src.filter(F.col("turn_idx") < 2), sink)["rows"]
    n2 = run_resumable(src, sink)["rows"]
    assert n1 + n2 == src.count()
    assert sink.read(spark).select("conv_id", "turn_idx").distinct().count() == (
        src.count()
    )


def test_read_batch_rejects_degenerate_handles(spark):
    """Runs everywhere: a handle whose range is empty or id-less must be
    rejected before any catalog access (ADVICE r3 #1 — a degenerate
    handle would silently misreport the batch in the metrics sidecar)."""
    from cl_readability_spark.pipeline.sink import IcebergSink

    sink = IcebergSink("cat.db.t")
    for bad in ("cat.db.t@5..5", "cat.db.t@..None", "cat.db.t@7..", "cat.db.t"):
        with pytest.raises(ValueError, match="degenerate"):
            sink.read_batch(spark, bad)
