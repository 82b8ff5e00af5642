"""SparkSession factory with the scale-oriented defaults this engine assumes.

Local mode is the test harness; the same knobs are what a 1000-executor
deployment would set (AQE on incl. skew-join handling, Arrow batching bounded
so multi-MB HTML cells cannot blow Python-worker memory)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the whale-safe batch budget: every knob that assembles whole row batches
# in memory (Arrow python transfer, parquet vectorized reader, table-cache
# columnar builder) is bounded here, ONCE — build_spark and the
# spark-submit attach path both read this mapping, so the budget cannot
# drift between the two session constructors
def whale_safe_batch_confs(arrow_max_records: int = 512) -> dict[str, str]:
    return {
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_max_records),
        "spark.sql.execution.arrow.maxBytesPerBatch": "32m",
        "spark.sql.parquet.columnarReaderBatchSize": str(arrow_max_records),
        "spark.sql.inMemoryColumnarStorage.batchSize": str(arrow_max_records),
    }


def build_spark(
    app_name: str = "cl-readability-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 512,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # one shuffle task per core: each Python task pays a fixed worker cost
    # (see pipeline/job.py:salted_repartition), so a second wave over a
    # small input is overhead; AQE still coalesces the unpinned exchanges
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide-§3.1 join posture: let the planner pick shuffled-hash
        # joins when the build side fits (sort-merge stays the fallback),
        # and let AQE rewrite SMJ→SHJ at runtime for post-shuffle
        # partitions under the advisory size — the composed curation
        # chain's many small keyed joins measured consistently faster
        # (sql_curation_full_planted 24.5→15-22 s band at sf1.0), and at
        # deployment scale the AQE advisory partition size bounds each
        # build-side hash map (both knobs overridable via extra_confs)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/clrs-spark-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # big HTML cells must not blow any in-memory row-batch assembly:
    # - Arrow python transfer: bounded by rows AND bytes (512 × 10 MB docs
    #   would be 5 GB; the byte cap splits it)
    # - parquet vectorized reader: default 4096-row column vectors need
    #   contiguous on-heap reservations (observed FAILED_READ_FILE at 1 GB
    #   heap on a 3.5 KB-avg corpus; GBs on whale rows at any heap)
    # - table-cache columnar builder: persist()/cache() at ANY storage
    #   level assembles batchSize rows on-heap first (observed 32-task OOM
    #   at 8 GB caching a 2.7 GB-text corpus with the 10,000-row default)
    for key, value in whale_safe_batch_confs(arrow_max_records).items():
        builder = builder.config(key, value)
    # applied LAST so callers can override any default (e.g. the skew
    # bench re-enables the UI for the per-task REST status API)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def get_or_build_session(app_name: str) -> SparkSession:
    """Session for the production scripts: under spark-submit (which sets
    spark.master and the deployment's memory/executor conf) just attach;
    run as plain python, fall back to build_spark's tuned local defaults —
    the bare builder's 1 GB local driver cannot even scan a wide-text
    corpus (see the columnarReaderBatchSize note above)."""
    from pyspark import SparkConf

    if SparkConf().contains("spark.master"):
        conf = SparkConf()
        builder = SparkSession.builder.appName(app_name)
        # the SAME whale-safe batch knobs as build_spark (SQL confs —
        # settable on attach), deferring to anything the deployment set
        # explicitly; forwarding only some of them re-opens the
        # cache-builder OOM documented in build_spark
        for key, default in whale_safe_batch_confs().items():
            builder = builder.config(key, conf.get(key, default))
        return builder.getOrCreate()
    return build_spark(app_name=app_name)
