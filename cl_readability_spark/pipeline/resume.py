"""Snapshot-checkpointed, idempotently-resumable extraction job.

The job logic (``run_resumable``) is sink-agnostic and written against
``sink.KeyedSink``: resume = left-anti join of the source against the
committed keys, then one atomic batch append (SURVEY §2.11 joins row).
The production sink is Iceberg (``sink.IcebergSink`` — one snapshot per
append, time-travel resume); this sandbox has no Iceberg jars (offline;
checked at build time), so the default sink implements the identical
contract on parquet, exactly as SURVEY §7 step 4 specifies the fallback:

- output root holds ``batch=N/`` directories; a batch is committed iff Spark
  finished writing it (``_SUCCESS`` marker — atomic at job-commit, exactly
  the snapshot-manifest role).
- committed keys = union of (conv_id, turn_idx) over committed batches.
- a re-run after a mid-job kill neither duplicates nor drops rows: the
  half-written batch has no _SUCCESS → invisible; the anti-join re-selects
  its rows.

A batch commits in one pass: the extracting write carries one
``Observation`` whose per-status counts and sums are the batch report, so
no probe, rollup or read-back runs for it.  ``CheckpointedSink.run``
writes ``_MANIFEST.json`` from the report, so the sink keeps no per-run
state.  The batch is read back (with the schema it was written with, so
no inference job runs) only to append the metrics sidecar when
``metrics_root`` is set.

Swapping in Iceberg is a sink-object change only; the job DAG upstream of
the write is identical (asserted by the plan-identity test in
tests/test_spark_pipeline.py).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cl_readability_spark.core.config import DEFAULT_CONFIG, ExtractorConfig
from cl_readability_spark.core.extract import STATUSES
from cl_readability_spark.pipeline.job import extract_transcripts, metrics_sidecar
from cl_readability_spark.pipeline.sink import KEY_COLUMNS, KeyedSink
from cl_readability_spark.pipeline.udfs import EXTRACT_OUTPUT_SCHEMA

# the committed-keys read schema: no inference job over the batch files
_KEY_SCHEMA = StructType([EXTRACT_OUTPUT_SCHEMA[c] for c in KEY_COLUMNS])
_TALLIED = ("chars_in", "chars_kept", "retries")


def pending_rows(transcripts: DataFrame, committed: DataFrame | None) -> DataFrame:
    """The resume anti-join: source rows whose keys are not yet committed.
    Broadcast-friendly when the committed side is small; at scale both
    sides shuffle on (conv_id, turn_idx) and AQE picks the strategy —
    exactly the Iceberg MERGE-style resume plan."""
    if committed is None:
        return transcripts
    return transcripts.join(committed, on=KEY_COLUMNS, how="left_anti")


def _observe_statuses(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with one Observation of its row count and, per status, its
    rows and summed ``_TALLIED`` columns; the action that consumes ``df``
    fills it.  The metrics are task accumulators of the action's own
    stage, so a retried task's first attempt is not counted."""
    exprs = ["count(1) AS rows"]
    for s in STATUSES:
        exprs.append(f"count_if(status = '{s}') AS {s}_rows")
        exprs += [f"sum(if(status = '{s}', {c}, 0)) AS {s}_{c}" for c in _TALLIED]
    obs = Observation()
    # F.expr, not the Column API: one py4j call per aggregate
    return df.observe(obs, *(F.expr(e) for e in exprs)), obs


def _status_report(metrics: dict) -> dict:
    """``{status: {"rows", "chars_in", "chars_kept", "retries"}}`` for each
    status with rows, in sorted order, from ``_observe_statuses`` metrics;
    raises when some rows carry a status outside ``STATUSES``."""
    by_status = {
        s: {"rows": metrics[f"{s}_rows"],
            **{c: metrics[f"{s}_{c}"] or 0 for c in _TALLIED}}
        for s in sorted(STATUSES)
        if metrics[f"{s}_rows"]
    }
    left = metrics["rows"] - sum(t["rows"] for t in by_status.values())
    if left:
        raise ValueError(
            f"{left} of {metrics['rows']} written rows carry a status outside "
            f"{STATUSES}; the batch is committed but its report would drop them"
        )
    return by_status


def run_resumable(
    transcripts: DataFrame,
    sink: KeyedSink,
    config: ExtractorConfig = DEFAULT_CONFIG,
    salt_buckets: int = 16,
    num_partitions: int | None = None,
    metrics_root: str | None = None,
    prefilter_readerable: bool | str = False,
) -> dict:
    """Extract every not-yet-committed turn into ``sink`` as one batch;
    returns the batch report ``{"batch", "rows", "write_s", "by_status"}``
    (``batch`` is the sink's handle, None when nothing was pending).
    Sink-agnostic: the same call works against parquet checkpoints here
    and an Iceberg table in production.  ``num_partitions`` pins the
    extraction stage's task count; ``None`` takes
    ``spark.sql.shuffle.partitions`` (``job.salted_repartition``).

    The report comes from the extracting write itself (an Observation on
    the written frame), so a batch costs the write's jobs plus, when
    ``metrics_root`` is set, the read-back that appends its metrics
    sidecar.  A fully resumed rerun runs the write over zero rows and then
    discards the empty batch (``sink.discard_batch``)."""
    spark = transcripts.sparkSession
    sink.prepare(spark)
    committed = sink.committed_keys(spark)
    result, obs = _observe_statuses(
        extract_transcripts(
            pending_rows(transcripts, committed),
            config=config,
            salt_buckets=salt_buckets,
            num_partitions=num_partitions,
            prefilter_readerable=prefilter_readerable,
        )
    )
    t0 = time.time()
    handle = sink.write_batch(result)
    write_s = time.time() - t0
    metrics = obs.get
    # fully-resumed RERUN: nothing was pending → drop the empty batch.  A
    # FIRST run over an empty source keeps its empty batch so sink.read()
    # returns an empty frame rather than raising.
    if committed is not None and not metrics["rows"]:
        sink.discard_batch(handle)
        return {"batch": None, "rows": 0, "write_s": write_s, "by_status": {}}
    by_status = _status_report(metrics)
    if metrics_root is not None:
        # batch-scoped read-back via the sink protocol (NOT the cumulative
        # table): the sidecar covers only the rows THIS run wrote, for
        # every sink — parquet batch dir here, Iceberg incremental
        # snapshot read in production
        written = sink.read_batch(spark, handle, schema=result.schema)
        metrics_sidecar(written).write.mode("append").parquet(metrics_root)
    return {
        "batch": handle,
        "rows": metrics["rows"],
        "write_s": write_s,
        "by_status": by_status,
    }


class CheckpointedSink:
    """Parquet implementation of the KeyedSink contract (see module doc)."""

    def __init__(self, root: str):
        self.root = root
        self.key_columns = list(KEY_COLUMNS)
        os.makedirs(root, exist_ok=True)

    # --- snapshot bookkeeping ---
    def _batch_indices(self) -> list[int]:
        return sorted(
            int(n.split("=", 1)[1]) for n in os.listdir(self.root)
            if n.startswith("batch=")
        )

    def committed_batches(self) -> list[str]:
        """Committed batch dirs, oldest first (by batch index)."""
        paths = (os.path.join(self.root, f"batch={i}") for i in self._batch_indices())
        return [p for p in paths if os.path.exists(os.path.join(p, "_SUCCESS"))]

    def _next_batch_path(self) -> str:
        last = max(self._batch_indices(), default=-1)
        return os.path.join(self.root, f"batch={last + 1}")

    def cleanup_uncommitted(self) -> None:
        """Drop half-written batch dirs (no _SUCCESS) before resuming."""
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if name.startswith("batch=") and not os.path.exists(
                os.path.join(path, "_SUCCESS")
            ):
                shutil.rmtree(path)

    # --- KeyedSink protocol ---
    def prepare(self, spark: SparkSession) -> None:
        self.cleanup_uncommitted()

    def committed_keys(self, spark: SparkSession) -> DataFrame | None:
        batches = self.committed_batches()
        if not batches:
            return None
        return spark.read.schema(_KEY_SCHEMA).parquet(*batches)

    def write_batch(self, df: DataFrame) -> str:
        # committed_keys reads every batch with _KEY_SCHEMA, which fails on
        # a parquet column of another type (a bigint turn_idx from a
        # caller's pre-extracted frame); extraction output already fits
        schema = df.schema
        recast = {
            f.name: F.col(f.name).cast(f.dataType)
            for f in _KEY_SCHEMA
            if schema[f.name].dataType != f.dataType
        }
        if recast:
            df = df.withColumns(recast)
        batch_path = self._next_batch_path()
        df.write.mode("errorifexists").parquet(batch_path)
        return batch_path

    def discard_batch(self, handle: str) -> None:
        shutil.rmtree(handle)

    def read_batch(self, spark: SparkSession, handle: str,
                   schema: StructType | None = None) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(handle)

    def read(self, spark: SparkSession) -> DataFrame:
        batches = self.committed_batches()
        if not batches:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return spark.read.parquet(*batches)

    # --- the resumable job (kept API; delegates to the generic runner) ---
    def run(
        self,
        transcripts: DataFrame,
        config: ExtractorConfig = DEFAULT_CONFIG,
        salt_buckets: int = 16,
        num_partitions: int | None = None,
        metrics_root: str | None = None,
        prefilter_readerable: bool | str = False,
    ) -> int:
        """Run one resumable batch (``run_resumable``) into this sink and
        write its manifest; returns the rows written.  ``num_partitions``
        as in ``run_resumable``: ``None`` takes
        ``spark.sql.shuffle.partitions``."""
        report = run_resumable(
            transcripts,
            self,
            config=config,
            salt_buckets=salt_buckets,
            num_partitions=num_partitions,
            metrics_root=metrics_root,
            prefilter_readerable=prefilter_readerable,
        )
        if report["batch"] is not None:
            self._write_manifest(report, config, salt_buckets)
        return report["rows"]

    def _write_manifest(self, report: dict, config: ExtractorConfig,
                        salt_buckets: int) -> None:
        """Snapshot-manifest equivalent: per-batch lineage (row/status/char
        counts, config, timing) next to the data — the operational metadata
        an Iceberg snapshot summary would carry."""
        cfg = dataclasses.asdict(config)
        cfg["preserved_classes"] = sorted(cfg["preserved_classes"])
        vc = cfg.get("visibility_checker")
        cfg["visibility_checker"] = getattr(vc, "__qualname__", None) if vc else None
        batch_path = report["batch"]
        manifest = {
            "batch": os.path.basename(batch_path),
            "rows": report["rows"],
            "seconds": round(report["write_s"], 3),
            "by_status": report["by_status"],
            "salt_buckets": salt_buckets,
            "config": cfg,
        }
        with open(os.path.join(batch_path, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f, indent=1)
