"""Sink protocol for snapshot-checkpointed, idempotently-resumable writes.

The resume job (``resume.run_resumable``) is sink-agnostic: it needs only
(a) the committed key set to anti-join away, and (b) an atomic batch
append.  Two implementations:

- ``resume.CheckpointedSink`` — parquet + ``_SUCCESS`` markers (the
  sandbox implementation; jars-free).
- ``IcebergSink`` — the production target (SURVEY §7 step 4):
  ``writeTo(table).append()`` is one atomic snapshot, committed keys come
  from the table (optionally pinned to a snapshot id for time-travel
  resume).  Requires an Iceberg catalog on the session; its constructor
  fails loudly when none is configured (this sandbox ships no Iceberg
  jars, so the class is exercised via the plan-identity test only — the
  job DAG upstream of the sink is asserted identical for both sinks).
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

KEY_COLUMNS = ["conv_id", "turn_idx"]


@runtime_checkable
class KeyedSink(Protocol):
    """Atomic-append sink with a committed-key view for resume."""

    key_columns: list[str]

    def prepare(self, spark: SparkSession) -> None:
        """Pre-run housekeeping (e.g. drop half-written batches)."""

    def committed_keys(self, spark: SparkSession) -> DataFrame | None:
        """Keys already durably written, or None when nothing is."""

    def write_batch(self, df: DataFrame) -> str:
        """Atomically append one batch; returns a batch/snapshot handle.
        The resume job observes its batch report on ``df``, so the write
        must run ``df`` in exactly one action."""

    def discard_batch(self, handle: str) -> None:
        """Drop a just-written batch that holds no rows (a fully resumed
        rerun still runs its empty write)."""

    def read_batch(self, spark: SparkSession, handle: str,
                   schema: StructType | None = None) -> DataFrame:
        """The rows of ONE committed batch, by the handle ``write_batch``
        returned — never the whole table.  The resume job derives the
        metrics sidecar from this, so a full-table implementation would
        re-append metrics for every previously committed row on every
        run.  ``schema`` is the schema the batch was written with; a
        sink that would otherwise infer it (a Spark job) reads with it."""

    def read(self, spark: SparkSession) -> DataFrame:
        """The committed table contents."""


class IcebergSink:
    """Iceberg-table implementation of the KeyedSink contract.

    Append atomicity and resume visibility are exactly Iceberg's snapshot
    semantics: ``writeTo(...).append()`` commits one snapshot; a killed job
    leaves no visible rows, so the next run's anti-join re-selects its
    work.  ``snapshot_id`` pins ``committed_keys``/``read`` to a past
    snapshot (time-travel resume: replays everything after that snapshot).
    """

    def __init__(
        self,
        table: str,
        key_columns: list[str] | None = None,
        snapshot_id: int | None = None,
    ):
        self.table = table
        self.key_columns = list(key_columns or KEY_COLUMNS)
        self.snapshot_id = snapshot_id

    @staticmethod
    def is_available(spark: SparkSession) -> bool:
        """True when an Iceberg catalog is configured on this session."""
        confs = spark.sparkContext.getConf().getAll()
        return any(
            k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
            for k, v in confs
        )

    def _require(self, spark: SparkSession) -> None:
        if not self.is_available(spark):
            raise RuntimeError(
                "IcebergSink needs an Iceberg catalog "
                "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog); "
                "none configured on this session — use CheckpointedSink, which "
                "implements the identical resume contract on parquet."
            )

    def prepare(self, spark: SparkSession) -> None:
        # Iceberg needs no cleanup: uncommitted writes are invisible by
        # construction (no snapshot was committed).
        self._require(spark)

    def _table_df(self, spark: SparkSession) -> DataFrame:
        if self.snapshot_id is not None:
            return (
                spark.read.option("snapshot-id", str(self.snapshot_id))
                .format("iceberg")
                .load(self.table)
            )
        return spark.table(self.table)

    def committed_keys(self, spark: SparkSession) -> DataFrame | None:
        self._require(spark)
        # ONLY a genuinely absent table means "first run".  Auth errors,
        # catalog outages, bad names etc. must propagate: swallowing them
        # here would silently skip the resume anti-join and re-append the
        # whole source (duplicate rows in an idempotence-critical path).
        if not spark.catalog.tableExists(self.table):
            return None
        return self._table_df(spark).select(*self.key_columns)

    def _current_snapshot_id(self, spark: SparkSession) -> int | None:
        """Latest snapshot id from the Iceberg metadata table (None when
        the table does not exist yet / has no snapshots)."""
        if not spark.catalog.tableExists(self.table):
            return None
        rows = spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(rows[0][0]) if rows else None

    def _snapshot_after(self, spark: SparkSession, prev: int | None) -> int | None:
        """The snapshot whose PARENT is ``prev`` — correct by construction
        under the single-writer contract, unlike a committed_at ordering
        (Iceberg snapshot ids are random 64-bit values, so timestamps can
        tie with no valid tie-break)."""
        pred = "parent_id IS NULL" if prev is None else f"parent_id = {prev}"
        rows = spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            f"WHERE {pred} ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(rows[0][0]) if rows else None

    def write_batch(self, df: DataFrame) -> str:
        """One atomic snapshot append.  The handle is batch-scoped: it
        records the snapshot range (previous, new) so ``read_batch`` can
        read back exactly this batch via Iceberg's incremental read —
        never the cumulative table.

        CONSTRAINT — single writer per table: the range is derived from
        before/after reads of the latest snapshot, so a concurrent
        writer's snapshot landing inside the window would be attributed
        to this batch (DataFrame.writeTo exposes no commit-returned
        snapshot id; lifting the constraint needs the Java/REST catalog
        API).  The resume contract itself (anti-join on committed keys)
        is already single-writer-per-key, so this adds no new
        restriction; it is documented here because the metrics sidecar
        derives from this handle."""
        spark = df.sparkSession
        self._require(spark)
        prev = self._current_snapshot_id(spark)
        df.writeTo(self.table).append()
        new = self._snapshot_after(spark, prev)
        # the append MUST have committed a child snapshot of prev; a
        # missing or unchanged snapshot would produce a degenerate handle
        # ('t@X..X' / 't@..None') that read_batch would feed to the
        # incremental read as an empty-or-invalid range, silently
        # misreporting the batch in the metrics sidecar — fail loudly
        # instead (ADVICE r3: also guards the single-writer contract,
        # since a concurrent writer's interleaved commit breaks the
        # parent_id == prev resolution)
        if new is None or new == prev:
            raise RuntimeError(
                f"append to {self.table} did not resolve to a new snapshot "
                f"with parent_id == {prev!r} (got {new!r}); possible "
                "concurrent writer or failed commit — the batch handle "
                "would be degenerate"
            )
        return f"{self.table}@{'' if prev is None else prev}..{new}"

    def discard_batch(self, handle: str) -> None:
        """No-op: the empty append's snapshot holds no rows, so it changes
        neither the committed keys nor ``read``; a first run over an
        empty source appends an empty frame the same way."""

    def read_batch(self, spark: SparkSession, handle: str,
                   schema: StructType | None = None) -> DataFrame:
        """``schema`` is unused: the table carries its own."""
        table, _, rng = handle.partition("@")
        prev_s, _, new_s = rng.partition("..")
        # validate BEFORE the catalog check: degenerate handles are a
        # caller bug regardless of environment (unit-testable in-sandbox)
        if not new_s.lstrip("-").isdigit() or new_s == prev_s:
            raise ValueError(
                f"degenerate batch handle {handle!r}: the snapshot range "
                "must end in a real snapshot id distinct from its start "
                "(write_batch guarantees this for handles it returns)"
            )
        self._require(spark)
        if not prev_s:
            # first snapshot: pin to the written snapshot id — a live
            # spark.table() read could already include later commits
            return (
                spark.read.option("snapshot-id", new_s)
                .format("iceberg")
                .load(table)
            )
        return (
            spark.read.format("iceberg")
            .option("start-snapshot-id", prev_s)  # exclusive
            .option("end-snapshot-id", new_s)     # inclusive
            .load(table)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        self._require(spark)
        return self._table_df(spark)
