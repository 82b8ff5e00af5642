"""Scale-adaptive parallelism floor for CPU-heavy passes.

Problem (guide §2.5/§6): a narrow chain (scan → project/explode →
python stage → partial aggregate) inherits the SCAN's parallelism,
which Spark sizes by BYTES (`maxPartitionBytes`, bounded below by the
file's row-group layout).  A small-on-disk but CPU-expensive input —
here, single-row-group parquet tables whose per-row work is
tokenization, md5/blake2b hashing, or a python decode — then runs the
whole pass on one or two cores of a 32-core machine (measured: the
DSIR gram+md5 pass over the sf1.0 documents table took 8.9 s on its
2-split scan vs 0.9 s repartitioned to 32 — the work was parallelism-
starved, not expensive).  This is the same byte-blindness
`pipeline/job.py:salted_repartition` documents for the extraction
stage: bytes understate CPU when the per-row work dominates.

``ensure_parallelism`` floors a frame's partition count at the
session's shuffle parallelism before such a pass.  It is
SCALE-ADAPTIVE, not local-tuned: a production-scale scan already
carries >= shuffle.partitions splits (so the floor is a no-op exactly
where its shuffle would be expensive), and it fires only when the
input cannot feed the configured parallelism — where the shuffle it
adds is by construction small.

The probe must be ACTION-FREE: ``df.rdd.getNumPartitions()`` is not —
under AQE, materializing the RDD finalizes the adaptive plan, which
EXECUTES every upstream shuffle stage at plan-construction time (the
lesson of the round-5 minhash plan builder, which counted its input;
pinned by
tests/test_dedup.py::test_minhash_plan_construction_is_action_free).
So the probe reads only plan TEXT and file METADATA:

- a plan that already contains a shuffle exchange (or reads a cached
  relation) follows the session's shuffle parallelism — leave it;
- a pure scan chain's effective parallelism is bounded by its files'
  parquet ROW-GROUP count (a row group cannot split), read from the
  footers driver-side — no Spark job either way.  Only local (``file:``
  or scheme-less) files are probed: pyarrow cannot open ``s3a://`` /
  ``hdfs://`` URIs, and counting each such file as one split would
  over-fire the floor, so any other scheme leaves the frame unchanged.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# shuffle exchanges print as "Exchange hashpartitioning(...)" /
# "Exchange RoundRobinPartitioning(...)" / "Exchange rangepartitioning"
# / "Exchange SinglePartition"; broadcast exchanges as
# "BroadcastExchange ..." — only the former set the downstream
# parallelism to the session's shuffle width
_SHUFFLE_RE = re.compile(r"(?<!Broadcast)Exchange\s")

# a URI scheme prefix ("s3a:", "hdfs:", "file:")
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

#: cap on per-probe parquet footer reads; once this many row groups are
#: confirmed the input is parallel enough for any sane local target
_PROBE_FILE_CAP = 256


def _scan_row_groups(files: list[str], need: int) -> int:
    """Total parquet row groups over ``files`` (early exit at ``need``;
    non-parquet / unreadable files count as 1 split each)."""
    import pyarrow.parquet as pq

    total = 0
    for f in files[:_PROBE_FILE_CAP]:
        path = f[7:] if f.startswith("file:") and f[5:7] == "//" else f
        if path.startswith("file:"):
            path = path[5:]
        try:
            total += pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            total += 1
        if total >= need:
            return total
    if len(files) > _PROBE_FILE_CAP:
        total += len(files) - _PROBE_FILE_CAP
    return total


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's shuffle
    parallelism when its plan is a scan chain whose files cannot feed
    that many cores; identity otherwise.  Value-neutral for any
    keyed/aggregating consumer (row placement changes, rows do not);
    use only upstream of operators whose semantics are
    partition-independent — everything in this repo by contract (the
    cross-process determinism suite pins it).  Never runs a job."""
    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if min_partitions <= 1:
        return df
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # pragma: no cover — no physical plan: leave it to the consumer
        return df
    if _SHUFFLE_RE.search(plan) or "InMemoryTableScan" in plan:
        # downstream of a shuffle or cache: parallelism already follows
        # the session's shuffle width / the cached partitioning
        return df
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover
        return df
    if not files:
        # in-memory source (createDataFrame/range): sliced by
        # defaultParallelism already
        return df
    if any(_SCHEME_RE.match(f) and not f.startswith("file:") for f in files):
        # remote storage: the footers are unreadable here, so the
        # parallelism is unknown — leave the frame as it is
        return df
    if _scan_row_groups(files, min_partitions) >= min_partitions:
        return df
    return df.repartition(min_partitions)
