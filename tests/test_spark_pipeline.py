"""Spark-shell tests: UDF↔core equivalence, salting, ordering, resume
idempotence, metrics (SURVEY §5 layer 3)."""

import pytest

from pyspark.sql import functions as F

from cl_readability_spark.core.extract import extract
from cl_readability_spark.pipeline.job import (
    extract_transcripts,
    metrics_rollup,
    metrics_sidecar,
)
from cl_readability_spark.pipeline.resume import CheckpointedSink
from cl_readability_spark.pipeline.transcripts import (
    documents_as_transcripts,
    synthetic_transcripts,
)

pytestmark = pytest.mark.spark

N_CONV = 6  # small but multi-partition


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthetic_transcripts(spark, N_CONV, seed=42).cache()
    df.count()
    return df


def test_transcripts_schema(transcripts):
    assert [f.name for f in transcripts.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    assert dict(transcripts.dtypes)["turn_idx"] == "int"
    assert dict(transcripts.dtypes)["ts"] == "timestamp"


def test_spark_matches_core_exactly(spark, transcripts):
    """Row-for-row equality between the vectorized UDF path and direct
    Python calls — the Arrow plumbing must add nothing."""
    result = extract_transcripts(transcripts).collect()
    via_spark = {
        (r.conv_id, r.turn_idx): (
            r.extracted_text,
            tuple((s.start, s.end) for s in r.content_spans),
            r.status,
        )
        for r in result
    }
    rows = transcripts.select("conv_id", "turn_idx", "text").collect()
    assert len(rows) == len(via_spark)
    for row in rows:
        r = extract(row.text)
        assert via_spark[(row.conv_id, row.turn_idx)] == (
            r.extracted_text,
            tuple(r.content_spans),
            r.status,
        ), f"mismatch at {row.conv_id}/{row.turn_idx}"


def test_statuses_present(spark, transcripts):
    statuses = {
        r.status
        for r in extract_transcripts(transcripts).select("status").distinct().collect()
    }
    assert "ok" in statuses
    # corpus has malformed/plain rows but they still parse (html.parser is
    # forgiving) — so only assert no hard errors slipped through as nulls
    assert None not in statuses


def test_ordering_within_partitions(spark, transcripts):
    result = extract_transcripts(transcripts, salt_buckets=4)
    parts = result.select(
        F.spark_partition_id().alias("pid"), "conv_id", "turn_idx"
    ).collect()
    by_pid = {}
    for r in parts:
        by_pid.setdefault(r.pid, []).append((r.conv_id, r.turn_idx))
    for pid, keys in by_pid.items():
        assert keys == sorted(keys), f"partition {pid} not ordered"


def test_salting_spreads_conversations(spark):
    """One giant conversation must land on >1 partition."""
    df = synthetic_transcripts(spark, 1, seed=7)
    n_turns = df.count()
    if n_turns < 4:
        pytest.skip("conversation too short to observe spread")
    from cl_readability_spark.pipeline.job import salted_repartition

    pids = (
        salted_repartition(df.select("conv_id", "turn_idx", "text"), 4, salt_buckets=4)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert pids > 1


def test_salted_repartition_width_is_shuffle_partitions(spark):
    """Without ``num_partitions`` the extraction exchange is pinned at the
    session's ``spark.sql.shuffle.partitions`` (read at plan time, no job);
    an explicit count wins."""
    import re
    import uuid

    from cl_readability_spark.pipeline.job import salted_repartition

    def width(df, n=None):
        plan = salted_repartition(df, n)._jdf.queryExecution().executedPlan()
        plan = plan.toString()
        m = re.search(
            r"hashpartitioning\(conv_id#\d+, pmod\(hash\(turn_idx#\d+, 42\), 16\), "
            r"(\d+)\)",
            plan,
        )
        assert m, plan
        return int(m.group(1))

    sc = spark.sparkContext
    small = spark.range(64).select(
        F.col("id").cast("string").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("<p>x</p>").alias("text"),
    )
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    group = f"width-{uuid.uuid4().hex}"
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    sc.setJobGroup(group, "salted_repartition width")
    try:
        assert width(small) == 16
        assert width(small, 7) == 7
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_build_spark_shuffle_partitions_default_to_cores(monkeypatch):
    """``build_spark`` runs one shuffle task per local core unless told
    otherwise (no Spark: the builder is replaced by a recorder)."""
    from cl_readability_spark.pipeline import session

    class Recorder:
        def __init__(self):
            self.confs = {}

        def master(self, m):
            self.confs["master"] = m
            return self

        def appName(self, _):
            return self

        def config(self, key, value):
            self.confs[key] = value
            return self

        def getOrCreate(self):
            return self.confs

    class FakeSession:
        @property
        def builder(self):
            return Recorder()

    monkeypatch.setattr(session, "SparkSession", FakeSession())
    for cores in (2, 4, 12):
        confs = session.build_spark(cores=cores)
        assert confs["master"] == f"local[{cores}]"
        assert confs["spark.sql.shuffle.partitions"] == str(cores)
    confs = session.build_spark(cores=4, shuffle_partitions=16)
    assert confs["spark.sql.shuffle.partitions"] == "16"


def test_metrics_sidecar_and_rollup(spark, transcripts):
    result = extract_transcripts(transcripts).cache()
    side = metrics_sidecar(result)
    assert side.count() == result.count()
    assert set(side.columns) == {
        "partition_id", "conv_id", "turn_idx", "status",
        "candidates_scored", "retries", "chars_in", "chars_kept",
    }
    roll = metrics_rollup(result).collect()
    assert sum(r.rows for r in roll) == result.count()
    ok_row = [r for r in roll if r.status == "ok"][0]
    assert ok_row.total_chars_kept > 0
    result.unpersist()


def test_readerable_prefilter(spark, transcripts):
    full = extract_transcripts(transcripts).count()
    filtered = extract_transcripts(transcripts, prefilter_readerable=True).count()
    assert 0 < filtered <= full


def test_readerable_prefilter_jvm_variant(spark, transcripts):
    """The 'jvm' triage prefilter (regexp expressions, no python pass) must
    select nearly the same rows as the exact DOM triage and keep the plan's
    python stages at ONE (only the extractor itself)."""
    jvm = extract_transcripts(transcripts, prefilter_readerable="jvm")
    exact_keys = {
        (r.conv_id, r.turn_idx)
        for r in extract_transcripts(transcripts, prefilter_readerable=True)
        .select("conv_id", "turn_idx")
        .collect()
    }
    jvm_keys = {
        (r.conv_id, r.turn_idx)
        for r in jvm.select("conv_id", "turn_idx").collect()
    }
    union = exact_keys | jvm_keys
    assert union  # non-vacuous
    agree = len(exact_keys & jvm_keys) / len(union)
    assert agree >= 0.95, (agree, len(exact_keys), len(jvm_keys))
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1  # the extractor
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_resume_idempotent(spark, transcripts, tmp_path):
    """Kill-and-rerun contract: run on half the data, then run on all —
    final table == one-shot run, no dupes, no drops."""
    root = str(tmp_path / "out")
    sink = CheckpointedSink(root)

    half = transcripts.filter(F.col("turn_idx") % 2 == 0)
    n1 = sink.run(half)
    assert n1 == half.count()

    # second run sees the full source; must only process the complement
    n2 = sink.run(transcripts)
    assert n2 == transcripts.count() - n1

    final = sink.read(spark)
    assert final.count() == transcripts.count()
    assert final.select("conv_id", "turn_idx").distinct().count() == transcripts.count()

    # third run: nothing left
    n3 = sink.run(transcripts)
    assert n3 == 0


def test_resume_ignores_uncommitted_batch(spark, transcripts, tmp_path):
    import os

    root = str(tmp_path / "out2")
    sink = CheckpointedSink(root)
    sink.run(transcripts.limit(5))
    # simulate a mid-job kill: a batch dir without _SUCCESS
    bad = os.path.join(root, "batch=99")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-zzz.parquet"), "w") as f:
        f.write("garbage")
    n = sink.run(transcripts)
    assert n == transcripts.count() - 5
    assert not os.path.exists(bad)  # cleaned up
    assert sink.read(spark).count() == transcripts.count()


def test_sink_protocol_and_plan_identity(spark, transcripts, tmp_path):
    """The resume job is sink-agnostic: both sinks satisfy KeyedSink and
    the anti-join DAG upstream of the write is byte-identical once the
    committed-keys leaf is fixed (the Iceberg swap is sink-object only)."""
    import re

    from cl_readability_spark.pipeline.resume import CheckpointedSink, pending_rows
    from cl_readability_spark.pipeline.sink import IcebergSink, KeyedSink

    parquet_sink = CheckpointedSink(str(tmp_path / "plan"))
    iceberg_sink = IcebergSink("cat.db.extracted")
    assert isinstance(parquet_sink, KeyedSink)
    assert isinstance(iceberg_sink, KeyedSink)

    parquet_sink.run(transcripts.limit(5))
    committed = parquet_sink.committed_keys(spark)

    def normalized_plan(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#x", plan)

    # same committed keys → same plan, regardless of which sink object the
    # job holds (pending_rows never touches the sink)
    p = normalized_plan(pending_rows(transcripts, committed))
    assert "Join LeftAnti" in p
    assert normalized_plan(pending_rows(transcripts, committed)) == p
    # first run (no committed keys): plan is the bare source, no join
    assert "Join" not in normalized_plan(pending_rows(transcripts, None))


def test_iceberg_sink_fails_loudly_without_catalog(spark):
    from cl_readability_spark.pipeline.sink import IcebergSink

    sink = IcebergSink("cat.db.extracted")
    assert IcebergSink.is_available(spark) is False
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        sink.prepare(spark)
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        sink.committed_keys(spark)


def test_run_resumable_generic_runner(spark, transcripts, tmp_path):
    """run_resumable against the protocol (not the .run() wrapper) keeps
    the idempotence contract."""
    from cl_readability_spark.pipeline.resume import run_resumable

    sink = CheckpointedSink(str(tmp_path / "gen"))
    n1 = run_resumable(transcripts.filter(F.col("turn_idx") % 2 == 0), sink)["rows"]
    n2 = run_resumable(transcripts, sink)["rows"]
    assert n1 + n2 == transcripts.count()
    assert sink.read(spark).select("conv_id", "turn_idx").distinct().count() == (
        transcripts.count()
    )


def test_resume_metrics_are_batch_scoped(spark, transcripts, tmp_path):
    """The metrics sidecar covers only the rows each run wrote (via the
    sink protocol's batch-scoped read_batch), never the cumulative table —
    a full-table read-back would re-append every previously committed
    row's metrics on each run."""
    from cl_readability_spark.pipeline.resume import run_resumable

    sink = CheckpointedSink(str(tmp_path / "ms"))
    metrics_root = str(tmp_path / "metrics")
    n1 = run_resumable(
        transcripts.filter(F.col("turn_idx") % 2 == 0), sink,
        metrics_root=metrics_root,
    )["rows"]
    n2 = run_resumable(transcripts, sink, metrics_root=metrics_root)["rows"]
    total = transcripts.count()
    assert n1 + n2 == total
    # exactly one metrics row per written row across both runs
    assert spark.read.parquet(metrics_root).count() == total


def test_committed_batches_sort_by_batch_index(tmp_path):
    """No Spark: committed batches come back oldest first by their integer
    index, so ``[-1]`` is the newest batch past ``batch=9`` (a string sort
    puts ``batch=10`` before ``batch=2``); uncommitted dirs are skipped."""
    import os

    root = tmp_path / "many"
    for i in range(13):
        (root / f"batch={i}").mkdir(parents=True)
        if i < 12:
            (root / f"batch={i}" / "_SUCCESS").touch()
    sink = CheckpointedSink(str(root))
    assert sink.committed_batches() == [
        os.path.join(str(root), f"batch={i}") for i in range(12)
    ]
    assert sink._next_batch_path() == os.path.join(str(root), "batch=13")


def test_resume_committed_keys_of_bigint_key_batches(spark, tmp_path):
    """``committed_keys`` reads with the extraction key types (no schema
    inference job), so ``write_batch`` stores a frame whose ``turn_idx``
    is bigint (Python ints in ``createDataFrame``) with an int column;
    the keys of every batch then read back."""
    sink = CheckpointedSink(str(tmp_path / "bigint"))
    for rows in ([("a", 0, "x")], [("b", 1, "y")]):
        df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
        assert dict(df.dtypes)["turn_idx"] == "bigint"
        sink.write_batch(df)
    assert sorted(map(tuple, sink.committed_keys(spark).collect())) == [
        ("a", 0), ("b", 1),
    ]
    assert dict(sink.read(spark).dtypes)["turn_idx"] == "int"


def test_resume_manifest_matches_batch(spark, transcripts, tmp_path):
    """Each committed batch's _MANIFEST.json reports that batch: ``rows`` is
    its row count and the sum of ``by_status`` rows, and ``by_status``
    equals a driver-side per-status tally.  A fully resumed rerun writes no
    batch and leaves the last manifest untouched."""
    import json
    import os
    from collections import defaultdict

    root = str(tmp_path / "manifest")
    sink = CheckpointedSink(root)
    n1 = sink.run(transcripts.filter(F.col("turn_idx") % 2 == 0))
    n2 = sink.run(transcripts)
    assert n1 > 0 and n2 > 0
    for i, n in enumerate((n1, n2)):
        batch = os.path.join(root, f"batch={i}")
        with open(os.path.join(batch, "_MANIFEST.json")) as f:
            manifest = json.load(f)
        rows = spark.read.parquet(batch).collect()
        tally = defaultdict(
            lambda: {"rows": 0, "chars_in": 0, "chars_kept": 0, "retries": 0}
        )
        for r in rows:
            t = tally[r.status]
            t["rows"] += 1
            t["chars_in"] += r.chars_in or 0
            t["chars_kept"] += r.chars_kept or 0
            t["retries"] += r.retries or 0
        assert manifest["batch"] == f"batch={i}"
        assert manifest["rows"] == n == len(rows)
        by_status = manifest["by_status"]
        assert manifest["rows"] == sum(s["rows"] for s in by_status.values())
        assert by_status == dict(tally)
        assert list(by_status) == sorted(by_status)

    last = os.path.join(root, "batch=1", "_MANIFEST.json")
    with open(last, "rb") as f:
        before = f.read()
    assert sink.run(transcripts) == 0
    assert sorted(os.listdir(root)) == ["batch=0", "batch=1"]
    with open(last, "rb") as f:
        assert f.read() == before


def test_resume_report_rejects_unknown_status(spark, transcripts, tmp_path,
                                             monkeypatch):
    """The batch report tallies the statuses in ``core.extract.STATUSES``;
    a written row with any other status makes the run raise, naming the
    rows left over, rather than drop those rows from the report and the
    manifest."""
    import os

    from cl_readability_spark.pipeline import resume

    real = resume.extract_transcripts

    def bogus(df, **kwargs):
        out = real(df, **kwargs)
        return out.withColumn(
            "status",
            F.when(F.col("turn_idx") == 0, F.lit("bogus")).otherwise(F.col("status")),
        )

    monkeypatch.setattr(resume, "extract_transcripts", bogus)
    n_bogus = transcripts.filter(F.col("turn_idx") == 0).count()
    assert n_bogus > 0
    root = str(tmp_path / "bogus")
    with pytest.raises(ValueError, match=rf"^{n_bogus} of {transcripts.count()} "):
        CheckpointedSink(root).run(transcripts)
    assert not os.path.exists(os.path.join(root, "batch=0", "_MANIFEST.json"))


def test_resume_first_run_over_empty_source(spark, tmp_path):
    """A first run over an empty source commits an empty ``batch=0`` with
    a 0-row manifest, so ``read`` returns an empty frame; a rerun over the
    same empty source discards its empty write and leaves ``batch=0``
    alone."""
    import json
    import os

    from cl_readability_spark.pipeline.transcripts import TRANSCRIPTS_SCHEMA

    root = str(tmp_path / "empty")
    sink = CheckpointedSink(root)
    empty = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    assert sink.run(empty) == 0
    assert sorted(os.listdir(root)) == ["batch=0"]
    with open(os.path.join(root, "batch=0", "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert (manifest["batch"], manifest["rows"], manifest["by_status"]) == (
        "batch=0", 0, {},
    )
    assert sink.read(spark).count() == 0
    assert sink.run(empty) == 0
    assert sorted(os.listdir(root)) == ["batch=0"]


def test_resume_run_job_count_fence(spark, transcripts, tmp_path):
    """A resume batch commits in one pass: a warm run over a half-committed
    sink launches at most 3 Spark jobs, all of them the extracting write —
    the committed-keys broadcast build, the salted exchange, and the
    Python stage with the parquet write.  The committed keys are read
    with a known schema (no inference job), and the batch report and the
    manifest come from an Observation on the write (no probe, no rollup,
    no read-back without ``metrics_root``)."""
    import uuid

    half = transcripts.filter(F.col("turn_idx") % 2 == 0)
    CheckpointedSink(str(tmp_path / "warm")).run(half)  # warm-up, not counted
    sink = CheckpointedSink(str(tmp_path / "fence"))
    sink.run(half)
    sc = spark.sparkContext
    group = f"resume-fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm CheckpointedSink.run")
    try:
        n = sink.run(transcripts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == transcripts.count() - half.count()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 3, jobs


def test_iceberg_batch_handle_is_snapshot_scoped():
    """The Iceberg handle encodes the (prev, new) snapshot range so the
    batch read-back is an incremental snapshot read, not the table."""
    from cl_readability_spark.pipeline.sink import IcebergSink

    sink = IcebergSink("cat.db.extracted")
    handle = "cat.db.extracted@123..456"
    table, _, rng = handle.partition("@")
    prev, _, new = rng.partition("..")
    assert (table, prev, new) == ("cat.db.extracted", "123", "456")
    # first-batch handle has an empty prev → read_batch returns the table
    assert "cat.db.extracted@..789".partition("@")[2].partition("..")[0] == ""
    assert sink.key_columns == ["conv_id", "turn_idx"]


def test_documents_as_transcripts(spark):
    df = documents_as_transcripts(spark, "/root/testdata/sf0.001")
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    # 500 per-doc turns + 20 per-conversation digest turns (turn_idx 25)
    assert df.count() == 520
    assert df.filter("turn_idx = 25").count() == 20
    sample = df.select("text").first().text
    assert sample.startswith("<html")
    r = extract(sample)
    assert r.status == "ok"


def test_column_pruning_reaches_scan(spark, tmp_path):
    """The extraction plan must read only (conv_id, turn_idx, text) from
    parquet — ReadSchema pruning (SURVEY §4.2)."""
    path = str(tmp_path / "transcripts.parquet")
    synthetic_transcripts(spark, 2).write.parquet(path)
    df = spark.read.parquet(path)
    plan = extract_transcripts(df)._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"conv_id", "turn_idx", "text"}, read_cols


def test_arrow_batches_byte_bounded_for_whale_docs(spark):
    """maxBytesPerBatch (pipeline/session.py) bounds Arrow batches by BYTES,
    not just rows: a whale-document corpus (12 x ~8 MB) must arrive at the
    python stage split into multiple batches, each under the 32 MB cap plus
    slack — the 512-row cap alone would ship it as ONE ~100 MB batch."""
    import pyarrow as pa

    whale = (
        spark.range(12)
        .select(
            F.col("id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.concat(
                F.lit("<html><body><p>"),
                F.repeat(F.lit("whale text block. "), 450_000),
                F.lit("</p></body></html>"),
            ).alias("text"),
        )
        .coalesce(1)  # one partition -> splitting is purely the Arrow writer
    )

    def probe(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "nbytes": pa.array([b.nbytes], type=pa.int64()),
                    "rows": pa.array([b.num_rows], type=pa.int64()),
                }
            )

    out = whale.mapInArrow(probe, "nbytes long, rows long").collect()
    sizes = [r.nbytes for r in out]
    assert sum(r.rows for r in out) == 12
    assert len(sizes) >= 2, sizes  # byte cap split the partition
    assert max(sizes) <= 48 * 1024 * 1024, sizes  # 32 MB cap + slack


def test_whale_safe_batch_bounds_configured(spark):
    """All three row-batch knobs that assemble whole batches in memory are
    bounded to the whale-safe budget: Arrow python transfer, parquet
    vectorized reader, and the table-cache columnar builder (persist at
    ANY storage level builds batchSize-row column batches on-heap first —
    the 10k default OOMs on multi-KB text corpora)."""
    for key in (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.parquet.columnarReaderBatchSize",
        "spark.sql.inMemoryColumnarStorage.batchSize",
    ):
        assert int(spark.conf.get(key)) <= 512, key


_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from cl_readability_spark.core.config import ExtractorConfig
from cl_readability_spark.core.text import is_probably_visible
from cl_readability_spark.pipeline.resume import CheckpointedSink
from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

out_dir = sys.argv[1]
spark = (
    SparkSession.builder.master("local[2,3]")  # 2 threads, 3 task attempts
    .config("spark.driver.memory", "1g")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)


# not an Exception subclass: extract() turns those into status="error" rows
class InjectedFault(BaseException):
    pass


def failing_checker(mode, marker):
    def checker(element):
        ctx = TaskContext.get()
        if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
            open(marker, "w").close()
            if mode == "raise":
                raise InjectedFault("attempt 0 of partition 1")
            os._exit(1)
        return is_probably_visible(element)

    return checker


sc = spark.sparkContext
transcripts = synthetic_transcripts(spark, 12, seed=3)
keys = transcripts.select("conv_id", "turn_idx")
n = transcripts.count()
report = {"n": n}
for mode in ("raise", "exit"):
    marker = os.path.join(out_dir, f"fired-{mode}")
    sink = CheckpointedSink(os.path.join(out_dir, mode))
    config = ExtractorConfig(visibility_checker=failing_checker(mode, marker))
    sc.setJobGroup(mode, mode)
    rows = sink.run(transcripts, config=config, num_partitions=4)
    tracker = sc.statusTracker()
    failed_tasks = sum(
        tracker.getStageInfo(stage).numFailedTasks
        for job in tracker.getJobIdsForGroup(mode)
        for stage in tracker.getJobInfo(job).stageIds
    )
    written = sink.read(spark).select("conv_id", "turn_idx")
    (batch,) = sink.committed_batches()
    with open(os.path.join(batch, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    tally = {}
    for r in sink.read(spark).collect():
        t = tally.setdefault(
            r.status, {"rows": 0, "chars_in": 0, "chars_kept": 0, "retries": 0}
        )
        t["rows"] += 1
        t["chars_in"] += r.chars_in
        t["chars_kept"] += r.chars_kept
        t["retries"] += r.retries
    report[mode] = {
        "fired": os.path.exists(marker),
        "failed_tasks": failed_tasks,
        "rows": rows,
        "written": written.count(),
        "distinct": written.distinct().count(),
        "missing": keys.join(written, ["conv_id", "turn_idx"], "left_anti").count(),
        "manifest_rows": manifest["rows"],
        "by_status_is_tally": manifest["by_status"] == tally,
    }
print(json.dumps(report))
spark.stop()
"""


def test_task_retries_write_each_key_exactly_once(tmp_path):
    """A task that fails on its first attempt, by raising out of the
    worker or by killing the Python worker process, is retried, and the
    committed batch still holds every key exactly once.  The manifest's
    ``by_status`` (task accumulators of the write) equals a tally of the
    committed rows, so the failed attempt leaks nothing into the report.
    The fault comes from a visibility_checker that delegates to the
    default and fails attempt 0 of the extraction stage's partition 1, in
    its own session on a local[2,3] master (3 attempts per task)."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    env = {**os.environ, "PYTHONPATH": str(root)}
    run = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    report = json.loads(run.stdout.strip().splitlines()[-1])
    n = report["n"]
    assert n > 0
    for mode in ("raise", "exit"):
        r = report[mode]
        assert r["fired"], f"{mode}: the fault never fired"
        assert r == {
            "fired": True, "failed_tasks": 1, "rows": n, "written": n, "distinct": n,
            "missing": 0, "manifest_rows": n, "by_status_is_tally": True,
        }, mode
