"""Structured-streaming extraction (incremental, exactly-once) and
multimodal column plumbing tests."""

import pytest
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from cl_readability_spark.pipeline.multimodal import (
    decode_image_features,
    sample_video_frames,
    synthetic_media,
)
from cl_readability_spark.pipeline.streaming import (
    _empty_ids,
    _read_band_sink,
    streaming_extract,
)
from cl_readability_spark.pipeline.transcripts import (
    TRANSCRIPTS_SCHEMA,
    synthetic_transcripts,
)

pytestmark = pytest.mark.spark


# The python-state streaming near-dup gate and its batch reduction: the
# semantics reference that pipeline/streaming.py:streaming_near_dup_flags_jvm
# is pinned against below.  ``claim`` runs on python workers, which cannot
# import this module, so it stays a closure.


def streaming_near_dup_flags(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    state_ttl_ms: int | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming MinHash near-dup gate: the batch LSH's band signatures
    are computed per micro-batch by the STATELESS fused Arrow stage
    (``dedup.band_signature_stage``), then a custom stateful operator
    keyed on (band_idx, band_sig) assigns each LSH bucket a permanent
    OWNER — the first-arrived document, minimum-key within a micro-batch
    — and emits every band row flagged ``owned`` (doc == bucket owner).
    Reduce the sink with ``near_dup_kept_ids``: a doc is kept iff it
    owns ALL of its ``bands`` buckets, i.e. no earlier (or same-batch
    lower-key) document collided with it on any band.

    Why explicit ownership state instead of
    ``dropDuplicatesWithinWatermark`` on the bucket key: per-key
    dedup keeps an ARBITRARY winner within a micro-batch, so two copies
    arriving together could split the bucket wins and then NEITHER owns
    all its bands — both copies dropped, the document lost from the
    corpus entirely.  The min-key tie-break makes ownership
    deterministic and identical to the batch keep-one (minimum key per
    duplicate group): same-batch copies share every bucket, the minimum
    key wins each one, exactly one representative survives.

    Semantics — candidate-level, deliberately: recall of true near-dups
    follows the (bands, rows/band) LSH curve and a chance band collision
    false-drops at the same (tiny) rate the batch pipeline would pay in
    candidate verification.  The batch ``minhash_near_dups`` + keep-one
    over the corpus at rest remains the exact backstop (the pytest
    replays a corpus through both and asserts the kept sets agree).

    ``state_ttl_ms`` bounds bucket ownership by a processing-time
    horizon (the TTL twin of ``streaming_exact_dedup``'s watermark):
    an owner older than the TTL is treated as absent on read — the next
    claimant re-claims the bucket and is re-emitted; the at-rest batch
    dedup catches those.  Enforcement is deliberately READ-SIDE, not via
    GroupState timeouts: a pending timeout is canceled by new data (the
    expired owner would keep claiming), and a registered eviction timer
    keeps availableNow runs alive scheduling no-data batches.  The cost:
    expired state rows linger until a new claimant overwrites them, so
    the state FOOTPRINT is proportional to distinct buckets seen; at the
    10^12 target run the state on RocksDB
    (``spark.sql.streaming.stateStore.providerClass``) where that is a
    disk-resident LSM, and compact by periodically restarting from a
    fresh checkpoint with the batch gate as the bridge.  The input
    schema is taken from a static read of ``input_path`` (the streaming
    source requires an explicit schema), and the id column's SQL type is
    derived from it — the output/state schemas always agree with the
    input by construction.

    THROUGHPUT: this is the semantics-reference implementation — the
    per-bucket python state op costs ~55 µs/key (measured: 2,252 turns/s
    at 1M turns, 8.6M bucket keys).  The deployment-scale variant is
    ``streaming_near_dup_flags_jvm`` (watermarked JVM window aggregation,
    no python state), which this operator's pytest pins semantics
    against."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from cl_readability_spark.functions.dedup import band_signature_stage

    schema = spark.read.parquet(input_path).schema
    id_type = schema[id_col].dataType.simpleString()
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    banded = band_signature_stage(
        stream,
        id_col=id_col,
        text_col=text_col,
        k=k,
        n_hashes=n_hashes,
        bands=bands,
    )
    out_schema = f"{id_col} {id_type}, band_idx INT, owned BOOLEAN"
    state_schema = f"owner {id_type}, claimed_at LONG"

    def claim(key, pdfs, state: GroupState):
        import time as _time

        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        now_ms = int(_time.time() * 1000)
        owner = None
        if state.exists:
            owner, claimed_at = state.get
            # TTL is enforced HERE, on read, not via the timeout firing:
            # Spark cancels a pending timeout when new data arrives for
            # the key, so an expired-but-not-yet-evicted owner would
            # otherwise keep claiming its bucket forever.  The
            # ProcessingTimeTimeout below is only lazy state EVICTION.
            if state_ttl_ms is not None and now_ms - claimed_at > state_ttl_ms:
                owner = None
        if owner is None:
            owner = rows[id_col].min()  # deterministic same-batch tie-break
            state.update((owner, now_ms))
        yield pd.DataFrame(
            {
                id_col: rows[id_col],
                "band_idx": rows["band_idx"].astype("int32"),
                "owned": rows[id_col] == owner,
            }
        )

    flagged = banded.groupBy(F.col("band_idx"), F.col("band_sig")).applyInPandasWithState(
        claim,
        out_schema,
        state_schema,
        "append",
        # deliberately NoTimeout even with a TTL: a registered
        # ProcessingTimeTimeout keeps availableNow runs alive scheduling
        # no-data eviction batches (measured: 2-row incremental runs
        # pinned at the awaitTermination budget), and a timeout that
        # fires is CANCELED by new data anyway — so the TTL semantics
        # live entirely in the read-side check above.  Expired rows
        # linger until overwritten; see the docstring for the eviction
        # story at scale.
        GroupStateTimeout.NoTimeout,
    )
    writer = (
        flagged.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def near_dup_kept_ids(
    spark: SparkSession,
    bands_path: str,
    id_col: str = "doc_id",
):
    """Batch reduction of ``streaming_near_dup_flags`` output: the ids
    owning all their band buckets (kept set).  countDistinct over owned
    band indexes — NOT a raw row count, so a doc legitimately re-emitted
    after bucket-state expiry (its rows appear twice in the append-mode
    sink) still reduces to ``bands`` owned buckets.  The band count is
    derived from the sink itself (max band_idx + 1 — every doc emits all
    its band rows, so the maximum is exact): a hard-coded count that
    disagreed with what the producer ran with would silently return an
    empty or wrong kept set.  One pruned three-column scan + one
    groupBy."""
    from pyspark.sql import functions as F

    sink = _read_band_sink(spark, bands_path)
    if sink is None:
        return _empty_ids(spark, id_col)
    bands = sink.agg(F.max("band_idx")).first()[0]
    if bands is None:
        return sink.select(id_col).limit(0)
    return (
        sink.groupBy(id_col)
        .agg(
            F.count_distinct(
                F.when(F.col("owned"), F.col("band_idx"))
            ).alias("n_owned")
        )
        .filter(F.col("n_owned") == bands + 1)
        .select(id_col)
    )



def test_streaming_extract_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    df = synthetic_transcripts(spark, 4, seed=11)
    n1 = df.count()
    df.write.parquet(inp + "/batch1")

    # streaming source over the directory tree
    q = streaming_extract(spark, inp + "/*", out, cp)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out)
    assert got1.count() == n1
    assert "extracted_text" in got1.columns

    # new files arrive → only the increment is processed, no duplicates
    df2 = synthetic_transcripts(spark, 2, seed=99).withColumn(
        "conv_id", F.concat(F.lit("b2-"), F.col("conv_id"))
    )
    n2 = df2.count()
    df2.write.parquet(inp + "/batch2")
    q2 = streaming_extract(spark, inp + "/*", out, cp)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == n1 + n2
    assert final.select("conv_id", "turn_idx").distinct().count() == final.count()

    # rerun with nothing new → no growth (exactly-once)
    q3 = streaming_extract(spark, inp + "/*", out, cp)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1 + n2


def test_streaming_matches_batch(spark, tmp_path):
    from cl_readability_spark.pipeline.job import extract_transcripts

    inp = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    cp = str(tmp_path / "cp2")
    df = synthetic_transcripts(spark, 3, seed=5)
    df.write.parquet(inp)
    q = streaming_extract(spark, inp, out, cp)
    q.awaitTermination(120)

    stream_rows = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.status)
        for r in spark.read.parquet(out).collect()
    }
    batch_rows = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.status)
        for r in extract_transcripts(df).collect()
    }
    assert stream_rows == batch_rows


def _ndup_doc(i: int) -> str:
    # per-doc vocabulary → zero shared word 5-grams between originals
    return " ".join(f"w{i}x{j}" for j in range(30))


def _ndup_df(spark, rows):
    import datetime

    ts = datetime.datetime(2026, 1, 1, 12, 0, 0)
    return spark.createDataFrame(
        [(i, t, ts) for i, t in rows],
        "doc_id long, text string, ts timestamp",
    )


def test_media_near_dups_decodes_each_payload_exactly_once(spark):
    """The LSH plan references its input in 3 branches (signature stage +
    two vector joins) and the planted-copies union adds more — with no
    cross-branch subplan reuse, an unpinned feature frame re-runs the
    payload DECODE per branch (the dominant cost on real image corpora).
    The DISK_ONLY pin must hold decode at exactly ONE evaluation, and the
    pin must release through the standard handle."""
    from cl_readability_spark.functions.pins import release_pinned
    from cl_readability_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        media_feature_near_dups,
        synthetic_media,
    )

    acc = spark.sparkContext.accumulator(0)
    media = synthetic_media(spark, n=30)

    def _count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = media.mapInPandas(_count, MEDIA_SCHEMA)
    out = media_feature_near_dups(counted)
    n_pairs = out.count()
    assert n_pairs > 0
    assert acc.value == 30, f"decode input evaluated {acc.value}/30 rows"
    assert release_pinned(out) == 1


def test_near_dup_reduction_on_unflushed_sink_is_empty(spark, tmp_path):
    """A sink directory bearing only ``_spark_metadata`` — the shape a
    streaming file sink leaves before any window has flushed, routine
    under availableNow — must reduce to the documented empty kept set
    instead of raising a schema-inference AnalysisException (ADVICE r5:
    the empty-sink guard was unreachable in that state).  A BARE empty
    directory is NOT that shape: it is most likely a mistyped path, and
    must raise rather than silently read as an empty corpus (ADVICE r6
    tightened this — the r5 fix accepted any empty dir).  A genuinely
    missing path still raises PATH_NOT_FOUND."""
    from pyspark.sql.utils import AnalysisException

    from cl_readability_spark.pipeline.streaming import near_dup_kept_ids_windowed

    bare = tmp_path / "bare"
    bare.mkdir()
    unflushed = tmp_path / "unflushed"
    (unflushed / "_spark_metadata").mkdir(parents=True)
    for reducer in (near_dup_kept_ids, near_dup_kept_ids_windowed):
        kept = reducer(spark, str(unflushed))
        assert kept.columns == ["doc_id"]
        assert kept.count() == 0
        # bare empty dir: mistyped-path protection — must raise
        with pytest.raises(AnalysisException):
            reducer(spark, str(bare)).count()
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            reducer(spark, str(tmp_path / "missing"))
    # the recovery hook on an unflushed sink: the ENTIRE corpus is
    # unjudged (nothing was ever aggregated) — route it all to the batch
    # backstop rather than treating it as dropped
    from cl_readability_spark.pipeline.streaming import near_dup_unjudged_ids

    corpus = spark.createDataFrame([(1,), (2,)], "doc_id long")
    unjudged = {
        r.doc_id
        for r in near_dup_unjudged_ids(spark, str(unflushed), corpus).collect()
    }
    assert unjudged == {1, 2}
    with pytest.raises(AnalysisException):
        near_dup_unjudged_ids(spark, str(bare), corpus).collect()


def test_streaming_near_dup_matches_batch_keep_one(spark, tmp_path):
    """Replay a planted corpus (distinct originals, later exact copies)
    through the streaming near-dup gate and through the batch pipeline
    (minhash_near_dups → dup_clusters keep-one): the kept sets agree.
    Copies arriving in a LATER trigger run against the same checkpoint
    are still dropped — the bucket-claim state survives restarts."""
    from cl_readability_spark.functions.dedup import dup_clusters, minhash_near_dups

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    # doc 300 is a SAME-MICRO-BATCH copy of doc 5: both arrive in run 1,
    # so the min-key ownership tie-break must keep exactly doc 5 (an
    # arbitrary-winner dedup could split the bucket wins and drop BOTH —
    # the content-loss failure mode this operator exists to avoid)
    originals = [(i, _ndup_doc(i)) for i in range(10)] + [(300, _ndup_doc(5))]
    copies = [(100 + i, _ndup_doc(i)) for i in range(5)]
    late = [(200, _ndup_doc(0)), (207, _ndup_doc(7)),
            (20, _ndup_doc(20)), (21, _ndup_doc(21))]

    # run 1: originals + the same-batch copy
    _ndup_df(spark, originals).write.parquet(inp + "/b1")
    streaming_near_dup_flags(spark, inp + "/*", out, cp).awaitTermination(120)
    # run 2: exact copies — all 8 band buckets already owned
    _ndup_df(spark, copies).write.parquet(inp + "/b2")
    streaming_near_dup_flags(spark, inp + "/*", out, cp).awaitTermination(120)

    kept = {r.doc_id for r in near_dup_kept_ids(spark, out).collect()}
    all_docs = _ndup_df(spark, originals + copies)
    clusters = dup_clusters(
        minhash_near_dups(all_docs, jaccard_threshold=0.9).select("id_a", "id_b")
    )
    batch_dropped = {
        r.id for r in clusters.filter(F.col("id") != F.col("cluster_rep")).collect()
    }
    batch_kept = {i for i, _ in originals + copies} - batch_dropped
    assert kept == batch_kept == set(range(10))  # 300 and 100.. dropped

    # run 3 (restart): late copies of docs 0 and 7 + genuinely new docs —
    # the claim state persisted in the checkpoint, so only the new
    # originals join the kept set
    _ndup_df(spark, late).write.parquet(inp + "/b3")
    streaming_near_dup_flags(spark, inp + "/*", out, cp).awaitTermination(120)
    kept3 = {r.doc_id for r in near_dup_kept_ids(spark, out).collect()}
    assert kept3 == set(range(10)) | {20, 21}

    all3 = _ndup_df(spark, originals + copies + late)
    clusters3 = dup_clusters(
        minhash_near_dups(all3, jaccard_threshold=0.9).select("id_a", "id_b")
    )
    dropped3 = {
        r.id for r in clusters3.filter(F.col("id") != F.col("cluster_rep")).collect()
    }
    assert kept3 == {i for i, _ in originals + copies + late} - dropped3


def test_streaming_near_dup_jvm_gate_matches_batch_keep_one(spark, tmp_path):
    """The deployment-scale JVM gate (watermarked window aggregation, no
    python state): within one event-time window it must reproduce the
    batch keep-one exactly — including the same-micro-batch copy that
    the min-key tie-break exists for — and across windows it must
    suppress docs whose buckets were claimed in an earlier window
    (first-window-wins).  Windows are flushed by later event time per
    the append-mode contract, so each assertion follows a batch whose
    timestamps close the prior window."""
    import datetime

    from cl_readability_spark.pipeline.streaming import (
        near_dup_kept_ids_windowed,
        streaming_near_dup_flags_jvm,
    )

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))

    def batch(rows, hour, minute=0):
        ts = datetime.datetime(2026, 1, 1, hour, minute, 0)
        return spark.createDataFrame(
            [(i, t, ts) for i, t in rows],
            "doc_id long, text string, ts timestamp",
        )

    def run():
        q = streaming_near_dup_flags_jvm(spark, inp + "/*", out, cp)
        q.awaitTermination(120)
        q.stop()

    # window 1 (12:00-13:00): originals, a same-batch copy of doc 5, a
    # same-window-later-batch HIGHER-id copy of doc 3, and a later-batch
    # LOWER-id copy of doc 7 — the documented window-wide min semantics:
    # the aggregation state merges across triggers of an open window, so
    # the lower key wins the bucket even when it arrives second (the
    # python reference gate would keep the first claimant instead; both
    # keep exactly one member of the group)
    batch([(i + 2, _ndup_doc(i)) for i in range(10)] + [(300, _ndup_doc(5))], 12).write.parquet(inp + "/b1")
    batch([(105, _ndup_doc(3)), (1, _ndup_doc(7))], 12, 30).write.parquet(inp + "/b2")
    run()
    # window 1 is still open — nothing emitted yet (append-mode contract)
    # window 2 (14:00-15:00): a cross-window copy of doc 0 + new docs;
    # its event time closes window 1
    batch(
        [(200, _ndup_doc(0)), (20, _ndup_doc(20)), (21, _ndup_doc(21))], 14, 30
    ).write.parquet(inp + "/b3")
    run()
    kept1 = {r.doc_id for r in near_dup_kept_ids_windowed(spark, out).collect()}
    # window-wide batch keep-one: min id owns every bucket of its group —
    # content 5's group {7, 300} keeps 7, content 3's {5, 105} keeps 5,
    # content 7's {9, 1} keeps the LATER-ARRIVED lower id 1 (the merged-
    # state semantics the docstring contracts)
    expected1 = (set(range(2, 12)) - {9}) | {1}
    assert kept1 == expected1, kept1

    # horizon batch (17:00) closes window 2; the sentinel itself stays
    # pending in the still-open 17:00 window
    batch([(9999, _ndup_doc(9999))], 17).write.parquet(inp + "/b4")
    run()
    kept2 = {r.doc_id for r in near_dup_kept_ids_windowed(spark, out).collect()}
    # 200's buckets were all first seen in window 1 → suppressed;
    # 20/21 are new → kept.  Identical to the batch keep-one over the
    # union minus the pending sentinel.
    assert kept2 == expected1 | {20, 21}, kept2


def test_jvm_gate_late_data_contract_and_batch_backstop(spark, tmp_path):
    """Quantifies the JVM gate's late-data contract (VERDICT r5 #5) with
    planted late rows: rows with event time older than the watermark are
    dropped by the window aggregation — they appear in NEITHER the kept
    set nor the sink at all, unlike the python reference gate, which has
    no watermark and judges them.  The pinned recovery path: such docs
    surface via ``near_dup_unjudged_ids`` (no sink rows) and the at-rest
    batch gate over unjudged ∪ kept reproduces the python gate's verdict
    exactly — the kept-set delta between the two streaming gates is
    closed by the backstop, never silently lost."""
    import datetime

    from cl_readability_spark.functions.dedup import dup_clusters, minhash_near_dups
    from cl_readability_spark.pipeline.streaming import (
        near_dup_kept_ids_windowed,
        near_dup_unjudged_ids,
        streaming_near_dup_flags_jvm,
    )

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))

    def batch(rows, hour, minute=0):
        ts = datetime.datetime(2026, 1, 1, hour, minute, 0)
        return spark.createDataFrame(
            [(i, t, ts) for i, t in rows],
            "doc_id long, text string, ts timestamp",
        )

    def run_jvm():
        q = streaming_near_dup_flags_jvm(spark, inp + "/*", out, cp)
        assert q.awaitTermination(120)
        q.stop()

    # window 12:00-13:00: ten originals
    b1 = [(10 + i, _ndup_doc(i)) for i in range(10)]
    # 14:30 advances the watermark to 14:20, closing window 12-13
    b2 = [(20, _ndup_doc(20)), (21, _ndup_doc(21))]
    # LATE: event time 12:15 < watermark — 500 duplicates content 0
    # (python gate would drop it), 501 is NEW content (python gate would
    # keep it — this is the content the backstop must recover)
    late = [(500, _ndup_doc(0)), (501, _ndup_doc(501))]
    # horizon: closes window 14-15; itself stays pending
    horizon = [(9999, _ndup_doc(9999))]

    batch(b1, 12).write.parquet(inp + "/b1")
    run_jvm()
    batch(b2, 14, 30).write.parquet(inp + "/b2")
    run_jvm()
    batch(late, 12, 15).write.parquet(inp + "/b3")
    run_jvm()
    batch(horizon, 17).write.parquet(inp + "/b4")
    run_jvm()

    kept_jvm = {r.doc_id for r in near_dup_kept_ids_windowed(spark, out).collect()}
    assert kept_jvm == set(range(10, 20)) | {20, 21}, kept_jvm
    # the late rows were dropped BEFORE the aggregation: zero sink rows
    sink_ids = {
        r.doc_id
        for r in spark.read.parquet(out).select("doc_id").distinct().collect()
    }
    assert sink_ids.isdisjoint({500, 501})

    # the recovery hook surfaces exactly the never-judged docs:
    # the two late rows + the pending horizon sentinel
    corpus = batch(b1, 12).unionByName(batch(b2, 14, 30)).unionByName(
        batch(late, 12, 15)
    ).unionByName(batch(horizon, 17))
    unjudged = {r.doc_id for r in near_dup_unjudged_ids(spark, out, corpus).collect()}
    assert unjudged == {500, 501, 9999}, unjudged

    # the python reference gate (stateful, no watermark) judges the same
    # replay: late dup 500 dropped, late original 501 kept — the kept-set
    # delta vs the JVM gate is exactly the unjudged originals
    out2, cp2 = str(tmp_path / "out2"), str(tmp_path / "cp2")
    q = streaming_near_dup_flags(spark, inp + "/*", out2, cp2)
    assert q.awaitTermination(240)
    kept_py = {r.doc_id for r in near_dup_kept_ids(spark, out2).collect()}
    assert kept_py == kept_jvm | {501, 9999}
    assert kept_py - kept_jvm <= unjudged  # delta ⊆ what the hook surfaces

    # documented backstop: batch keep-one over kept ∪ unjudged closes the
    # delta — final kept set equals the python gate's (and pure batch's)
    backstop_corpus = corpus.filter(
        F.col("doc_id").isin(sorted(kept_jvm | unjudged))
    ).select("doc_id", "text")
    clusters = dup_clusters(
        minhash_near_dups(backstop_corpus, jaccard_threshold=0.9).select(
            "id_a", "id_b"
        )
    )
    dropped = {
        r.id for r in clusters.filter(F.col("id") != F.col("cluster_rep")).collect()
    }
    final_kept = (kept_jvm | unjudged) - dropped
    assert final_kept == kept_py, (final_kept, kept_py)


def test_streaming_near_dup_jvm_gate_on_rocksdb_state_store(spark, tmp_path):
    """The operator docs contract RocksDB-backed state at the 10^12
    target — exercise the JVM gate end-to-end under
    RocksDBStateStoreProvider (a runtime-settable SQL conf, picked up at
    query start), not just the default HDFS-backed provider: ingest +
    horizon flush + reduction, same-batch duplicate suppressed."""
    import datetime

    from cl_readability_spark.pipeline.streaming import (
        near_dup_kept_ids_windowed,
        streaming_near_dup_flags_jvm,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
        t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
        spark.createDataFrame(
            [(i, _ndup_doc(i), t0) for i in range(5)]
            + [(100, _ndup_doc(2), t0)],
            "doc_id long, text string, ts timestamp",
        ).write.parquet(inp + "/b1")
        q = streaming_near_dup_flags_jvm(spark, inp + "/*", out, cp)
        try:
            assert q.awaitTermination(120), "ingest run timed out"
        finally:
            q.stop()
        horizon = datetime.datetime(2026, 1, 1, 15, 0, 0)
        spark.createDataFrame(
            [(999, _ndup_doc(999), horizon)],
            "doc_id long, text string, ts timestamp",
        ).write.parquet(inp + "/b2")
        q = streaming_near_dup_flags_jvm(spark, inp + "/*", out, cp)
        try:
            assert q.awaitTermination(120), "flush run timed out"
        finally:
            q.stop()
        kept = {r.doc_id for r in near_dup_kept_ids_windowed(spark, out).collect()}
        assert kept == set(range(5)), kept
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_streaming_near_dup_state_ttl_reemits_after_expiry(spark, tmp_path):
    """The documented horizon contract: with a state TTL, bucket owners
    expire after idle time, so a duplicate arriving in a later trigger
    run RE-CLAIMS the buckets and is re-emitted as kept — the at-rest
    batch dedup is the backstop for those.  (Without TTL the same doc is
    dropped — covered by the main equivalence test.)"""
    import time

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    _ndup_df(spark, [(1, _ndup_doc(1))]).write.parquet(inp + "/b1")
    q = streaming_near_dup_flags(spark, inp + "/*", out, cp, state_ttl_ms=1000)
    q.awaitTermination(120)
    q.stop()
    time.sleep(2)  # let the 1 s ownership TTL lapse between trigger runs
    _ndup_df(spark, [(100, _ndup_doc(1))]).write.parquet(inp + "/b2")
    q = streaming_near_dup_flags(spark, inp + "/*", out, cp, state_ttl_ms=1000)
    q.awaitTermination(120)
    q.stop()
    kept = {r.doc_id for r in near_dup_kept_ids(spark, out).collect()}
    # the expired owner's buckets were re-claimed: BOTH emitted as kept
    assert kept == {1, 100}


def test_media_schema_and_fake_features(spark):
    media = synthetic_media(spark, n=30)
    assert media.count() == 30
    feats = decode_image_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert r.status == "ok"
        assert len(r.features) == 16
        assert all(0.0 <= f < 1.0 for f in r.features)
    # determinism
    again = {r.doc_id: tuple(r.features) for r in decode_image_features(media).collect()}
    first = {r.doc_id: tuple(r.features) for r in rows}
    assert again == first


def test_media_real_decode_is_explicit_stub(spark):
    media = synthetic_media(spark, n=3)
    with pytest.raises(Exception) as exc_info:
        decode_image_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or "PIL" in str(exc_info.value)


def test_video_frame_sampling(spark):
    media = synthetic_media(spark, n=30)
    frames = sample_video_frames(media, every_ms=1000)
    rows = frames.collect()
    assert rows  # every 3rd row is a video
    for r in rows:
        assert r.n_frames == len(r.frame_offsets_ms)
        assert r.frame_offsets_ms[0] == 0
        diffs = {
            b - a for a, b in zip(r.frame_offsets_ms, r.frame_offsets_ms[1:])
        }
        assert diffs <= {1000}


def test_media_feature_join_with_embeddings_shape(spark):
    """Features are joinable/usable downstream like any embedding column."""
    media = synthetic_media(spark, n=12)
    feats = decode_image_features(media)
    sim = feats.select(
        "doc_id",
        F.aggregate(
            F.col("features"), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        ).alias("sq_norm"),
    )
    rows = sim.collect()
    assert all(r.sq_norm > 0 for r in rows)


def test_streaming_windowed_rollup(spark, tmp_path):
    from cl_readability_spark.pipeline.streaming import streaming_turn_rollup

    inp = str(tmp_path / "in3")
    out = str(tmp_path / "out3")
    cp = str(tmp_path / "cp3")
    df = synthetic_transcripts(spark, 3, seed=8)
    df.write.parquet(inp)
    q = streaming_turn_rollup(spark, inp, out, cp)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # matches the batch windowed aggregation exactly
    batch = (
        df.groupBy(F.window("ts", "1 hour"), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"), F.sum(F.length("text")).alias("total_chars"))
        .select(F.col("window.start").alias("window_start"), "conv_id", "n_turns", "total_chars")
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    # append mode only emits windows the final watermark has passed; the
    # emitted set must be a non-empty, exact subset of the batch aggregation
    assert a <= b
    assert len(a) > 0


def test_streaming_stateful_sessions(spark, tmp_path):
    from cl_readability_spark.pipeline.streaming import streaming_conversation_sessions

    inp = str(tmp_path / "in4")
    out = str(tmp_path / "out4")
    cp = str(tmp_path / "cp4")
    df = synthetic_transcripts(spark, 3, seed=13)
    df.write.parquet(inp)
    q = streaming_conversation_sessions(spark, inp, out, cp)
    # availableNow + ProcessingTimeTimeout keeps the query alive waiting for
    # state timeouts; the running totals are committed after the first
    # micro-batch — bound the wait and stop explicitly
    import time

    expected = {
        (r.conv_id, r.n, r.chars)
        for r in df.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("chars"))
        .collect()
    }

    def committed_state():
        try:
            rows = spark.read.parquet(out).filter(~F.col("closed")).collect()
        except Exception:
            return set()
        return {(r.conv_id, r.n_turns, r.total_chars) for r in rows}

    deadline = time.time() + 150
    final_state = set()
    while time.time() < deadline:
        final_state = committed_state()
        if expected <= final_state or not q.isActive:
            break
        time.sleep(2)
    if q.isActive:
        q.stop()
    q.awaitTermination(30)
    final_state = committed_state() or final_state
    assert expected <= final_state  # running totals reach the batch truth


def test_streaming_rollup_drops_late_data_past_watermark(spark, tmp_path):
    """Watermark semantics across checkpointed restarts: a row arriving
    2 days older than the committed watermark is dropped by the append-mode
    windowed aggregation, not silently merged into a re-emitted window."""
    import datetime

    from cl_readability_spark.pipeline.streaming import streaming_turn_rollup

    inp = str(tmp_path / "in5")
    out = str(tmp_path / "out5")
    cp = str(tmp_path / "cp5")

    base = datetime.datetime(2026, 3, 1, 12, 0, 0)
    rows1 = [
        ("c1", i, "user", "hello world", None, base + datetime.timedelta(minutes=i))
        for i in range(5)
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    spark.createDataFrame(rows1, schema).write.parquet(inp + "/b1")
    q = streaming_turn_rollup(spark, inp + "/*", out, cp, watermark="10 minutes",
                              window_size="1 hour")
    q.awaitTermination(120)

    # phase 2: one on-time row plus one 2-days-late row for an old window
    rows2 = [
        ("c1", 10, "user", "on time", None, base + datetime.timedelta(minutes=20)),
        ("late", 0, "user", "way too late", None, base - datetime.timedelta(days=2)),
    ]
    spark.createDataFrame(rows2, schema).write.parquet(inp + "/b2")
    q2 = streaming_turn_rollup(spark, inp + "/*", out, cp, watermark="10 minutes",
                               window_size="1 hour")
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    # the late conv's 2-day-old window must never have been emitted
    assert got.filter(F.col("conv_id") == "late").count() == 0


def test_media_feature_near_dups_composition(spark):
    """Multimodal features flow into the banded-LSH dedup stack: planted
    exact copies are found at cosine 1.0; output pairs respect the
    threshold."""
    from cl_readability_spark.pipeline.multimodal import (
        media_feature_near_dups,
        synthetic_media,
    )

    media = synthetic_media(spark, n=45)
    pairs = media_feature_near_dups(media, threshold=0.98).collect()
    planted = [r for r in pairs if r.id_b == r.id_a + 1_000_000]
    n_expected = sum(1 for r in media.collect() if r.doc_id % 3 == 0)
    assert len(planted) == n_expected  # identical copies: guaranteed recall
    assert all(r.cosine_sim_x10k >= 9800 for r in pairs)


def test_media_planted_query_pin_lifecycle(spark):
    """The media_planted registry entry must not accrete executor
    storage across repeated harness evaluations (driver/bench run query
    entries many times and never call release_pinned): each invocation
    releases the previous one's decode pin, so outstanding pins stay
    bounded at ONE per session, and releasing the last handle returns
    storage to baseline."""
    from cl_readability_spark.functions.pins import (
        pins_outstanding,
        release_pinned,
    )
    from cl_readability_spark.functions.sqltwins import q_media_planted

    from cl_readability_spark.functions.pins import release_all_pins

    # a prior test in this session may itself have run q_media_planted
    # (the oracle rehearsal does) and left the one rotating pin — start
    # from a clean session so the baseline is unambiguous
    release_all_pins(spark)
    jsc = spark.sparkContext._jsc.sc()
    base_cached = jsc.getPersistentRDDs().size()
    last = None
    for _ in range(3):
        last = q_media_planted(spark, "/root/testdata/sf0.001")
        assert last.count() > 0
        # however many times the harness evaluates, exactly ONE media
        # pin is outstanding
        assert pins_outstanding(spark) == 1
    assert release_pinned(last) == 1
    assert pins_outstanding(spark) == 0
    # storage really returns to baseline: the query's cached RDDs are gone
    assert jsc.getPersistentRDDs().size() <= base_cached


def test_resize_images_plumbing(spark):
    """Resize stub: deterministic payloads of exactly w*h bytes for images,
    skip markers for other kinds, loud NotImplementedError in real mode."""
    from cl_readability_spark.pipeline.multimodal import resize_images, synthetic_media

    media = synthetic_media(spark, n=12)
    out = resize_images(media, width=32, height=16).collect()
    assert len(out) == 12
    for r in out:
        if r.kind == "image":
            assert r.status == "ok" and len(r.payload) == 32 * 16
        else:
            assert r.status in ("skipped", "null_payload") and r.payload is None
    # determinism
    again = {r.doc_id: bytes(r.payload) for r in resize_images(media, 32, 16).collect() if r.payload}
    first = {r.doc_id: bytes(r.payload) for r in out if r.payload}
    assert again == first
    with pytest.raises(Exception) as e:
        resize_images(media, fake=False).collect()
    assert "NotImplementedError" in str(e.value) or "PIL" in str(e.value)


def test_streaming_exact_dedup_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per content fingerprint
    ACROSS restarts/micro-batches (state lives in the checkpoint): batch 2
    re-sends batch 1's text and adds a fresh one — only the fresh row
    lands."""
    import datetime

    from cl_readability_spark.pipeline.streaming import streaming_exact_dedup

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    ts = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows1 = [
        ("c1", 0, "assistant", "the same text body", None, ts),
        ("c1", 1, "assistant", "the same text body", None, ts),  # intra-batch dup
        ("c2", 0, "assistant", "a different text", None, ts),
    ]
    spark.createDataFrame(rows1, TRANSCRIPTS_SCHEMA).write.parquet(inp + "/b1")
    q = streaming_exact_dedup(spark, inp + "/*", out, cp, watermark="2 hours")
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    assert first.count() == 2  # one per fingerprint

    rows2 = [
        ("c3", 0, "assistant", "the same text body", None,
         ts + datetime.timedelta(minutes=10)),  # cross-batch dup -> dropped
        ("c4", 0, "assistant", "a brand new text", None,
         ts + datetime.timedelta(minutes=10)),
    ]
    spark.createDataFrame(rows2, TRANSCRIPTS_SCHEMA).write.parquet(inp + "/b2")
    q2 = streaming_exact_dedup(spark, inp + "/*", out, cp, watermark="2 hours")
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 3
    texts = sorted(r.text for r in final.select("text").collect())
    assert texts == ["a brand new text", "a different text", "the same text body"]


def _conv_batch(spark, rows, hour, minute=0):
    """rows: [(conv_id, turn_idx, role, text, tool, +sec)] at the given
    wall hour (event time = hour:minute + sec)."""
    import datetime

    base = datetime.datetime(2026, 1, 1, hour, minute, 0)
    return spark.createDataFrame(
        [
            (c, i, r, t, tool, base + datetime.timedelta(seconds=s))
            for (c, i, r, t, tool, s) in rows
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_streaming_conversation_flags_matches_batch(spark, tmp_path):
    """The streaming conversation gate (session-window aggregation +
    array-derived adjacency rules) must equal the batch
    conversation_flags column-for-column for conversations whose turns
    fall inside one session window — including a conversation each
    integrity rule rejects.  Sessions flush when later event time
    passes the watermark (append-mode contract)."""
    from cl_readability_spark.functions.transcript_quality import (
        conversation_flags,
    )
    from cl_readability_spark.pipeline.streaming import (
        streaming_conversation_flags,
    )

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    rows = [
        # clean conversation
        ("ok", 0, "user", "hello there", None, 0),
        ("ok", 1, "assistant", "calling", None, 30),
        ("ok", 2, "tool", "result", "calc", 31),
        ("ok", 3, "assistant", "done", None, 60),
        # same-speaker violation
        ("viol", 0, "user", "a", None, 0),
        ("viol", 1, "user", "b", None, 10),
        # turn_idx gap
        ("gap", 0, "user", "a", None, 0),
        ("gap", 2, "assistant", "b", None, 10),
        # backwards timestamp
        ("back", 0, "user", "a", None, 100),
        ("back", 1, "assistant", "b", None, 40),
        # empty-turn mass over the default 2000 bp (1 of 2)
        ("empty", 0, "user", "a", None, 0),
        ("empty", 1, "assistant", " \t ", None, 10),
    ]
    corpus = _conv_batch(spark, rows, 12)
    corpus.write.parquet(inp + "/b1")

    def run():
        q = streaming_conversation_flags(spark, inp + "/*", out, cp)
        q.awaitTermination(120)
        q.stop()

    run()
    # horizon batch advances the watermark past every session's end
    _conv_batch(
        spark, [("horizon", 0, "user", "x", None, 0)], 17
    ).write.parquet(inp + "/b2")
    run()

    got = {
        r["conv_id"]: r.asDict() for r in spark.read.parquet(out).collect()
    }
    assert set(got) == {"ok", "viol", "gap", "back", "empty"}  # horizon pending
    want = {
        r["conv_id"]: r.asDict()
        for r in conversation_flags(corpus).collect()
    }
    for c, exp in want.items():
        for k, v in exp.items():
            assert got[c][k] == v, (c, k, got[c][k], v)
    assert got["ok"]["conv_ok"]
    assert not any(
        got[c]["conv_ok"] for c in ("viol", "gap", "back", "empty")
    )


def test_streaming_conversation_flags_late_data_and_stale_ids(spark, tmp_path):
    """Late-data contract + recovery hook: a turn older than the
    advanced watermark is dropped by the session aggregation, so its
    conversation's emitted flags describe the on-time turns only —
    conversation_flags_stale_ids surfaces exactly the affected
    conversations (count mismatch or pending) for the batch backstop,
    and the batch gate over the full corpus gives the true verdict."""
    from cl_readability_spark.functions.transcript_quality import (
        conversation_flags,
    )
    from cl_readability_spark.pipeline.streaming import (
        conversation_flags_stale_ids,
        streaming_conversation_flags,
    )

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    b1 = [
        ("c1", 0, "user", "hi", None, 0),
        ("c1", 1, "assistant", "yo", None, 10),
        ("c2", 0, "user", "aa", None, 0),
    ]
    _conv_batch(spark, b1, 12).write.parquet(inp + "/b1")

    def run():
        q = streaming_conversation_flags(spark, inp + "/*", out, cp)
        q.awaitTermination(120)
        q.stop()

    run()
    # horizon closes the 12:00 sessions, THEN c2's second turn arrives
    # with 12:00-era event time — far older than the watermark: dropped
    _conv_batch(
        spark, [("h", 0, "user", "x", None, 0)], 17
    ).write.parquet(inp + "/b2")
    run()
    late = [("c2", 1, "assistant", "late reply", None, 20)]
    _conv_batch(spark, late, 12).write.parquet(inp + "/b3")
    run()

    sink = {r["conv_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert sink["c2"]["n_turns"] == 1  # the late turn is NOT in the verdict
    assert not sink["c2"]["conv_ok"]  # 1 on-time turn < min_turns

    corpus = _conv_batch(spark, b1 + late, 12).unionByName(
        _conv_batch(spark, [("h", 0, "user", "x", None, 0)], 17)
    )
    stale = {
        r["conv_id"]
        for r in conversation_flags_stale_ids(spark, out, corpus).collect()
    }
    # c2: sink saw 1 of its 2 turns; h: still pending — both stale; c1 not
    assert stale == {"c2", "h"}
    # the batch backstop over the full corpus gives the true verdict
    batch = {
        r["conv_id"]: r.asDict() for r in conversation_flags(corpus).collect()
    }
    assert batch["c2"]["n_turns"] == 2 and batch["c2"]["conv_ok"]


def test_streaming_conversation_flags_session_split(spark, tmp_path):
    """A conversation idle longer than session_gap emits one gated row
    per session — the documented per-session semantics (pick the gap
    above the corpus's max idle for whole-conversation rows)."""
    from cl_readability_spark.pipeline.streaming import (
        streaming_conversation_flags,
    )

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    rows1 = [
        ("s", 0, "user", "first burst", None, 0),
        ("s", 1, "assistant", "reply", None, 10),
    ]
    # second burst 2 hours later — far beyond the 30-minute gap
    rows2 = [
        ("s", 2, "user", "second burst", None, 0),
        ("s", 3, "assistant", "reply two", None, 10),
    ]
    _conv_batch(spark, rows1, 12).write.parquet(inp + "/b1")
    _conv_batch(spark, rows2, 14).write.parquet(inp + "/b2")
    _conv_batch(spark, [("h", 0, "user", "x", None, 0)], 19).write.parquet(
        inp + "/b3"
    )
    q = streaming_conversation_flags(spark, inp + "/*", out, cp)
    q.awaitTermination(120)
    q.stop()
    rows = [
        r.asDict()
        for r in spark.read.parquet(out).filter(F.col("conv_id") == "s").collect()
    ]
    assert len(rows) == 2
    by_start = sorted(rows, key=lambda r: r["session_start"])
    assert [r["n_turns"] for r in by_start] == [2, 2]
    # the second session starts at turn_idx 2 → idx_contiguous False there
    assert by_start[0]["idx_contiguous"] and not by_start[1]["idx_contiguous"]


def test_streaming_conversation_flags_subsecond_inversion(spark, tmp_path):
    """ADVICE r7: the streaming gate used unix_timestamp (second-
    truncated) epochs for ts_monotonic, so a SUB-second timestamp
    inversion passed streaming but failed batch.  The struct now carries
    the raw timestamp — both gates must reject a 10.5s -> 10.2s
    inversion, and the rows must stay column-for-column equal."""
    from cl_readability_spark.functions.transcript_quality import (
        conversation_flags,
    )
    from cl_readability_spark.pipeline.streaming import (
        streaming_conversation_flags,
    )

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    rows = [
        ("subsec", 0, "user", "first turn", None, 10.5),
        ("subsec", 1, "assistant", "second turn", None, 10.2),
        ("fine", 0, "user", "first turn", None, 20.2),
        ("fine", 1, "assistant", "second turn", None, 20.5),
    ]
    corpus = _conv_batch(spark, rows, 12)
    corpus.write.parquet(inp + "/b1")
    q = streaming_conversation_flags(spark, inp + "/*", out, cp)
    q.awaitTermination(120)
    q.stop()
    _conv_batch(
        spark, [("horizon", 0, "user", "x", None, 0)], 17
    ).write.parquet(inp + "/b2")
    q = streaming_conversation_flags(spark, inp + "/*", out, cp)
    q.awaitTermination(120)
    q.stop()

    got = {
        r["conv_id"]: r.asDict() for r in spark.read.parquet(out).collect()
    }
    want = {
        r["conv_id"]: r.asDict() for r in conversation_flags(corpus).collect()
    }
    assert not want["subsec"]["ts_monotonic"]  # batch rejects sub-second
    assert want["fine"]["ts_monotonic"]
    for c, exp in want.items():
        for k, v in exp.items():
            assert got[c][k] == v, (c, k, got[c][k], v)


def test_streaming_url_dedup_across_microbatches(spark, tmp_path):
    """One row per CANONICAL url across micro-batches (variants merge,
    state in the checkpoint); NULL-url rows are never deduped against
    each other; late variants of an already-seen page are dropped on
    the second run."""
    import datetime

    from cl_readability_spark.pipeline.streaming import streaming_url_dedup

    inp, out, cp = (str(tmp_path / d) for d in ("in", "out", "cp"))
    ts = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows1 = [
        ("c1", 0, "assistant", "text a", None, ts,
         "http://A.com/x?utm_source=1"),
        ("c1", 1, "assistant", "text b", None, ts,
         "http://a.com/x/"),            # same canon -> intra-batch dup
        ("c2", 0, "assistant", "text c", None, ts, None),   # no url: kept
        ("c2", 1, "assistant", "text d", None, ts, None),   # no url: kept
        ("c3", 0, "assistant", "text e", None, ts, "http://b.com/y"),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, " \
             "tool string, ts timestamp, url string"
    spark.createDataFrame(rows1, schema).write.parquet(inp + "/b1")
    q = streaming_url_dedup(spark, inp + "/*", out, cp, watermark="2 hours")
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    assert first.count() == 4  # 1 per page (a.com/x, b.com/y) + 2 no-url
    assert first.filter("url is null").count() == 2
    assert (
        first.filter("canon_url = 'http://a.com/x'").count() == 1
    )

    rows2 = [
        ("c4", 0, "assistant", "text f", None,
         ts + datetime.timedelta(minutes=10),
         "http://a.com/x?utm_medium=m"),  # cross-batch variant -> dropped
        ("c5", 0, "assistant", "text g", None,
         ts + datetime.timedelta(minutes=10), "http://c.com/z"),  # fresh
        ("c5", 1, "assistant", "text h", None,
         ts + datetime.timedelta(minutes=10), ""),  # blank url: kept
    ]
    spark.createDataFrame(rows2, schema).write.parquet(inp + "/b2")
    q2 = streaming_url_dedup(spark, inp + "/*", out, cp, watermark="2 hours")
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 6
    assert final.filter("canon_url = 'http://a.com/x'").count() == 1
    assert final.filter("canon_url = 'http://c.com/z'").count() == 1


def test_streaming_sft_examples_matches_batch(spark, tmp_path):
    """Close-only streaming SFT assembly reaches column-for-column batch
    parity — including when turns arrive OUT OF ORDER within the
    conversation (the input file is written with turn order scrambled;
    the state sorts by turn_idx at session close)."""
    import datetime
    import random
    import time

    from cl_readability_spark.functions.sft import sft_examples
    from cl_readability_spark.pipeline.streaming import (
        streaming_sft_examples,
    )

    rng = random.Random(41)
    rows = []
    for c in range(6):
        n = rng.randint(2, 9)
        for i in range(n):
            rows.append(
                (
                    f"conv-{c}",
                    i,
                    rng.choice(["user", "assistant", "tool"]),
                    " ".join(
                        rng.choice(["aa", "bb", "cc", "dd"])
                        for _ in range(rng.randint(1, 7))
                    ),
                    None,
                    datetime.datetime(2026, 1, 1, 0, 0, i),
                )
            )
    rng.shuffle(rows)  # intra-conversation arrival disorder
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    inp = str(tmp_path / "sft-in")
    out = str(tmp_path / "sft-out")
    cp = str(tmp_path / "sft-cp")
    # several files + maxFilesPerTrigger=1 => every conversation's turns
    # arrive across SEVERAL micro-batches, exercising the state
    # accumulation path, not just the single-batch close
    df.repartition(5).write.parquet(inp)

    expected = sorted(
        tuple(r)
        for r in sft_examples(df, max_context_tokens=6).collect()
    )
    assert expected  # fixture has signal

    # idle_timeout must comfortably exceed the micro-batch cadence: with
    # maxFilesPerTrigger=1 a conversation's turns arrive across several
    # batches, and if the gap between two file batches ever exceeds the
    # idle timeout the conversation closes EARLY with partial turns (the
    # operator's documented processing-time-timeout contract), so the
    # output legitimately diverges from batch.  1 s was fine on an idle
    # machine but a degraded/loaded VM stretches batch gaps past it
    # (observed: 30 s+ state-store lag) — 30 s of slack keeps the test
    # about the operator, not the scheduler.
    q = streaming_sft_examples(
        spark, inp, out, cp, max_context_tokens=6, idle_timeout_ms=30_000,
        max_files_per_trigger=1,
    )

    def committed():
        try:
            return sorted(tuple(r) for r in spark.read.parquet(out).collect())
        except Exception:
            return []

    # generous ceiling (ADVICE r8): the close-only emission needs several
    # processing-time timeouts to fire, and a loaded machine (concurrent
    # Spark sessions) stretched the old 150 s budget past its limit once —
    # the deadline only bounds the WAIT; correctness is still asserted by
    # the final equality check below, so a large ceiling hides nothing.
    deadline = time.time() + 600
    got = []
    while time.time() < deadline:
        got = committed()
        if len(got) >= len(expected) or not q.isActive:
            break
        time.sleep(2)
    if q.isActive:
        q.stop()
    q.awaitTermination(30)
    got = committed() or got
    assert got == expected
