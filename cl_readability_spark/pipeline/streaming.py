"""Structured Streaming extraction (SURVEY §2.11 streaming row).

The batch job's DAG is stateless per row, so the streaming variant is the
same ``mapInArrow`` stage behind ``readStream``: file-source parquet in,
exactly-once parquet file sink out, with the streaming checkpoint providing
the resume story (the streaming twin of CheckpointedSink's anti-join).

``trigger(availableNow=True)`` gives incremental batch semantics: each
invocation processes exactly the files not yet committed to the checkpoint —
at 10^12-turn scale this is the "catch up on new partitions" mode;
``maxFilesPerTrigger`` bounds micro-batch size for continuous tailing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cl_readability_spark.core.config import DEFAULT_CONFIG, ExtractorConfig
from cl_readability_spark.pipeline.transcripts import TRANSCRIPTS_SCHEMA
from cl_readability_spark.pipeline.udfs import (
    EXTRACT_OUTPUT_SCHEMA,
    make_arrow_extractor,
)


def streaming_turn_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark: str = "10 minutes",
    window_size: str = "1 hour",
) -> StreamingQuery:
    """Watermarked windowed aggregation over the transcript stream: per
    (event-time window, conv_id) turn counts and byte volumes — the metrics
    rollup as a late-data-tolerant streaming query (SURVEY §2.11)."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "conv_id",
            "n_turns",
            "total_chars",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


CONV_STATE_SCHEMA = "n_turns LONG, total_chars LONG"
CONV_OUTPUT_SCHEMA = (
    "conv_id STRING, n_turns LONG, total_chars LONG, closed BOOLEAN"
)


def streaming_conversation_sessions(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    idle_timeout_ms: int = 1000,
) -> StreamingQuery:
    """Custom stateful operator via applyInPandasWithState: accumulates
    per-conversation turn/char counts across micro-batches, emits the running
    total each update and a final ``closed`` row when the conversation goes
    idle (processing-time timeout) — the streaming twin of the per-conv
    metrics sidecar."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (n, chars) = state.get
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [key[0]], "n_turns": [n], "total_chars": [chars],
                 "closed": [True]}
            )
            return
        n, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            chars += int(pdf["text"].str.len().fillna(0).sum())
        state.update((n, chars))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n], "total_chars": [chars],
             "closed": [False]}
        )

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_path)
    sessions = (
        stream.select("conv_id", "text")
        .groupBy(F.col("conv_id"))
        .applyInPandasWithState(
            update,
            CONV_OUTPUT_SCHEMA,
            CONV_STATE_SCHEMA,
            "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    config: ExtractorConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """transcripts parquet dir (streaming source) → extracted parquet sink.

    Returns the started StreamingQuery; caller awaits termination."""
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    result = stream.select("conv_id", "turn_idx", "text").mapInArrow(
        make_arrow_extractor(config), EXTRACT_OUTPUT_SCHEMA
    )

    writer = (
        result.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def _read_band_sink(spark: SparkSession, bands_path: str):
    """Read a streaming band sink, treating an UNFLUSHED sink (nothing
    flushed before the watermark first advanced — routine under
    availableNow, see the horizon-batch note on the producers) as empty:
    ``spark.read.parquet`` raises an unable-to-infer-schema
    AnalysisException there, which made the readers' documented
    empty-sink guard unreachable.  Returns None ONLY when the directory
    bears the file sink's ``_spark_metadata`` — the shape a streaming
    sink actually leaves before its first flush.  A directory that
    merely exists and is empty is NOT an unflushed sink; it is most
    likely a mistyped path, and silently reading it as "nothing flushed
    yet" would masquerade as an empty corpus (ADVICE r6) — the
    AnalysisException propagates, like any other (wrong path, corrupt
    files)."""
    from pyspark.sql.utils import AnalysisException

    try:
        return spark.read.parquet(bands_path)
    except AnalysisException as exc:
        # the unflushed shape raises in two dressings (pinned in memory
        # and tests): bare empty dir → the UNABLE_TO_INFER_SCHEMA error
        # class; dir with only _spark_metadata → the bare "Unable to
        # infer schema" message with NO error class.  Match the class
        # when the exception carries one, the message otherwise…
        cls = None
        # getCondition is the 4.x name; getErrorClass its deprecated 3.x
        # spelling — try in that order, best-effort
        get_cls = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        if callable(get_cls):
            try:
                cls = get_cls()
            except Exception:  # noqa: BLE001 — best-effort, fall to msg
                cls = None
        inferable = (
            cls == "UNABLE_TO_INFER_SCHEMA"
            or "Unable to infer schema" in str(exc)
        )
        if not inferable:
            raise
        # …then require the _spark_metadata marker before concluding
        # "unflushed sink" (Hadoop FS API, not os.path — sinks live on
        # HDFS/S3 at scale)
        jvm = spark._jvm
        marker = jvm.org.apache.hadoop.fs.Path(
            bands_path.rstrip("/") + "/_spark_metadata"
        )
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return None
        raise


def _empty_ids(spark: SparkSession, id_col: str):
    """Empty kept-set frame (``id_col`` long — the producers' id type)."""
    from pyspark.sql import functions as F

    return spark.range(0).select(F.col("id").alias(id_col))


def streaming_near_dup_flags_jvm(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    watermark: str = "10 minutes",
    window_size: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """The streaming near-dup gate: bucket ownership as a watermarked JVM
    window aggregation — NO python state operator anywhere (the only
    python stage is the stateless Arrow band-signature stage).  Its
    semantics are pinned against a python-state reference gate
    (first-claim bucket ownership via ``applyInPandasWithState``) that
    lives in tests/test_streaming_multimodal.py.

    Per (event-time window, band_idx, band_sig) the aggregation computes
    ``min(id)`` (the owner — the batch keep-one's tie-break, applied
    WINDOW-WIDE: if a lower-keyed duplicate arrives in a LATER trigger
    while the window is still open, the aggregation state merges and the
    lower key wins the bucket, where the python reference gate's
    first-claim state would keep the earlier arrival.  Within one
    window the outcome is arrival-order-independent and deterministic —
    a property the reference gate doesn't have across triggers — and
    exactly one member of the duplicate group survives either way;
    pinned by the later-batch-lower-id pytest case) plus the sorted
    member list,
    then explodes members into the same per-doc flag rows:
    (window_start, band_idx, band_sig, id, owner).  State per open
    bucket is the member-id list — bounded by the window contents, spilt
    by the JVM state store, no per-key python round-trips.

    Semantics — the ownership decision is batched PER INGESTION WINDOW
    (the alternative the reference gate's docstring names for the
    10^12 shape): within a window, exact batch keep-one semantics
    (min-key owner, same-batch copies collapse to one survivor); across
    windows, first-window-wins via ``near_dup_kept_ids_windowed``'s
    reduction.  A window's rows are emitted once the WATERMARK passes
    its end — i.e. a window's kept set becomes final when later-arriving
    event time closes it (standard append-mode contract; under
    ``availableNow`` the last open window stays pending until a later
    run's data advances the watermark).  Rows later than the watermark
    are dropped by the aggregation — they appear in neither the kept set
    nor the sink at all; ``near_dup_unjudged_ids`` surfaces them (plus
    the pending trailing window) for the at-rest batch-dedup backstop,
    exactly like the windowed metrics rollup.  The recovered-delta
    contract vs the python reference gate is pinned in
    tests/test_streaming_multimodal.py.

    vs the reference operator: ~55 µs/bucket-key python state is
    replaced by one shuffle into a JVM hash aggregation; measured ≥5×
    the reference gate's 1M-turn throughput (BENCH/BASELINE.md)."""
    from pyspark.sql import functions as F

    from cl_readability_spark.functions.dedup import band_signature_stage

    schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    banded = band_signature_stage(
        stream,
        id_col=id_col,
        text_col=text_col,
        passthrough=(ts_col,),
        k=k,
        n_hashes=n_hashes,
        bands=bands,
    )
    flagged = (
        banded.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_size), "band_idx", "band_sig")
        .agg(
            F.min(id_col).alias("owner"),
            F.sort_array(F.collect_list(id_col)).alias("_members"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "band_idx",
            "band_sig",
            F.explode("_members").alias(id_col),
            "owner",
        )
        .withColumn("owned", F.col(id_col) == F.col("owner"))
    )
    writer = (
        flagged.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def near_dup_kept_ids_windowed(
    spark: SparkSession,
    bands_path: str,
    id_col: str = "doc_id",
):
    """Batch reduction of ``streaming_near_dup_flags_jvm`` output with
    FIRST-WINDOW-WINS semantics: a doc is kept iff, for every one of its
    band buckets, (a) its window is the EARLIEST window that bucket was
    ever seen in, and (b) it is that window's owner (the min id).  All of
    a doc's band rows share one window (one arrival = one event time), so
    the per-doc reduction is exact; a doc arriving after any of its
    buckets was claimed in an earlier window is dropped — the cross-batch
    suppression the reference operator keeps in python state, recovered
    here from the sink with one aggregation + one keyed join.  The band
    count is derived from the sink (max band_idx + 1), never passed."""
    from pyspark.sql import functions as F

    sink = _read_band_sink(spark, bands_path)
    if sink is None:
        return _empty_ids(spark, id_col)
    bands = sink.agg(F.max("band_idx")).first()[0]
    if bands is None:
        return sink.select(id_col).limit(0)
    first_seen = sink.groupBy("band_idx", "band_sig").agg(
        F.min("window_start").alias("_w0")
    )
    return (
        sink.join(first_seen, ["band_idx", "band_sig"])
        .filter(F.col("owned") & (F.col("window_start") == F.col("_w0")))
        .groupBy(id_col)
        .agg(F.count_distinct("band_idx").alias("n_owned"))
        .filter(F.col("n_owned") == bands + 1)
        .select(id_col)
    )


def near_dup_unjudged_ids(
    spark: SparkSession,
    bands_path: str,
    corpus: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The late-data recovery hook for ``streaming_near_dup_flags_jvm``:
    corpus docs with NO rows in the band sink at all.  Two populations
    land here, both of which the gate never judged:

    - rows LATER than the watermark — dropped by the window aggregation
      before it ever saw them (the documented append-mode contract), and
    - rows of the still-open trailing window (pending until later event
      time closes it).

    Neither appears in the kept set NOR in the dropped set; treating
    "absent from kept" as dropped would silently delete late/pending
    content.  Route these through the at-rest batch gate
    (``minhash_near_dups`` → ``dup_clusters`` keep-one against the
    already-kept corpus) — the backstop the operator docstrings contract;
    the delta is pinned in tests/test_streaming_multimodal.py.  Plan: one
    distinct over the sink's pruned id column + a left-anti join (the
    same resume shape as pipeline/resume.py)."""
    sink = _read_band_sink(spark, bands_path)
    if sink is None:
        return corpus.select(id_col)
    return corpus.select(id_col).join(
        sink.select(id_col).distinct(), id_col, "left_anti"
    )


def streaming_exact_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark: str = "1 hour",
    text_col: str = "text",
) -> StreamingQuery:
    """Streaming exact dedup: the batch pipeline's content-fingerprint
    dedup (curation.py stage 1 / sqltwins ``dedup_exact``) as a stateful
    streaming operator — ``dropDuplicatesWithinWatermark`` keeps one row
    per normalized-content fingerprint across micro-batches, with the
    watermark bounding how long a fingerprint stays in the dedup state
    (Spark evicts state older than the watermark, so memory is bounded by
    the duplicate-arrival horizon, not the stream's lifetime — the only
    viable contract at 10^12 turns).

    Duplicates arriving LATER than the watermark horizon are re-emitted by
    construction; downstream exact dedup at rest (the batch gate) remains
    the backstop, exactly like late data in the windowed rollup."""
    from cl_readability_spark.functions.incremental import (
        content_fingerprint,
    )

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_path)
    deduped = (
        stream.withColumn("_fp", content_fingerprint(text_col))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def streaming_url_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark: str = "1 hour",
    url_col: str = "url",
    schema=None,
    **canon_kwargs,
) -> StreamingQuery:
    """Streaming URL-level dedup: the crawl-ingest front gate
    (``functions.urls.canonicalize_url`` + keep-one per canonical URL)
    as a stateful streaming operator — ``dropDuplicatesWithinWatermark``
    keeps ONE row per canonical URL across micro-batches, state bounded
    by the watermark horizon exactly like ``streaming_exact_dedup``.
    The emitted rows carry ``canon_url`` (the audit/refetch key).

    NULL/blank-URL rows are ALL kept (a missing URL is not evidence of
    duplication — the batch ``url_dedup`` stance): their dedup key is
    salted with the unique row key, so they never collide.

    Contract divergences from the batch operator, both deliberate:
    streaming keeps the FIRST ARRIVAL per canonical URL (batch keeps
    the lexicographic-minimum row key — order is unknowable mid-stream),
    and variants arriving later than the watermark horizon are
    re-emitted; the batch gate at rest remains the backstop, exactly
    like the exact-dedup and rollup late-data stances.

    ``schema`` defaults to TRANSCRIPTS_SCHEMA + a nullable string
    ``url_col``; pass your own StructType for other layouts (must
    contain ``ts``, ``conv_id``, ``turn_idx``, and ``url_col``).
    ``canon_kwargs`` forward to ``canonicalize_url``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from cl_readability_spark.functions.urls import canonicalize_url

    if schema is None:
        schema = StructType(
            TRANSCRIPTS_SCHEMA.fields
            + [StructField(url_col, StringType(), True)]
        )
    stream = spark.readStream.schema(schema).parquet(input_path)
    canon = canonicalize_url(F.col(url_col), **canon_kwargs)
    # deterministic per-row salt for NULL canon: never collides, and
    # identical under checkpoint replay (no uuid/rand)
    key = F.coalesce(
        F.col("canon_url"),
        F.concat_ws(
            "\x00",
            F.lit("_nourl"),
            F.col("conv_id"),
            F.col("turn_idx").cast("string"),
        ),
    )
    deduped = (
        stream.withColumn("canon_url", canon)
        .withColumn("_uk", key)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_uk"])
        .drop("_uk")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def streaming_conversation_flags(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    session_gap: str = "30 minutes",
    watermark: str = "10 minutes",
    min_turns: int = 2,
    max_turns: int = 10_000,
    require_user_start: bool = True,
    max_role_violations: int = 0,
    max_empty_turn_bp: int = 2000,
    max_tool_char_bp: int = 8000,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """The conversation-level integrity gate
    (functions/transcript_quality.py) as a streaming query — pure JVM,
    no python state: one watermarked ``session_window`` aggregation per
    (session, conv_id) computes the shape columns with standard
    aggregates, and the ADJACENCY rules (role protocol, turn-index
    contiguity, timestamp monotonicity) — which the batch operator gets
    from a window+lag pass that streaming aggregation cannot express —
    are computed AFTER the aggregation from the sorted per-conversation
    turn array (``zip_with`` over two ``slice``s, the DSIR pair-build
    recipe; the arrays are bounded by one conversation's turns inside
    one session window, and the session state is bounded by the
    watermark horizon either way).

    Semantics vs batch (pinned by the equality test in
    tests/test_streaming_multimodal.py): for a conversation whose turns
    all fall inside ONE session window (no intra-conversation idle gap
    >= ``session_gap``), the emitted row equals the batch
    ``conversation_flags`` row column-for-column.  A conversation
    spanning a longer idle gap emits one row PER SESSION — the gate
    decision is per session window by design (choose ``session_gap``
    above the corpus's max intra-conversation idle for whole-
    conversation semantics).  Turns later than the watermark are
    DROPPED by the aggregation (standard append-mode contract): the
    conversation's emitted flags then describe its on-time turns only —
    ``conversation_flags_stale_ids`` surfaces every such conversation
    (sink turn-count != corpus turn-count, or absent/pending) for the
    batch-gate backstop, the near_dup_unjudged_ids recovery pattern.

    Rows are emitted once the watermark passes the session's end; under
    ``availableNow`` the trailing open sessions stay pending until a
    later run's data advances the watermark (the horizon-batch note on
    the other producers)."""
    from pyspark.sql import functions as F

    if min_turns < 1 or max_turns < min_turns:
        raise ValueError("need 1 <= min_turns <= max_turns")
    if max_role_violations < 0 or max_empty_turn_bp < 0 or max_tool_char_bp < 0:
        raise ValueError("thresholds must be >= 0")

    sent = "\x00"
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    role = F.col("role")
    text = F.coalesce(F.col("text"), F.lit(""))
    is_empty = F.regexp_replace(text, "[ \t\n\f\r]+", "") == ""
    nchars = F.length(text).cast("long")
    # carry the RAW timestamp (not unix_timestamp's second-truncated
    # epoch): the batch gate compares full timestamps, so a sub-second
    # inversion must fail here too — column-for-column parity (ADVICE r7)
    turn = F.struct(
        F.col("turn_idx").cast("long").alias("i"),
        F.coalesce(role, F.lit(sent)).alias("r"),
        F.col("ts").alias("e"),
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", session_gap), F.col("conv_id"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum((role == "user").cast("long")).alias("n_user"),
            F.sum((role == "assistant").cast("long")).alias("n_assistant"),
            F.sum((role == "tool").cast("long")).alias("n_tool"),
            F.sum(is_empty.cast("long")).alias("n_empty_turns"),
            F.sum(nchars).alias("total_chars"),
            F.sum(F.when(role == "tool", nchars).otherwise(F.lit(0))).alias(
                "tool_chars"
            ),
            (
                F.min(
                    F.struct(
                        F.col("turn_idx").cast("long").alias("i"),
                        F.coalesce(role, F.lit(sent)).alias("r"),
                    )
                )["r"]
                == "user"
            ).alias("starts_with_user"),
            F.sum(role.isNull().cast("long")).alias("_null_roles"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).cast("long").alias("duration_s"),
            F.array_sort(F.collect_list(turn)).alias("_turns"),
        )
    )
    n1 = F.greatest(F.size("_turns") - 1, F.lit(0))
    prev = F.slice(F.col("_turns"), 1, n1)
    nxt = F.slice(F.col("_turns"), 2, n1)
    pair_viol = F.zip_with(
        prev,
        nxt,
        lambda p, q: (
            (
                (q["r"] == p["r"]) & (p["r"] != "tool") & (p["r"] != sent)
            ).cast("long")
            + (
                (q["r"] == "tool")
                & (p["r"] != sent)
                & ~p["r"].isin("assistant", "tool")
            ).cast("long")
        ),
    )
    out = (
        agg.withColumn(
            "role_violations",
            F.aggregate(pair_viol, F.lit(0).cast("long"), lambda a, x: a + x)
            + F.col("_null_roles"),
        )
        .withColumn(
            "idx_contiguous",
            F.forall(
                F.zip_with(
                    F.col("_turns"),
                    F.sequence(F.lit(0), F.size("_turns") - 1),
                    lambda t, k: t["i"] == k.cast("long"),
                ),
                lambda x: x,
            ),
        )
        .withColumn(
            "ts_monotonic",
            F.aggregate(
                F.zip_with(
                    # coalesce: a NULL-ts pair compares NULL and must
                    # count 0, as the batch gate's lag form does — not
                    # poison the whole sum
                    prev,
                    nxt,
                    lambda p, q: F.coalesce(
                        (q["e"] < p["e"]).cast("long"), F.lit(0).cast("long")
                    ),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
            == 0,
        )
    )
    ok = (
        (F.col("n_turns") >= min_turns)
        & (F.col("n_turns") <= max_turns)
        & (F.col("role_violations") <= max_role_violations)
        & F.col("idx_contiguous")
        & F.col("ts_monotonic")
        & (
            F.col("n_empty_turns") * 10_000
            <= F.lit(int(max_empty_turn_bp)) * F.col("n_turns")
        )
        & (
            F.col("tool_chars") * 10_000
            <= F.lit(int(max_tool_char_bp))
            * F.greatest(F.col("total_chars"), F.lit(1))
        )
    )
    if require_user_start:
        ok = ok & F.col("starts_with_user")
    out = out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool",
        "n_empty_turns",
        "total_chars",
        "tool_chars",
        "starts_with_user",
        "role_violations",
        "idx_contiguous",
        "ts_monotonic",
        "duration_s",
        ok.alias("conv_ok"),
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def conversation_flags_stale_ids(
    spark: SparkSession,
    output_path: str,
    corpus: DataFrame,
    conv_col: str = "conv_id",
) -> DataFrame:
    """Conversations whose streaming gate verdict is STALE or MISSING —
    the batch-backstop recovery hook (the near_dup_unjudged_ids
    pattern): a conv is returned when the sink's summed per-session
    turn count differs from the corpus's (some turns were dropped by
    the watermark, or split sessions are still pending) or the conv has
    no sink row at all (entirely pending/dropped).  Re-gate exactly
    these with the batch ``conversation_flags`` over the corpus.
    An UNFLUSHED sink (nothing emitted yet) returns every conversation."""
    from pyspark.sql import functions as F

    want = corpus.groupBy(F.col(conv_col).alias("conv_id")).agg(
        F.count("*").cast("long").alias("_want")
    )
    sink = _read_band_sink(spark, output_path)
    if sink is None:
        return want.select("conv_id")
    got = sink.groupBy("conv_id").agg(F.sum("n_turns").alias("_got"))
    return (
        want.join(got, "conv_id", "left")
        .filter(F.col("_got").isNull() | (F.col("_got") != F.col("_want")))
        .select("conv_id")
    )


def streaming_sft_examples(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    max_context_tokens: int = 2048,
    min_context_turns: int = 1,
    target_role: str = "assistant",
    idle_timeout_ms: int = 1000,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming SFT example assembly — the incremental front-end of
    ``functions/sft.py:sft_examples``: turns accumulate per
    conversation in ``applyInPandasWithState`` state across
    micro-batches, and the conversation's trainer examples are emitted
    ONCE, when it goes idle (processing-time timeout) — close-only
    emission, because a context is only final when no earlier-indexed
    turn can still arrive; turns arriving out of order WITHIN the
    session are sorted by ``turn_idx`` at close, so batch parity holds
    under intra-session reordering (pinned by the batch≡stream
    equality test, the streaming_conversation_flags stance).

    Per-turn token counts are computed JVM-side BEFORE the stateful
    stage with the SAME ``default_turn_tokens`` expression as the
    batch operator, so the python state carries four slim arrays per
    conversation and the budget arithmetic can never diverge.  State
    memory is bounded by the largest open conversation (the batch
    operator's own bound); the timeout bounds how long a conversation
    stays open.  Output schema = the batch operator's 9 columns."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from cl_readability_spark.functions.sft import (
        _OUT_SCHEMA,
        assemble_conversation,
        default_turn_tokens,
    )

    if max_context_tokens < 0:
        raise ValueError("max_context_tokens must be >= 0")
    if min_context_turns < 0:
        raise ValueError("min_context_turns must be >= 0")

    state_schema = (
        "idxs array<long>, roles array<string>, texts array<string>, "
        "toks array<long>"
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            idxs, roles, texts, toks = state.get
            state.remove()
            cols = assemble_conversation(
                idxs, roles, texts, toks,
                max_context_tokens=max_context_tokens,
                min_context_turns=min_context_turns,
                target_role=target_role,
            )
            if cols["target_idx"]:
                yield pd.DataFrame(
                    {"conv_id": [key[0]] * len(cols["target_idx"]), **cols}
                )
            return
        idxs, roles, texts, toks = (
            state.get if state.exists else ([], [], [], [])
        )
        idxs, roles, texts, toks = (
            list(idxs), list(roles), list(texts), list(toks)
        )
        for pdf in pdfs:
            idxs.extend(int(v) for v in pdf["turn_idx"])
            roles.extend(str(v) for v in pdf["role"])
            texts.extend(str(v) for v in pdf["text"])
            toks.extend(int(v) for v in pdf["tok"])
        state.update((idxs, roles, texts, toks))
        state.setTimeoutDuration(idle_timeout_ms)
        return

    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    slim = stream.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.coalesce(F.col("role"), F.lit("")).alias("role"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        default_turn_tokens(F.col("text")).alias("tok"),
    )
    examples = slim.groupBy(F.col("conv_id")).applyInPandasWithState(
        update,
        _OUT_SCHEMA,
        state_schema,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
    return (
        examples.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
