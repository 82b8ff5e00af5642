"""Incremental corpus ingestion — the deployment loop.

Ties together the three long-lived pieces of the 100 TB pipeline:

- the resumable curated-corpus sink (``pipeline/resume.py`` /
  ``pipeline/sink.py`` — parquet ``_SUCCESS``-marked batches here,
  Iceberg snapshots in production),
- the persistent bucketed dedup catalogs
  (``functions/incremental.py`` — probe cost scales with the BATCH,
  the corpus never re-shuffles),
- the curation gates (``functions/curation.py`` — quality, exact,
  intra-batch near-dup).

Per incoming transcript batch, ``ingest_batch`` runs:

1. resume anti-join against the sink's committed keys (a re-run after
   a crash neither duplicates nor drops rows);
2. catalog catch-up (crash recovery — see ordering argument below);
3. Readability extraction (``extract_transcripts``);
4. exact-catalog probe — rows whose normalized content is already in
   the corpus are flagged ``exact_in_catalog``;
5. minhash-catalog probe — near-dups of the corpus are flagged
   ``near_dup_in_catalog``;
6. ``curate()`` over the catalog survivors (intra-batch quality /
   exact / near-dup gates);
7. ONE atomic sink commit of the full flagged frame (catalog-dropped
   rows ride along with NULL curation flags and ``kept=false``, so the
   committed key set covers every PROCESSED row — the resume anti-join
   must see drops too, or they would re-extract forever);
8. catalog append of the batch's kept rows + ledger mark.

Crash-consistency ordering argument: catalogs are appended ONLY from
sink-committed batches (step 8 after step 7; recovery replays from the
sink), so a probe can never drop a row against a catalog entry whose
content was never durably kept.  The ledger — a json file next to the
sink — records which sink batches have had their catalog append; a
crash between commit and append leaves a ledger gap that step 2
replays; a crash between append and ledger-mark re-appends on replay,
and duplicate catalog rows are semantically harmless (the exact probe
collapses the catalog side per fingerprint — a local aggregation over
the bucketed scan, no Exchange; the minhash probe aggregates max
agreement) — ``compact_exact_catalog`` reclaims the space.

The curated corpus is ``sink.read(spark).filter("kept")``; the flags
on the committed frame are the per-row lineage (which gate dropped
what), aggregable after the fact exactly like ``curation_report``.

Reference parity note: the reference (atlas-engineer/cl-readability)
is a single-document extraction library with no corpus/ingest surface;
this module is part of the training-data-pipeline extension the build
brief asks for, composing the extraction core (core/extract.py, parity
with readability.lisp) into a resumable at-scale loop.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from cl_readability_spark.core.config import DEFAULT_CONFIG, ExtractorConfig
from cl_readability_spark.functions.curation import _row_key, curate
from cl_readability_spark.functions.incremental import (
    append_minhash_catalog,
    content_fingerprint,
    incremental_exact_dedup,
    incremental_minhash_dedup,
)
from cl_readability_spark.pipeline.job import extract_transcripts
from cl_readability_spark.pipeline.resume import pending_rows
from cl_readability_spark.pipeline.sink import KEY_COLUMNS, KeyedSink

_LEDGER_NAME = "_catalog_ledger.json"


class CatalogLedger:
    """Which sink batches have had their catalog append.  A plain json
    file (atomic ``os.replace`` rewrite) keyed by the sink's batch
    handle basename — the parquet twin of "which snapshots has the
    catalog-maintenance job consumed", which an Iceberg deployment
    would keep as the maintenance job's own checkpoint."""

    def __init__(self, path: str):
        self.path = path

    def done(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            return set(json.load(f)["done"])

    def mark(self, batch_id: str) -> None:
        done = sorted(self.done() | {batch_id})
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"done": done}, f)
        os.replace(tmp, self.path)


def _batch_id(handle: str) -> str:
    return os.path.basename(handle.rstrip("/"))


def _append_kept_to_catalogs(
    kept: DataFrame,
    exact_table: str | None,
    minhash_table: str | None,
    text_col: str,
    url_table: str | None = None,
) -> None:
    """Append a committed batch's kept rows to the catalogs.  Exact:
    kept rows are one-per-fingerprint by construction (curate()'s exact
    gate), so append them directly under the catalog's bucket spec;
    re-appends after a crash-before-ledger-mark only create duplicate
    rows the probes tolerate.  URL: kept rows are one-per-canon_url by
    construction (the pre-extraction probe's batch_keep), NULL
    canon_urls (no page identity) excluded; batches committed before
    the url catalog existed carry no canon_url column and are skipped."""
    spark = kept.sparkSession
    if url_table is not None and "canon_url" in kept.columns:
        from cl_readability_spark.functions.incremental import _read_meta

        meta = _read_meta(spark, url_table, "url")
        (
            kept.filter(F.col("canon_url").isNotNull())
            .select("canon_url", F.col("_ingest_id").alias("keep_id"))
            .write.mode("append")
            .bucketBy(int(meta["n_buckets"]), "canon_url")
            .sortBy("canon_url")
            .saveAsTable(url_table)
        )
    if exact_table is not None:
        from cl_readability_spark.functions.incremental import _read_meta

        meta = _read_meta(spark, exact_table, "exact")
        (
            kept.select("fingerprint", F.col("_ingest_id").alias("keep_id"))
            .write.mode("append")
            .bucketBy(int(meta["n_buckets"]), "fingerprint")
            .sortBy("fingerprint")
            .saveAsTable(exact_table)
        )
    if minhash_table is not None:
        append_minhash_catalog(
            kept, minhash_table, text_col=text_col, id_col="_ingest_id"
        )


def recover_catalogs(
    spark: SparkSession,
    sink: KeyedSink,
    exact_table: str | None,
    minhash_table: str | None,
    ledger: CatalogLedger,
    text_col: str = "extracted_text",
    url_table: str | None = None,
) -> list[str]:
    """Replay the catalog append for every sink-committed batch missing
    from the ledger (a crash between sink commit and catalog append).
    Needs the sink to enumerate its committed batches
    (``committed_batches`` — CheckpointedSink here; an Iceberg sink
    enumerates snapshots); sinks that cannot are skipped with the
    catalogs trusted as-is.  Batches without ingest flags (written by
    plain ``run_resumable``, not ``ingest_batch``) are ledger-marked
    and skipped: bootstrap a pre-existing corpus into the catalogs with
    ``write_exact_catalog``/``write_minhash_catalog`` instead."""
    if exact_table is None and minhash_table is None and url_table is None:
        return []
    enumerate_batches = getattr(sink, "committed_batches", None)
    if enumerate_batches is None:
        return []
    done = ledger.done()
    replayed: list[str] = []
    for handle in enumerate_batches():
        bid = _batch_id(handle)
        if bid in done:
            continue
        batch = sink.read_batch(spark, handle)
        if "kept" in batch.columns and "_ingest_id" in batch.columns:
            kept = batch.filter(F.col("kept"))
            _append_kept_to_catalogs(
                kept, exact_table, minhash_table, text_col, url_table
            )
            replayed.append(bid)
        ledger.mark(bid)
    return replayed


def ingest_batch(
    transcripts: DataFrame,
    sink: KeyedSink,
    exact_table: str | None = None,
    minhash_table: str | None = None,
    ledger_path: str | None = None,
    config: ExtractorConfig = DEFAULT_CONFIG,
    salt_buckets: int = 16,
    num_partitions: int | None = None,
    prefilter_readerable: bool | str = False,
    minhash_threshold: float = 0.8,
    curate_opts: dict | None = None,
    pre_extracted: bool = False,
    committed_filter=None,
    url_table: str | None = None,
    url_col: str = "url",
) -> dict[str, Any]:
    """Run one batch through the full ingest loop (module doc); returns
    the per-batch report dict (counts per drop cause, the sink batch
    handle, and any crash-recovery replays performed).

    ``pre_extracted=True`` skips the extraction stage: the input already
    carries ``extracted_text`` keyed by (conv_id, turn_idx) — the
    "re-curate an existing extracted corpus against the catalogs" mode
    (and the oracle-twin surface, where extraction is verified
    separately).

    ``committed_filter`` (a boolean ``Column`` over the key columns)
    scopes the resume anti-join's committed-keys scan — the ONE
    per-batch term that otherwise reads O(corpus) keys
    (measured: BENCH/BASELINE.md round 8).  When batches are keyed by
    source partition (crawl date, conv_id prefix), pass the predicate
    that bounds where this batch's keys could already live; it reaches
    the parquet/Iceberg scan as a pushed filter.  SAFETY: the filter
    must be TRUE for every committed row that could share a key with
    this batch — an over-narrow filter readmits duplicates.  Default
    None scans all committed keys (always correct).

    ``curate_opts`` forwards to ``curate()`` (gates, thresholds, stage
    toggles — the deployment config).  ``text_col`` is always the
    extraction output ``extracted_text`` and the row key is always
    ``(conv_id, turn_idx)`` — the input_hint table shape.

    ``url_table`` (a ``write_url_catalog`` table; input must carry
    ``url_col``) inserts the URL-catalog probe BEFORE extraction — the
    crawl payoff: a page whose canonical URL already contributes kept
    content to the corpus (``url_in_catalog``), or that loses the
    intra-batch keep-one (``url_batch_dup``), skips the Arrow
    extraction stage entirely and rides to the sink as a flagged drop
    (the committed key set must cover every processed row — the resume
    contract).  NULL/blank-URL rows always proceed.  Kept rows' canonical
    URLs append to the catalog under the same ledger; a quality-dropped
    page's URL is deliberately NOT cataloged, so a better copy
    re-crawled later still gets its chance (the kept-rows-only
    convention of the content catalogs).

    Scale shape per stage: extraction = the salted Arrow stage; exact
    probe = batch-side shuffle into the catalog's buckets (catalog
    unshuffled, plan-goldened in tests/test_incremental.py); minhash
    probe = batch band rows into the band catalog's buckets; curate()
    = the sink-staged composition; the commit = one atomic append.
    Nothing in the loop shuffles the corpus."""
    spark = transcripts.sparkSession
    sink.prepare(spark)
    using_catalogs = (
        exact_table is not None
        or minhash_table is not None
        or url_table is not None
    )
    ledger = None
    if using_catalogs:
        if ledger_path is None:
            root = getattr(sink, "root", None)
            if root is None:
                raise ValueError(
                    "ledger_path is required when the sink has no root dir"
                )
            ledger_path = os.path.join(root, _LEDGER_NAME)
        ledger = CatalogLedger(ledger_path)
    replayed = (
        recover_catalogs(
            spark, sink, exact_table, minhash_table, ledger,
            url_table=url_table,
        )
        if using_catalogs
        else []
    )

    committed = sink.committed_keys(spark)
    if committed is not None and committed_filter is not None:
        committed = committed.filter(committed_filter)
    remaining = pending_rows(transcripts, committed)
    if committed is not None and not remaining.take(1):
        return {
            "batch": None,
            "rows_in": 0,
            "url_in_catalog": 0,
            "url_batch_dup": 0,
            "exact_in_catalog": 0,
            "near_dup_in_catalog": 0,
            "dropped_quality": 0,
            "dropped_contaminated": 0,
            "dropped_exact_dup": 0,
            "dropped_near_dup": 0,
            "rows_kept": 0,
            "recovered_batches": replayed,
        }

    # --- URL-catalog probe BEFORE extraction (the crawl payoff: pages
    # the corpus already keeps never reach the Arrow stage).  The
    # probed frame is pinned: three consumers (the url-flag join back
    # onto the extraction output, the survivors feeding extraction, and
    # the url-dropped rows riding to the sink) must read one evaluation
    # of the anti-join + probe chain. ---
    url_flags = None
    url_probed = None
    url_dropped = None
    if url_table is not None:
        if url_col not in remaining.columns:
            raise ValueError(
                f"url_table requires column {url_col!r} on the input"
            )
        from cl_readability_spark.functions.incremental import (
            incremental_url_dedup,
        )

        url_probed = (
            incremental_url_dedup(
                remaining.withColumn(
                    "_ingest_id", _row_key(tuple(KEY_COLUMNS))
                ),
                url_table,
                url_col=url_col,
                id_col="_ingest_id",
            )
            .withColumnRenamed("in_catalog", "url_in_catalog")
            .withColumn("url_batch_dup", ~F.col("batch_keep"))
            .drop("batch_keep")
            .persist(StorageLevel.DISK_ONLY)
        )
        url_flags = url_probed.select(
            *KEY_COLUMNS, "canon_url", "url_in_catalog", "url_batch_dup"
        )
        # slim to the sink contract (committed KEYS for resume + url
        # lineage + kept): the raw transcript columns — above all the
        # HTML text — must NOT ride to the sink on dropped rows, or the
        # gate's whole point (never paying content cost for refetches)
        # leaks back in as parquet write+read of the skipped pages
        url_dropped = url_probed.filter(
            F.col("url_in_catalog") | F.col("url_batch_dup")
        ).select(
            *KEY_COLUMNS, "canon_url", "url_in_catalog", "url_batch_dup"
        ).withColumn("kept", F.lit(False))
        remaining = url_probed.filter(
            ~F.col("url_in_catalog") & ~F.col("url_batch_dup")
        ).drop("_ingest_id", "canon_url", "url_in_catalog", "url_batch_dup")

    if pre_extracted:
        missing = {"extracted_text", *KEY_COLUMNS} - set(remaining.columns)
        if missing:
            raise ValueError(
                f"pre_extracted input lacks columns: {sorted(missing)}"
            )
        extracted = remaining
    else:
        extracted = extract_transcripts(
            remaining,
            config=config,
            salt_buckets=salt_buckets,
            num_partitions=num_partitions,
            prefilter_readerable=prefilter_readerable,
        )
    if url_flags is not None:
        # 1:1 join on the unique row key (skew-free): the extraction
        # stage prunes to its own columns, so the url lineage rejoins
        # here — survivors carry canon_url for the catalog append
        extracted = extracted.join(url_flags, list(KEY_COLUMNS), "left")
    extracted = extracted.withColumn(
        "_ingest_id", _row_key(tuple(KEY_COLUMNS))
    )

    # --- corpus-level probes (global dedup BEFORE intra-batch gates:
    # the global-then-local ordering — the corpus already holds one
    # representative of anything the probes flag, and filtering first
    # keeps curate()'s minhash verify volume down) ---
    df = extracted
    if exact_table is not None:
        df = incremental_exact_dedup(
            df,
            exact_table,
            text_col="extracted_text",
            id_col="_ingest_id",
            with_batch_keep=False,
        ).withColumnRenamed("in_catalog", "exact_in_catalog")
    else:
        df = df.withColumn("exact_in_catalog", F.lit(False)).withColumn(
            "fingerprint", content_fingerprint("extracted_text")
        )
    if minhash_table is not None:
        df = incremental_minhash_dedup(
            df,
            minhash_table,
            text_col="extracted_text",
            id_col="_ingest_id",
            threshold=minhash_threshold,
        )
    else:
        df = df.withColumn("near_dup_in_catalog", F.lit(False))

    # pin once before the branch: the curated subset and the
    # catalog-dropped subset both read this frame, and re-evaluating it
    # would re-run the python extraction stage per branch
    probed = df.persist(StorageLevel.DISK_ONLY)
    try:
        survivors = probed.filter(
            ~F.col("exact_in_catalog") & ~F.col("near_dup_in_catalog")
        )
        curated = curate(
            survivors,
            text_col="extracted_text",
            key_cols=tuple(KEY_COLUMNS),
            **(curate_opts or {}),
        )
        catalog_dropped = probed.filter(
            F.col("exact_in_catalog") | F.col("near_dup_in_catalog")
        )
        full = curated.unionByName(
            catalog_dropped, allowMissingColumns=True
        )
        if url_dropped is not None:
            # url-dropped rows never extracted: they ride with NULL
            # extraction/curation columns, kept=false (set above)
            full = full.unionByName(url_dropped, allowMissingColumns=True)
        full = full.withColumn(
            "kept", F.coalesce(F.col("kept"), F.lit(False))
        )

        try:
            handle = sink.write_batch(full)
        finally:
            from cl_readability_spark.functions.curation import (
                release_curated,
            )

            release_curated(curated)
    finally:
        probed.unpersist()
        if url_probed is not None:
            url_probed.unpersist()

    written = sink.read_batch(spark, handle)
    url_cols = (
        [
            F.sum(
                F.coalesce(F.col("url_in_catalog"), F.lit(False)).cast(
                    "long"
                )
            ).alias("url_in_catalog"),
            F.sum(
                F.coalesce(F.col("url_batch_dup"), F.lit(False)).cast(
                    "long"
                )
            ).alias("url_batch_dup"),
        ]
        if url_table is not None
        else []
    )
    report_row = written.agg(
        F.count("*").alias("rows_in"),
        *url_cols,
        F.sum(
            F.coalesce(F.col("exact_in_catalog"), F.lit(False)).cast("long")
        ).alias(
            "exact_in_catalog"
        ),
        F.sum(
            (
                ~F.col("exact_in_catalog")
                & F.col("near_dup_in_catalog")
            ).cast("long")
        ).alias("near_dup_in_catalog"),
        F.sum((~F.coalesce(F.col("quality_ok"), F.lit(True))).cast("long"))
        .alias("dropped_quality"),
        F.sum(
            (
                F.coalesce(F.col("quality_ok"), F.lit(False))
                & F.coalesce(F.col("contaminated"), F.lit(False))
            ).cast("long")
        ).alias("dropped_contaminated"),
        F.sum(
            (
                F.coalesce(F.col("quality_ok"), F.lit(False))
                & ~F.coalesce(F.col("contaminated"), F.lit(False))
                & ~F.coalesce(F.col("exact_keep"), F.lit(True))
            ).cast("long")
        ).alias("dropped_exact_dup"),
        F.sum(
            (
                F.coalesce(F.col("near_dup_drop"), F.lit(False))
            ).cast("long")
        ).alias("dropped_near_dup"),
        F.sum(F.col("kept").cast("long")).alias("rows_kept"),
    ).first()
    report = {"batch": _batch_id(handle), **report_row.asDict()}
    report["recovered_batches"] = replayed

    if using_catalogs:
        kept = written.filter(F.col("kept"))
        _append_kept_to_catalogs(
            kept, exact_table, minhash_table, "extracted_text", url_table
        )
        ledger.mark(_batch_id(handle))
    return report


def compact_exact_catalog(spark: SparkSession, table: str) -> None:
    """Rewrite the exact catalog one-row-per-fingerprint (min keep_id),
    reclaiming duplicate rows left by crash-replayed appends.  One
    LOCAL aggregation over the bucketed scan (group key = bucket key,
    no Exchange) staged through a temp table, then swapped in with the
    same bucket spec.  Run as corpus maintenance, not per batch."""
    from cl_readability_spark.functions.incremental import (
        _read_meta,
        _write_meta,
    )

    meta = _read_meta(spark, table, "exact")
    n_buckets = int(meta["n_buckets"])
    staged = f"{table}__compact"
    spark.sql(f"DROP TABLE IF EXISTS {staged}")
    (
        spark.table(table)
        .groupBy("fingerprint")
        .agg(F.min("keep_id").alias("keep_id"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "fingerprint")
        .sortBy("fingerprint")
        .saveAsTable(staged)
    )
    spark.sql(f"DROP TABLE {table}")
    # saveAsTable from a bucketed read preserves the spec; re-register
    # under the canonical name
    (
        spark.table(staged)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "fingerprint")
        .sortBy("fingerprint")
        .saveAsTable(table)
    )
    spark.sql(f"DROP TABLE {staged}")
    _write_meta(spark, table, dict(meta))
