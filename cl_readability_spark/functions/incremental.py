"""Incremental dedup against a persistent fingerprint catalog — the
"dedup a new crawl batch against the EXISTING corpus" shape.

At 10^12 turns the existing corpus' fingerprints are themselves a huge
table (10^12 × 16-byte md5 ≈ 16 TB; LSH band rows several times that).
Re-shuffling that table for every incoming batch is the naive
formulation's fatal cost: a full-corpus `groupBy`/join per batch.  The
catalog here is written ONCE as a Spark BUCKETED table (``bucketBy`` on
the probe key, sorted within buckets), so every subsequent probe join
reads it with its bucketing as the scan's output partitioning — the
batch side alone shuffles into the catalog's layout and the catalog
side has NO Exchange (plan-goldened in tests/test_incremental.py).
Appending survivors back preserves the bucket spec, so the catalog
stays probe-ready forever.  On a deployment the same layout is the
metastore/Iceberg clustered table; in this sandbox the session catalog
carries the bucket spec (Spark's built-in catalog supports bucketed
``saveAsTable`` without Hive).

Two catalog kinds share the machinery:

- EXACT: one row per normalized-content fingerprint
  (``content_fingerprint`` — the one definition ``curate()``'s exact
  gate and the ingest loop share) —
  bucketed by ``fingerprint``.  Probe = LEFT ANTI (or flag) join.
- MINHASH: LSH band rows built on ``functions.dedup``'s minhash family
  (k-word shingles → n-hash minhash → banded 64-bit slice hashes),
  folded to ONE join column ``band_key = xxhash64(band_idx, band_sig)``
  (band_idx folded in so cross-band slice-byte collisions cannot match)
  and bucketed by it; each band row carries the FULL minhash signature
  so a candidate can be VERIFIED without the catalog text: the
  component-agreement fraction of two minhash signatures is the
  standard unbiased Jaccard estimate (Broder 1997), so
  ``sig_agreement >= threshold`` mirrors the batch operator's verify
  gate with zero additional catalog I/O.

Every catalog writes a one-row ``<table>__meta`` sidecar table pinning
the parameters (n_buckets; k/n_hashes/bands/seed for minhash).  Probes
and appends read it and refuse a drifted configuration — a probe with
a different shingle width would silently match nothing.

Reference parity note: the reference engine (atlas-engineer/
cl-readability) has no dedup/catalog surface; this module is part of
the training-data-pipeline extension the build brief asks for, sized
for the 100 TB tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EXACT_META_COLS = ("kind", "n_buckets")
_MINHASH_META_COLS = ("kind", "n_buckets", "k", "n_hashes", "bands", "seed")


def content_fingerprint(text_col: str):
    """Column: the exact-dedup fingerprint of ``text_col`` —
    ``md5(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]', ''))``.
    Every exact-dedup site (``curate()``'s exact gate, the exact
    catalog, the ingest loop) uses this one
    definition: a catalog written under one normalization and probed
    under another would silently match nothing."""
    return F.md5(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]", ""
        )
    )


def _write_meta(spark: SparkSession, table: str, meta: dict) -> None:
    spark.createDataFrame(
        [tuple(meta.values())], list(meta.keys())
    ).write.mode("overwrite").saveAsTable(f"{table}__meta")


def _read_meta(spark: SparkSession, table: str, kind: str) -> dict:
    row = spark.table(f"{table}__meta").first()
    meta = row.asDict()
    if meta.get("kind") != kind:
        raise ValueError(
            f"catalog {table} is kind={meta.get('kind')!r}, expected {kind!r}"
        )
    return meta


def write_exact_catalog(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """(Re)create the EXACT catalog from a corpus: one row per distinct
    normalized fingerprint, keeper id = min(id) (the batch operator's
    keep rule), bucketed+sorted by ``fingerprint``.  ONE map-side-
    combinable aggregation over the corpus, then the bucketed write —
    the only time the corpus-sized table shuffles; every later probe
    rides the buckets.  ``n_buckets`` sizes probe parallelism: at
    10^12 fingerprints use O(10^4-10^5) buckets so one bucket fits an
    executor's scan budget; 64 keeps local tests snappy."""
    spark = df.sparkSession
    cat = (
        df.select(
            content_fingerprint(text_col).alias("fingerprint"),
            F.col(id_col).alias("keep_id"),
        )
        .groupBy("fingerprint")
        .agg(F.min("keep_id").alias("keep_id"))
    )
    (
        cat.write.mode("overwrite")
        .bucketBy(n_buckets, "fingerprint")
        .sortBy("fingerprint")
        .saveAsTable(table)
    )
    _write_meta(spark, table, {"kind": "exact", "n_buckets": n_buckets})


def incremental_exact_dedup(
    new_df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_batch_keep: bool = True,
) -> DataFrame:
    """Flag a NEW batch against the exact catalog: adds
    ``fingerprint``, ``in_catalog`` (an identical-content row already
    exists in the corpus) and ``batch_keep`` (first occurrence of the
    fingerprint WITHIN the batch, by min ``id_col`` — intra-batch dups
    collapse here without touching the catalog).  ``new_rows =
    batch_keep AND NOT in_catalog`` is the append set.
    ``with_batch_keep=False`` skips the intra-batch window for callers
    that collapse intra-batch dups elsewhere (``pipeline/ingest.py``
    defers to ``curate()``'s exact gate).

    Scale shape: the catalog side of the join is a bucketed scan — NO
    Exchange (plan golden); only the batch (small side) shuffles, into
    the catalog's own bucketing.  The intra-batch window partitions by
    fingerprint over the batch only.  The catalog side collapses per
    fingerprint BEFORE the join (a LOCAL aggregation — group key =
    bucket key, so still no Exchange): duplicate catalog rows, legal
    after crash-replayed appends (``pipeline/ingest.py``), must not
    fan out batch rows."""
    from pyspark.sql import Window

    _read_meta(new_df.sparkSession, table, "exact")
    keyed = new_df.withColumn(
        "fingerprint", content_fingerprint(text_col)
    )
    if with_batch_keep:
        w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
        keyed = keyed.withColumn("batch_keep", F.row_number().over(w) == 1)
    cat = (
        new_df.sparkSession.table(table)
        .select("fingerprint")
        .dropDuplicates(["fingerprint"])
        .withColumn("in_catalog", F.lit(True))
    )
    return keyed.join(cat, "fingerprint", "left").withColumn(
        "in_catalog", F.coalesce(F.col("in_catalog"), F.lit(False))
    )


def append_exact_catalog(
    new_df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a probed batch's NEW fingerprints (``batch_keep AND NOT
    in_catalog`` — computed here from the raw batch so callers can pass
    either the raw frame or the probe output) into the catalog,
    preserving the bucket spec (Spark validates ``bucketBy`` against
    the existing table on append)."""
    meta = _read_meta(new_df.sparkSession, table, "exact")
    probed = (
        incremental_exact_dedup(new_df, table, text_col, id_col)
        if "in_catalog" not in new_df.columns
        else new_df
    )
    fresh = (
        probed.filter(F.col("batch_keep") & ~F.col("in_catalog"))
        .select("fingerprint", F.col(id_col).alias("keep_id"))
    )
    (
        fresh.write.mode("append")
        .bucketBy(int(meta["n_buckets"]), "fingerprint")
        .sortBy("fingerprint")
        .saveAsTable(table)
    )


def write_url_catalog(
    df: DataFrame,
    table: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    **canon_kwargs,
) -> None:
    """(Re)create the URL catalog from a corpus: one row per distinct
    CANONICAL url (``functions.urls.canonicalize_url``), keeper id =
    min(id), bucketed+sorted by ``canon_url`` — the crawler's "have we
    fetched this page before?" index, same scale shape as the exact
    catalog (one corpus shuffle at build, bucket-riding probes
    forever).  Rows with no canonical URL (NULL/blank) carry no page
    identity and are excluded."""
    from cl_readability_spark.functions.urls import canonicalize_url

    spark = df.sparkSession
    cat = (
        df.select(
            canonicalize_url(F.col(url_col), **canon_kwargs).alias(
                "canon_url"
            ),
            F.col(id_col).alias("keep_id"),
        )
        .filter(F.col("canon_url").isNotNull())
        .groupBy("canon_url")
        .agg(F.min("keep_id").alias("keep_id"))
    )
    (
        cat.write.mode("overwrite")
        .bucketBy(n_buckets, "canon_url")
        .sortBy("canon_url")
        .saveAsTable(table)
    )
    _write_meta(spark, table, {"kind": "url", "n_buckets": n_buckets})


def incremental_url_dedup(
    new_df: DataFrame,
    table: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    with_batch_keep: bool = True,
    **canon_kwargs,
) -> DataFrame:
    """Flag a NEW batch against the URL catalog: adds ``canon_url``,
    ``in_catalog`` (the page is already in the corpus) and
    ``batch_keep`` (first occurrence of the canonical URL WITHIN the
    batch, by min ``id_col``).  NULL-canonical rows (blank URLs) are
    never ``in_catalog`` and always ``batch_keep`` — a missing URL is
    not evidence of duplication (the ``url_dedup`` stance).
    ``new_rows = batch_keep AND NOT in_catalog`` is the append set.

    Scale shape: identical to ``incremental_exact_dedup`` — the
    catalog side is a bucketed scan with NO Exchange; only the batch
    shuffles, into the catalog's bucketing; the intra-batch window
    partitions by canon_url over the batch only (a crawl batch's hot
    page collapses within the batch, never against the catalog)."""
    from pyspark.sql import Window

    from cl_readability_spark.functions.urls import canonicalize_url

    _read_meta(new_df.sparkSession, table, "url")
    keyed = new_df.withColumn(
        "canon_url", canonicalize_url(F.col(url_col), **canon_kwargs)
    )
    if with_batch_keep:
        w = Window.partitionBy("canon_url").orderBy(F.col(id_col).asc())
        keyed = keyed.withColumn(
            "batch_keep",
            F.col("canon_url").isNull()
            | (F.row_number().over(w) == 1),
        )
    cat = (
        new_df.sparkSession.table(table)
        .select("canon_url")
        .dropDuplicates(["canon_url"])
        .withColumn("in_catalog", F.lit(True))
    )
    return keyed.join(cat, "canon_url", "left").withColumn(
        "in_catalog", F.coalesce(F.col("in_catalog"), F.lit(False))
    )


def append_url_catalog(
    new_df: DataFrame,
    table: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    **canon_kwargs,
) -> None:
    """Append a probed batch's NEW canonical URLs (``batch_keep AND NOT
    in_catalog``, NULL-canonical rows excluded — they carry no page
    identity) into the catalog, preserving the bucket spec."""
    meta = _read_meta(new_df.sparkSession, table, "url")
    probed = (
        incremental_url_dedup(
            new_df, table, url_col, id_col, **canon_kwargs
        )
        if "in_catalog" not in new_df.columns
        else new_df
    )
    fresh = (
        probed.filter(
            F.col("batch_keep")
            & ~F.col("in_catalog")
            & F.col("canon_url").isNotNull()
        )
        .select("canon_url", F.col(id_col).alias("keep_id"))
    )
    (
        fresh.write.mode("append")
        .bucketBy(int(meta["n_buckets"]), "canon_url")
        .sortBy("canon_url")
        .saveAsTable(table)
    )


def write_minhash_catalog(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    n_buckets: int = 64,
) -> None:
    """(Re)create the MINHASH catalog: one band row per (doc, band) —
    ``(band_key, id, sig)`` with ``band_key = xxhash64(band_idx,
    band_sig)`` — bucketed+sorted by ``band_key``.  ``sig`` (the full
    n_hashes minhash vector) rides every band row so probe candidates
    verify by signature agreement with no second catalog lookup.  ONE
    Arrow stage over the corpus (the shared ``minhash_stage``), ONE
    bucketed-write shuffle — then never again."""
    spark = df.sparkSession
    rows = _band_rows_with_sig(
        df, text_col, id_col, k, n_hashes, bands, seed
    )
    (
        rows.select("band_key", F.col(id_col).alias("catalog_id"), "sig")
        .write.mode("overwrite")
        .bucketBy(n_buckets, "band_key")
        .sortBy("band_key")
        .saveAsTable(table)
    )
    _write_meta(
        spark,
        table,
        {
            "kind": "minhash",
            "n_buckets": n_buckets,
            "k": k,
            "n_hashes": n_hashes,
            "bands": bands,
            "seed": seed,
        },
    )


def _band_rows_with_sig(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    n_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, band_key, sig) — one row per band, sig = full minhash
    vector.  Same hash family as ``minhash_stage``
    (functions/dedup.py): keyed shingle hashes → affine minhash → keyed
    blake2b-64 band slices; equality of texts ⇒ equality of band keys
    AND signatures, and the signature agreement fraction estimates
    Jaccard (Broder 1997).  One Arrow stage, stateless per row."""
    import hashlib

    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    from cl_readability_spark.functions.dedup import (
        _minhash_coeffs,
        _shingle_hashes,
    )

    if n_hashes % bands:
        raise ValueError("n_hashes must be divisible by bands")
    rows_per_band = n_hashes // bands
    a_vec, b_vec = _minhash_coeffs(seed, n_hashes)
    key = str(seed).encode()
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("band_idx", LongType(), False),
            StructField("band_sig", LongType(), False),
            StructField("sig", ArrayType(LongType(), False), False),
        ]
    )

    def _batches(iterator):
        import pandas as pd

        blake = hashlib.blake2b
        for pdf in iterator:
            ids, band_idxs, band_sigs, sigs = [], [], [], []
            for row in pdf[[id_col, text_col]].itertuples(index=False):
                doc_id, text = row
                hs = _shingle_hashes(text, k, key)
                sig = (hs[:, None] * a_vec[None, :] + b_vec[None, :]).min(
                    axis=0
                )
                sig_list = [int(x) for x in sig.astype(np.int64)]
                for b in range(bands):
                    ids.append(doc_id)
                    band_idxs.append(b)
                    band_sigs.append(
                        int(
                            np.uint64(
                                int.from_bytes(
                                    blake(
                                        sig[
                                            b
                                            * rows_per_band : (b + 1)
                                            * rows_per_band
                                        ].tobytes(),
                                        digest_size=8,
                                        key=key,
                                    ).digest(),
                                    "big",
                                )
                            ).astype(np.int64)
                        )
                    )
                    sigs.append(sig_list)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "band_idx": band_idxs,
                    "band_sig": band_sigs,
                    "sig": sigs,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        _batches, schema=out_schema
    ).withColumn(
        "band_key", F.xxhash64(F.col("band_idx"), F.col("band_sig"))
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Flag a NEW batch's near-dups-of-the-corpus: each batch doc's band
    rows probe the bucketed catalog on ``band_key``; colliding pairs
    verify by minhash signature agreement (the Jaccard estimate) >=
    ``threshold``.  Returns one row per input row with
    ``near_dup_in_catalog`` and, for flagged rows,
    ``catalog_match_id`` / ``catalog_sig_agreement`` of the BEST match
    (max agreement, max catalog id tiebreak — deterministic).

    Scale shape: catalog side = bucketed scan, NO Exchange; the batch's
    band rows shuffle into the catalog bucketing (the one exchange).
    Verify volume is bounded by real LSH collisions (64-bit band keys
    make chance collisions negligible), and the agreement expression is
    a JVM ``zip_with``/``aggregate`` over exactly ``n_hashes``
    components — the bounded-verify stance the cosine A/B measured
    (BENCH/BASELINE.md round 8: interpreted HOFs win below ~500k probe
    rows).  Intra-batch near-dups are the BATCH operator's job
    (``minhash_near_dups``); this operator answers only "is it already
    in the corpus" — run both for a full batch ingest."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, table, "minhash")
    rows = _band_rows_with_sig(
        new_df,
        text_col,
        id_col,
        int(meta["k"]),
        int(meta["n_hashes"]),
        int(meta["bands"]),
        int(meta["seed"]),
    ).select(id_col, "band_key", "sig")
    cat = spark.table(table)
    n_hashes = int(meta["n_hashes"])
    agreement = (
        F.aggregate(
            F.zip_with(
                F.col("sig"),
                F.col("cat_sig"),
                lambda a, b: (a == b).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(n_hashes))
    )
    hits = (
        rows.join(
            cat.select(
                "band_key",
                "catalog_id",
                F.col("sig").alias("cat_sig"),
            ),
            "band_key",
        )
        .withColumn("sig_agreement", agreement)
        .filter(F.col("sig_agreement") >= F.lit(threshold))
        # best match per batch doc: max agreement, max catalog id — one
        # map-side-combinable agg (the line_dedup min-struct precedent)
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("sig_agreement"), F.col("catalog_id"))
            ).alias("_best")
        )
        .select(
            id_col,
            F.col("_best.catalog_id").alias("catalog_match_id"),
            F.col("_best.sig_agreement").alias("catalog_sig_agreement"),
        )
    )
    return new_df.join(hits, id_col, "left").withColumn(
        "near_dup_in_catalog", F.col("catalog_match_id").isNotNull()
    )


def append_minhash_catalog(
    new_df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a batch's band rows into the minhash catalog with the
    catalog's OWN parameters (meta-validated), preserving the bucket
    spec.  Callers append the post-dedup survivors so the catalog stays
    one-row-per-retained-doc-per-band."""
    meta = _read_meta(new_df.sparkSession, table, "minhash")
    rows = _band_rows_with_sig(
        new_df,
        text_col,
        id_col,
        int(meta["k"]),
        int(meta["n_hashes"]),
        int(meta["bands"]),
        int(meta["seed"]),
    )
    (
        rows.select("band_key", F.col(id_col).alias("catalog_id"), "sig")
        .write.mode("append")
        .bucketBy(int(meta["n_buckets"]), "band_key")
        .sortBy("band_key")
        .saveAsTable(table)
    )
