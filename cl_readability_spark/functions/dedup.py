"""Near-duplicate detection at corpus scale — MinHash+LSH, SimHash, and
winnowing fingerprints.

Hot-path split, chosen by measurement (PLANS.md): per-document hashing
(shingling, minhash, simhash bit-sums, winnowing) runs in fused
numpy/Arrow stages — the expression alternatives are interpreted
higher-order-function lambdas (no codegen) and 2.5-6.6× slower — while
everything wide stays JVM: band/bucket exchanges, collect_list buckets,
pairwise explode, exact Jaccard on hashed-shingle long arrays, bit_count
Hamming verify.

Scale design: the only wide operations are (a) the explode of ``bands``
rows per doc (recall-curve-sized per threshold since round 5; 7-23 in
practice), and (b) the groupBy on (band_idx, band_hash) whose fan-in is
the bucket size (anti-skew: bucket lists are capped via ``max_bucket``).
The minhash pipeline offers two exchange shapes (``carry`` at
``minhash_near_dups``): the join-free single pass whose hash arrays ride
through the bucket shuffle (fast at small scale, exchange = bands ×
shingle volume), and the slim rehash plan that exchanges 20-byte band
rows and re-hashes candidate docs only (the large-corpus shape)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)


def _minhash_coeffs(seed: int, n_hashes: int):
    """The multiply-shift hash family shared by every minhash stage
    (``minhash_stage`` and the catalog band rows of
    ``functions/incremental.py`` — ONE derivation so the two can never
    silently desynchronize).  Returns (a_vec, b_vec) uint64 arrays;
    a_j odd."""
    import hashlib

    import numpy as np

    coeffs = []
    for j in range(n_hashes):
        h = hashlib.sha256(f"mh:{seed}:{j}".encode()).digest()
        coeffs.append(
            (int.from_bytes(h[:8], "big") | 1, int.from_bytes(h[8:16], "big"))
        )
    return (
        np.array([c[0] for c in coeffs], dtype=np.uint64),
        np.array([c[1] for c in coeffs], dtype=np.uint64),
    )


def _shingle_hashes(text, k: int, key: bytes):
    """Keyed blake2b-64 hashes of a text's distinct word k-grams (the
    short-text fallback hashes the whole word run) — the shared per-text
    shingling of ``minhash_stage``, the incremental minhash catalog and
    the decontamination n-gram screens.  Returns a uint64 ndarray."""
    import hashlib

    import numpy as np

    blake = hashlib.blake2b
    words = (text or "").strip().lower().split()
    if len(words) >= k:
        grams = {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
    else:
        grams = {" ".join(words)}
    return np.fromiter(
        (
            int.from_bytes(blake(g.encode(), digest_size=8, key=key).digest(), "big")
            for g in grams
        ),
        dtype=np.uint64,
        count=len(grams),
    )


def minhash_stage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    seed: int = 42,
    include: str = "both",
) -> DataFrame:
    """Fused Arrow stage: (id [, shingle_hashes array<long>]
    [, signature array<long>]) in ONE python pass per batch; ``include``
    selects "signature", "hashes", or "both" (skipping an unneeded array
    saves its Arrow serialization, and the hashes-only mode skips the
    numpy signature broadcast entirely).

    Shingle hash = keyed blake2b-64 of the word k-gram (deterministic
    across processes); signature_j = min over shingles of the multiply-
    shift universal hash (a_j·h + b_j mod 2^64, a_j odd) — a numpy
    (n_shingles × n_hashes) broadcast, no per-hash re-scan of the text.

    Why not pure JVM: the expression shingler (transform/slice/concat_ws
    per position) runs as interpreted lambdas (HOFs don't codegen) and is
    re-evaluated per plan branch — measured 2.2 s per materialization at
    sf0.1 (5k docs), ×3 branches.  Downstream stays JVM: banding/bucketing
    on the signature, exact Jaccard on the hashed-shingle long arrays."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    a_vec, b_vec = _minhash_coeffs(seed, n_hashes)
    key = str(seed).encode()

    if include not in ("both", "signature", "hashes"):
        raise ValueError(f"include must be both|signature|hashes, got {include}")
    want_hashes = include in ("both", "hashes")
    want_sig = include in ("both", "signature")
    fields = [df.schema[id_col]]
    if want_hashes:
        fields.append(StructField("shingle_hashes", ArrayType(LongType()), False))
    if want_sig:
        fields.append(StructField("signature", ArrayType(LongType()), False))
    out_schema = StructType(fields)

    def _batches(iterator):
        for pdf in iterator:
            ids, sh_col, sig_col = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                hs = _shingle_hashes(text, k, key)
                ids.append(doc_id)
                if want_hashes:
                    sh_col.append(hs.astype(np.int64))
                if want_sig:
                    # (n_shingles, n_hashes) multiply-shift, mod 2^64 wrap
                    sig = (hs[:, None] * a_vec[None, :] + b_vec[None, :]).min(axis=0)
                    sig_col.append(sig.astype(np.int64))
            out = {id_col: ids}
            if want_hashes:
                out["shingle_hashes"] = sh_col
            if want_sig:
                out["signature"] = sig_col
            yield pd.DataFrame(out)

    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # CPU-heavy python stage: floor the parallelism — a byte-sized scan
    # of a small-on-disk corpus otherwise runs the whole shingle+hash
    # pass on 1-2 cores (no-op when the input already spans the cores)
    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        _batches, out_schema
    )


def minhash_params(
    threshold: float,
    recall_target: float = 0.95,
    n_max: int = 128,
    probe_j: float | None = None,
) -> tuple[int, int]:
    """(n_hashes, bands) sized from the LSH recall curve — the minhash
    twin of ``similarity.near_dup_params`` so callers don't hand-tune.

    For each rows-per-band r, the minimum band count b with
    1-(1-threshold^r)^b ≥ recall_target is computed; among the feasible
    (r, b) with r·b ≤ n_max the one with the LOWEST candidate
    probability for a clearly-sub-threshold pair (J = ``probe_j``,
    default threshold/2) wins — more rows per band costs more hashes but
    suppresses below-threshold candidates, which is where verification
    time goes.  Pure arithmetic, no Spark action.

    Why this exists: a FIXED banding has a recall cliff.  The historical
    8×4 default catches J = 0.9 pairs with P ≈ 0.9996 but J = 0.6 pairs
    with P ≈ 0.67 and J = 0.5 pairs with P ≈ 0.40 — a caller lowering
    ``jaccard_threshold`` silently loses boundary pairs unless the
    banding is re-sized with it."""
    import math

    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    probe = threshold / 2 if probe_j is None else probe_j
    best: tuple[float, int, int, int] | None = None
    for r in range(1, 11):
        p = threshold**r
        if p >= 1.0:
            continue
        b = max(2, math.ceil(math.log(1 - recall_target) / math.log(1 - p)))
        n = r * b
        if n > n_max:
            continue
        cand = 1 - (1 - probe**r) ** b
        key = (cand, n, r, b)
        if best is None or key < best:
            best = key
    if best is None:
        raise ValueError(
            f"no (rows, bands) within n_max={n_max} reaches recall "
            f"{recall_target} at threshold {threshold}"
        )
    _, n, r, b = best
    return n, b


def _band_column(bands: int, rows_per_band: int) -> Column:
    """The LSH band rows of a ``signature`` column: ``band`` =
    explode of one (band_idx, band_hash) struct per band, band_hash =
    xxhash64 of the band's ``rows_per_band`` signature values joined
    with ",".  Written as ONE SQL expression string so the column costs
    one JVM call: built per element through ``pyspark.sql.functions``
    the same expression took ~350 py4j calls (0.4-0.6 s of driver time
    per warm build at the default 91 × 13 banding, on 4 cores).  The parsed expression is
    the same Catalyst tree (one codegen'd Generate, no higher-order
    function), so every output byte is unchanged."""
    structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash', xxhash64(concat_ws(',', "
        + ", ".join(
            f"CAST(signature[{b * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)
        )
        + ")))"
        for b in range(bands)
    )
    return F.expr(f"explode(array({structs})) AS band")


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int | None = None,
    bands: int | None = None,
    jaccard_threshold: float = 0.6,
    max_bucket: int = 64,
    carry: str = "arrays",
) -> DataFrame:
    """Full pipeline: fused shingle+minhash Arrow stage → LSH buckets →
    candidate pairs → exact Jaccard verification on the hashed shingle
    sets (64-bit; collision probability ~2^-64 per shingle pair) → pairs
    ≥ threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Cost/plan shape of the DEFAULT ``carry="arrays"`` plan: the hashed
    shingle arrays (~8×n_shingles bytes per doc, on EVERY band row) ride
    THROUGH the bucket shuffle, so the plan is exactly: one Arrow stage
    over the corpus → one bucket exchange → pairwise explode → one
    pair-dedup aggregate → JVM Jaccard filter.  Zero joins, every byte
    of text read once — but the exchange volume is bands × the corpus
    shingle volume, which becomes the dominant cost (and a spill hazard)
    on large corpora; a naive lazy verification join is NOT the fix
    (Spark has no cross-branch subplan reuse, so joining shingle sets
    back onto candidate pairs re-runs the hashing stage per branch —
    measured in round 2).  ``carry="rehash"`` is the safe formulation of
    candidates-only hashing (explicit DISK_ONLY pins break the
    re-evaluation).  Building either plan runs no Spark action, and the
    band column of both is one JVM call (``_band_column``): the
    caller picks the plan — ``curate()`` picks it from the survivor count
    its pin's materializing action already takes (``CARRY_THRESHOLD``).

    RECALL/SIZING: by default (n_hashes/bands unset) the banding is
    sized from the LSH recall curve for ``jaccard_threshold``
    (``minhash_params``, recall ≥ 0.95 at the boundary) — the round-4
    fixed default of 32 hashes × 8 bands recalled ≥ 0.998 at J ≥ 0.85
    but only ~0.67 at J = 0.6 and ~0.40 at J = 0.5, a silent cliff for
    callers lowering the threshold; the recall-sized default costs
    ~15-30% extra signature time at sf0.1 (measured, round 5) and
    removes it.
    Passing ``n_hashes``/``bands`` explicitly pins the banding (both
    must be given; ``n_hashes=32, bands=8`` is the historical fixed
    banding).

    EXCHANGE VOLUME (``carry``, round 5): the default single-pass plan
    ("arrays") carries each doc's full hashed-shingle array on EVERY
    band row through the bucket exchange — bands × ~8·n_shingles bytes
    per doc, i.e. roughly bands× the corpus text volume shuffled (at 1M
    turns × 13 bands this measured ~50 GB of transient spill and filled
    the sandbox disk).  ``carry="rehash"`` exchanges slim
    (id, band_idx, band_hash) rows only (~20 B × bands per doc),
    derives the candidate pairs, and re-runs the hashing stage on the
    CANDIDATE docs alone (a semi-join; candidates ≪ corpus on real
    data) before the exact-Jaccard join — the python stage runs twice
    but the exchange shrinks by the shingle-array factor.  Use
    "rehash" for large corpora (``curate()`` does above
    ``CARRY_THRESHOLD`` survivors); "arrays" stays the zero-join fast
    path for bench/toy scale.  Identical output, pytest-pinned."""
    if carry not in ("arrays", "rehash"):
        raise ValueError(f"carry must be arrays|rehash, got {carry!r}")
    if n_hashes is None and bands is None:
        n_hashes, bands = minhash_params(jaccard_threshold)
    elif n_hashes is None or bands is None:
        raise ValueError("pass both n_hashes and bands, or neither")
    if bands < 1 or n_hashes < 1:
        # bands=0 would ZeroDivisionError deep in the band builder and
        # n_hashes=0 degenerates to empty signatures (single-bucket LSH,
        # all-pairs candidates) — refuse both up front (ADVICE r6)
        raise ValueError(
            f"n_hashes ({n_hashes}) and bands ({bands}) must both be >= 1"
        )
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands})"
        )
    band = _band_column(bands, n_hashes // bands)
    if carry == "rehash":
        return _minhash_near_dups_rehash(
            df, id_col, text_col, k, n_hashes, jaccard_threshold,
            max_bucket, band,
        )

    hashed = minhash_stage(df, id_col, text_col, k, n_hashes, include="both")
    banded = hashed.select(
        F.col(id_col).alias("_id"),
        F.col("shingle_hashes"),
        band,
    ).select("_id", "shingle_hashes", "band.band_idx", "band.band_hash")
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_id"), F.col("shingle_hashes")))
            ).alias("items")
        )
        .filter((F.size("items") > 1) & (F.size("items") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda a, i: F.transform(
                        F.slice(F.col("items"), i + 2, F.size("items")),
                        lambda b: F.struct(
                            a["_id"].alias("id_a"),
                            b["_id"].alias("id_b"),
                            a["shingle_hashes"].alias("sh_a"),
                            b["shingle_hashes"].alias("sh_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
    verified = (
        pairs.groupBy("id_a", "id_b")
        .agg(F.first("sh_a").alias("sh_a"), F.first("sh_b").alias("sh_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return verified


def _minhash_near_dups_rehash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    jaccard_threshold: float,
    max_bucket: int,
    band: Column,
) -> DataFrame:
    """The slim-exchange minhash plan (``carry="rehash"``; rationale at
    ``minhash_near_dups``): signature-only python pass → 20-byte band
    rows through the bucket exchange → candidate-pair derivation →
    re-hash the candidate docs only → exact Jaccard via two keyed joins.

    The candidate-pair frame feeds the id set AND the final join, and
    the candidate-array frame feeds both join sides — Spark re-evaluates
    shared subtrees per branch (PLANS.md), so both are pinned DISK_ONLY
    (each is narrow: two longs / id + hash array over candidates only);
    release via the standard pins handle on the returned frame."""
    from pyspark.storagelevel import StorageLevel

    from cl_readability_spark.functions.pins import attach_pins

    hashed = minhash_stage(df, id_col, text_col, k, n_hashes, include="signature")
    banded = hashed.select(F.col(id_col).alias("_id"), band).select(
        "_id", "band.band_idx", "band.band_hash"
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda b: F.struct(
                                a.alias("id_a"), b.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
        .persist(StorageLevel.DISK_ONLY)
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(cand_ids, id_col, "leftsemi")
    arrays = minhash_stage(
        cand_docs, id_col, text_col, k, n_hashes, include="hashes"
    ).persist(StorageLevel.DISK_ONLY)
    verified = (
        cand.join(
            arrays.select(
                F.col(id_col).alias("id_a"), F.col("shingle_hashes").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            arrays.select(
                F.col(id_col).alias("id_b"), F.col("shingle_hashes").alias("sh_b")
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return attach_pins(verified, cand, arrays)


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 256,
    max_group: int | None = None,
    return_stats: bool = False,
):
    """SimHash near-duplicate pairs: documents whose 64-bit SimHashes are
    within ``max_hamming`` bits.

    Identical signatures are collapsed FIRST (one row per distinct
    simhash, carrying its sorted id list), which makes the pipeline exact
    on the corpora dedup exists for: a million boilerplate-identical
    documents are ONE row through the block-LSH, their quadratic
    hamming-0 pair set is emitted directly from the group, and
    ``max_bucket`` caps only the number of DISTINCT signatures sharing a
    16-bit block value — chance collisions, not duplication mass.

    Candidate generation for the cross-signature pairs is pigeonhole-
    exact: split into 4 16-bit blocks, any pair within Hamming distance 3
    agrees on at least one whole block, so bucketing distinct signatures
    on (block_idx, block_value) finds every qualifying signature pair —
    UNLESS a block bucket holds more than ``max_bucket`` distinct
    signatures, in which case it is dropped and the loss is surfaced via
    ``return_stats`` (the exactness claim is conditional on zero dropped
    buckets; expected bucket fan-in is n_distinct_sigs / 2^16 per block,
    so the default cap is ~4B distinct signatures of headroom).
    Verification is ``bit_count(xor)`` on the signatures carried through
    the shuffle — join-free, all JVM after the signature Arrow stage.

    Returns (id_a, id_b, hamming) with id_a < id_b; with
    ``return_stats=True`` returns (pairs, stats) where stats is a 1-row
    DataFrame (n_distinct_sigs, max_group_size, n_buckets_dropped,
    sigs_in_dropped_buckets, n_groups_capped, ids_in_capped_groups).

    Scale shape: one groupBy on simhash (map-side combinable), one block
    exchange over distinct signatures, pair explode, id-list expansion.
    Groups of identical documents ride as one id array; their pair output
    is inherently quadratic in the group size.  ``max_group`` bounds that:
    a clone group larger than the cap emits STAR pairs only — its minimum
    id paired with every other member, linear output that still connects
    the whole group for downstream ``dup_clusters`` keep-one — and a
    capped group participates in cross-signature pairs through its
    representative alone (other members stay transitively connected via
    the star).  Capping is surfaced via ``return_stats``
    (n_groups_capped / ids_in_capped_groups), mirroring the bucket-drop
    accounting.  NOTE the id array of a mega-group is still ONE
    collect_list row (~id_size × group bytes on a single task); the
    principled upstream fix for clone-dominated corpora remains exact
    dedup before simhash (curation.py runs exactly that order)."""
    if max_hamming > 3:
        raise ValueError("4-block pigeonhole guarantees recall only for max_hamming <= 3")
    if max_group is not None and max_group < 2:
        raise ValueError("max_group must be >= 2 (a pair needs both sides)")
    sim = simhash_signature(df, id_col, text_col)
    groups = sim.groupBy("simhash").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    if return_stats:
        # the stats aggregates reference groups/buckets alongside the pair
        # pipeline; pin the shared frame so the signature Arrow stage and
        # the simhash groupBy run once, not once per branch (caller holds
        # the returned frames; the cache is released with the session or
        # an explicit unpersist)
        from pyspark import StorageLevel

        groups = groups.persist(StorageLevel.DISK_ONLY)

    def _triangle(ids):
        return F.flatten(
            F.transform(
                ids,
                lambda a, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                ),
            )
        )

    def _star(ids):
        # min-id representative paired with every other member: linear
        # output, same connected component as the full triangle
        return F.transform(
            F.slice(ids, 2, F.size(ids) - 1),
            lambda b: F.struct(ids[0].alias("id_a"), b.alias("id_b")),
        )

    if max_hamming == 0:
        # fast path: only identical signatures qualify — no block LSH
        emit = _triangle(F.col("ids"))
        if max_group is not None:
            emit = F.when(
                F.size("ids") > max_group, _star(F.col("ids"))
            ).otherwise(emit)
        pairs = (
            groups.filter(F.size("ids") > 1)
            .select(F.explode(emit).alias("p"))
            .select("p.id_a", "p.id_b", F.lit(0).cast("long").alias("hamming"))
        )
        buckets = None
    else:
        # ONE pipeline, no union: Spark has no cross-branch subplan reuse
        # (PLANS.md), so a same-sig/cross-sig union would run the signature
        # stage twice.  Instead the hamming-0 "self pair" (sig, sig) of
        # every multi-doc group is emitted from its block-0 bucket (block 0
        # partitions ALL signatures exactly once), and oversized buckets
        # degrade to self-pairs-only instead of vanishing — so duplication
        # mass can never drop hamming-0 pairs, whatever the bucket sizes.
        blocks = groups.select(
            F.col("simhash"),
            F.col("ids"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("block_idx"),
                            F.shiftrightunsigned(F.col("simhash"), 16 * b)
                            .bitwiseAND(F.lit(0xFFFF))
                            .alias("block_val"),
                        )
                        for b in range(4)
                    ]
                )
            ).alias("blk"),
        ).select("simhash", "ids", "blk.block_idx", "blk.block_val")
        buckets = (
            blocks.groupBy("block_idx", "block_val")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("simhash"), F.col("ids")))
                ).alias("items")
            )
            .withColumn("bsize", F.size("items"))
        )
        if return_stats:  # shared by the pair pipeline AND the drop counter
            from pyspark import StorageLevel

            buckets = buckets.persist(StorageLevel.DISK_ONLY)

        def _partner_slice(i):
            # block 0 includes the item itself (start i+1 → the self pair);
            # other blocks start after it (i+2).  Oversized buckets keep
            # ONLY the self pair (length 1 at block 0, 0 elsewhere).
            start = F.when(F.col("block_idx") == 0, i + 1).otherwise(i + 2)
            length = F.when(
                F.col("bsize") <= max_bucket, F.size("items")
            ).otherwise(
                F.when(F.col("block_idx") == 0, F.lit(1)).otherwise(F.lit(0))
            )
            return F.slice(F.col("items"), start, length)

        sig_pairs = (
            buckets.select(
                F.explode(
                    F.flatten(
                        F.transform(
                            F.col("items"),
                            lambda a, i: F.transform(
                                _partner_slice(i),
                                lambda b: F.struct(
                                    a["simhash"].alias("sim_a"),
                                    b["simhash"].alias("sim_b"),
                                    a["ids"].alias("ids_a"),
                                    b["ids"].alias("ids_b"),
                                ),
                            ),
                        )
                    )
                ).alias("p")
            )
            .filter(
                (
                    F.bit_count(F.col("p.sim_a").bitwiseXOR(F.col("p.sim_b")))
                    <= max_hamming
                )
                & (
                    (F.col("p.sim_a") != F.col("p.sim_b"))
                    | (F.size("p.ids_a") > 1)
                )
            )
            .groupBy("p.sim_a", "p.sim_b")
            .agg(F.first("p.ids_a").alias("ids_a"), F.first("p.ids_b").alias("ids_b"))
            .withColumn(
                "hamming",
                F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"),
            )
        )
        # id expansion: cross-sig pairs take the full ids_a × ids_b product;
        # the self pair takes only the within-group upper triangle.  With
        # max_group set, an oversized group degrades to linear output: its
        # self pair becomes the star (rep × rest), and it meets other
        # signatures through its representative only (the star keeps the
        # rest transitively connected)
        a_src = F.col("ids_a")
        if max_group is not None:
            a_src = F.when(
                (F.size("ids_a") > max_group) & (F.col("sim_a") != F.col("sim_b")),
                F.slice("ids_a", 1, 1),
            ).otherwise(a_src)
        expanded = sig_pairs.select(
            "sim_a",
            "sim_b",
            "hamming",
            "ids_b",
            F.posexplode(a_src).alias("i", "a"),
        )
        same_sig_partner = F.slice(
            F.col("ids_b"),
            F.col("i") + 2,
            F.greatest(F.size("ids_b") - F.col("i") - 1, F.lit(0)),
        )
        cross_sig_partner = F.col("ids_b")
        if max_group is not None:
            empty = F.slice("ids_b", 1, 0)
            same_sig_partner = F.when(
                F.size("ids_b") > max_group,
                F.when(F.col("i") == 0, F.slice("ids_b", 2, F.size("ids_b") - 1))
                .otherwise(empty),
            ).otherwise(same_sig_partner)
            cross_sig_partner = F.when(
                F.size("ids_b") > max_group, F.slice("ids_b", 1, 1)
            ).otherwise(cross_sig_partner)
        partner = F.when(
            F.col("sim_a") == F.col("sim_b"), same_sig_partner
        ).otherwise(cross_sig_partner)
        pairs = (
            expanded.select("a", "hamming", F.explode(partner).alias("b"))
            .select(
                F.least("a", "b").alias("id_a"),
                F.greatest("a", "b").alias("id_b"),
                "hamming",
            )
        )
    if not return_stats:
        return pairs
    capped_pred = (
        F.size("ids") > max_group if max_group is not None else F.lit(False)
    )
    base = groups.agg(
        F.count("*").alias("n_distinct_sigs"),
        F.max(F.size("ids")).alias("max_group_size"),
        F.sum(capped_pred.cast("long")).alias("n_groups_capped"),
        F.sum(
            F.when(capped_pred, F.size("ids")).otherwise(0).cast("long")
        ).alias("ids_in_capped_groups"),
    )
    if buckets is None:
        stats = base.select(
            "n_distinct_sigs",
            "max_group_size",
            F.lit(0).cast("long").alias("n_buckets_dropped"),
            F.lit(0).cast("long").alias("sigs_in_dropped_buckets"),
            "n_groups_capped",
            "ids_in_capped_groups",
        )
    else:
        dropped = buckets.filter(F.col("bsize") > max_bucket).agg(
            F.count("*").cast("long").alias("n_buckets_dropped"),
            F.coalesce(F.sum("bsize"), F.lit(0)).cast("long").alias(
                "sigs_in_dropped_buckets"
            ),
        )
        stats = base.crossJoin(dropped).select(
            "n_distinct_sigs",
            "max_group_size",
            "n_buckets_dropped",
            "sigs_in_dropped_buckets",
            "n_groups_capped",
            "ids_in_capped_groups",
        )
    from cl_readability_spark.functions.pins import attach_pins

    # hand back the release handle for the stats-path pins (pins.py:
    # release on the EXACT returned pairs frame)
    return attach_pins(pairs, groups, buckets), stats


def simhash_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", seed: int = 42
) -> DataFrame:
    """64-bit SimHash per document, fused Arrow stage: tokens →
    keyed blake2b-64 → per-bit ±1 sums weighted by token count → sign
    bits, all one numpy pass per batch.  (id, simhash:long).

    Replaces a 64-aggregate JVM formulation that paid a multi-second
    janino compile for its 64 CASE-WHEN sums and was re-evaluated per
    plan branch."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    key = str(seed).encode()
    bit_weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    out_schema = StructType([df.schema[id_col], StructField("simhash", LongType(), False)])

    def _batches(iterator):
        blake = hashlib.blake2b
        for pdf in iterator:
            ids, sims = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                counts: dict[str, int] = {}
                for tok in (text or "").strip().lower().split():
                    counts[tok] = counts.get(tok, 0) + 1
                if not counts:
                    counts[""] = 1
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            blake(t.encode(), digest_size=8, key=key).digest(), "big"
                        )
                        for t in counts
                    ),
                    dtype=np.uint64,
                    count=len(counts),
                )
                w = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
                bits = (((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1)
                        .astype(np.int64) * 2 - 1)
                sums = (bits * w[:, None]).sum(axis=0)
                sim = ((sums > 0).astype(np.uint64) * bit_weights).sum()
                ids.append(doc_id)
                sims.append(np.uint64(sim).astype(np.int64))
            yield pd.DataFrame({id_col: ids, "simhash": sims})

    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # parallelism floor as in minhash_stage
    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        _batches, out_schema
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): rolling
    polynomial hash over character k-grams, then the minimum hash of every
    ``window``-length run is selected (rightmost-min rule) — the standard
    plagiarism/near-dup index with guaranteed match detection for shared
    substrings longer than k + window - 1.

    One fused Arrow stage: the k-gram polynomial hashes are k vectorized
    numpy passes (O(doc bytes) total, no per-char python), window minima
    via sliding_window_view; exploded to (id, pos, fingerprint) for
    index-style joins — dedup candidates are then a plain groupBy on
    fingerprint."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    base = 1_000_003
    # k-gram hash h_i = sum_j codes[i+j] * base^(k-1-j) (mod 2^64 via
    # uint64 wraparound) — k vectorized passes instead of a per-char
    # python rolling loop (which would be O(doc bytes) interpreter steps)
    weights = np.array(
        [pow(base, k - 1 - j, 1 << 64) for j in range(k)], dtype=np.uint64
    )
    salt = np.uint64(
        int.from_bytes(hashlib.sha256(f"winnow:{seed}".encode()).digest()[:8], "big")
    )
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("pos", IntegerType(), False),
            StructField("fingerprint", LongType(), False),
        ]
    )

    def _batches(iterator):
        for pdf in iterator:
            ids, poss, fps = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                s = (text or "").lower()
                n = len(s)
                if n < k:
                    continue
                codes = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8)
                n = len(codes)
                if n < k:
                    continue
                n_h = n - k + 1
                h = np.zeros(n_h, dtype=np.uint64)
                for j in range(k):
                    h += codes[j : j + n_h].astype(np.uint64) * weights[j]
                h ^= salt
                if len(h) <= window:
                    picks = {int(h.argmin())}
                else:
                    # sliding-window minima via stride tricks; rightmost min
                    # per the winnowing rule (argmin on the reversed window)
                    sw = np.lib.stride_tricks.sliding_window_view(h, window)
                    rev_arg = window - 1 - np.argmin(sw[:, ::-1], axis=1)
                    picks = set((np.arange(len(sw)) + rev_arg).tolist())
                for p in sorted(picks):
                    ids.append(doc_id)
                    poss.append(int(p))
                    fps.append(int(np.int64(h[p])))
            yield pd.DataFrame({id_col: ids, "pos": poss, "fingerprint": fps})

    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # parallelism floor as in minhash_stage (a byte-sized scan starves
    # the rolling-hash python pass on small-on-disk corpora)
    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        _batches, out_schema
    )


def winnow_candidates(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = 256,
) -> DataFrame:
    """Candidate near-duplicate pairs from winnowing fingerprints: distinct
    (id_a, id_b) with id_a < id_b that share at least one selected
    fingerprint — the groupBy-on-fingerprint index join over
    ``winnow_fingerprints`` output.

    By the winnowing guarantee this candidate set contains every document
    pair sharing a substring longer than k + window - 1 characters.  One
    shuffle on fingerprint (a doc's repeated picks of the same value are
    collapsed by collect_set), pairwise explode bounded by ``max_bucket``
    (degenerate fingerprints — e.g. whitespace runs — cannot explode
    quadratically), then the pair-distinct aggregate."""
    buckets = (
        fp_df.groupBy("fingerprint")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


class _RoundPinner:
    """Per-round materialization strategy for iterative plans (the
    lineage of an iterative DataFrame loop otherwise grows exponentially
    and any frame referenced on two join sides re-evaluates per branch).

    Modes, by deployment target:

    - ``"local"`` — ``localCheckpoint()``: blocks live on executor block
      managers with lineage TRUNCATED, so on a real cluster losing one
      executor mid-loop makes the frame unrecoverable and fails the job
      (documented localCheckpoint semantics).  Fastest; correct ONLY for
      single-JVM / local-mode runs (this sandbox).  Superseded rounds'
      blocks are reclaimed asynchronously by the ContextCleaner once
      their DataFrames are garbage-collected (no unpersist API exists
      for localCheckpoint storage); the frames are compact (id, rep)
      pairs, not text.
    - ``"reliable"`` — ``DataFrame.checkpoint()`` against the session's
      reliable checkpoint directory (HDFS/S3/...): executor loss only
      recomputes lost partitions from the checkpoint files.  Requires
      ``checkpoint_dir`` (set on the SparkContext here) or a context
      with one already configured.  Spark garbage-collects checkpoint
      files with ``spark.cleaner.referenceTracking.cleanCheckpoints``;
      otherwise the caller owns the directory lifecycle.
    - ``"table"`` — stage each round through a parquet table under
      ``checkpoint_dir`` and read it back (the ``--pin sink`` pattern):
      fully fault-tolerant, zero executor-storage footprint, and the
      round boundary is a plain columnar scan — the 100 TB shape when a
      lakehouse path is available.  Superseded rounds are deleted
      best-effort as the loop advances; the FINAL round's table backs
      the returned DataFrame, so the directory must outlive consumption.
    """

    def __init__(self, spark, mode: str, checkpoint_dir: str | None):
        if mode not in ("local", "reliable", "table"):
            raise ValueError(
                f"checkpoint_mode must be local|reliable|table, got {mode!r}"
            )
        self.mode = mode
        self.spark = spark
        self._n = 0
        self._prev_round_paths: list[str] = []
        self._this_round_paths: list[str] = []
        self._prior_ckpt_dir: str | None = None
        self._set_ckpt_dir = False
        if mode == "reliable":
            sc = spark.sparkContext
            if checkpoint_dir is not None:
                # session-global setting — remember the prior dir so
                # restore() can undo the side effect after the loop
                self._prior_ckpt_dir = sc.getCheckpointDir()
                self._set_ckpt_dir = True
                sc.setCheckpointDir(checkpoint_dir)
            elif sc.getCheckpointDir() is None:
                raise ValueError(
                    "checkpoint_mode='reliable' needs checkpoint_dir (or "
                    "SparkContext.setCheckpointDir called beforehand)"
                )
        elif mode == "table":
            if checkpoint_dir is None:
                raise ValueError("checkpoint_mode='table' needs checkpoint_dir")
            import uuid

            self.base = f"{checkpoint_dir.rstrip('/')}/cc-{uuid.uuid4().hex[:12]}"

    def pin(self, df: DataFrame, name: str, persistent: bool = False) -> DataFrame:
        """Materialize ``df`` per the mode.  ``persistent`` pins (the
        adjacency, read by every round) are excluded from the
        superseded-round cleanup in table mode."""
        if self.mode == "local":
            return df.localCheckpoint()
        if self.mode == "reliable":
            return df.checkpoint()
        path = f"{self.base}/{name}-{self._n}"
        self._n += 1
        df.write.mode("overwrite").parquet(path)
        if not persistent:
            self._this_round_paths.append(path)
        return self.spark.read.parquet(path)

    def restore(self) -> None:
        """Undo the reliable-mode checkpoint-dir override (a library call
        must not permanently redirect the session's checkpoint dir).  The
        checkpointed data itself stays valid — the dir setting only
        affects FUTURE checkpoint() calls.  Spark resolves each set dir
        to a fresh UUID subdirectory, so 'restore' re-points at the
        previously RESOLVED dir: later checkpoints land back under the
        caller's original root (one UUID level deeper — the exact
        original setting is not observable through the public API)."""
        if self._set_ckpt_dir and self._prior_ckpt_dir is not None:
            self.spark.sparkContext.setCheckpointDir(self._prior_ckpt_dir)

    def end_round(self) -> None:
        """A round only reads the round directly before it, so once round
        k's pins (and its fixpoint count) have materialized, round k-1 is
        dead weight — delete it best-effort (local filesystem only;
        object-store paths are left to bucket lifecycle rules).  The
        final round is never deleted: its table backs the returned
        DataFrame."""
        if self.mode != "table":
            return
        import shutil

        for p in self._prev_round_paths:
            if "://" not in p:
                shutil.rmtree(p, ignore_errors=True)
        self._prev_round_paths = self._this_round_paths
        self._this_round_paths = []


# edge count up to which dup_clusters resolves components on the driver
# from one bounded collect instead of running label-propagation rounds
# (sizing measurements in the dup_clusters docstring)
DRIVER_CLUSTER_EDGES = 100_000
# id types whose Python ordering is Spark's (non-binary collations and
# floating point order differently, so those ids always take the rounds)
_DRIVER_ID_TYPES = (StringType(), LongType(), IntegerType(), ShortType(), ByteType())


def dup_clusters(
    pairs: DataFrame,
    max_iters: int = 25,
    checkpoint_mode: str = "local",
    checkpoint_dir: str | None = None,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over near-dup
    pairs → (id, cluster_rep) with cluster_rep = the minimum id in the
    component.  ``kept = (id == cluster_rep)`` is the canonical
    keep-one-representative dedup policy over any of this module's pair
    producers (minhash / simhash / winnowing / embedding near-dups).

    The edge set is pinned first (one evaluation of the pair producer),
    then read by ONE bounded collect, ``limit(DRIVER_CLUSTER_EDGES + 1)``.

    Small pair sets (≤ ``DRIVER_CLUSTER_EDGES`` edges, string or integral
    ids, no NULL id): union-find on the driver, returned as a local
    relation of the pairs' id type.  Crossover, measured on 4 cores with
    string ids over mixed cliques/stars/chains of 2-12 nodes (edge pin,
    resolution and a count of the non-representatives, best of 2-3
    runs): the rounds took 3.7 / 5.8 / 13.2 / 30.6 / 38.4 s at 1k / 10k
    / 100k / 300k / 1M edges, the driver path 0.2 / 0.3 / 1.1 / 3.6 /
    10.3 s — always 5 jobs, where the rounds took 73-128.  The driver
    path never lost on one machine, so the bound is set by what the
    driver holds: the collected edges peak at 40 MB of Python heap at
    100k edges and 397 MB at 1M (tracemalloc), and on a cluster the
    rounds spread over the executors while the union-find does not.

    Larger pair sets (the 10^12-turn scale, where the pairs never fit on
    the driver): iterative min-label propagation with pointer jumping —
    each round (a) every node takes the min label over itself and its
    neighbors (one shuffle on id), then (b) labels chase one pointer hop
    (label := label(label), one self-join).  Pointer jumping makes long
    chains converge in O(log n) rounds instead of O(diameter); near-dup
    components are usually cliques and converge in one.  Each round ends
    with a materialization (see ``_RoundPinner`` — iterative Spark plans
    otherwise grow exponentially) and a changed-row count as the driver-
    side fixpoint test.  At 100 TB the per-round cost is two keyed
    shuffles over the EDGE set; past the bounded collect of at most
    ``DRIVER_CLUSTER_EDGES + 1`` edges, no node or edge reaches the
    driver.

    ``checkpoint_mode`` selects how the edge pin and the rounds
    materialize:
    ``"local"`` (default — single-JVM only), ``"reliable"``
    (``DataFrame.checkpoint()``, executor-loss-tolerant; the cluster
    default), or ``"table"`` (parquet-staged rounds, the lakehouse
    shape); modes and their failure semantics in ``_RoundPinner``.
    On a multi-executor cluster DO NOT run the default: pass
    ``checkpoint_mode="reliable"`` with a durable ``checkpoint_dir``.

    If the rounds do not reach the fixpoint within ``max_iters`` the labels
    are WRONG (some nodes still carry a non-minimal representative), so
    by default this raises; ``on_nonconverged="warn"`` downgrades to a
    warning and returns the unconverged labels (diagnostic use only)."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be raise|warn, got {on_nonconverged!r}"
        )
    pinner = _RoundPinner(pairs.sparkSession, checkpoint_mode, checkpoint_dir)
    try:
        # pin the EDGE SET first, before anything reads it twice: Spark
        # has no cross-branch subplan reuse (PLANS.md), so reading
        # `pairs` again (the bounded collect, then the adjacency union's
        # two branches) evaluates the upstream pair producer — often a
        # whole LSH pipeline over the corpus — once per read (measured:
        # +79 s on the 1M-turn curation, a full second minhash pass).
        edges = pinner.pin(
            pairs.select("id_a", "id_b"), "edges", persistent=True
        )
        id_type = edges.schema["id_a"].dataType
        if id_type in _DRIVER_ID_TYPES and id_type == edges.schema["id_b"].dataType:
            few = edges.limit(DRIVER_CLUSTER_EDGES + 1).collect()
            if len(few) <= DRIVER_CLUSTER_EDGES and all(
                a is not None and b is not None for a, b in few
            ):
                return _components_on_driver(edges, few)
        return _dup_clusters_rounds(pinner, edges, max_iters, on_nonconverged)
    finally:
        pinner.restore()


def _components_on_driver(edges: DataFrame, rows: list) -> DataFrame:
    """Connected components of a small edge list on the driver: union-
    find whose root is always the component's minimum id (a union links
    the larger root under the smaller), returned as a local relation
    (id, cluster_rep) of the edges' id type — the same rows the rounds
    return.  Python's ``<`` on str/int orders exactly as Spark's on
    string/integral ids (UTF-8 byte order is code-point order), which is
    why only those id types come here."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = list(parent)
    id_type = edges.schema["id_a"].dataType
    return edges.sparkSession.createDataFrame(
        pa.table({"id": ids, "cluster_rep": [find(x) for x in ids]}),
        StructType(
            [StructField("id", id_type), StructField("cluster_rep", id_type)]
        ),
    )


def _dup_clusters_rounds(
    pinner: _RoundPinner,
    edges: DataFrame,
    max_iters: int,
    on_nonconverged: str,
) -> DataFrame:
    # the staged edges make the adjacency union two cheap scans, and
    # every propagation round reads the pinned adjacency
    adj = pinner.pin(
        edges.unionByName(
            edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        ).select(F.col("id_a").alias("id"), F.col("id_b").alias("nbr")),
        "adj",
        persistent=True,
    )
    labels = pinner.pin(
        adj.groupBy("id")
        .agg(F.min("nbr").alias("rep"))
        .select("id", F.least("id", "rep").alias("rep")),
        "labels",
    )
    pinner.end_round()
    converged = False
    for _ in range(max_iters):
        # (a) edge propagation: min over own rep and neighbors' reps
        nbr_min = (
            adj.join(labels.withColumnRenamed("id", "nbr"), "nbr")
            .groupBy("id")
            .agg(F.min("rep").alias("nbr_rep"))
        )
        # pinned: the pointer-jump self-join below references prop on
        # BOTH sides — without this the edge-propagation join would
        # evaluate twice per round (no cross-branch subplan reuse).
        # The pre-round label rides along as _old so the fixpoint test
        # below is a filter over the pinned round result instead of a
        # join of new labels against old (one fewer shuffle-join job
        # per round — measured on the curation twins where the round
        # overhead, not the data, is the cost).
        prop = pinner.pin(
            labels.join(nbr_min, "id", "left").select(
                "id",
                F.col("rep").alias("_old"),
                F.least(
                    F.col("rep"), F.coalesce(F.col("nbr_rep"), F.col("rep"))
                ).alias("rep"),
            ),
            "prop",
        )
        # (b) pointer jump: rep := rep(rep)
        jump = prop.alias("a").join(
            prop.select(
                F.col("id").alias("rep"), F.col("rep").alias("rep2")
            ).alias("b"),
            "rep",
            "left",
        )
        new_round = pinner.pin(
            jump.select(
                "id",
                F.least(
                    F.col("rep"), F.coalesce(F.col("rep2"), F.col("rep"))
                ).alias("rep"),
                F.col("_old"),
            ),
            "labels",
        )
        changed = new_round.filter(F.col("rep") != F.col("_old")).count()
        labels = new_round.select("id", "rep")
        pinner.end_round()
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"dup_clusters did not reach its fixpoint in {max_iters} rounds — "
            "the returned cluster labels are NOT final (some nodes carry a "
            "non-minimal representative); raise max_iters (rounds needed is "
            "O(log component-diameter))"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select("id", F.col("rep").alias("cluster_rep"))


# whitespace stripped from line EDGES for the line_dedup duplicate test —
# an EXPLICIT class, not \s, because the three engines that must agree on
# it disagree on \s (Java includes U+000B vertical tab, RE2 does not, and
# python str.strip() takes all of unicode).  Space, tab, form feed,
# carriage return (so a CRLF corpus dedups against its LF twin — the
# trailing \r left by splitting CRLF text on \n is edge whitespace), and
# vertical tab.  \n cannot appear inside a line (lines are split on it).
# The DuckDB twin (sqltwins.SQL_LINE_DEDUP_PLANTED) and the python oracle
# (tests/test_dedup.py) apply the SAME class.
LINE_EDGE_WS = " \t\f\r\x0b"
_LINE_TRIM_RE = r"^[ \t\f\r\x0B]+|[ \t\f\r\x0B]+$"


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """C4-style cross-document line deduplication (Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span occurring
    more than once", applied here at line granularity — the common
    implementation unit): every distinct (normalized) line is kept only
    at its FIRST occurrence corpus-wide, ordered by (id, line index);
    later occurrences are dropped and each document is reassembled from
    its surviving lines in original order.

    ``group_col`` selects the dedup GRANULARITY for grouped corpora
    (transcripts: id = turn, group = conversation).  Default None is the
    C4 semantics above: strict corpus-wide first-occurrence-wins, so a
    code block repeated verbatim across two turns — even of the SAME
    conversation — survives only once.  With ``group_col`` set, a line
    is owned by the group of its globally-first occurrence: EVERY
    occurrence inside the owning group is kept (repeated content within
    one conversation — a shared ``<pre>`` block quoted across turns — is
    conversational structure, not corpus boilerplate), while all
    occurrences in other groups drop.  The granularity decision and its
    extraction interplay are pinned by the authored golden in
    tests/test_dedup.py (test_line_dedup_extraction_interplay_golden).  Whitespace-only lines are
    always kept (they are document structure, not content — deduping
    them corpus-wide would collapse every blank separator after the
    first document).  "Whitespace" at line edges is the explicit
    ``LINE_EDGE_WS`` class (space/tab/FF/CR/VT — NOT java-regex ``\\s``,
    which disagrees with RE2 and python on vertical tab), so tab-only
    lines are structure like space-only ones and CRLF documents dedup
    against LF variants.

    Returns (id, n_lines, n_kept_lines, deduped_text) — one row per
    input row, deduped_text NULL only if the input text was NULL.
    ``id_col`` values must be NON-NULL and unique per row (pipeline row
    keys are by construction; see the contract note in the body);
    ``group_col`` MAY contain NULLs — they form one shared group, and
    group identity is compared as strings.

    ``normalize`` lowercases the trimmed line for the duplicate test
    (the kept line keeps its ORIGINAL bytes — dedup decides survival,
    never rewrites content).

    Scale shape (100 TB): the first-occurrence winner per line key is a
    ``groupBy(key).agg(min(struct(id, line_idx)))`` — an AGGREGATION, so
    a mega-hot line ("Please enable JavaScript", cookie banners) partial-
    aggregates map-side and crosses the shuffle as one slim row per input
    partition, never as its full occurrence population.  Keeps are then
    marked by joining the winners back onto the lines **keyed by
    (id, line_idx)** — NOT by the line key: (id, line_idx) is unique per
    row on both sides, so every exchange this plan performs is keyed
    uniform-or-unique and the hot line simply CANNOT concentrate
    anywhere.  Contrast the two rejected shapes: a ``row_number`` window
    partitioned by the line hash pins every occurrence of one hot line
    into ONE task AQE cannot split; and joining winners back ON the line
    key leaves the hot key in one probe partition while relying on AQE
    skew-split to rescue it — which empirically does NOT fire here
    (OptimizeSkewedJoin pattern-matches only a bare Sort+Shuffle under
    both join children, and the winners aggregation reuses its own
    exchange; compressed-size stats also under-detect a highly
    compressible repeated line).  The (id, idx) keying needs no AQE, no
    thresholds, no salting.  Everything is JVM expressions
    (split/posexplode/min-struct/join/sort_array/concat) — no python
    stage, no driver state.  The duplicate test keys on a 128-BIT line
    hash (two independently-seeded xxhash64s; a collision would silently
    drop a distinct line as a duplicate, and at 10^12 lines a single
    64-bit key's n²/2^65 birthday risk is no longer negligible) — the
    second long costs ~8 bytes per exchanged row next to the line bytes
    themselves.

    The winners frame aggregates the SAME exploded-lines subtree the
    join probes (a self-join — PLANS.md rule), so a NONDETERMINISTIC
    input plan (rand-salted, sampled, fresh-uuid) could disagree between
    the two evaluations and silently drop lines whose re-evaluated bytes
    no longer match any winner.  Pure scans / projections (parquet
    reads, the sink-staged pipeline frames this repo composes)
    re-evaluate identically and need nothing; pin or checkpoint a
    nondeterministic input first (``curate`` does: its line stage,
    ``curation.line_dedup_rewrite(pin=)``, pins the keyed input)."""
    # CONTRACT: id_col must be NON-NULL and unique per row (the pipeline
    # row keys are, by construction).  A NULL id would make "first
    # occurrence" ill-defined (and, since the keep-marking is an
    # equi-join on the id, its lines would never match their winner —
    # dropping every occurrence including the winner's own).  NULL
    # groups are handled: they compare as one shared group via a
    # sentinel (group identity is string-compared).
    group_cols = (
        [
            F.coalesce(
                F.col(group_col).cast("string"), F.lit("\x00<null-group>")
            ).alias("_grp")
        ]
        if group_col
        else []
    )
    lines = df.select(
        F.col(id_col).alias("_id"),
        *group_cols,
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias(
            "_line_idx", "_line"
        ),
    )
    norm = F.regexp_replace(F.col("_line"), _LINE_TRIM_RE, "")
    if normalize:
        norm = F.lower(norm)
    lines = lines.withColumn("_is_blank", F.coalesce(norm, F.lit("")) == "")
    # first occurrence per content-line key, as a map-side-combinable
    # min aggregation: the skew-safe formulation — a hot key collapses
    # to one slim partial row per input partition before the exchange,
    # so the aggregation's reduce side is uniform however hot a line is.
    # Blank lines never enter the aggregation (they are all kept — no
    # per-occurrence key tricks needed, unlike the r6 window shape that
    # had to defuse a corpus-wide xxhash64('') partition), and in the
    # default mode the line keys exist ONLY inside this branch — the
    # probe side never carries them.
    content = lines.filter(~F.col("_is_blank")).select(
        "_id",
        "_line_idx",
        *(["_grp"] if group_col else []),
        F.xxhash64(norm).alias("_lkey"),
        F.xxhash64(norm, F.lit("ld2")).alias("_lkey2"),
    )
    if group_col is None:
        winners = (
            content.groupBy("_lkey", "_lkey2")
            .agg(
                F.min(F.struct(F.col("_id"), F.col("_line_idx"))).alias(
                    "_win"
                )
            )
            .select(
                F.col("_win._id").alias("_id"),
                F.col("_win._line_idx").alias("_line_idx"),
                F.lit(True).alias("_is_winner"),
            )
        )
        # mark keeps by joining winners back on (id, line_idx) — unique
        # per row on BOTH sides, so this join's exchanges are skew-free
        # by construction (see docstring).  Blank lines never match
        # (winners come only from content lines and (id, idx) is unique
        # corpus-wide); their _keep comes from the _is_blank disjunct.
        marked = lines.join(winners, ["_id", "_line_idx"], "left")
    else:
        # grouped granularity: the winner GROUP per line key is the
        # group of the globally-first occurrence (the struct min orders
        # by (id, idx); _grp rides along, never compared — (id, idx) is
        # unique).  Keeps join on (line key, group): every occurrence in
        # the owning group matches.  Skew note: the probe exchange key
        # is (line key, GROUP), so a corpus-wide-hot line contributes at
        # most its per-group multiplicity to any one partition — the
        # same bound as the per-doc reassembly groupBy; the winners
        # aggregation still collapses map-side.
        winners = (
            content.groupBy("_lkey", "_lkey2")
            .agg(
                F.min(
                    F.struct(
                        F.col("_id"), F.col("_line_idx"), F.col("_grp")
                    )
                ).alias("_win")
            )
            .select(
                "_lkey",
                "_lkey2",
                F.col("_win._grp").alias("_grp"),
                F.lit(True).alias("_is_winner"),
            )
        )
        probe = lines.withColumn("_lkey", F.xxhash64(norm)).withColumn(
            "_lkey2", F.xxhash64(norm, F.lit("ld2"))
        )
        marked = probe.join(winners, ["_lkey", "_lkey2", "_grp"], "left")
    marked = marked.withColumn(
        "_keep",
        F.col("_line").isNotNull()
        & (
            F.col("_is_blank")
            | F.coalesce(F.col("_is_winner"), F.lit(False))
        ),
    )
    return (
        marked.groupBy("_id")
        .agg(
            F.count("_line").cast("long").alias("n_lines"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept_lines"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(
                                    F.col("_line_idx"), F.col("_line")
                                ),
                            )
                        )
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("deduped_text"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_lines",
            F.coalesce("n_kept_lines", F.lit(0)).alias("n_kept_lines"),
            # NULL text explodes to a NULL line (posexplode_outer) with
            # n_lines 0 — surface NULL, not an empty string
            F.when(F.col("n_lines") > 0, F.col("deduped_text")).alias(
                "deduped_text"
            ),
        )
    )


# Token split class for substring_dedup — the EXPLICIT whitespace set the
# repo standardized on after the gopher \s finding (java \s and RE2 \s
# disagree on vertical tab U+000B): space/tab/LF/FF/CR.  Shared verbatim
# with the DuckDB twin (tests/local_twins.py: substring_dedup_planted) so
# both engines tokenize identically.
TOKEN_SPLIT_RE = r"[ \t\n\f\r]+"


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    keep: str = "none",
    normalize: bool = True,
    dup_join_salt: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicated-substring removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", §4.1
    ExactSubstr), at TOKEN granularity: a token is removed iff it lies
    inside a run of >= ``k`` consecutive tokens whose (normalized) text
    occurs more than once in the corpus — counting multiplicity, so a
    run repeated twice within ONE document is duplicated too.  This is
    exact, not approximate: any duplicated run of length >= k contains a
    duplicated k-gram, and every duplicated k-gram IS a duplicated run,
    so the union of duplicated-k-gram spans equals the union of
    duplicated runs of length >= k.  Documents shorter than k tokens can
    never lose tokens (no >= k run exists — whole-document duplicates at
    that length are exact-dedup's job, `dedup_exact`).

    ``keep``: "none" (default) removes EVERY occurrence of a duplicated
    k-gram — the semantics of the paper's released suffix-array tool,
    which its authors argue is safest for memorization; "first" exempts
    each duplicated gram's globally-first occurrence (min (id, pos)), so
    the first appearance of a shared run survives and later copies are
    cut — the keep-one analogue of `line_dedup`.  With "first",
    ``id_col`` values must be non-null and orderable (same contract as
    `line_dedup`; pipeline row keys are).

    ``normalize`` lowercases tokens for the duplicate TEST only; the
    rebuilt text keeps original token bytes.  ``dedup_text`` is the kept
    tokens joined by single spaces — a WHITESPACE-NORMALIZED rebuild
    (the operator is token-based; original inter-token whitespace is not
    preserved — callers needing byte-exact text should run this before
    formatting-sensitive stages, as C4-style pipelines do).  NULL text
    stays NULL; non-null text always yields a string ('' if everything
    was removed).  Returns (id, n_tokens, n_kept_tokens, dedup_text).

    Scale shape (100 TB, 10^12 turns):

    - Gram keys come from ONE doc-partitioned window pass (the
      `gopher_repetition_flags` pattern): per-token xxhash64 of the
      normalized token, k-1 ``lead``s of that LONG, and two independent
      128-bit-grade gram keys as xxhash64 over the k hash columns —
      whole-stage-codegen projections around a single WindowExec whose
      partitions are bounded by one document.  No polynomial arithmetic
      (Spark 4 ANSI mode makes long wraparound an error), no
      interpreted lambda HOF, no python stage anywhere in the operator.
    - Duplicate detection is ``groupBy(gram).agg(count, min(struct))``
      — an AGGREGATION, so a mega-hot boilerplate gram partial-
      aggregates map-side and crosses the shuffle as one slim row per
      input partition (the `line_dedup` lesson).
    - Marking occurrences of duplicated grams is the one join that a
      hot gram key COULD concentrate, and AQE's OptimizeSkewedJoin
      provably does not fire on it (it pattern-matches a bare
      Sort+Shuffle under both children; the dup side is an aggregation
      reusing its own exchange — measured in round 7, PLANS.md), so the
      join is SALTED deterministically: the probe side salts by
      pmod(xxhash64(id, pos), S) and the dup side replicates each key S
      times (``dup_join_salt``, default 8) — per-task fan-in is bounded
      to multiplicity/S by construction, cost is S slim replicas
      (two longs + winner struct) of the dup-key set.
    - Coverage expansion first MERGES marked gram starts into disjoint
      per-doc runs (one slim exchange by id; lag-window + (id, run)
      aggregation, both doc-bounded) and explodes only the coverage
      UNION — bounded by the doc's token count, where a per-occurrence
      explode would amplify a heavily-templated corpus's marked rows
      k-fold.  Keeps are then marked by joining back on **(id, pos)**
      — unique per row on BOTH sides, skew-free by construction — and
      documents reassemble with the same sort-structs groupBy as
      `line_dedup`.

    The gram branch aggregates the SAME exploded-tokens subtree the
    keep-join probes (a self-join — PLANS.md rule); pure scans/projections
    need nothing, but pin or checkpoint a nondeterministic input first
    (``curate``'s substring stage pins its keyed input, via
    ``curation._join_back``).

    Reference scope note: cl-readability ends at extraction (no dedup
    counterpart); semantics follow the public paper + released tool.
    """
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    if k < 2:
        raise ValueError(f"k must be >= 2 (gram width in tokens), got {k}")
    if dup_join_salt < 1:
        raise ValueError(f"dup_join_salt must be >= 1, got {dup_join_salt}")
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).isNotNull().alias("_has_text"),
        F.posexplode_outer(
            F.array_remove(F.split(F.col(text_col), TOKEN_SPLIT_RE), "")
        ).alias("_pos", "_tok"),
    )

    norm_tok = F.lower(F.col("_tok")) if normalize else F.col("_tok")
    w = Window.partitionBy("_id").orderBy("_pos")
    hashed = toks.filter(F.col("_tok").isNotNull()).select(
        "_id", "_pos", F.xxhash64(norm_tok).alias("_th")
    )
    gram_cols = [F.col("_th")] + [
        F.lead("_th", j).over(w).alias(f"_l{j}") for j in range(1, k)
    ]
    grams = (
        hashed.select("_id", "_pos", *gram_cols)
        # positions are dense per doc, so the last lead being non-null
        # implies all earlier leads are — this row starts a full k-gram
        .filter(F.col(f"_l{k - 1}").isNotNull())
        .select(
            "_id",
            "_pos",
            F.xxhash64(F.col("_th"), *[F.col(f"_l{j}") for j in range(1, k)]).alias(
                "_g1"
            ),
            F.xxhash64(
                F.lit("sd2"), F.col("_th"), *[F.col(f"_l{j}") for j in range(1, k)]
            ).alias("_g2"),
        )
    )
    # keep="none" needs only the count; the winner struct is aggregated
    # only when "first" will exempt it (both partial-aggregate map-side)
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if keep == "first":
        aggs.append(F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_win"))
    dups = (
        grams.groupBy("_g1", "_g2")
        .agg(*aggs)
        .filter(F.col("_cnt") >= 2)
        .withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(dup_join_salt - 1))),
        )
    )
    probe = grams.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col("_id"), F.col("_pos")), F.lit(dup_join_salt)).cast(
            "int"
        ),
    )
    removed = probe.join(dups, ["_g1", "_g2", "_salt"], "inner")
    if keep == "first":
        removed = removed.filter(
            ~(
                (F.col("_id") == F.col("_win._id"))
                & (F.col("_pos") == F.col("_win._pos"))
            )
        )
    # collapse marked gram starts into MERGED coverage runs per doc
    # before exploding: a templated corpus marks nearly every position,
    # and exploding per-occurrence (x k rows, then a distinct) would
    # amplify the slim rows k-fold — the union explode is bounded by the
    # doc's token count instead.  One slim exchange by id; the lag
    # window and the (id, run) aggregation are both doc-bounded, and the
    # merged intervals are disjoint by construction (a new run starts
    # only when the gap exceeds k), so no distinct is needed before the
    # keep-join.
    wrun = Window.partitionBy("_id").orderBy("_pos")
    runs = (
        removed.select("_id", "_pos")
        .withColumn(
            "_new_run",
            F.when(
                F.col("_pos") > F.lag("_pos").over(wrun) + F.lit(k), 1
            )
            .otherwise(0)
            .cast("long"),
        )
        .withColumn(
            "_run",
            F.sum("_new_run").over(
                wrun.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("_id", "_run")
        .agg(
            F.min("_pos").alias("_s"),
            (F.max("_pos") + F.lit(k - 1)).alias("_e"),
        )
    )
    covered = runs.select(
        "_id",
        F.explode(F.sequence(F.col("_s"), F.col("_e"))).alias("_pos"),
        F.lit(True).alias("_covered"),
    )
    marked = toks.join(covered, ["_id", "_pos"], "left").withColumn(
        "_keep",
        F.col("_tok").isNotNull() & F.col("_covered").isNull(),
    )
    return (
        marked.groupBy("_id")
        .agg(
            F.count("_tok").cast("long").alias("n_tokens"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept_tokens"),
            F.first("_has_text").alias("_has_text"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(F.col("_pos"), F.col("_tok")),
                            )
                        )
                    ),
                    lambda s: s["_tok"],
                ),
            ).alias("_text"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.coalesce("n_kept_tokens", F.lit(0)).alias("n_kept_tokens"),
            F.when(F.col("_has_text"), F.col("_text")).alias("dedup_text"),
        )
    )


def _attach_group_counts(
    frame: DataFrame,
    key_cols: list[str],
    salt_on: str,
    hot_threshold: int,
    salts: int,
) -> DataFrame:
    """Adds ``_dw_n`` = per-row multiplicity of the row's group key,
    skew-free BY CONSTRUCTION (no AQE reliance — OptimizeSkewedJoin
    could not fire here anyway: the counts side sits directly under its
    own aggregate, which reuses the agg's exchange and breaks the
    SMJ(ShuffleStage, ShuffleStage) pattern the rule matches; verified
    on the first draft of this operator, whose explicit
    ``repartition(key)`` above the aggregate was elided by
    EnsureRequirements because the agg already satisfies that
    distribution).

    The multiplicity aggregation partial-aggregates map-side, so its
    exchange is skew-free regardless of key heat; the hazard is only the
    join-back.  Counts split at ``hot_threshold``:

    - hot keys (n > threshold) attach via BROADCAST — there can be at
      most rows/threshold of them, so the broadcast is bounded by
      construction (10^12 rows / 10^5 threshold = 10^7 keys ≈ 240 MB
      worst case; raise the threshold at extreme scale), and hot rows
      never shuffle on their own key;
    - cold keys attach via an equi-join additionally keyed on a salt
      derived from the ROW key ``salt_on``: rows that matched a hot key
      get a non-zero salt (the cold side carries only salt 0, so they
      pass through unmatched), spreading each mega-hot group across
      ``salts`` exchange partitions, while every cold key's fan-in is
      ≤ ``hot_threshold`` — no partition of either exchange grows with
      any group's multiplicity.

    Both counts branches re-aggregate over a ReusedExchange of the one
    partial-count shuffle (exchange reuse applies to identical exchange
    subtrees even though Spark has no general cross-branch subplan
    reuse), so the counting pass over ``frame`` is paid once.
    """
    counts = (
        frame.select(*key_cols)
        .groupBy(*key_cols)
        .agg(F.count("*").alias("_dw_cn"))
    )
    hot = counts.filter(F.col("_dw_cn") > hot_threshold).select(
        *key_cols, F.col("_dw_cn").alias("_dw_hot_n")
    )
    # the cold side's salt is always 0 — but it must NOT be a literal:
    # Catalyst constant-folds a literal equi-join key into a post-join
    # condition, the exchange then partitions on (k1,k2) alone, and the
    # probe side's salts stop spreading anything (measured: the whole
    # 1M-row hot group landed in ONE task with a 252 MB spill; its
    # shuffle blocks also compress ~60× — identical rows — so AQE skew
    # detection, which reads COMPRESSED map sizes, under-detects it
    # too).  pmod(xxhash64(key), 1) is 0 for every row without being
    # foldable.
    cold = counts.filter(F.col("_dw_cn") <= hot_threshold).withColumn(
        "_dw_salt",
        F.pmod(F.xxhash64(*key_cols), F.lit(1)).cast("int"),
    )
    enriched = frame.join(F.broadcast(hot), key_cols, "left").withColumn(
        "_dw_salt",
        F.when(
            F.col("_dw_hot_n").isNotNull(),
            1 + F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salts)),
        )
        .otherwise(0)
        .cast("int"),
    )
    attached = enriched.join(cold, key_cols + ["_dw_salt"], "left")
    return attached.withColumn(
        "_dw_n",
        F.coalesce("_dw_hot_n", "_dw_cn", F.lit(1)).cast("long"),
    ).drop("_dw_hot_n", "_dw_cn", "_dw_salt")


def dedup_weights(
    docs: DataFrame,
    id_col: str = "id",
    text_col: str | None = None,
    clusters: DataFrame | None = None,
    alpha: float = 1.0,
    hot_threshold: int = 100_000,
    salts: int = 32,
    count_col: str = "dup_count",
    weight_col: str = "dup_weight",
) -> DataFrame:
    """Soft deduplication: keep every document, down-weight duplicates.

    Instead of dropping all-but-one copy, each document gets a sampling
    weight ``n**(-alpha)`` where ``n`` is its *commonness* — the number
    of documents sharing its exact text (``text_col`` mode) or the size
    of its near-duplicate cluster (``clusters`` mode, the output of
    :func:`dup_clusters`).  ``alpha=1`` makes every duplicate *group*
    contribute exactly one document's worth of expected training mass
    (the sum of weights over a group of ``n`` copies is 1.0);
    ``alpha=0`` disables reweighting (all weights 1.0).  This is the
    soft alternative to keep-one dedup — published ablations (SoftDeDup,
    He et al. 2024; data-constrained scaling, Muennighoff et al. 2023)
    show mild duplication is better *down-weighted* than deleted.
    Unique documents always get ``n=1``, weight 1.0.

    Exactly one of ``text_col`` / ``clusters`` must be provided:

    - ``text_col``: commonness is the exact-duplicate multiplicity,
      computed on a 128-bit key (two independent ``xxhash64`` seeds,
      the ``line_dedup`` recipe) so no text is compared, and the doc
      columns RIDE the attach join (one fat exchange total — no
      separate join-back of the corpus by id);
    - ``clusters``: a ``(id, cluster_rep)`` frame; commonness is the
      cluster size.  Documents absent from ``clusters`` (no near-dup
      edges) count 1.  Sizing runs on the slim cluster frame; the one
      corpus-wide join is keyed on the ROW key ``id_col``.

    Scale shape: see :func:`_attach_group_counts` — the count
    aggregation collapses hot keys map-side, hot groups (> 
    ``hot_threshold`` members) attach via a bounded broadcast, cold
    groups via a salted join whose per-partition fan-in is bounded by
    ``hot_threshold``; no exchange partition grows with any group's
    multiplicity, without relying on AQE skew handling (which cannot
    fire on an agg-under-join shape).

    Returns ``docs`` plus ``count_col`` (long) and ``weight_col``
    (double).  Weights are relative sampling multipliers, not
    probabilities; feed them to a weighted sampler (e.g. Gumbel-top-k
    as in ``dsir_sample``) or a loss-weighting hook downstream.
    """
    if (text_col is None) == (clusters is None):
        raise ValueError("pass exactly one of text_col= or clusters=")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if hot_threshold < 1 or salts < 1:
        raise ValueError(
            f"hot_threshold and salts must be >= 1, got "
            f"{hot_threshold}/{salts}"
        )

    if text_col is not None:
        keyed = docs.withColumn(
            "_dw_k1", F.xxhash64(F.col(text_col))
        ).withColumn("_dw_k2", F.xxhash64(F.col(text_col), F.lit("dw2")))
        attached = _attach_group_counts(
            keyed, ["_dw_k1", "_dw_k2"], id_col, hot_threshold, salts
        )
        out = attached.drop("_dw_k1", "_dw_k2")
    else:
        sized = _attach_group_counts(
            clusters, ["cluster_rep"], "id", hot_threshold, salts
        ).select(F.col("id").alias("_dw_id"), "_dw_n")
        out = docs.join(
            sized, docs[id_col] == sized["_dw_id"], "left"
        ).drop("_dw_id")

    n = F.coalesce(F.col("_dw_n"), F.lit(1)).cast("long")
    return out.select(
        *[F.col(c) for c in docs.columns],
        n.alias(count_col),
        F.pow(n.cast("double"), F.lit(-float(alpha))).alias(weight_col),
    )
