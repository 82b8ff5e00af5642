"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k (the correctness baseline; one
  scan + TakeOrderedAndProject, no shuffle beyond the final top-k).
- ``lsh_bucketed_topk``: the scale path — random-hyperplane signatures
  bucket the corpus so each query probes only its bucket (and optionally
  multiprobe neighbors).  All JVM expressions; hyperplanes are derived
  deterministically from a seed via xxhash64 so executors need no broadcast
  of Python state.

At 100 TB the brute-force path is a full scan per query; the bucketed path
turns ANN into a bucket-equi-join — shuffle keyed on (signature), bucket
sizes bounded by signature bits."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_sim(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _query_scores(df, query_vec, k, id_col, vec_col):
    """Shared scoring tail of the three top-k entry points: per-row
    cosine vs the one query, 6dp, TakeOrderedAndProject — JVM
    expressions, the engine-exact semantics the oracle twins hash."""
    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # the per-row cosine (an interpreted HOF) is CPU-bound: floor the
    # parallelism so a byte-sized scan cannot serialize the scoring
    df = ensure_parallelism(df)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = F.round(cosine_sim(F.col(vec_col), q), 6)
    return (
        df.select(id_col, sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return _query_scores(embeddings, query_vec, k, id_col, vec_col)


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from integer hashing
    (executor-independent, no RNG state)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.sha256(f"{seed}:{plane_idx}:{d}".encode()).digest()
        v = int.from_bytes(h[:8], "big", signed=True) / 2**63
        out.append(v)
    return out


def hyperplane_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "lsh_sig",
) -> DataFrame:
    """Adds an integer signature column: bit i = sign(v · plane_i)."""
    planes = [_hyperplane(dim, i, seed) for i in range(n_planes)]
    bits = [
        F.when(
            _dot(F.col(vec_col), F.array(*[F.lit(x) for x in planes[i]])) > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(n_planes)
    ]
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # n_planes interpreted-HOF dot products per row — parallelism floor
    return ensure_parallelism(df).withColumn(out_col, sig)


def _sig_of(vec: list[float], n_planes: int, seed: int) -> int:
    sig = 0
    for i in range(n_planes):
        plane = _hyperplane(len(vec), i, seed)
        if sum(v * p for v, p in zip(vec, plane)) > 0:
            sig |= 1 << i
    return sig


def near_dup_params(
    corpus_rows: int,
    threshold: float = 0.9,
    recall_target: float = 0.9,
    target_bucket: int = 64,
    max_planes: int = 16,
) -> tuple[int, int]:
    """(n_bands, n_planes) sized for the corpus — the explicit version of
    the docstring rule so callers don't hand-tune.

    n_planes grows with log2(corpus/target_bucket) so typical buckets hold
    ~target_bucket rows (at 100k rows the 8-bit default left ~390-row
    buckets → ~10^8 chance-collision candidate pairs on unclustered data);
    n_bands then restores the recall target via 1-(1-p^r)^b with
    p = 1-arccos(threshold)/pi.  Pure arithmetic, no Spark action — pass
    a row-count estimate (exact counts are not required; the bucket target
    tolerates 2-4x error)."""
    import math

    p = 1 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    n_planes = max(
        4,
        min(max_planes, math.ceil(math.log2(max(corpus_rows, 2) / target_bucket))),
    )
    band_p = p**n_planes
    if band_p >= 1.0:
        return 1, n_planes
    n_bands = max(4, math.ceil(math.log(1 - recall_target) / math.log(1 - band_p)))
    return n_bands, n_planes


def _refine_hamming_bound(
    threshold: float, n_refine: int, miss_prob: float = 1e-3
) -> int:
    """Smallest Hamming cutoff h such that a pair at cosine >= threshold
    disagrees on more than h of the n_refine hyperplane bits with
    probability <= miss_prob (per-bit disagreement q = arccos(s)/pi is
    maximal at s = threshold, so the bound holds for every qualifying
    pair).  Exact binomial tail, pure arithmetic."""
    import math

    q = math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    cum = 0.0
    for h in range(n_refine + 1):
        cum += math.comb(n_refine, h) * (q**h) * ((1 - q) ** (n_refine - h))
        if 1.0 - cum <= miss_prob:
            return h
    return n_refine


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 8,
    n_planes: int = 8,
    n_refine: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 512,
    dim: int | None = None,
    return_stats: bool = False,
    refine_hamming: int | None = None,
    group_col: str | None = None,
):
    """All-pairs embedding-cosine near-duplicate detection via banded
    random-hyperplane LSH (OR-construction, same shape as dedup.py's
    MinHash banding), exact-cosine verified.

    ``group_col`` (optional) restricts candidacy to SAME-GROUP pairs: the
    group value joins the bucket key (band_idx, band_sig, group), so rows
    in different groups never share a bucket and never ship a candidate.
    This is the SemDeDup composition hook (``semantic_dedup`` passes the
    k-means cell) and also the natural per-language / per-source
    restriction; at scale it additionally SHRINKS buckets (each bucket
    holds one group's rows), so oversized-bucket refinement triggers
    later.  The group column rides the one band exchange — no extra
    shuffle.

    Candidate recall for a pair at cosine similarity s is
    ``1 - (1 - p**n_planes)**n_bands`` with ``p = 1 - arccos(s)/pi``:
    at the default (8 bands x 8 planes) that is ~0.94 at s=0.9 and
    ~0.99 at s=0.95 — versus ~0.40 for the old single 6-bit AND-only
    signature.  The signature space is ``n_bands * 2**n_planes`` buckets;
    use ``near_dup_params(corpus_rows, threshold)`` to size both knobs
    (planes control bucket sizes, bands restore recall) — the defaults
    suit corpora up to ~30k rows.

    Oversized buckets are NOT dropped: they are sub-divided on a 16-BIT
    PREFIX of the refinement signature (a qualifying pair shares the
    prefix with P ~ (1-q)^16 ~ 8% at cosine 0.9; full-signature equality
    would retain ~5e-5 of true pairs, i.e. drop essentially all of them),
    and only if a refined bucket still exceeds ``max_bucket`` is it
    truncated — with the loss surfaced via ``return_stats``.  Recall for
    pairs whose every colliding band is oversized is therefore prefix-
    limited; the banding (``near_dup_params``) keeps that event rare.

    Chance-collision candidates are cut BEFORE the verification joins by
    a refinement-signature prefilter: each candidate pair carries the two
    packed ``n_refine``-bit signatures (8 bytes each — not the 512-byte
    vectors) through the bucket shuffle, and only pairs whose signatures
    agree within ``refine_hamming`` bits reach the vector joins.  The
    cutoff defaults to the exact binomial bound with miss probability
    1e-3 per qualifying pair (``_refine_hamming_bound``); a random
    (cosine~0) pair survives with P[Binom(64, 1/2) <= 19] ~ 1e-3, so
    ~99.8% of chance collisions never ship a vector.  NOTE (since r3):
    the prefilter is ON by default, so verification is no longer exact
    over all bucket candidates — callers needing the r2 exhaustive-verify
    semantics pass ``refine_hamming=n_refine`` (disables the cut).

    Returns (id_a, id_b, cosine_sim_x10k) with id_a < id_b and
    sim ≥ threshold; with ``return_stats=True`` returns (pairs, stats)
    where stats is a 1-row DataFrame (n_buckets_raw, n_buckets_refined,
    n_buckets_final, rows_truncated, refine_hamming_cutoff — the applied
    prefilter bound) — or None for an empty input.

    At 100 TB: per-row cost is one numpy matmul slice (n_bands*n_planes +
    n_refine plane dots) in the signature Arrow stage; the wide ops are
    the groupBy on (band_idx, band_sig, sub) — fan-in bounded by
    max_bucket — the candidate-pair distinct (post-prefilter), and the
    two verification joins keyed on id over the surviving ~0.2% feeding
    the batch-cosine Arrow stage.  No driver-side state, no per-row
    python dispatch."""
    if not (1 <= n_refine <= 64):
        raise ValueError("n_refine must be in [1, 64] (packed into one long)")
    if refine_hamming is None:
        refine_hamming = _refine_hamming_bound(threshold, n_refine)
    if dim is None:
        head = embeddings.select(vec_col).head(1)
        if not head:
            empty = embeddings.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).cast("long").alias("cosine_sim_x10k"),
            ).limit(0)
            return (empty, None) if return_stats else empty
        dim = len(head[0][0])

    # Signature stage: one vectorized numpy matmul per Arrow batch.  The
    # pure-expression alternative (n_bands*n_planes + n_refine = 80
    # aggregate/zip_with dot products, each over a 64-literal plane array)
    # builds a multi-MB expression tree that Catalyst analyzes per run and
    # evaluates as interpreted lambdas (HOFs don't codegen) — measured ~8 s
    # fixed planning plus ~1 ms/row at dim=64.  The pandas UDF is the
    # documented escape hatch for exactly this shape: (batch × dim) @
    # (dim × 80) then bit-pack, ~1 µs/row, tiny plan.
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = [
        _hyperplane(dim, i, seed + 1_000_003 * (b + 1))
        for b in range(n_bands)
        for i in range(n_planes)
    ] + [_hyperplane(dim, i, seed + 777_000_001) for i in range(n_refine)]
    plane_matrix = np.asarray(planes, dtype=np.float64)  # (B*r + R, dim)
    band_weights = (1 << np.arange(n_planes, dtype=np.int64))
    # uint64 packing so bit 63 wraps to the sign bit instead of overflowing
    refine_weights = (np.uint64(1) << np.arange(n_refine, dtype=np.uint64))
    nb, npl = n_bands, n_planes

    # NB: no type hints — the module's `from __future__ import annotations`
    # stringifies them, which pandas_udf's inference can't resolve inside a
    # closure; hint-less defaults to the scalar Series->Series eval type.
    @pandas_udf("array<long>")
    def _sigs(v):
        if v.empty:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v.values])
        bits = (m @ plane_matrix.T) > 0  # (n, B*r + R)
        band_sigs = bits[:, : nb * npl].reshape(len(m), nb, npl) @ band_weights
        refine_sigs = (
            bits[:, nb * npl :].astype(np.uint64) @ refine_weights
        ).astype(np.int64)
        out = np.concatenate([band_sigs, refine_sigs[:, None]], axis=1)
        return pd.Series(list(out))

    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # signature matmul stage is CPU-bound — parallelism floor (no-op on
    # inputs that already span the configured cores)
    embeddings = ensure_parallelism(embeddings)
    grp = [F.col(group_col).alias("_grp")] if group_col else []
    sig_df = embeddings.select(
        F.col(id_col).alias("_id"), *grp, _sigs(F.col(vec_col)).alias("_sigs")
    )
    banded = sig_df.select(
        "_id",
        *(["_grp"] if group_col else []),
        F.element_at("_sigs", n_bands + 1).alias("refine_sig"),
        F.posexplode(F.slice("_sigs", 1, n_bands)).alias("band_idx", "band_sig"),
    )

    # bucket sizes via a window over the bucket key: ONE shuffle, and the
    # groupBy below reuses the same hash partitioning (its keys are a
    # superset), versus the groupBy-count + join-back shape which computes
    # the 128-dot-product signature stage twice and shuffles three times.
    from pyspark.sql.window import Window

    bucket_keys = ["band_idx", "band_sig"] + (["_grp"] if group_col else [])
    bucket_w = Window.partitionBy(*bucket_keys)
    # oversized buckets sub-split on a 16-BIT PREFIX of the refinement
    # signature, never the full n_refine bits: a qualifying pair at
    # cosine 0.9 (per-bit disagreement ~0.144) shares a 16-bit prefix
    # with P ~ 0.856^16 ~ 8%, but a full 64-bit signature with P ~ 5e-5
    # — full-signature equality would silently split almost every true
    # pair whose only colliding band is oversized
    sub_prefix = F.col("refine_sig").bitwiseAND(F.lit(0xFFFF))
    keyed = banded.withColumn("count", F.count("*").over(bucket_w)).withColumn(
        "sub",
        F.when(F.col("count") <= max_bucket, F.lit(0).cast("long")).otherwise(
            sub_prefix
        ),
    )
    keyed = keyed.withColumn("oversized", F.col("count") > max_bucket)
    buckets = (
        keyed.groupBy(*bucket_keys, "sub", "oversized")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_id"), F.col("refine_sig")))
            ).alias("items")
        )
        .withColumn("bsize", F.size("items"))
    )
    if return_stats:
        # buckets feed both the pair pipeline and the stats aggregate; pin
        # so the signature Arrow stage + band shuffle run once per action,
        # not once per branch (no cross-branch subplan reuse)
        from pyspark import StorageLevel

        buckets = buckets.persist(StorageLevel.DISK_ONLY)
    # pair explode carries the two packed refinement signatures (8 B each);
    # the Hamming prefilter then drops chance collisions BEFORE the
    # pair-distinct shuffle and the 512 B/side vector joins
    items = F.slice(F.col("items"), 1, max_bucket)
    pairs = (
        buckets.filter(F.col("bsize") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        items,
                        lambda a, i: F.transform(
                            F.slice(items, i + 2, F.size(items)),
                            lambda b: F.struct(
                                a["_id"].alias("id_a"),
                                b["_id"].alias("id_b"),
                                a["refine_sig"].alias("ref_a"),
                                b["refine_sig"].alias("ref_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .filter(
            F.bit_count(F.col("p.ref_a").bitwiseXOR(F.col("p.ref_b")))
            <= refine_hamming
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # exact-cosine verification, vectorized: the candidate set on
    # low-structure corpora is dominated by chance bucket collisions
    # (~bucket_size²·buckets pairs), and the JVM higher-order-function
    # cosine runs interpreted — measured ~60 s of the 71 s total on 29M
    # candidates at 100k rows.  One numpy batch cosine replaces it.
    @pandas_udf("long")
    def _cos_x10k(va, vb):
        if va.empty:
            return pd.Series([], dtype="int64")
        a = np.stack([np.asarray(x, dtype=np.float64) for x in va.values])
        b = np.stack([np.asarray(x, dtype=np.float64) for x in vb.values])
        dots = (a * b).sum(axis=1)
        denom = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
        sims = np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0)
        # HALF_UP to match Spark's round()
        return pd.Series(np.floor(sims * 10000 + 0.5).astype("int64"))

    # it IS deterministic; the marker only stops Catalyst's project-collapse
    # from inlining the UDF into both the filter and the projection (which
    # would evaluate the cosine twice per candidate pair)
    _cos_x10k = _cos_x10k.asNondeterministic()

    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    verified = (
        pairs.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")),
            "id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")),
            "id_b",
        )
        .withColumn("cosine_sim_x10k", _cos_x10k(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine_sim_x10k") >= int(threshold * 10000))
        .select("id_a", "id_b", "cosine_sim_x10k")
    )
    if not return_stats:
        return verified
    stats = buckets.agg(
        F.count_distinct(F.col("band_idx"), F.col("band_sig")).alias("n_buckets_raw"),
        F.count_distinct(
            F.when(F.col("oversized"), F.struct("band_idx", "band_sig"))
        ).alias("n_buckets_refined"),
        F.count("*").alias("n_buckets_final"),
        F.sum(F.greatest(F.col("bsize") - max_bucket, F.lit(0))).alias(
            "rows_truncated"
        ),
        # the Hamming prefilter cutoff actually applied (resolved from the
        # threshold when the caller passed None) — candidates beyond it
        # never reached exact verification; pass refine_hamming=n_refine
        # to disable the prefilter and verify every bucket candidate
        F.lit(int(refine_hamming)).alias("refine_hamming_cutoff"),
    )
    from cl_readability_spark.functions.pins import attach_pins

    # release handle for the pinned buckets (pins.py)
    return attach_pins(verified, buckets), stats


def plant_near_dups(
    embeddings: DataFrame,
    every: int = 5,
    gamma: float = 0.43,
    seed: int = 7,
    id_offset: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Union the corpus with deterministic perturbed copies of every
    ``every``-th vector: v' = v + gamma*(|v|/|u|)*u with u a per-row
    hash-derived pseudo-random direction.  The planted pair's cosine is
    (1+gamma*c)/sqrt(1+2*gamma*c+gamma^2) over c=cos(u,v), minimized at
    sqrt(1-gamma^2) — so gamma=0.43 plants pairs with cosine in
    [0.903, 1), i.e. genuine near-dups in the 0.90-0.95 band, NOT
    near-identical copies.  All JVM expressions (xxhash64-seeded noise),
    no Python state — usable as a driver-side verification corpus."""
    base = embeddings.select(id_col, vec_col)
    picked = base.filter(F.col(id_col) % every == 0)
    noise = F.transform(
        F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1),
        lambda i: (
            F.pmod(
                F.xxhash64(
                    F.concat_ws(":", F.col(id_col), i, F.lit(str(seed)))
                ),
                F.lit(2001),
            )
            - 1000
        ).cast("double")
        / 1000.0,
    )
    with_noise = picked.withColumn("_u", noise)
    scale = F.lit(gamma) * _norm(F.col(vec_col)) / _norm(F.col("_u"))
    perturbed = with_noise.select(
        (F.col(id_col) + id_offset).alias(id_col),
        F.zip_with(
            F.col(vec_col),
            F.col("_u"),
            lambda x, u: (x.cast("double") + scale * u).cast("float"),
        ).alias(vec_col),
    )
    return base.unionByName(perturbed)


def _hash_centroids(dim: int, n_cells: int, seed: int):
    """The training-free centroid directions (hash-derived, executor-
    independent) — the default when no trained centroids are supplied."""
    import numpy as np

    return np.asarray(
        [_hyperplane(dim, i, seed + 555_000_007) for i in range(n_cells)],
        dtype=np.float64,
    )


def ivf_train(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 5,
    sample: int = 4096,
    seed: int = 42,
    vec_col: str = "embedding",
    dim: int | None = None,
):
    """Spherical k-means centroids for IVF, fit driver-side on a
    deterministic sample and broadcast to executors via the UDF closure
    (a (n_cells × dim) float64 array — a few KB, not a dataset).

    Sampling: a deterministic hash-mod filter — keep rows where
    ``pmod(xxhash64(vector), stride) == 0`` with the stride sized from a
    cheap count() so the filter passes ~2×``sample`` rows, then sort the
    FILTERED residue by the same hash and take ``sample``.  Deterministic
    for a given corpus with no RNG state on executors, and — unlike the
    round-3 ``orderBy(hash).limit(n)`` — never maintains a top-k heap
    over the full corpus: the plan is scan → count (aggregate), then
    scan → Filter (pushed ahead of the sort) → TakeOrdered over only the
    ~2×sample surviving rows.  The fit itself is driver arithmetic over
    ≤ a few thousand rows.  Initialization is the hash-direction set
    (deterministic, no seeds to disagree on), then ``iters`` Lloyd rounds
    on the unit sphere: assign by max dot, recenter by normalized mean;
    empty cells fall back to their initial direction.  Returns the
    centroid ndarray — pass it to ``ivf_assign``/``ivf_topk`` as
    ``centroids=``."""
    import numpy as np

    if dim is None:
        head = embeddings.select(vec_col).head(1)
        if not head:
            return _hash_centroids(1, n_cells, seed)
        dim = len(head[0][0])
    vecs = embeddings.select(F.col(vec_col).alias("_v"))
    n_rows = vecs.count()
    stride = max(1, n_rows // (2 * sample))
    h = F.xxhash64(F.col("_v").cast("array<float>").cast("string"))
    sampled = (
        vecs.withColumn("_h", h)
        .filter(F.pmod("_h", F.lit(stride)) == 0)
        .orderBy("_h")
        .limit(sample)
        .select("_v")
        .collect()
    )
    if not sampled:
        return _hash_centroids(dim, n_cells, seed)
    x = np.asarray([list(r[0]) for r in sampled], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    cents = _hash_centroids(dim, n_cells, seed)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    init = cents.copy()
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                cents[c] = m / n if n > 0 else init[c]
            else:
                cents[c] = init[c]
    return cents


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    centroids=None,
) -> DataFrame:
    """IVF coarse quantization: adds ``ivf_cell`` = argmax over n_cells
    centroid directions of v · c_i.

    Default "centroids" are deterministic pseudo-random directions (same
    integer-hash family as the LSH planes): training-free, executor-
    independent, and good enough for the partition-pruning role IVF plays
    here — each cell holds ~1/n_cells of an unclustered corpus.  For
    corpora with real cluster structure pass ``centroids=ivf_train(...)``
    (balanced cells, higher recall per probe).  Assignment is one numpy
    matmul per Arrow batch; at scale the assigned table is written
    partitioned by ``ivf_cell`` so a query scans only the probed cells
    (partition pruning does the rest)."""
    if dim is None:
        head = embeddings.select(vec_col).head(1)
        if not head:
            return embeddings.withColumn("ivf_cell", F.lit(0))
        dim = len(head[0][0])
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _hash_centroids(dim, n_cells, seed)
    )

    @pandas_udf("int")
    def _cell(v):
        if v.empty:
            return pd.Series([], dtype="int32")
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v.values])
        return pd.Series((m @ cents.T).argmax(axis=1).astype("int32"))

    from cl_readability_spark.functions.parallelism import ensure_parallelism

    return ensure_parallelism(embeddings).withColumn(
        "ivf_cell", _cell(F.col(vec_col))
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF ANN top-k: score only vectors in the ``n_probe`` cells whose
    centroid direction is most aligned with the query (the standard
    IVF-flat probe).  Exact cosine within the probed cells, then
    TakeOrderedAndProject.  Recall rises monotonically with n_probe and
    hits 1.0 at n_probe = n_cells (degenerates to brute force).

    Probe selection uses the SAME numpy dot products as ``ivf_assign``'s
    cell assignment, so a vector equal (or positively proportional) to
    the query is guaranteed to live in the first probed cell — the
    planted-oracle construction (sqltwins ``ann_ivf_planted``) relies on
    this."""
    import numpy as np

    dim = len(query_vec)
    assigned = ivf_assign(
        embeddings, n_cells, seed, id_col, vec_col, dim, centroids=centroids
    )
    q = [float(x) for x in query_vec]
    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _hash_centroids(dim, n_cells, seed)
    )
    n_cells = len(cents)
    scores = cents @ np.asarray(q, dtype=np.float64)
    probe_cells = [int(i) for i in np.argsort(-scores)[:n_probe]]
    return _query_scores(
        assigned.filter(F.col("ivf_cell").isin(probe_cells)),
        q, k, id_col, vec_col,
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 6,
    seed: int = 42,
    multiprobe_bits: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: score only vectors whose hyperplane signature is within
    ``multiprobe_bits`` Hamming distance of the query's signature."""
    dim = len(query_vec)
    sig_df = hyperplane_signature(embeddings, dim, n_planes, seed, vec_col)
    qsig = _sig_of(query_vec, n_planes, seed)
    probe_sigs = {qsig}
    if multiprobe_bits >= 1:
        for i in range(n_planes):
            probe_sigs.add(qsig ^ (1 << i))
    if multiprobe_bits >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probe_sigs.add(qsig ^ (1 << i) ^ (1 << j))
    return _query_scores(
        sig_df.filter(F.col("lsh_sig").isin(*[int(s) for s in probe_sigs])),
        query_vec, k, id_col, vec_col,
    )

def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    centroids=None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "low_centroid_sim",
    dim: int | None = None,
    n_bands: int = 8,
    n_planes: int = 8,
    max_bucket: int = 512,
    checkpoint_mode: str = "local",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — coarse k-means clustering,
    WITHIN-cluster cosine near-duplicate detection at ``threshold`` (the
    paper's 1 - eps), connected-component duplicate groups, keep ONE
    representative per group.

    The paper's pipeline is (a) cluster the corpus so the O(n²) pairwise
    cosine only ever runs within a cluster, (b) call a pair a semantic
    duplicate above 1-eps, (c) keep the example with the LOWEST cosine to
    its cluster centroid (retaining the "edge" of each semantic region
    preserves diversity; §4 of the paper).  This implementation keeps (a)
    and (c) exactly and strengthens (b): within a cluster it does NOT do
    all-pairs — it reuses ``embedding_near_dups``'s banded-LSH +
    Hamming-prefilter + exact-cosine-verify pipeline with the cluster id
    joined into the bucket key (``group_col``), so within-cluster
    candidacy is still sub-quadratic and oversized buckets stay capped.
    The known SemDeDup recall caveat is inherited by design: a pair above
    ``threshold`` that straddles a cluster boundary is NOT a duplicate
    (pinned in tests/test_similarity.py).

    ``centroids``: pass ``ivf_train(...)`` output for data-adapted cells
    (balanced clusters, the paper's setting); default is the hash-derived
    direction set (training-free, executor-independent — fine as the
    partition-pruning role, weaker as a semantic clustering).
    ``keep``: "low_centroid_sim" (paper §4 — per duplicate group keep the
    member farthest from its centroid, ties by min id) or "min_id"
    (deterministic canonical representative, the ``dup_clusters``
    convention).

    Returns (id, sem_cell, centroid_sim_x10k, dup_group, kept):
    ``dup_group`` = the component's min id (singletons: own id), ``kept``
    boolean per the keep rule (singletons always kept).

    At 100 TB: the cell/centroid-sim stage is one numpy matmul per Arrow
    batch (centroids are a broadcast closure ndarray, a few KB); the
    assigned frame is DISK_ONLY-pinned so that stage runs once, not once
    per plan branch (the LSH pipeline references its input three times —
    no cross-branch subplan reuse, PLANS.md); the pair pipeline shuffles
    on the group-salted bucket key with bounded fan-in; the keep decision
    is a map-side-combining groupBy on the component id (hot components
    collapse before the shuffle) joined back on the UNIQUE row id — never
    a window over the component key (the line_dedup skew lesson,
    dedup.py).  The caller releases the pin via ``pins.release_pinned``
    on the returned frame; the registry twin rotates it
    (sqltwins._rotate_pin)."""
    if keep not in ("low_centroid_sim", "min_id"):
        raise ValueError(
            f"keep must be low_centroid_sim|min_id, got {keep!r}"
        )
    # validate BEFORE any action or persist (the round-6 curate lesson):
    # n_cells=0 with default centroids would otherwise fail as an argmax
    # over an empty axis deep inside an executor batch
    if centroids is None and n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    if centroids is not None and len(centroids) == 0:
        raise ValueError("centroids must be non-empty when provided")
    if dim is None:
        head = embeddings.select(vec_col).head(1)
        if not head:
            return embeddings.select(
                F.col(id_col),
                F.lit(0).cast("int").alias("sem_cell"),
                F.lit(0).cast("long").alias("centroid_sim_x10k"),
                F.col(id_col).alias("dup_group"),
                F.lit(True).alias("kept"),
            ).limit(0)
        dim = len(head[0][0])

    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel
    from pyspark.sql.functions import pandas_udf

    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _hash_centroids(dim, n_cells, seed)
    )
    cnorm = np.linalg.norm(cents, axis=1)
    cents_unit = cents / np.where(cnorm > 0, cnorm, 1.0)[:, None]

    # one matmul per Arrow batch: cell = argmax centroid cosine, sim = the
    # winning cosine x10k HALF_UP (matches Spark round() for the sims that
    # matter; a negative best-cosine rounds half away from zero toward
    # +inf — documented, not oracle-checked)
    @pandas_udf("struct<cell:int, sim:bigint>")
    def _cell_sim(v):
        if v.empty:
            return pd.DataFrame(
                {
                    "cell": pd.Series([], dtype="int32"),
                    "sim": pd.Series([], dtype="int64"),
                }
            )
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v.values])
        norms = np.linalg.norm(m, axis=1)
        mu = m / np.where(norms > 0, norms, 1.0)[:, None]
        dots = mu @ cents_unit.T
        cell = dots.argmax(axis=1)
        sim = dots[np.arange(len(m)), cell]
        return pd.DataFrame(
            {
                "cell": cell.astype("int32"),
                "sim": np.floor(sim * 10000 + 0.5).astype("int64"),
            }
        )

    assigned = (
        embeddings.select(
            F.col(id_col), F.col(vec_col), _cell_sim(F.col(vec_col)).alias("_cs")
        )
        .select(
            id_col,
            vec_col,
            F.col("_cs.cell").alias("sem_cell"),
            F.col("_cs.sim").alias("centroid_sim_x10k"),
        )
        .persist(StorageLevel.DISK_ONLY)
    )

    from cl_readability_spark.functions.dedup import dup_clusters
    from cl_readability_spark.functions.pins import attach_pins

    pairs = embedding_near_dups(
        assigned,
        threshold=threshold,
        n_bands=n_bands,
        n_planes=n_planes,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        max_bucket=max_bucket,
        dim=dim,
        group_col="sem_cell",
    ).select("id_a", "id_b")
    labels = dup_clusters(
        pairs,
        checkpoint_mode=checkpoint_mode,
        checkpoint_dir=checkpoint_dir,
    )

    slim = assigned.select(id_col, "sem_cell", "centroid_sim_x10k")
    labeled = slim.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("dup_group", F.coalesce(F.col("cluster_rep"), F.col(id_col)))

    if keep == "min_id":
        out = labeled.withColumn("kept", F.col("dup_group") == F.col(id_col))
    else:
        # per-component winner by (centroid_sim asc, id asc) — a map-side-
        # combining aggregation (hot components collapse before the
        # shuffle), then a join back on the UNIQUE id to mark the winner
        # (skew-free by construction; never a window over the component)
        winners = (
            labeled.filter(F.col("cluster_rep").isNotNull())
            .groupBy("cluster_rep")
            .agg(
                F.min(
                    F.struct(
                        F.col("centroid_sim_x10k"), F.col(id_col).alias("_kid")
                    )
                ).alias("_w")
            )
            .select(F.col("_w._kid").alias(id_col), F.lit(True).alias("_kw"))
        )
        out = labeled.join(winners, id_col, "left").withColumn(
            "kept", F.col("cluster_rep").isNull() | F.col("_kw").isNotNull()
        )
    out = out.select(
        id_col, "sem_cell", "centroid_sim_x10k", "dup_group", "kept"
    )
    return attach_pins(out, assigned)
