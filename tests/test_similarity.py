"""ANN tests: brute-force exactness vs numpy oracle; LSH recall and probe
reduction on the driver embeddings table."""

import math

from pyspark.sql import functions as F

import pytest

from cl_readability_spark.functions.similarity import (
    brute_force_topk,
    hyperplane_signature,
    lsh_bucketed_topk,
)

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def embs(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def all_vecs(embs):
    return {r.vec_id: list(r.embedding) for r in embs.collect()}


def cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def test_brute_force_matches_python_oracle(spark, embs, all_vecs):
    q = all_vecs[0]
    expected = sorted(
        ((round(cos(v, q), 6), vid) for vid, v in all_vecs.items()),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = [(r.cosine_sim, r.vec_id) for r in brute_force_topk(embs, q, 10).collect()]
    assert got == [(s, vid) for s, vid in expected]


def test_signature_deterministic_and_bounded(spark, embs):
    dim = len(embs.first().embedding)
    a = {r.vec_id: r.lsh_sig for r in hyperplane_signature(embs, dim).collect()}
    b = {r.vec_id: r.lsh_sig for r in hyperplane_signature(embs, dim).collect()}
    assert a == b
    assert all(0 <= s < 256 for s in a.values())
    # signatures spread across buckets (not degenerate)
    assert len(set(a.values())) > 8


def test_lsh_topk_recall(spark, embs, all_vecs):
    """With multiprobe=2 the LSH top-k must recover most of the exact top-k
    (cosine LSH guarantees near vectors share sign patterns w.h.p.)."""
    q = all_vecs[3]
    exact = [r.vec_id for r in brute_force_topk(embs, q, 10).collect()]
    approx = [r.vec_id for r in lsh_bucketed_topk(embs, q, k=10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (recall, exact, approx)


def test_lsh_probes_fewer_vectors(spark, embs, all_vecs):
    dim = len(all_vecs[0])
    sig_df = hyperplane_signature(embs, dim)
    total = embs.count()
    from cl_readability_spark.functions.similarity import _sig_of

    qsig = _sig_of(all_vecs[3], 8, 42)
    probes = {qsig} | {qsig ^ (1 << i) for i in range(8)}
    probed = sig_df.filter(sig_df.lsh_sig.isin(*[int(s) for s in probes])).count()
    assert probed < total * 0.25, (probed, total)


def test_near_dups_recall_bound(spark):
    """Banded OR-construction recall at its advertised threshold: plant
    pairs at cosine 0.90-0.95 (NOT near-identical) and require >=0.9 of
    the qualifying pairs to be found (docstring formula predicts ~0.94
    at s=0.9, ~0.99 at s=0.95 for 8 bands x 8 planes)."""
    import random

    from cl_readability_spark.functions.similarity import embedding_near_dups

    rng = random.Random(11)
    dim = 32
    rows = []
    planted = {}
    for i in range(80):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
        # perturbed copy at an exact target cosine in [0.90, 0.95]
        target = 0.90 + 0.05 * rng.random()
        u = [rng.gauss(0, 1) for _ in range(dim)]
        nv = math.sqrt(sum(x * x for x in v))
        c = sum(x * y for x, y in zip(v, u)) / (
            nv * math.sqrt(sum(x * x for x in u))
        )
        # orthogonalize u against v, then mix at the target angle
        w = [y - c * math.sqrt(sum(x * x for x in u)) / nv * x for x, y in zip(v, u)]
        nw = math.sqrt(sum(x * x for x in w))
        s = math.sqrt(1 - target * target)
        vp = [target * x / nv + s * y / nw for x, y in zip(v, w)]
        rows.append((1000 + i, vp))
        planted[(i, 1000 + i)] = target
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    found = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(df, threshold=0.9, dim=dim).collect()
    }
    # ground truth: every planted pair qualifies by construction
    qualifying = set(planted)
    recall = len(found & qualifying) / len(qualifying)
    assert recall >= 0.9, (recall, sorted(qualifying - found))
    # and nothing reported below the threshold
    sims = {
        (r.id_a, r.id_b): r.cosine_sim_x10k
        for r in embedding_near_dups(df, threshold=0.9, dim=dim).collect()
    }
    assert all(v >= 9000 for v in sims.values())


def test_ivf_trained_centroids_beat_hash_directions(spark):
    """On a corpus with real cluster structure, k-means-trained IVF cells
    (ivf_train) must beat the training-free hash directions at equal
    n_probe: the trained cells align with the clusters, so the query's
    true neighbors land in the probed cell."""
    import random

    from cl_readability_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_train,
    )

    rng = random.Random(4)
    dim, n_clusters = 16, 8
    centers = []
    for _ in range(n_clusters):
        c = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in c))
        centers.append([x / n for x in c])
    rows = []
    for i in range(1600):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.15) for x in c]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = ivf_train(df, n_cells=n_clusters, iters=5, sample=1024, dim=dim)
    assert cents.shape == (n_clusters, dim)

    def recall(centroids, query):
        exact = {r.vec_id for r in brute_force_topk(df, query, 10).collect()}
        got = {
            r.vec_id
            for r in ivf_topk(
                df, query, k=10, n_cells=n_clusters, n_probe=1,
                centroids=centroids,
            ).collect()
        }
        return len(exact & got) / 10

    queries = [centers[j] for j in range(4)]
    trained = sum(recall(cents, q) for q in queries) / len(queries)
    hashed = sum(recall(None, q) for q in queries) / len(queries)
    assert trained >= 0.9, (trained, hashed)
    assert trained > hashed, (trained, hashed)


def test_ivf_train_sampling_is_filter_first_and_deterministic(spark):
    """The training sample must not maintain a global top-k heap over the
    corpus (VERDICT r3 #3): the sampling plan is a hash-mod Filter ahead
    of the TakeOrdered, so the sort sees only the ~2×sample survivors.
    The sample (hence the centroids) is deterministic across calls."""
    import numpy as np

    from cl_readability_spark.functions.similarity import ivf_train

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    # plan shape of the sampling expression itself
    vecs = embs.select(F.col("embedding").alias("_v"))
    h = F.xxhash64(F.col("_v").cast("array<float>").cast("string"))
    plan = (
        vecs.withColumn("_h", h)
        .filter(F.pmod("_h", F.lit(7)) == 0)
        .orderBy("_h")
        .limit(128)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    take_pos = plan.find("TakeOrderedAndProject")
    filter_pos = plan.find("Filter")
    assert take_pos != -1 and filter_pos != -1
    assert filter_pos > take_pos, plan[:1500]  # filter DEEPER than the sort
    c1 = ivf_train(embs, n_cells=8, iters=3, sample=256, dim=64)
    c2 = ivf_train(embs, n_cells=8, iters=3, sample=256, dim=64)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)


def test_refine_hamming_bound_values():
    """The prefilter cutoff is the exact binomial tail bound: tighter for
    higher thresholds (fewer expected disagreements) and ~19 bits for the
    0.9/64-bit default — wide enough that qualifying pairs pass with
    P >= 0.999, narrow enough that random pairs (Binom(64, 1/2)) rarely
    do."""
    from cl_readability_spark.functions.similarity import _refine_hamming_bound

    h90 = _refine_hamming_bound(0.9, 64)
    h95 = _refine_hamming_bound(0.95, 64)
    h99 = _refine_hamming_bound(0.99, 64)
    assert h99 < h95 < h90 < 32  # strictly below the random-pair mean
    assert 15 <= h90 <= 23
    assert _refine_hamming_bound(0.9, 64, miss_prob=1.0) == 0


def test_near_dups_prefilter_preserves_verified_output(spark):
    """The refinement-signature prefilter cuts only chance collisions: the
    verified pair set with the default Hamming cutoff equals the set with
    the prefilter disabled (refine_hamming=64 passes everything).  The
    corpus is the deterministic planted construction, so this is exact,
    not statistical."""
    from cl_readability_spark.functions.similarity import (
        embedding_near_dups,
        plant_near_dups,
    )

    base = spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda i: (
                F.pmod(F.xxhash64(F.concat_ws(":", F.col("id"), i)), F.lit(2001))
                - 1000
            ).cast("float")
            / 100.0,
        ).alias("embedding"),
    )
    corpus = plant_near_dups(base, every=4, gamma=0.43, seed=3)
    filtered = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(corpus, threshold=0.9, dim=32).collect()
    }
    unfiltered = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(
            corpus, threshold=0.9, dim=32, refine_hamming=64
        ).collect()
    }
    assert filtered == unfiltered
    assert len(filtered) > 0


def test_near_dups_planted_driver_corpus(spark, embs):
    """The registered driver query's construction: plant_near_dups over the
    real embeddings table must yield >0 verified pairs, each (i, i+1e6)."""
    from cl_readability_spark.functions.similarity import (
        embedding_near_dups,
        plant_near_dups,
    )

    corpus = plant_near_dups(embs, every=5, gamma=0.43, seed=7)
    pairs = embedding_near_dups(corpus, threshold=0.9, dim=64).collect()
    assert len(pairs) > 0
    planted_found = [
        r for r in pairs if r.id_b == r.id_a + 1_000_000 and r.id_a % 5 == 0
    ]
    # most planted copies (cosine in [0.903, ~0.95] by construction) recalled
    n_planted = embs.filter("vec_id % 5 = 0").count()
    assert len(planted_found) >= 0.9 * n_planted, (len(planted_found), n_planted)
    assert all(9000 <= r.cosine_sim_x10k <= 10000 for r in pairs)


def test_near_dups_oversized_bucket_refined_not_dropped(spark):
    """A degenerate corpus (one giant cluster over max_bucket) must still
    produce pairs via refinement + truncation accounting — not collapse to
    empty like the old AND-only signature did."""
    import random

    from cl_readability_spark.functions.similarity import embedding_near_dups

    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = [
        (i, [x + rng.gauss(0, 0.001) for x in base]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs, stats = embedding_near_dups(
        df, threshold=0.99, dim=16, max_bucket=10, return_stats=True
    )
    st = stats.collect()[0]
    assert st.n_buckets_refined > 0  # oversized buckets were detected
    assert st.rows_truncated is not None  # accounting surfaced, not silent
    # the applied prefilter cutoff is surfaced (ADVICE r3): here the
    # resolved binomial bound for threshold=0.99 over 64 refinement bits
    from cl_readability_spark.functions.similarity import _refine_hamming_bound

    assert st.refine_hamming_cutoff == _refine_hamming_bound(0.99, 64)
    got = pairs.count()
    # refinement keeps intra-cluster pairs findable (identical vectors share
    # refinement bits); truncation bounds the quadratic blow-up
    assert got > 0


def test_near_dups_empty_input(spark):
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from cl_readability_spark.functions.similarity import embedding_near_dups

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame([], schema)
    assert embedding_near_dups(df, threshold=0.9).count() == 0


def test_embedding_near_dups(spark):
    """Planted near-duplicate embeddings are found; unrelated ones are not."""
    import random

    from cl_readability_spark.functions.similarity import embedding_near_dups

    rng = random.Random(5)
    rows = []
    base = [[rng.gauss(0, 1) for _ in range(32)] for _ in range(20)]
    for i, v in enumerate(base):
        rows.append((i, v))
    # plant near-dups of vectors 0 and 1 (tiny perturbation)
    rows.append((100, [x + 0.01 for x in base[0]]))
    rows.append((101, [x * 1.001 for x in base[1]]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r.id_a, r.id_b): r.cosine_sim_x10k
        for r in embedding_near_dups(df, threshold=0.99).collect()
    }
    assert (0, 100) in pairs
    assert (1, 101) in pairs
    assert pairs[(1, 101)] >= 9990
    # no unrelated gaussian pair reaches 0.99 cosine
    for (a, b) in pairs:
        assert (a, b) in {(0, 100), (1, 101)}


def test_ivf_assignment_balanced_and_deterministic(spark, embs):
    from cl_readability_spark.functions.similarity import ivf_assign

    a = {r.vec_id: r.ivf_cell for r in ivf_assign(embs, n_cells=16, dim=64).collect()}
    b = {r.vec_id: r.ivf_cell for r in ivf_assign(embs, n_cells=16, dim=64).collect()}
    assert a == b
    # cells cover a healthy spread (hash directions ~ near-orthogonal)
    from collections import Counter

    counts = Counter(a.values())
    assert len(counts) >= 8
    assert max(counts.values()) < len(a) * 0.5


def test_ivf_topk_recall_and_pruning(spark, embs, all_vecs):
    from cl_readability_spark.functions.similarity import ivf_assign, ivf_topk

    q = all_vecs[3]
    exact = [r.vec_id for r in brute_force_topk(embs, q, 10).collect()]
    approx = [r.vec_id for r in ivf_topk(embs, q, k=10, n_cells=16, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (recall, exact, approx)
    # probing fewer cells scans fewer vectors
    assigned = ivf_assign(embs, n_cells=16, dim=64)
    total = embs.count()
    probed = assigned.filter("ivf_cell in (0,1,2,3)").count()
    assert probed < total  # cells genuinely partition the corpus
    # full probe degenerates to brute force (recall 1.0)
    full = [r.vec_id for r in ivf_topk(embs, q, k=10, n_cells=16, n_probe=16).collect()]
    assert full == exact


def test_near_dups_plan_shape(spark):
    """Physical-plan golden (PLANS.md): exactly ONE exchange feeds the
    bucket groupBy (window + collect_list share it), the signature stage is
    a single Arrow python stage, and the scan is pruned to (vec_id,
    embedding).  Uses a fresh uncached read: the cached module fixture
    would replace the FileScan with InMemoryTableScan."""
    import re as _re

    from cl_readability_spark.functions.similarity import embedding_near_dups

    fresh = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        embedding_near_dups(fresh, threshold=0.9, dim=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    band_exchanges = len(_re.findall(r"Exchange hashpartitioning\(band_idx", plan))
    assert band_exchanges == 1, plan[:2000]
    # two vectorized python stages by design: the banded signatures and the
    # batch cosine verification (the HOF cosine ran interpreted — measured
    # ~60 s on 29M candidate pairs at 100k rows)
    assert plan.count("ArrowEvalPython") == 2
    # column pruning reaches the scan (label never read).  When another test
    # has cached the embeddings table, Spark substitutes the cached relation
    # — then the pruning shows at the InMemoryTableScan projection instead
    # (the relation's inner FileScan legitimately carries all columns).
    if "InMemoryRelation" in plan:
        scans = _re.findall(r"InMemoryTableScan \[[^]]*\]", plan)
    else:
        scans = _re.findall(r"FileScan parquet \[[^]]*\]", plan)
    assert scans
    for scan in scans:
        assert "label" not in scan, scan


def test_near_dup_params_sizing():
    from cl_readability_spark.functions.similarity import near_dup_params

    # small corpus: defaults-scale parameters
    b, r = near_dup_params(3_000, threshold=0.9)
    assert r <= 8 and b >= 4
    # 100k corpus: more planes (bucket control) and enough bands for recall
    b2, r2 = near_dup_params(100_000, threshold=0.9)
    assert r2 > r  # plane count grows with corpus
    import math

    p = 1 - math.acos(0.9) / math.pi
    recall = 1 - (1 - p**r2) ** b2
    assert recall >= 0.9, (b2, r2, recall)
    # monotone: bigger corpus never means fewer planes
    assert near_dup_params(10_000_000)[1] >= r2


# --- SemDeDup (semantic_dedup) ---


def _release(df):
    from cl_readability_spark.functions.pins import release_pinned

    release_pinned(df)


def test_semantic_dedup_keep_rule_paper_vs_min_id(spark):
    """Abbas et al. 2023 §4: per duplicate group keep the member with the
    LOWEST cosine to its cluster centroid.  The corpus is built so the
    paper rule and the min-id rule DISAGREE: the farthest-from-centroid
    member (id 7, centroid cosine 0.98) has the highest id, while the
    closest (id 3, cosine 1.0) has the lowest."""
    from cl_readability_spark.functions.similarity import semantic_dedup

    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0]]
    rows = [
        (3, [1.0, 0.0, 0.0, 0.0]),
        (5, [0.998, 0.0599, 0.0, 0.0]),
        (7, [0.98, 0.199, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),  # singleton in the other cell
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.95, centroids=cents, dim=4)
    got = {r.vec_id: r for r in out.collect()}
    _release(out)
    assert {i for i, r in got.items() if r.kept} == {7, 1}
    assert [got[i].dup_group for i in (3, 5, 7)] == [3, 3, 3]
    assert got[1].dup_group == 1
    # centroid sims surface x10k: exact for the aligned member
    assert got[3].centroid_sim_x10k == 10000
    assert got[7].centroid_sim_x10k == 9800

    out2 = semantic_dedup(
        df, threshold=0.95, centroids=cents, dim=4, keep="min_id"
    )
    got2 = {r.vec_id: r for r in out2.collect()}
    _release(out2)
    assert {i for i, r in got2.items() if r.kept} == {3, 1}


def test_semantic_dedup_within_cluster_only(spark):
    """The SemDeDup recall caveat, pinned as intended semantics: a pair at
    cosine ~0.9994 that straddles a cluster boundary (45° ± 1° between two
    orthogonal centroids) is NOT a duplicate — candidacy is within-cell by
    construction (group_col in the bucket key)."""
    import math

    from cl_readability_spark.functions.similarity import semantic_dedup

    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0]]
    rows = [
        (10, [math.cos(math.radians(46)), math.sin(math.radians(46)), 0.0, 0.0]),
        (11, [math.cos(math.radians(44)), math.sin(math.radians(44)), 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.95, centroids=cents, dim=4)
    got = {r.vec_id: r for r in out.collect()}
    _release(out)
    assert got[10].sem_cell != got[11].sem_cell
    assert all(r.kept and r.dup_group == i for i, r in got.items())


def test_near_dups_group_col_restricts_candidacy(spark):
    """group_col joins the bucket key: identical vectors in different
    groups never pair; same group pairs as before."""
    from cl_readability_spark.functions.similarity import embedding_near_dups

    v = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame(
        [(1, 0, v), (2, 1, v), (3, 0, v)],
        "vec_id long, grp int, embedding array<double>",
    )
    pairs = embedding_near_dups(
        df, threshold=0.99, dim=4, group_col="grp"
    ).collect()
    assert [(p.id_a, p.id_b, p.cosine_sim_x10k) for p in pairs] == [
        (1, 3, 10000)
    ]
    ungrouped = embedding_near_dups(df, threshold=0.99, dim=4).count()
    assert ungrouped == 3  # all three pairs without the restriction


def test_semantic_dedup_empty_and_kwargs(spark):
    from cl_readability_spark.functions.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semantic_dedup(empty, dim=None)
    assert out.count() == 0
    assert out.columns == [
        "vec_id",
        "sem_cell",
        "centroid_sim_x10k",
        "dup_group",
        "kept",
    ]
    with pytest.raises(ValueError, match="keep must be"):
        semantic_dedup(empty, keep="random")
    with pytest.raises(ValueError, match="n_cells"):
        semantic_dedup(empty, n_cells=0)
    with pytest.raises(ValueError, match="non-empty"):
        semantic_dedup(empty, centroids=[])


def test_near_dups_group_col_plan_shape(spark):
    """The group restriction rides the ONE band exchange: partition keys
    are (band_idx, band_sig, _grp) — no extra shuffle vs the ungrouped
    plan (pinned ungrouped in test_near_dups_plan_shape)."""
    import re as _re

    from cl_readability_spark.functions.similarity import embedding_near_dups

    fresh = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "grp", (F.col("vec_id") % 4).cast("int")
    )
    plan = (
        embedding_near_dups(fresh, threshold=0.9, dim=64, group_col="grp")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    band_exchanges = _re.findall(
        r"Exchange hashpartitioning\(band_idx[^)]*\)", plan
    )
    assert len(band_exchanges) == 1, plan[:2000]
    assert "_grp" in band_exchanges[0], band_exchanges[0]
    assert plan.count("ArrowEvalPython") == 2
