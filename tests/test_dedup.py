"""MinHash+LSH / SimHash near-duplicate detection tests: known duplicate
pairs found, distinct docs not flagged, exact-Jaccard verification agrees
with a pure-Python oracle."""

import itertools
import random

import pytest
from pyspark.sql import DataFrame, functions as F

from cl_readability_spark.functions.dedup import (
    minhash_near_dups,
    simhash_signature,
)

pytestmark = pytest.mark.spark


# JVM-only MinHash+LSH reference form (shingle → xxhash64 min-agg →
# band bucket-join), checked against brute-force Jaccard below.


def word_shingles(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Adds a ``shingles`` column: distinct word k-grams (array<string>)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(words)
    shingles = F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    return df.withColumn("shingles", shingles)


def minhash_signature(
    df: DataFrame,
    n_hashes: int = 32,
    shingle_col: str = "shingles",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, signature): array of n_hashes min-hash values.  Hash family
    = xxhash64 with a per-index string prefix (deterministic, JVM-side).

    Shape: explode shingles → n_hashes xxhash64 projections → min-agg.
    Everything here is whole-stage-codegen (xxhash64 + hash-aggregate with
    map-side partial combine: the shuffle carries n_hashes longs per doc
    per map partition, never the shingles).  The obvious alternative —
    ``array_min(transform(shingles, hash))`` per index — keeps the row
    shape without a shuffle but runs as interpreted lambdas (higher-order
    functions don't codegen): measured ~3x slower end-to-end at sf0.1 and
    O(n_hashes × shingles) interpreter dispatches per row at scale."""
    exploded = df.select(F.col(id_col), F.explode(shingle_col).alias("_sh"))
    mins = [
        F.min(F.xxhash64(F.concat(F.lit(f"mh{j}:"), F.col("_sh")))).alias(f"_m{j}")
        for j in range(n_hashes)
    ]
    agg = exploded.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{j}") for j in range(n_hashes)]).alias("signature"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 64,
) -> DataFrame:
    """signature → band hashes → bucket-join → candidate pairs (id_a < id_b).

    ``max_bucket`` caps pathological buckets (e.g. empty-text clusters) so a
    degenerate key cannot produce a quadratic pair explosion."""
    rows_per_band = n_hashes // bands
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("signature")[b * rows_per_band + r].cast(
                                        "string"
                                    )
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "band.band_idx", "band.band_hash")
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = (
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
    return pairs



def make_corpus():
    rng = random.Random(7)
    vocab = [f"word{i}" for i in range(200)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    base = [doc(80) for _ in range(10)]
    # near-dups: perturb a few words of base docs 0 and 1
    dup0 = base[0].split()
    dup0[10] = "CHANGED"
    dup1 = base[1].split()
    dup1[3] = "ALTERED"
    dup1[40] = "MUTATED"
    rows = [(i, t) for i, t in enumerate(base)]
    rows.append((100, " ".join(dup0)))
    rows.append((101, " ".join(dup1)))
    rows.append((102, base[2]))  # exact dup of 2
    return rows


def py_jaccard(a: str, b: str, k: int = 5) -> float:
    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)} or {" ".join(w)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = make_corpus()
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_minhash_finds_known_near_dups(spark, corpus_df):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dups(corpus_df, jaccard_threshold=0.5).collect()
    }
    assert (0, 100) in pairs
    assert (1, 101) in pairs
    assert (2, 102) in pairs
    assert pairs[(2, 102)] == 1.0


def test_minhash_jaccard_matches_python_oracle(spark, corpus_df):
    rows = {r.doc_id: r.text for r in corpus_df.collect()}
    for r in minhash_near_dups(corpus_df, jaccard_threshold=0.3).collect():
        expected = py_jaccard(rows[r.id_a], rows[r.id_b])
        assert abs(r.jaccard - expected) < 1e-3, (r.id_a, r.id_b)


def test_minhash_no_false_positives_above_threshold(spark, corpus_df):
    rows = {r.doc_id: r.text for r in corpus_df.collect()}
    found = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(corpus_df, jaccard_threshold=0.5).collect()
    }
    # every reported pair truly has Jaccard >= 0.5
    for a, b in found:
        assert py_jaccard(rows[a], rows[b]) >= 0.5
    # and no unrelated base pair sneaks in
    for a, b in itertools.combinations(range(10), 2):
        assert (a, b) not in found


def test_lsh_recall_vs_bruteforce(spark, corpus_df):
    """Every truly-similar pair (J≥0.6) must appear among LSH candidates —
    recall check of the banding scheme."""
    rows = {r.doc_id: r.text for r in corpus_df.collect()}
    truth = {
        tuple(sorted(p))
        for p in itertools.combinations(rows, 2)
        if py_jaccard(rows[p[0]], rows[p[1]]) >= 0.6
    }
    sig = minhash_signature(word_shingles(corpus_df))
    cand = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sig).collect()}
    assert truth <= cand


def test_signature_deterministic(spark, corpus_df):
    a = minhash_signature(word_shingles(corpus_df)).select("doc_id", "signature").collect()
    b = minhash_signature(word_shingles(corpus_df)).select("doc_id", "signature").collect()
    assert sorted(map(tuple, ((r.doc_id, tuple(r.signature)) for r in a))) == sorted(
        map(tuple, ((r.doc_id, tuple(r.signature)) for r in b))
    )


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_simhash_near_dups_close_in_hamming(spark, corpus_df):
    sims = {r.doc_id: r.simhash for r in simhash_signature(corpus_df).collect()}
    assert hamming(sims[0], sims[100]) <= 8
    assert hamming(sims[2], sims[102]) == 0
    # unrelated docs far apart
    unrelated = [hamming(sims[a], sims[b]) for a, b in itertools.combinations(range(10), 2)]
    assert min(unrelated) > 10


def test_simhash_near_dups_pairs(spark, corpus_df):
    """Block-LSH SimHash pairs: the exact dup (hamming 0) is guaranteed
    found; every returned pair satisfies the hamming bound; pairs at
    hamming <= 3 are found EXACTLY (pigeonhole over 4 blocks)."""
    from cl_readability_spark.functions.dedup import simhash_near_dups

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups(corpus_df, max_hamming=3).collect()
    }
    assert got.get((2, 102)) == 0  # exact duplicate
    assert all(h <= 3 for h in got.values())
    # exhaustive truth at hamming <= 3 from the signatures themselves
    sims = {r.doc_id: r.simhash for r in simhash_signature(corpus_df).collect()}
    truth = {
        tuple(sorted(p)): hamming(sims[p[0]], sims[p[1]])
        for p in itertools.combinations(sims, 2)
        if hamming(sims[p[0]], sims[p[1]]) <= 3
    }
    assert got == truth  # exact recall AND precision, no probabilistic slack


def test_simhash_near_dups_exact_on_heavily_duplicated_corpus(spark):
    """The ADVICE r2 case: >max_bucket boilerplate-identical documents
    (all sharing every block) must not lose pairs.  Identical signatures
    collapse to one row before the block-LSH, so the 300-doc clone group
    yields all C(300,2) hamming-0 pairs, and a near-miss doc one token
    away is still paired with every clone via the cross-signature path."""
    from cl_readability_spark.functions.dedup import (
        simhash_near_dups,
        simhash_signature,
    )

    boiler = "subscribe to our newsletter terms privacy copyright " * 6
    rows = [(i, boiler) for i in range(300)]
    rows.append((900, boiler + " extra"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = {r.doc_id: r.simhash for r in simhash_signature(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    # exhaustive ground truth straight from the signatures — with >256
    # docs sharing all four blocks, the old whole-bucket drop lost ALL
    # of these pairs
    import itertools

    truth = {
        (a, b): hamming(sims[a], sims[b])
        for a, b in itertools.combinations(sorted(sims), 2)
        if hamming(sims[a], sims[b]) <= 3
    }
    assert len(truth) >= 300 * 299 / 2  # the clone group at minimum
    pairs, stats = simhash_near_dups(df, max_hamming=3, return_stats=True)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got == truth
    st = stats.collect()[0]
    assert st.n_distinct_sigs == len(set(sims.values()))
    assert st.max_group_size == max(
        sum(1 for v in sims.values() if v == s) for s in set(sims.values())
    )
    assert st.n_buckets_dropped == 0


def test_simhash_near_dups_cross_signature_groups(spark):
    """Two large identical-text groups whose signatures differ by a few
    bits: every cross pair must be found via the distinct-signature block
    path and expanded through both id lists."""
    from cl_readability_spark.functions.dedup import (
        simhash_near_dups,
        simhash_signature,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 5
    variant = base + "iota"
    rows = [(i, base) for i in range(40)] + [(100 + i, variant) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = {r.doc_id: r.simhash for r in simhash_signature(df).collect()}
    d = bin((sims[0] ^ sims[100]) & (2**64 - 1)).count("1")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups(df, max_hamming=3).collect()
    }
    within = {(a, b) for a in range(40) for b in range(a + 1, 40)}
    within |= {(100 + a, 100 + b) for a in range(40) for b in range(a + 1, 40)}
    assert within <= set(got) and all(got[p] == 0 for p in within)
    if 1 <= d <= 3:
        cross = {(a, 100 + b) for a in range(40) for b in range(40)}
        assert cross <= set(got) and all(got[p] == d for p in cross)
        assert len(got) == len(within) + len(cross)
    else:  # construction landed identical or too-far: still exact
        assert set(got) == within or len(got) == len(within) + 1600


def test_minhash_params_recall_math():
    """Sizing math: every returned (n_hashes, bands) meets the recall
    target at the threshold, and the historical fixed 8×4 banding is
    demonstrably below target at low thresholds (the footgun the sizing
    exists for)."""
    from cl_readability_spark.functions.dedup import minhash_params

    def recall(t, r, b):
        return 1 - (1 - t**r) ** b

    for t in (0.5, 0.6, 0.7, 0.8, 0.9):
        n, b = minhash_params(t)
        r = n // b
        assert n == r * b and n <= 128
        assert recall(t, r, b) >= 0.95, (t, r, b)
    assert recall(0.5, 4, 8) < 0.5   # fixed default at J=0.5
    assert recall(0.6, 4, 8) < 0.75  # fixed default at J=0.6
    with pytest.raises(ValueError):
        minhash_params(0.2, recall_target=0.999, n_max=8)


def test_minhash_recall_sized_banding_beats_fixed_at_low_threshold(spark):
    """100 planted boundary pairs (word-5-gram J ≈ 0.58, above the 0.5
    threshold): the historical fixed banding (n_hashes=32, bands=8)
    misses a large fraction of them (expected candidate P ≈ 0.61 per
    pair); the recall-curve sizing — THE DEFAULT since round 5 —
    recovers ≥ 0.9.  Verification is exact either way — this is purely
    LSH candidacy."""
    rows = []
    for g in range(100):
        base = [f"g{g}w{j}" for j in range(60)]
        variant = base[:45] + [f"g{g}v{j}" for j in range(15)]
        rows.append((2 * g, " ".join(base)))
        rows.append((2 * g + 1, " ".join(variant)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    expected = {(2 * g, 2 * g + 1) for g in range(100)}

    # the default IS the recall-sized banding; explicit (n_hashes, bands)
    # pins, and half-specified banding is rejected
    fixed = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(
            df, jaccard_threshold=0.5, n_hashes=32, bands=8
        ).collect()
    }
    auto = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(df, jaccard_threshold=0.5).collect()
    }
    with pytest.raises(ValueError, match="both"):
        minhash_near_dups(df, jaccard_threshold=0.5, n_hashes=64)
    assert fixed <= expected and auto <= expected  # no false pairs
    assert len(auto & expected) >= 90
    assert len(auto & expected) > len(fixed & expected)


def test_minhash_rehash_carry_equivalent_and_releasable(spark):
    """The slim-exchange plan (carry='rehash': 20-byte band rows through
    the bucket exchange, candidate docs re-hashed behind a semi-join)
    must produce pair-and-jaccard-identical output to the single-pass
    arrays plan — including boundary pairs the banding barely catches —
    and its internal candidate pins must release through the standard
    handle.  (The arrays plan shuffles bands × the corpus shingle volume:
    measured ~50 GB of transient spill at 1M turns × 13 bands — the
    rehash plan is the at-scale default inside curate().)"""
    from cl_readability_spark.functions.pins import (
        pins_outstanding,
        release_pinned,
    )

    rows = []
    for g in range(40):
        base = [f"g{g}w{j}" for j in range(60)]
        variant = base[:45] + [f"g{g}v{j}" for j in range(15)]
        rows.append((2 * g, " ".join(base)))
        rows.append((2 * g + 1, " ".join(variant)))
        rows.append((1000 + g, " ".join(base)))  # exact copy → J=1 pair
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    arrays = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_near_dups(df, jaccard_threshold=0.5).collect()
    }
    before = pins_outstanding(spark)
    rh = minhash_near_dups(df, jaccard_threshold=0.5, carry="rehash")
    rehash = {(r.id_a, r.id_b, r.jaccard) for r in rh.collect()}
    assert rehash == arrays and len(arrays) > 40
    assert pins_outstanding(spark) == before + 2  # cand pairs + arrays
    assert release_pinned(rh) == 2
    assert pins_outstanding(spark) == before
    with pytest.raises(ValueError, match="carry"):
        minhash_near_dups(df, carry="auto")


def test_simhash_max_group_caps_clone_pair_explosion(spark):
    """max_group: oversized clone groups emit linear STAR pairs (min id ×
    rest) instead of the quadratic triangle, meet other signatures through
    their representative only, stay one connected component for keep-one
    dedup, and the capping is surfaced in the stats frame."""
    from cl_readability_spark.functions.dedup import (
        dup_clusters,
        simhash_near_dups,
        simhash_signature,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 5
    variant = base + "iota"
    rows = [(i, base) for i in range(40)] + [(100 + i, variant) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = {r.doc_id: r.simhash for r in simhash_signature(df).collect()}
    d = bin((sims[0] ^ sims[100]) & (2**64 - 1)).count("1")

    pairs, stats = simhash_near_dups(
        df, max_hamming=3, max_group=10, return_stats=True
    )
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    star_a = {(0, i) for i in range(1, 40)}
    star_b = {(100, 100 + i) for i in range(1, 40)}
    if sims[0] == sims[100]:  # construction slack: one 80-clone group
        assert set(got) == {(0, i) for i in list(range(1, 40)) + list(range(100, 140))}
        expected_capped = 1
    elif 1 <= d <= 3:
        assert set(got) == star_a | star_b | {(0, 100)}
        assert got[(0, 100)] == d
        expected_capped = 2
    else:
        assert set(got) == star_a | star_b
        expected_capped = 2
    st = stats.collect()[0]
    assert st.n_groups_capped == expected_capped
    assert st.ids_in_capped_groups == 80
    # connectivity is preserved: capped pairs give the same components as
    # the uncapped triangle+product pairs
    full = simhash_near_dups(df, max_hamming=3)
    comp_capped = {
        r.id: r.cluster_rep for r in dup_clusters(pairs.select("id_a", "id_b")).collect()
    }
    comp_full = {
        r.id: r.cluster_rep for r in dup_clusters(full.select("id_a", "id_b")).collect()
    }
    assert comp_capped == comp_full


def test_simhash_max_group_fast_path_hamming0(spark):
    """max_group on the max_hamming=0 fast path: the clone triangle
    degrades to the star; small groups keep the full triangle."""
    from cl_readability_spark.functions.dedup import simhash_near_dups

    rows = [(i, "clone body text " * 8) for i in range(20)]
    rows += [(200 + i, "another different document entirely " * 6) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_dups(df, max_hamming=0, max_group=5).collect()
    }
    assert got == {(0, i) for i in range(1, 20)} | {
        (200, 201), (200, 202), (201, 202),
    }
    with pytest.raises(ValueError, match="max_group"):
        simhash_near_dups(df, max_hamming=0, max_group=1)


def test_simhash_near_dups_rejects_wide_hamming(spark, corpus_df):
    from cl_readability_spark.functions.dedup import simhash_near_dups

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(corpus_df, max_hamming=4)


def test_minhash_plan_shape(spark, corpus_df):
    """Physical-plan golden (PLANS.md): one MapInPandas signature stage,
    one bucket shuffle on (band_idx, band_hash), partial+final aggregate
    for the pair distinct."""
    import re as _re

    plan = (
        minhash_near_dups(corpus_df, jaccard_threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # join-free formulation: the hashed shingle arrays ride through the
    # bucket shuffle, so the corpus is hashed exactly ONCE (Spark has no
    # cross-branch subplan reuse — a join-back formulation re-runs the
    # Arrow stage per branch)
    assert plan.count("MapInPandas") == 1, plan[:1500]
    assert len(_re.findall(r"Exchange hashpartitioning\(band_idx", plan)) == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_minhash_plan_construction_is_action_free(spark):
    """Building either minhash plan must be a pure plan builder.  Round
    5's version ran df.count() inside the builder — a Spark action
    evaluating the caller's entire upstream plan (e.g. extraction) once
    just to pick a code path, and again for the real job unless the
    input was pinned.  Construction triggers ZERO jobs for both plans
    (arrays is join-free, rehash joins); the plan choice belongs to the
    caller (curate picks it from the count its pin action takes)."""
    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta iota {i}")
         for i in range(40)],
        ["doc_id", "text"],
    )

    def _counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    docs = base.repartition(2).mapInPandas(_counting, base.schema)
    small = minhash_near_dups(docs, carry="arrays")
    big = minhash_near_dups(docs, carry="rehash")
    assert acc.value == 0, "plan construction must not evaluate the input"
    small_plan = small._jdf.queryExecution().analyzed().toString()
    big_plan = big._jdf.queryExecution().analyzed().toString()
    assert "Join" not in small_plan  # arrays branch: join-free
    assert "Join" in big_plan  # rehash branch: semi-join + verify joins
    # building the rehash plan pinned its candidate frames — release them
    # without ever running the query
    from cl_readability_spark.functions.pins import release_pinned

    release_pinned(big)
    assert acc.value == 0


def _band_explode_reference(bands: int, rows_per_band: int):
    """The per-element band builder ``minhash_near_dups`` used before
    ``_band_column``: one ``pyspark.sql.functions`` call per signature
    cell, cast, concat, hash, literal and struct (~350 py4j calls at
    91 × 13).  The reference the one-expression builder must match."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("signature")[b * rows_per_band + r].cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ]
        )
    ).alias("band")


@pytest.mark.parametrize("n_hashes,bands", [(91, 13), (32, 8)])
def test_band_column_matches_per_column_reference(spark, n_hashes, bands):
    """The one-expression band column gives the reference builder's
    schema and identical (band_idx, band_hash) rows on seeded random
    signatures — at the default banding for curate's 0.8 threshold
    (91 × 13) and at the historical fixed 32 × 8."""
    from cl_readability_spark.functions.dedup import _band_column, minhash_params

    if bands == 13:
        assert minhash_params(0.8) == (n_hashes, bands)
    rng = random.Random(n_hashes)
    sigs = spark.createDataFrame(
        [
            (i, [rng.randrange(-(2**63), 2**63) for _ in range(n_hashes)])
            for i in range(200)
        ],
        "doc_id long, signature array<long>",
    )
    rows_per_band = n_hashes // bands
    got = sigs.select("doc_id", _band_column(bands, rows_per_band))
    ref = sigs.select("doc_id", _band_explode_reference(bands, rows_per_band))
    assert got.schema == ref.schema
    flat = ["doc_id", "band.band_idx", "band.band_hash"]
    got_rows = sorted(got.select(*flat).collect())
    assert got_rows == sorted(ref.select(*flat).collect())
    assert len(got_rows) == 200 * bands


def test_band_column_is_constant_functions_calls(spark, monkeypatch):
    """Building the band column calls into ``pyspark.sql.functions`` a
    constant number of times, whatever the banding: the per-element
    builder's calls (each a py4j round trip) grew with bands ×
    rows_per_band and were ~0.5 s of driver time per minhash plan."""
    import inspect

    from cl_readability_spark.functions.dedup import _band_column

    calls = []

    def _counting(name, fn):
        def wrapper(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)

        return wrapper

    for name, fn in inspect.getmembers(F, inspect.isfunction):
        if not name.startswith("_"):
            monkeypatch.setattr(F, name, _counting(name, fn))
    counts = {}
    for bands, rows_per_band in ((13, 7), (8, 4), (22, 4), (2, 10)):
        calls.clear()
        _band_column(bands, rows_per_band)
        counts[bands, rows_per_band] = len(calls)
    assert len(set(counts.values())) == 1, counts
    # the counter sees the reference builder's per-element calls
    calls.clear()
    _band_explode_reference(13, 7)
    assert len(calls) > 13 * 7 > counts[13, 7]


def test_simhash_plan_shape_join_free(spark, corpus_df):
    """Physical-plan golden: the restructured simhash pipeline is join-free
    — signatures and id lists ride the shuffles (signature groupBy → block
    exchange → pair explode → id expansion); one MapInPandas (the
    signature stage), zero joins."""
    from cl_readability_spark.functions.dedup import simhash_near_dups

    plan = (
        simhash_near_dups(corpus_df, max_hamming=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan[:1500]
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def _cc_paths(monkeypatch):
    """Yields each dup_clusters resolution path in turn, setting its edge
    bound: the driver union-find (the default for graphs this small) and
    the label-propagation rounds (forced by a bound of 0 edges)."""
    from cl_readability_spark.functions import dedup

    for path, bound in (("driver", dedup.DRIVER_CLUSTER_EDGES), ("rounds", 0)):
        monkeypatch.setattr(dedup, "DRIVER_CLUSTER_EDGES", bound)
        yield path


def _assert_cc_path(clusters, path):
    """The driver path returns a local relation, the rounds a pinned
    round result."""
    logical = clusters._jdf.queryExecution().logical().getClass().getSimpleName()
    assert (logical == "LocalRelation") == (path == "driver"), (path, logical)


def test_dup_clusters_path_graph_and_cliques(spark, monkeypatch):
    """Connected components over pairs: a long path (worst case for plain
    label propagation — pointer jumping must converge), a clique, and a
    singleton edge; representative = min id per component.  On both
    resolution paths."""
    from cl_readability_spark.functions.dedup import dup_clusters

    path = [(i, i + 1) for i in range(20, 40)]         # one 21-node chain
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    lone = [(100, 101)]
    pairs = spark.createDataFrame(path + clique + lone, ["id_a", "id_b"])
    for cc_path in _cc_paths(monkeypatch):
        out = dup_clusters(pairs)
        _assert_cc_path(out, cc_path)
        got = {r.id: r.cluster_rep for r in out.collect()}
        assert all(got[i] == 20 for i in range(20, 41))
        assert all(got[i] == 0 for i in range(5))
        assert got[100] == 100 and got[101] == 100
        assert len(got) == 21 + 5 + 2


def test_dup_clusters_keep_one_policy_composes(spark, monkeypatch):
    """pairs → clusters → keep-one over the minhash pipeline on a small
    duplicated corpus: exactly one representative survives per duplicate
    cluster, and unique docs survive untouched.  On both resolution
    paths."""
    from cl_readability_spark.functions.dedup import dup_clusters, minhash_near_dups

    dup_text = "the same long boilerplate body of words repeated across docs " * 4
    rows = [(i, dup_text) for i in range(6)] + [
        (10, "a completely different document about spark physical plans " * 4),
        (11, "yet another unrelated text body concerning arrow batches " * 4),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for cc_path in _cc_paths(monkeypatch):
        clusters = dup_clusters(minhash_near_dups(df, jaccard_threshold=0.9))
        _assert_cc_path(clusters, cc_path)
        kept = df.join(
            clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left"
        ).filter(
            F.coalesce(F.col("cluster_rep"), F.col("doc_id")) == F.col("doc_id")
        )
        assert sorted(
            r.doc_id for r in kept.select("doc_id").collect()
        ) == [0, 10, 11]


def _cc_case(spark):
    path = [(i, i + 1) for i in range(20, 40)]
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(path + clique, ["id_a", "id_b"])
    expected = {i: 20 for i in range(20, 41)} | {i: 0 for i in range(5)}
    return pairs, expected


def test_dup_clusters_reliable_checkpoint_mode(spark, tmp_path, monkeypatch):
    """checkpoint_mode='reliable' (the multi-executor-safe mode: the edge
    pin and the rounds materialize through DataFrame.checkpoint,
    recoverable on executor loss) produces the identical labels as local
    mode and actually writes checkpoint files to the supplied directory.
    On both resolution paths."""
    from cl_readability_spark.functions.dedup import dup_clusters

    pairs, expected = _cc_case(spark)
    for cc_path in _cc_paths(monkeypatch):
        ckpt = tmp_path / f"ckpt-{cc_path}"
        out = dup_clusters(
            pairs, checkpoint_mode="reliable", checkpoint_dir=str(ckpt)
        )
        _assert_cc_path(out, cc_path)
        got = {r.id: r.cluster_rep for r in out.collect()}
        assert got == expected
        written = list(ckpt.rglob("*"))
        assert written, "reliable mode must write checkpoint files"


def test_dup_clusters_table_staged_mode_and_cleanup(spark, tmp_path, monkeypatch):
    """checkpoint_mode='table' (the lakehouse shape: the edge pin and
    every round staged through parquet, zero executor-storage state)
    produces identical labels, keeps the final round's table alive for
    the returned frame, and deletes superseded rounds as the loop
    advances.  The driver path stages the edges alone: it runs no round."""
    from cl_readability_spark.functions.dedup import dup_clusters

    pairs, expected = _cc_case(spark)
    for cc_path in _cc_paths(monkeypatch):
        ckpt = tmp_path / cc_path
        out = dup_clusters(
            pairs, checkpoint_mode="table", checkpoint_dir=str(ckpt)
        )
        _assert_cc_path(out, cc_path)
        got = {r.id: r.cluster_rep for r in out.collect()}
        assert got == expected
        assert [p for p in ckpt.rglob("edges-*") if p.is_dir()]
        staged = [p for p in ckpt.rglob("labels-*") if p.is_dir()]
        if cc_path == "driver":
            assert not staged, sorted(p.name for p in staged)
        else:
            # the path graph needs several rounds; superseded label
            # rounds are deleted, so far fewer staged tables remain
            # than rounds ran
            assert 1 <= len(staged) <= 2, sorted(p.name for p in staged)
        # the returned frame stays readable (backed by the surviving
        # table, or local)
        assert out.count() == len(expected)


def test_dup_clusters_evaluates_pair_producer_once(spark, monkeypatch):
    """The bounded collect and the adjacency union's two branches all
    read the pair set; the pinned edge staging must keep the upstream
    producer at ONE evaluation on both resolution paths (no
    cross-branch subplan reuse in Spark — unpinned, a full LSH pipeline
    would run per read; measured +79 s at 1M turns)."""
    from cl_readability_spark.functions.dedup import dup_clusters

    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], ["id_a", "id_b"]
    )

    def _counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    pairs = base.repartition(2).mapInPandas(_counting, base.schema)
    for cc_path in _cc_paths(monkeypatch):
        acc.value = 0
        out = dup_clusters(pairs)
        _assert_cc_path(out, cc_path)
        assert out.count() == 51
        assert acc.value == 50, "pair producer must evaluate exactly once"


def test_dup_clusters_restores_session_checkpoint_dir(spark, tmp_path, monkeypatch):
    """reliable mode must not permanently redirect the session's
    checkpoint dir (a library call overriding session-global config is a
    side effect the caller never asked to keep) — on both resolution
    paths, the driver path's early return included."""
    from cl_readability_spark.functions.dedup import dup_clusters

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "prior"))
    prior = sc.getCheckpointDir()
    pairs, expected = _cc_case(spark)
    for cc_path in _cc_paths(monkeypatch):
        out = dup_clusters(
            pairs, checkpoint_mode="reliable",
            checkpoint_dir=str(tmp_path / f"cc-{cc_path}"),
        )
        _assert_cc_path(out, cc_path)
        assert {r.id: r.cluster_rep for r in out.collect()} == expected
        # Spark resolves a set dir to a UUID subdirectory, so exact
        # identity is unobservable; restored means future checkpoints
        # land back under the prior root, not under dup_clusters' dir
        assert sc.getCheckpointDir().startswith(prior)


def test_dup_clusters_mode_validation(spark, tmp_path):
    from cl_readability_spark.functions.dedup import dup_clusters

    pairs, _ = _cc_case(spark)
    with pytest.raises(ValueError, match="checkpoint_mode"):
        dup_clusters(pairs, checkpoint_mode="bogus")
    with pytest.raises(ValueError, match="checkpoint_dir"):
        dup_clusters(pairs, checkpoint_mode="table")


def test_dup_clusters_nonconvergence_raises_and_warns(spark, monkeypatch):
    """An exhausted round budget means the labels are not final — the
    default is a hard error (silent wrong labels would feed a keep-one
    dedup that drops the wrong rows); 'warn' downgrades for diagnostics.
    Rounds path only: the driver union-find has no round budget."""
    from cl_readability_spark.functions import dedup
    from cl_readability_spark.functions.dedup import dup_clusters

    monkeypatch.setattr(dedup, "DRIVER_CLUSTER_EDGES", 0)

    # a 21-node path cannot converge in one round even with pointer
    # jumping (min label must travel ~20 hops; one round covers ≤3)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 40)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dup_clusters(pairs, max_iters=1)
    with pytest.warns(RuntimeWarning, match="fixpoint"):
        got = dup_clusters(pairs, max_iters=1, on_nonconverged="warn")
        assert got.count() == 21


@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_dup_clusters_driver_and_rounds_paths_agree(spark, monkeypatch, id_kind):
    """Seeded differential: the driver union-find and the label-
    propagation rounds give identical (id, cluster_rep) sets and the
    same schema over chains, stars, cliques and disjoint pairs with
    shuffled node numbering and edge order — with long ids and with
    string ids (whose min is the byte-order min: "n10" < "n9")."""
    from cl_readability_spark.functions.dedup import dup_clusters

    rng = random.Random(15)
    nodes = rng.sample(range(10_000), 400)
    edges, at = [], 0

    def take(n):
        nonlocal at
        at += n
        return nodes[at - n : at]

    for _ in range(6):  # chains
        c = take(rng.randint(3, 30))
        edges += list(zip(c, c[1:]))
    for _ in range(6):  # stars, the hub anywhere in id order
        hub, *rest = take(rng.randint(3, 15))
        edges += [(hub, x) for x in rest]
    for _ in range(5):  # cliques
        c = take(rng.randint(3, 7))
        edges += list(itertools.combinations(c, 2))
    for _ in range(20):  # disjoint pairs
        edges.append(tuple(take(2)))
    rng.shuffle(edges)
    if id_kind == "string":
        edges = [(f"n{a}", f"n{b}") for a, b in edges]
    # the pair producers emit id_a < id_b; the resolution must not care
    edges = [(min(e), max(e)) if rng.random() < 0.5 else e for e in edges]
    pairs = spark.createDataFrame(
        edges, f"id_a {id_kind}, id_b {id_kind}"
    ).repartition(3)
    got = {}
    for cc_path in _cc_paths(monkeypatch):
        out = dup_clusters(pairs)
        _assert_cc_path(out, cc_path)
        got[cc_path] = (out.schema, {tuple(r) for r in out.collect()})
    assert got["driver"] == got["rounds"]
    assert len(got["driver"][1]) == at


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    """Winnowing guarantee: two docs sharing a substring longer than
    k + window - 1 share at least one selected fingerprint; disjoint-text
    docs share none; deterministic across runs."""
    from cl_readability_spark.functions.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "PREFIX one " + shared + " SUFFIX alpha"),
        (2, "totally different opening " + shared + " and another ending"),
        (3, "no overlap here at all, just some other words entirely fresh"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = winnow_fingerprints(df, k=8, window=16)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    again = {}
    for r in winnow_fingerprints(df, k=8, window=16).collect():
        again.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert again == by_doc  # deterministic


def test_winnow_density(spark, corpus_df):
    """Winnowing selects ~2/(window+1) of positions (density bound) —
    fingerprints stay sparse enough to index at scale."""
    from cl_readability_spark.functions.dedup import winnow_fingerprints

    from pyspark.sql import functions as F

    fp = winnow_fingerprints(corpus_df, k=8, window=16)
    n_fp = fp.count()
    total_chars = corpus_df.select(F.sum(F.length("text"))).collect()[0][0]
    assert 0 < n_fp < total_chars * 0.2  # far below one-per-position


def test_minhash_scan_pruning_reaches_parquet(spark, tmp_path):
    """The minhash pipeline over a wide parquet table must read ONLY
    (doc_id, text) — column pruning through the mapInPandas stage's
    explicit select must reach the scan's ReadSchema."""
    path = str(tmp_path / "wide.parquet")
    spark.createDataFrame(
        [(i, f"text body {i} " * 20, "en", "src", 260, 99) for i in range(50)],
        ["doc_id", "text", "lang", "source", "n_chars", "extra_col"],
    ).write.parquet(path)
    plan = (
        minhash_near_dups(spark.read.parquet(path), jaccard_threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m, plan[:1000]
    schema = m.group(1)
    assert "doc_id" in schema and "text" in schema
    for col in ("lang", "source", "n_chars", "extra_col"):
        assert col not in schema, (col, schema)


def test_line_dedup_first_occurrence_wins_and_structure_survives(spark):
    """C4-style cross-doc line dedup: a line shared by several docs
    survives only at its first (id, line-idx) occurrence; blank lines are
    always kept (document structure); the KEPT line keeps its original
    bytes even when normalization merged case variants; null text comes
    back NULL with zero counts."""
    from cl_readability_spark.functions.dedup import line_dedup

    rows = [
        (1, "Alpha One\nShared Footer\n\nTail 1"),
        (2, "Beta Two\nshared footer\n\nTail 2"),   # case variant of doc 1's
        (3, None),
        (4, "Shared Footer"),                        # already seen -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    assert out[1].deduped_text == "Alpha One\nShared Footer\n\nTail 1"
    assert (out[1].n_lines, out[1].n_kept_lines) == (4, 4)
    # doc 2's footer normalizes to doc 1's -> dropped; blank kept
    assert out[2].deduped_text == "Beta Two\n\nTail 2"
    assert (out[2].n_lines, out[2].n_kept_lines) == (4, 3)
    assert out[3].deduped_text is None
    assert (out[3].n_lines, out[3].n_kept_lines) == (0, 0)
    # the whole doc was one already-seen line -> empty doc, not NULL
    assert out[4].deduped_text == ""
    assert (out[4].n_lines, out[4].n_kept_lines) == (1, 0)
    # normalize=False keeps the case variant
    strict = {r.doc_id: r for r in line_dedup(df, normalize=False).collect()}
    assert strict[2].deduped_text == "Beta Two\nshared footer\n\nTail 2"


def test_line_dedup_matches_python_oracle_on_random_corpus(spark):
    """Differential oracle: first-occurrence-wins recomputed in plain
    python over a seeded corpus with heavy cross-document line sharing,
    whitespace-only lines, empty docs and a NULL doc — every output field
    must match byte-for-byte (the DuckDB twin pins the planted shape;
    this pins arbitrary sharing patterns)."""
    import random

    from cl_readability_spark.functions.dedup import line_dedup

    rng = random.Random(11)
    # the pool exercises the EXPLICIT edge-whitespace class (LINE_EDGE_WS):
    # tab-only and CR-only lines are structure (always kept) like the
    # space-only one, and a trailing \r (CRLF corpus) dedups against the
    # bare LF variant of the same line
    pool = (
        [f"line {i} shared content" for i in range(12)]
        + ["", "  ", "\t", " \r", "\x0b"]
        + ["crlf shared line\r", "crlf shared line", "\tindented shared\t"]
    )
    rows = []
    for doc in range(40):
        n = rng.randint(0, 6)
        rows.append(
            (doc, "\n".join(rng.choice(pool) for _ in range(n)) if n else "")
        )
    rows.append((100, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    seen: set[str] = set()
    expected = {}
    for doc_id, text in sorted(rows, key=lambda r: r[0]):
        if text is None:
            expected[doc_id] = (0, 0, None)
            continue
        lines = text.split("\n")
        kept = []
        for line in lines:
            from cl_readability_spark.functions.dedup import LINE_EDGE_WS

            norm = line.strip(LINE_EDGE_WS).lower()
            if norm == "" or norm not in seen:
                if norm != "":
                    seen.add(norm)
                kept.append(line)
        expected[doc_id] = (len(lines), len(kept), "\n".join(kept))

    got = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.deduped_text)
        for r in line_dedup(df).collect()
    }
    assert got == expected


def test_line_dedup_plan_shape(spark):
    """Physical-plan golden for the scale claims (PLANS.md): zero python
    stages, NO window over the line key (a row_number window partitioned
    by the line hash pins every occurrence of one mega-hot boilerplate
    line into a single unsplittable task — window partitions cannot be
    skew-split by AQE) — instead a map-side-combinable min-struct
    AGGREGATION on the 128-bit line key (partial_min in the plan: hot
    keys collapse to one slim row per input partition before the
    exchange) plus an equi-JOIN of winners back onto the lines (which
    AQE CAN skew-split), and the per-doc reassembly groupBy."""
    import re as _re

    from cl_readability_spark.functions.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    plan = line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # the skew defusal itself: winner selection must be an aggregation
    # with a map-side partial phase, never a window over the line key
    assert "Window" not in plan, plan[:2000]
    assert "partial_min" in plan, plan[:2000]
    assert "Join" in plan, plan[:2000]
    keys = _re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
    # exactly one exchange carries the line key (the winners agg, where
    # hot keys arrive pre-collapsed); the keep-marking join exchanges on
    # (_id, _line_idx) — unique per row, skew-free by construction —
    # and the reassembly on _id
    line_key_exchanges = [k for k in keys if "_lkey" in k]
    assert len(line_key_exchanges) == 1, keys
    assert any("_id" in k and "_line_idx" in k and "_lkey" not in k
               for k in keys), keys
    assert any("_id" in k and "_line_idx" not in k and "_lkey" not in k
               for k in keys), keys
    assert len(keys) <= 4, keys


def test_line_dedup_extraction_interplay_golden(spark):
    """AUTHORED golden (derived from the written semantics, never from
    the engine — tests/authored_goldens.py method) for the line_dedup ×
    extraction interplay: a code helper quoted verbatim across turns.

    Derivation chain, extraction side (SURVEY §2.3-2.4 + core/extract.py
    sibling rules at :588, JS _grabArticle semantics):
    (1) body > [article(4 x <p> of U_k*4), p.code]: each U_k*4 paragraph
        scores 1 + (commas+1) + min(len//100, 3) = 1 + 9 + 3 = 13 (U has
        2 commas, repeated 4x -> 8; len > 300); article (parent) sums to
        52, body (grandparent) gets 52/2 + the code-p's ~2 < 52 -> the
        article is the top candidate, no parent climb.
    (2) sibling threshold max(10, 0.2*52) = 10.4; the code <p> (sibling
        of the article under body) has no score but len > 80 with link
        density 0 -> appended via the JS P-sibling rule.
    (3) blocks = top-level children of the wrapper = [article, p.code];
        extracted_text = innerText(article) + "\\n\\n" + CODE, where
        innerText(article) concatenates the four paragraph texts (each
        ends in one space; no \\s{2,} runs -> normalization = strip).
    So each turn's extracted_text has exactly 3 lines:
    [body_k, "", CODE] — the CODE line byte-identical across turns.

    Dedup side (functions/dedup.py:line_dedup written semantics):
    - default (C4 corpus-wide): CODE's first occurrence is the
      lexicographically-least (id, line_idx) = turn a:0; every other
      occurrence drops — INCLUDING turn a:1 of the same conversation.
    - group_col semantics: conversation "a" owns CODE (group of the
      globally-first occurrence), so BOTH a-turns keep it — repeated
      content inside one conversation is structure — while b:0 still
      drops it (cross-conversation boilerplate).  Blank separator lines
      are structure and always survive."""
    import datetime

    from cl_readability_spark.functions.dedup import line_dedup
    from cl_readability_spark.pipeline.job import extract_transcripts
    from cl_readability_spark.pipeline.transcripts import TRANSCRIPTS_SCHEMA

    CODE = (
        "def transform_batch(rows): return [normalize(r) for r in rows "
        "if r.status == 'ok'] # shared tool helper"
    )
    assert len(CODE) > 80 and "  " not in CODE

    def u(k: int) -> str:
        return (
            f"Turn {k} body content sentences with commas, clauses, and "
            "length enough to score well in candidate selection, which "
            "keeps this paragraph firmly in the article. "
        )

    def html(k: int) -> str:
        paras = "".join(f"<p>{u(k) * 4}</p>" for _ in range(4))
        return (
            f"<html><head><title>Interplay Case {k} | Site</title></head>"
            f"<body><article>{paras}</article><p>{CODE}</p></body></html>"
        )

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("a", 0, "assistant", html(0), None, ts),
        ("a", 1, "assistant", html(1), None, ts),
        ("b", 0, "assistant", html(2), None, ts),
    ]
    transcripts = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    extracted = extract_transcripts(transcripts, salt_buckets=2).select(
        "conv_id", "turn_idx", "extracted_text"
    )
    got = {
        (r.conv_id, r.turn_idx): r.extracted_text for r in extracted.collect()
    }
    # the authored extraction expectation, byte for byte
    expected_text = {
        ("a", 0): (u(0) * 16).strip() + "\n\n" + CODE,
        ("a", 1): (u(1) * 16).strip() + "\n\n" + CODE,
        ("b", 0): (u(2) * 16).strip() + "\n\n" + CODE,
    }
    assert got == expected_text

    docs = extracted.select(
        F.concat_ws(":", "conv_id", "turn_idx").alias("doc_id"),
        F.col("conv_id").alias("conv"),
        F.col("extracted_text").alias("text"),
    )
    # C4 default: corpus-wide first-occurrence — a:1 loses its quote
    strict = {
        r.doc_id: (r.n_kept_lines, r.deduped_text)
        for r in line_dedup(docs).collect()
    }
    assert strict["a:0"] == (3, expected_text[("a", 0)])
    assert strict["a:1"] == (2, (u(1) * 16).strip() + "\n")
    assert strict["b:0"] == (2, (u(2) * 16).strip() + "\n")
    # conversation granularity: the owning conversation keeps ALL its
    # occurrences; other conversations still dedup
    grouped = {
        r.doc_id: (r.n_kept_lines, r.deduped_text)
        for r in line_dedup(docs, group_col="conv").collect()
    }
    assert grouped["a:0"] == (3, expected_text[("a", 0)])
    assert grouped["a:1"] == (3, expected_text[("a", 1)])
    assert grouped["b:0"] == (2, (u(2) * 16).strip() + "\n")


def test_line_dedup_group_col_null_groups_share_a_group(spark):
    """NULL group values form ONE shared group (sentinel) rather than
    never-equal join keys that would silently drop every occurrence of
    a line whose winner lives in a NULL group (round-7 review)."""
    from cl_readability_spark.functions.dedup import line_dedup

    rows = [
        ("a0", None, "shared helper line of text\nbody zero"),
        ("a1", None, "shared helper line of text\nbody one"),
        ("b0", "convB", "shared helper line of text\nbody two"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, conv string, text string")
    out = {
        r.doc_id: (r.n_kept_lines, r.deduped_text)
        for r in line_dedup(df, group_col="conv").collect()
    }
    # winner = a0 (lexicographic min id) -> the NULL group owns the
    # line; BOTH null-group docs keep it, convB drops it
    assert out["a0"] == (2, "shared helper line of text\nbody zero")
    assert out["a1"] == (2, "shared helper line of text\nbody one")
    assert out["b0"] == (1, "body two")


def _ref_substring_dedup(rows, k, keep="none", normalize=True):
    """Plain-python reimplementation of substring_dedup's written
    semantics (token k-grams, duplicated = count >= 2 corpus-wide with
    multiplicity, coverage union, keep='first' exempts the global min
    (id, pos) occurrence) — derived from the docstring, never from the
    engine."""
    import re

    tok = {}
    for i, t in rows:
        tok[i] = (
            None
            if t is None
            else [x for x in re.split("[ \t\n\f\r]+", t) if x]
        )
    occ: dict[tuple, list] = {}
    for i in sorted(tok):
        ts = tok[i]
        if not ts:
            continue
        norm = [t.lower() for t in ts] if normalize else ts
        for p in range(len(ts) - k + 1):
            occ.setdefault(tuple(norm[p : p + k]), []).append((i, p))
    cov = {i: set() for i in tok}
    for g, os_ in occ.items():
        if len(os_) < 2:
            continue
        win = min(os_)
        for i, p in os_:
            if keep == "first" and (i, p) == win:
                continue
            cov[i].update(range(p, p + k))
    out = {}
    for i, ts in tok.items():
        if ts is None:
            out[i] = (0, 0, None)
            continue
        kept = [t for j, t in enumerate(ts) if j not in cov[i]]
        out[i] = (len(ts), len(kept), " ".join(kept))
    return out


def test_substring_dedup_matches_python_oracle_on_random_corpus(spark):
    """Differential oracle for substring_dedup over a seeded corpus with
    heavy cross-document run sharing, within-document repeats, hostile
    whitespace (tabs / CRLF / multi-space — the explicit TOKEN_SPLIT_RE
    class), case variants, sub-threshold short docs, empty / whitespace-
    only / NULL docs — both keep modes and both normalize settings must
    match the written-semantics reimplementation byte-for-byte."""
    import random

    from cl_readability_spark.functions.dedup import substring_dedup

    rng = random.Random(23)
    k = 4
    shared_runs = [
        ["alpha", "beta", "gamma", "delta", "epsilon"],     # len 5 >= k
        ["one", "two", "three", "four"],                    # len 4 == k
        ["Red", "Green", "Blue", "Cyan", "Magenta"],        # case variant below
        ["red", "green", "blue", "cyan", "magenta"],
        ["too", "short", "run"],                            # len 3 < k: immune
    ]
    rows = []
    for doc in range(30):
        parts = [f"u{doc}w{j}" for j in range(rng.randint(0, 5))]
        for _ in range(rng.randint(0, 3)):
            parts.extend(rng.choice(shared_runs))
            parts.append(f"u{doc}s{len(parts)}")
        # hostile separators: the join below uses a random ws run
        seps = [" ", "\t", "  ", " \r\n", "\n", "\f"]
        text = ""
        for j, p in enumerate(parts):
            text += (rng.choice(seps) if j else "") + p
        rows.append((doc, text))
    rows += [(100, None), (101, ""), (102, " \t\n "), (103, "solo")]
    # a doc where one run repeats TWICE internally (multiplicity counts)
    rows.append((104, "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5 end104"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for keep in ("none", "first"):
        for normalize in (True, False):
            got = {
                r.doc_id: (r.n_tokens, r.n_kept_tokens, r.dedup_text)
                for r in substring_dedup(
                    df, k=k, keep=keep, normalize=normalize, dup_join_salt=3
                ).collect()
            }
            exp = _ref_substring_dedup(rows, k, keep=keep, normalize=normalize)
            assert got == exp, (keep, normalize)


def test_substring_dedup_threshold_and_keep_semantics(spark):
    """The written contract's load-bearing cases, asserted directly:
    runs shorter than k survive ANY multiplicity; a duplicated >=k run
    is cut everywhere under keep='none' but survives at its globally-
    first occurrence under keep='first'; the within-doc second copy is
    never the winner; docs with < k tokens are untouchable."""
    from cl_readability_spark.functions.dedup import substring_dedup

    rows = [
        (1, "alpha beta gamma delta tail1"),
        (2, "head2 alpha beta gamma delta"),
        (3, "alpha beta gamma"),            # < k tokens: immune
        (4, "rep rep rep rep rep rep rep rep"),  # self-overlapping run
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    none = {
        r.doc_id: r.dedup_text
        for r in substring_dedup(df, k=4, dup_join_salt=2).collect()
    }
    assert none[1] == "tail1" and none[2] == "head2"
    assert none[3] == "alpha beta gamma"
    # 'rep'*8 with k=4: grams at pos 0..4 are all identical (count 5)
    # -> whole doc covered
    assert none[4] == ""
    first = {
        r.doc_id: r.dedup_text
        for r in substring_dedup(df, k=4, keep="first", dup_join_salt=2).collect()
    }
    # global first occurrence is (doc 1, pos 0) -> doc 1 keeps the run
    assert first[1] == "alpha beta gamma delta tail1"
    assert first[2] == "head2"
    # doc 4: only the winner gram occurrence (4, 0) is exempt — the
    # overlapping non-winner occurrences at pos 1..4 still cover
    # positions 1..7, so just the first token survives (keep='first' is
    # a GRAM-level exemption; inside a self-overlapping run the later
    # grams are duplicates of the first and are cut)
    assert first[4] == "rep"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        substring_dedup(df, keep="last")
    with _pytest.raises(ValueError, match="k must"):
        substring_dedup(df, k=1)
    with _pytest.raises(ValueError, match="dup_join_salt"):
        substring_dedup(df, dup_join_salt=0)


def test_substring_dedup_plan_shape(spark):
    """Physical-plan golden for the scale claims: zero python stages;
    duplicate detection is a map-side-combinable AGGREGATION on the gram
    key (partial_count in the plan — a mega-hot boilerplate gram crosses
    the shuffle as one slim row per input partition); the occurrence-
    marking join is SALTED (its exchanges carry _salt next to the gram
    key — AQE's OptimizeSkewedJoin provably does not fire under an
    aggregation child, round-7 PLANS.md) so exactly one exchange carries
    the bare gram key (the partial agg); the keep-join exchanges on
    (_id, _pos) — unique per row, skew-free by construction; the only
    Window is the doc-partitioned lead pass (bounded by one document)."""
    import re as _re

    from cl_readability_spark.functions.dedup import substring_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    plan = (
        substring_dedup(df, k=3, dup_join_salt=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan, plan[:2000]
    keys = _re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
    bare_gram = [k for k in keys if "_g1" in k and "_salt" not in k]
    salted = [k for k in keys if "_g1" in k and "_salt" in k]
    assert len(bare_gram) == 1, keys
    assert salted, keys
    assert any("_id" in k and "_pos" in k and "_g1" not in k for k in keys), keys
    # the lead window partitions by the doc id only (doc-bounded tasks)
    wins = _re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert wins and all("_id" in w for w in wins), (wins, plan[:1500])


# --- dedup_weights (soft dedup: SoftDeDup / data-constrained scaling) ---


def _weights_corpus(spark):
    rows = (
        [(i, "unique text %d with some words" % i) for i in range(6)]
        + [(10 + j, "twice repeated body") for j in range(2)]
        + [(20 + j, "five times repeated body") for j in range(5)]
    )
    return spark.createDataFrame(rows, ["id", "text"])


def test_dedup_weights_text_mode_counts_and_weights(spark):
    from cl_readability_spark.functions.dedup import dedup_weights

    out = dedup_weights(_weights_corpus(spark), text_col="text")
    got = {r["id"]: (r["dup_count"], r["dup_weight"]) for r in out.collect()}
    assert len(got) == 13
    for i in range(6):
        assert got[i] == (1, 1.0)
    for j in range(2):
        assert got[10 + j] == (2, 0.5)
    for j in range(5):
        assert got[20 + j] == (5, pytest.approx(0.2))
    # alpha=1 invariant: every duplicate group contributes exactly one
    # document's worth of expected mass -> sum(weights) == n distinct texts
    total = sum(w for _, w in got.values())
    assert total == pytest.approx(6 + 1 + 1)


def test_dedup_weights_alpha_zero_and_half(spark):
    from cl_readability_spark.functions.dedup import dedup_weights

    corpus = _weights_corpus(spark)
    flat = dedup_weights(corpus, text_col="text", alpha=0.0)
    assert {r["dup_weight"] for r in flat.collect()} == {1.0}
    half = dedup_weights(corpus, text_col="text", alpha=0.5)
    got = {r["id"]: r["dup_weight"] for r in half.collect()}
    assert got[10] == pytest.approx(2 ** -0.5)
    assert got[20] == pytest.approx(5 ** -0.5)


def test_dedup_weights_cluster_mode_and_missing_ids(spark):
    from cl_readability_spark.functions.dedup import dedup_weights

    corpus = _weights_corpus(spark)
    # near-dup clusters: {10,11,20} and {21,22}; everything else unclustered
    clusters = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 10), (21, 21), (22, 21)],
        ["id", "cluster_rep"],
    )
    out = dedup_weights(corpus, clusters=clusters)
    got = {r["id"]: (r["dup_count"], r["dup_weight"]) for r in out.collect()}
    assert got[10] == (3, pytest.approx(1 / 3))
    assert got[11] == (3, pytest.approx(1 / 3))
    assert got[20] == (3, pytest.approx(1 / 3))
    assert got[21] == (2, 0.5)
    assert got[22] == (2, 0.5)
    for i in list(range(6)) + [23, 24]:
        assert got[i] == (1, 1.0), i


def test_dedup_weights_composes_with_dup_clusters(spark):
    from cl_readability_spark.functions.dedup import dedup_weights, dup_clusters

    pairs = spark.createDataFrame(
        [(10, 11), (11, 20)], ["id_a", "id_b"]
    )
    clusters = dup_clusters(pairs)
    out = dedup_weights(_weights_corpus(spark), clusters=clusters)
    got = {r["id"]: r["dup_count"] for r in out.collect()}
    assert got[10] == got[11] == got[20] == 3


def test_dedup_weights_partitioning_independent(spark):
    from cl_readability_spark.functions.dedup import dedup_weights

    corpus = _weights_corpus(spark)
    a = dedup_weights(corpus, text_col="text")
    b = dedup_weights(corpus.repartition(7), text_col="text")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dedup_weights_kwarg_guards(spark):
    from cl_readability_spark.functions.dedup import dedup_weights

    corpus = _weights_corpus(spark)
    with pytest.raises(ValueError, match="exactly one"):
        dedup_weights(corpus)
    with pytest.raises(ValueError, match="exactly one"):
        dedup_weights(corpus, text_col="text", clusters=corpus)
    with pytest.raises(ValueError, match="alpha"):
        dedup_weights(corpus, text_col="text", alpha=-1.0)


def test_dedup_weights_hot_path(spark):
    """Force the hot/cold split at toy scale (hot_threshold=2): the
    5-copy group attaches via the broadcast branch, the 2-copy group via
    the salted cold join — values identical to the unsplit defaults."""
    from cl_readability_spark.functions.dedup import dedup_weights

    corpus = _weights_corpus(spark)
    out = dedup_weights(corpus, text_col="text", hot_threshold=2, salts=4)
    got = {r["id"]: (r["dup_count"], r["dup_weight"]) for r in out.collect()}
    assert got[20] == (5, pytest.approx(0.2))  # hot (broadcast) branch
    assert got[10] == (2, 0.5)  # cold (salted join) branch
    assert got[0] == (1, 1.0)
    ref = dedup_weights(corpus, text_col="text")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_dedup_weights_plan_shape(spark):
    """Pin the skew-free-by-construction attach: hot keys join via
    BroadcastHashJoin (never shuffling on their own key), cold keys via
    an equi-join whose key includes the row-derived ``_dw_salt`` (an
    agg-under-join shape is NOT AQE-skew-splittable, so the salt is the
    only thing bounding a mega-hot group's partition — it must survive
    into the physical join key)."""
    from cl_readability_spark.functions.dedup import dedup_weights

    import re as _re

    out = dedup_weights(_weights_corpus(spark), text_col="text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan, plan
    # the salt must survive into the cold join's EXCHANGE partitioning:
    # a literal cold-side salt gets constant-folded out of the equi-join
    # keys, the exchange partitions on (k1,k2) alone, and a mega-hot
    # group collapses back into one task (measured: 1M rows / 252 MB
    # spill in one task before the non-foldable-zero fix)
    assert _re.search(
        r"hashpartitioning\(_dw_k1#\d+L, _dw_k2#\d+L, _dw_salt#\d+", plan
    ), plan
    assert "CartesianProduct" not in plan
