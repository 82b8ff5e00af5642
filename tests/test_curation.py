"""Curation pipeline: flag semantics on planted cases and the composed
extract→curate run."""

import pytest
from pyspark.sql import functions as F

from cl_readability_spark.functions.curation import curate, curation_report

pytestmark = pytest.mark.spark

GOOD = (
    "The article is a long and genuinely useful body of text with the usual "
    "stopwords in it, and it keeps going for long enough to pass the length "
    "gate of the curation pipeline, which is the whole point of this row. "
) * 3
NEAR = GOOD + "One extra trailing sentence changes very little of the body."


@pytest.fixture()
def planted(spark):
    rows = [
        ("c1", 0, GOOD),            # kept
        ("c1", 1, "too short"),     # quality drop (length)
        ("c2", 0, GOOD),            # exact dup of (c1,0) -> dropped
        ("c3", 0, NEAR),            # near-dup of (c1,0) -> dropped
        ("c4", 0, "x y z " * 60),   # quality drop (no stopwords)
        # kept: a genuinely different document (shares stopwords only, so
        # word-5-gram Jaccard vs GOOD is ~0)
        ("c5", 0, (
            "A completely different report covers the migration of the data "
            "platform, and it describes the rollout schedule in enough words "
            "to pass every quality gate without overlapping the other rows. "
        ) * 3),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string"
    )


def test_curate_flags(spark, planted):
    out = {
        (r.conv_id, r.turn_idx): r
        for r in curate(planted, jaccard_threshold=0.7).collect()
    }
    assert out[("c1", 0)].kept
    assert not out[("c1", 1)].quality_ok
    assert out[("c2", 0)].quality_ok and not out[("c2", 0)].exact_keep
    assert out[("c3", 0)].near_dup_drop and not out[("c3", 0)].kept
    assert not out[("c4", 0)].quality_ok
    assert out[("c5", 0)].kept

    rep = curation_report(curate(planted, jaccard_threshold=0.7)).collect()[0]
    assert rep.rows_in == 6
    assert rep.dropped_quality == 2
    assert rep.dropped_exact_dup == 1
    assert rep.dropped_near_dup == 1
    assert rep.rows_kept == 2


def test_curate_report_partitions_rows_in(spark):
    """Hierarchical gate attribution: duplicate-text rows that ALSO fail
    quality are counted once (as quality drops), so the four report columns
    partition rows_in exactly — the old per-gate overlap double-counted
    ('too short' twins were both a quality drop and an exact-dup drop)."""
    rows = [
        ("a", 0, GOOD),
        ("b", 0, "too short"),
        ("c", 0, "too short"),   # exact dup of a quality-failed row
        ("d", 0, GOOD),          # exact dup of a kept row
        ("e", 0, NEAR),          # near-dup of the kept row
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string"
    )
    curated = curate(df, jaccard_threshold=0.7)
    rep = curation_report(curated).collect()[0]
    assert rep.rows_in == 5
    assert rep.dropped_quality == 2
    assert rep.dropped_exact_dup == 1
    assert rep.dropped_near_dup == 1
    assert rep.rows_kept == 1
    assert (
        rep.dropped_quality + rep.dropped_exact_dup + rep.dropped_near_dup
        + rep.rows_kept
        == rep.rows_in
    )
    # quality-failed rows are never exact-dup keepers
    flags = {r.conv_id: r for r in curated.collect()}
    assert not flags["b"].exact_keep and not flags["c"].exact_keep


def test_curate_local_checkpoint_evaluates_upstream_once(spark, planted):
    """Under materialize="local_checkpoint" the survivor count that picks
    the minhash plan is the job that materializes the flagged frame's
    (lazy) checkpoint: a counting upstream sees each row exactly once
    across curate() itself and every later read of its result."""
    acc = spark.sparkContext.accumulator(0)

    def _counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    upstream = planted.repartition(2).mapInPandas(_counting, planted.schema)
    curated = curate(
        upstream, jaccard_threshold=0.7, materialize="local_checkpoint"
    )
    assert acc.value == 6
    kept = {r.conv_id for r in curated.filter(F.col("kept")).collect()}
    assert kept == {"c1", "c5"}
    assert curation_report(curated).first().rows_in == 6
    assert acc.value == 6


def test_curate_plan_single_extraction(spark):
    """Plan-shape golden (VERDICT r2 #1): the flagged extraction frame is
    materialized once before the near-dup branch references it twice.
    local_checkpoint mode proves it structurally (ZERO MapInArrow in the
    final DAG — the one extraction pass lives in the checkpoint job; one
    MapInPandas, the minhash signature stage); the default disk mode pins
    a DISK_ONLY cache both branches read (InMemoryTableScan); the lazy
    variant shows the hazard: extraction appears in BOTH plan branches."""
    from cl_readability_spark.pipeline.job import extract_transcripts
    from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

    transcripts = synthetic_transcripts(spark, 2, seed=5)

    def plan_of(materialize):
        # policy="pairwise": the drops branch stays inside THIS plan (the
        # clusters policy routes drops through dup_clusters, whose rounds
        # checkpoint — the extraction/minhash stages then live in those
        # checkpoint jobs and the MapInArrow counts below would trivially
        # pass without proving the single-extraction property)
        # the toy corpus is far below CARRY_THRESHOLD, so curate picks
        # the arrays minhash plan: this golden pins the FLAGGED-frame
        # materialization property, which the rehash plan's own
        # internally-pinned subtrees (covered by the dedup equivalence
        # test) would blur
        curated = curate(
            extract_transcripts(transcripts, salt_buckets=4),
            min_stopword_bp=0,
            materialize=materialize,
            policy="pairwise",
        )
        return curated._jdf.queryExecution().executedPlan().toString()

    # lazy first: the disk mode registers its cache with the session cache
    # manager, and Spark substitutes matching subtrees in LATER plans
    lazy = plan_of("none")
    assert lazy.count("MapInArrow") == 2, lazy[:2000]
    fixed = plan_of("local_checkpoint")
    assert fixed.count("MapInArrow") == 0, fixed[:2000]
    assert fixed.count("MapInPandas") == 1, fixed[:2000]
    disk = plan_of("disk")
    assert "InMemoryTableScan" in disk, disk[:2000]


def test_curate_composes_with_extraction(spark):
    """The real composition: transcripts → extract → curate, no crashes,
    kept subset non-empty and flag columns present."""
    from cl_readability_spark.pipeline.job import extract_transcripts
    from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

    transcripts = synthetic_transcripts(spark, 4, seed=21)
    # the synthetic corpus vocabulary is tech jargon with no English
    # stopwords, so disable the stopword floor for this composition check
    curated = curate(
        extract_transcripts(transcripts, salt_buckets=4), min_stopword_bp=0
    )
    rep = curation_report(curated).collect()[0]
    assert rep.rows_in == transcripts.count()
    assert 0 < rep.rows_kept <= rep.rows_in
    assert set(curated.columns) >= {
        "quality_ok", "exact_keep", "near_dup_drop", "kept",
    }


# A deterministic "star" near-dup corpus: C is a near-dup of BOTH A and B
# (C = A's text + B's text, word-5-gram Jaccard ≈ 0.47/0.48, found by the
# fixed blake2b hash family — verified by direct minhash_near_dups run at
# threshold 0.35, which returns exactly {(a,c),(b,c)}), while A vs B share
# only incidental stopword grams (J ≈ 0.03, no pair).  The vocabulary
# suffix "4" is part of the derivation: it was searched over suffixes until
# BOTH star edges fall into LSH candidate buckets under the fixed hash
# family (candidacy at J≈0.48 is ~40% per 8-band family; the family is
# deterministic, so this corpus is stable across runs and platforms).
_W1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambada mu "
       "nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split()
_W2 = ("apple banana cherry durian elderberry fig grape honeydew kiwi lemon "
       "mango nectarine orange papaya quince raspberry strawberry tangerine "
       "ugli vanilla walnut xigua yam zucchini").split()
STAR_A = " ".join(
    "the report and the schedule is ready for the rollout of it".split()
    + [f"{w}4" for w in _W1] * 2
)
STAR_B = " ".join(
    "it was noted that the plan is safe to run in the fleet".split()
    + [f"{w}4" for w in _W2] * 2
)
STAR_C = STAR_A + " " + STAR_B


@pytest.fixture()
def star(spark):
    return spark.createDataFrame(
        [("a", 0, STAR_A), ("b", 0, STAR_B), ("c", 0, STAR_C)],
        "conv_id string, turn_idx int, extracted_text string",
    )


def test_curate_policy_clusters_vs_pairwise(spark, star):
    """Where the two near-dup drop policies differ: pairs {(a,c),(b,c)}
    with a ≁ b.  policy='pairwise' drops only the higher-key pair sides
    ({c} — a and b both survive although they belong to one duplicate
    component), policy='clusters' keeps exactly ONE representative of the
    connected component ({a}).  Both reports keep the partition identity."""
    for policy, expect_kept in (("pairwise", {"a", "b"}), ("clusters", {"a"})):
        curated = curate(star, jaccard_threshold=0.35, policy=policy)
        kept = {r.conv_id for r in curated.filter(F.col("kept")).collect()}
        assert kept == expect_kept, policy
        rep = curation_report(curated).collect()[0]
        assert (
            rep.dropped_quality + rep.dropped_exact_dup + rep.dropped_near_dup
            + rep.rows_kept
            == rep.rows_in
            == 3
        ), policy


def test_curate_policy_validation(spark, star):
    with pytest.raises(ValueError, match="policy"):
        curate(star, policy="bogus")


def test_curate_cluster_opts_forwarding(spark, star, tmp_path):
    """cluster_opts reaches dup_clusters: a table-staged run (the
    cluster-grade mode) produces the same kept set as the default."""
    curated = curate(
        star,
        jaccard_threshold=0.35,
        policy="clusters",
        cluster_opts={"checkpoint_mode": "table",
                      "checkpoint_dir": str(tmp_path)},
    )
    kept = {r.conv_id for r in curated.filter(F.col("kept")).collect()}
    assert kept == {"a"}
    assert any(tmp_path.iterdir()), "table mode must stage rounds on disk"


def test_contamination_gate_precedes_dedup(spark):
    """The eval-leak gate must run BEFORE dedup: doc A (lower key) leaks a
    benchmark passage and is a near-dup of clean doc B.  Without the gate
    the keep-one policy keeps A — the contaminated doc — and drops B;
    with it, A drops as contaminated and B survives.  The report identity
    extends with dropped_contaminated and still partitions rows_in."""
    from cl_readability_spark.functions.decontam import benchmark_ngram_hashes

    tail_a = ("zebra quilt matrix oboe lantern cactus violet summit "
              "ember quartz nimbus drift osprey pearl")
    # same tail with the MIDDLE word changed: every 13-gram of either tail
    # contains position 7, so A and B share no 13-gram from the tails
    tail_b = tail_a.replace("summit", "harbor")
    rows = [
        ("a", 0, GOOD + " " + tail_a),
        ("b", 0, GOOD + " " + tail_b),
        ("e", 0, (
            "A completely different report covers the migration of the data "
            "platform, and it describes the rollout schedule in enough words "
            "to pass every quality gate without overlapping the other rows. "
        ) * 3),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string"
    )
    bench = spark.createDataFrame([(tail_a,)], ["text"])
    hashes = benchmark_ngram_hashes(bench)

    # without the gate: A (min key) is the kept representative, B drops
    base = {
        r.conv_id: r for r in curate(df, jaccard_threshold=0.6).collect()
    }
    assert base["a"].kept and base["b"].near_dup_drop and not base["b"].kept

    curated = curate(df, jaccard_threshold=0.6, benchmark_hashes=hashes)
    out = {r.conv_id: r for r in curated.collect()}
    assert out["a"].contaminated and not out["a"].kept
    assert not out["a"].exact_keep          # contaminated rows never keep
    assert not out["b"].contaminated and out["b"].kept
    assert out["e"].kept
    rep = curation_report(curated).collect()[0]
    assert rep.dropped_contaminated == 1
    assert (
        rep.dropped_quality + rep.dropped_contaminated + rep.dropped_exact_dup
        + rep.dropped_near_dup + rep.rows_kept
        == rep.rows_in
        == 3
    )


def test_release_curated_unpersists_the_pin(spark, planted):
    """curate() pins the flagged frame in executor storage; release_curated
    on the EXACT returned frame must unpersist it (pins do not survive
    further transformations — documented contract in functions/pins.py)."""
    from cl_readability_spark.functions.curation import release_curated

    before = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    # policy="pairwise" isolates the pin under test: the clusters policy
    # additionally runs dup_clusters, whose local-mode round checkpoints
    # appear in storage info until the ContextCleaner reclaims them
    # asynchronously (tiny (id, rep) frames — documented in dup_clusters)
    curated = curate(planted, jaccard_threshold=0.7, policy="pairwise")
    curated.count()
    during = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert during - before, "curate() should have pinned a frame"
    release_curated(curated)
    after = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert not (after - before), "release_curated must drop the pin"
    # a frame that never came from curate is a no-op
    assert release_curated(planted) == 0


def test_pin_registry_recovers_lost_handles(spark, planted, monkeypatch):
    """A pinned frame derived with .filter() loses the attribute handle;
    the session registry still knows the pin, so leaks are detectable
    (pins_outstanding) and recoverable (release_all_pins)."""
    from cl_readability_spark.functions import curation
    from cl_readability_spark.functions.pins import (
        pins_outstanding,
        release_all_pins,
        release_pinned,
    )

    release_all_pins(spark)  # clean slate
    # the toy corpus is below CARRY_THRESHOLD, so curate picks the
    # arrays minhash plan → one pin, the flagged frame
    curated = curate(planted, jaccard_threshold=0.7, policy="pairwise")
    assert pins_outstanding(spark) == 1
    derived = curated.filter(F.col("kept"))     # handle lost here
    assert release_pinned(derived) == 0         # the documented gotcha
    assert pins_outstanding(spark) == 1         # ...but the leak is visible
    before = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert release_all_pins(spark) == 1
    after = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert len(after) < len(before)
    assert pins_outstanding(spark) == 0
    # releasing through the exact handle also deregisters; the rehash
    # minhash plan (reached here by dropping the threshold) forwards its
    # candidate-pair and candidate-array pins to the same handle (3 total)
    monkeypatch.setattr(curation, "CARRY_THRESHOLD", 0)
    curated2 = curate(planted, jaccard_threshold=0.7, policy="pairwise")
    assert pins_outstanding(spark) == 3
    assert release_pinned(curated2) == 3
    assert pins_outstanding(spark) == 0


def test_line_dedup_composes_with_curate(spark):
    """The C4-style pipeline order: cross-document LINE dedup first
    (corpus-wide boilerplate lines vanish), then the doc-level curation
    chain over the deduped text.  Pins both the plumbing (line_dedup's
    output feeds curate via text_col/key_cols) and the division of
    labor: a doc whose every line was already seen dedupes to EMPTY at
    the line stage — i.e. line dedup subsumes exact doc-dedup — and the
    doc-level chain absorbs the husk as a quality drop, while docs that
    merely shared boilerplate lose only those lines and stay kept."""
    from cl_readability_spark.functions.dedup import line_dedup

    boiler = "subscribe to our newsletter for the latest updates and offers"
    body_b = (
        "A different and equally long body of text with stopwords in it, "
        "which also keeps going for long enough to pass the length gate "
        "of the curation pipeline, as designed for this row. "
    ) * 3
    rows = [
        (0, GOOD + "\n" + boiler),
        (1, body_b + "\n" + boiler),  # distinct body, shared boilerplate
        (2, GOOD + "\n" + boiler),    # every line already seen -> empties
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    deduped = line_dedup(df)
    texts = {r.doc_id: r.deduped_text for r in deduped.collect()}
    # doc 0 keeps the boilerplate (first occurrence); doc 1 keeps only
    # its body; doc 2 loses every line
    assert texts[0] == GOOD + "\n" + boiler
    assert texts[1] == body_b
    assert texts[2] == ""
    curated = curate(
        deduped,
        text_col="deduped_text",
        key_cols=("doc_id",),
        min_stopword_bp=0,
    )
    kept = {r.doc_id for r in curated.filter(F.col("kept")).collect()}
    flags = {r.doc_id: r for r in curated.collect()}
    assert kept == {0, 1}
    assert not flags[2].quality_ok  # the emptied husk is a quality drop
    from cl_readability_spark.functions.curation import release_curated

    release_curated(curated)


def test_curate_line_dedup_flag(spark):
    """curate(line_dedup=True) runs the same composition as the script-
    level pattern above but operator-level: text_col rewritten from the
    surviving lines, line_dedup_n_lines/_kept audit columns added, husks
    absorbed by the quality gate."""
    boiler = "subscribe to our newsletter for the latest updates and offers"
    rows = [
        (0, 0, GOOD + "\n" + boiler),
        (1, 0, GOOD + "\n" + boiler),  # every line already seen -> husk
        (2, 0, boiler),                 # boiler-only doc -> husk
    ]
    df = spark.createDataFrame(
        rows, "conv_id long, turn_idx int, extracted_text string"
    )
    curated = curate(
        df, min_stopword_bp=0, materialize="none", line_dedup=True,
    )
    flags = {r.conv_id: r for r in curated.collect()}
    assert flags[0].kept and flags[0].line_dedup_n_kept == 2
    assert not flags[1].quality_ok and flags[1].line_dedup_n_kept == 0
    assert not flags[2].quality_ok and flags[2].line_dedup_n_kept == 0
    # extracted_text was REWRITTEN from the surviving lines
    assert flags[1].extracted_text == ""
    assert flags[0].extracted_text == GOOD + "\n" + boiler


def test_gopher_flags_operator(spark):
    """gopher_flags as a standalone gate: threshold knobs steer the
    integer cross-multiplied rules, all corpus columns survive, and the
    default thresholds reproduce the oracle-checked gopher_quality twin
    semantics (both outcomes on a planted corpus)."""
    from cl_readability_spark.functions.curation import gopher_flags

    good = ("the quick brown fox and the lazy dog keep running with that "
            "same energy to be sure of it ") * 3  # stopword-rich, 51+ words
    rows = [
        (0, good),
        (1, "word " * 60),                       # no stopwords -> fail
        (2, good + " ##########" * 2),           # symbol-heavy tail
        (3, None),
        (4, "the of and to be that have with"),  # 8 words < min_words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_flags(df).collect()}
    assert out[0].gopher_ok
    assert not out[1].gopher_ok and out[1].n_stopwords == 0
    assert not out[2].gopher_ok and out[2].n_symbols == 20
    assert not out[3].gopher_ok and out[3].n_chars == 0
    assert not out[4].gopher_ok and out[4].n_words == 8
    # knobs: drop the word floor and doc 4 passes (it is pure stopwords)
    relaxed = {
        r.doc_id: r.gopher_ok
        for r in gopher_flags(df, min_words=1).collect()
    }
    assert relaxed[4]
    # all input columns survive the projection
    assert set(out[0].asDict()) >= {"doc_id", "text", "gopher_ok"}


def test_gopher_repetition_flags_matches_python_oracle(spark):
    """Differential oracle for the full Gopher Table-A1 repetition
    battery: every numerator/denominator recomputed in plain python
    (including the positional-union no-double-counting rule for the
    duplicated 5..10-grams) over a seeded corpus mixing clean text,
    repeated lines/paragraphs, hot 2-grams, repeated long spans, empty
    and NULL docs — all 13 metrics plus the flag must match exactly."""
    import random
    import re as _re

    from cl_readability_spark.functions.curation import (
        GOPHER_REPETITION_THRESHOLDS_BP,
        gopher_repetition_flags,
    )

    rng = random.Random(23)
    vocab = [f"tok{i}" for i in range(30)]
    rows = []
    for doc in range(40):
        kind = doc % 5
        if kind == 0:  # clean-ish random text, multi-paragraph
            paras = [
                " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25)))
                for _ in range(rng.randint(1, 4))
            ]
            text = "\n\n".join(paras)
        elif kind == 1:  # repeated lines
            line = " ".join(rng.choice(vocab) for _ in range(6))
            other = " ".join(rng.choice(vocab) for _ in range(8))
            text = "\n".join([line] * rng.randint(2, 5) + [other])
        elif kind == 2:  # hot 2-gram
            text = f"{rng.choice(vocab)} {rng.choice(vocab)} " * rng.randint(
                4, 20
            )
        elif kind == 3:  # repeated long span (dup 5..10-grams)
            span = " ".join(rng.choice(vocab) for _ in range(12))
            filler = " ".join(rng.choice(vocab) for _ in range(10))
            text = f"{span} {filler} {span}"
        else:  # short / degenerate
            text = rng.choice(["", " ", "one two three", "x"])
        rows.append((doc, text))
    rows += [(100, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def py_metrics(text):
        text = text or ""

        def units(sep):
            t = _re.sub(f"^(?:{sep})+|(?:{sep})+$", "", text)
            return [] if t == "" else _re.split(f"(?:{sep})+", t)

        m = {}
        for sep, p in ((r"\n", "lines"), (r"\n{2,}", "paras")):
            arr = units(sep)
            seen, dup_n, dup_c = set(), 0, 0
            for u in arr:
                if u in seen:
                    dup_n += 1
                    dup_c += len(u)
                else:
                    seen.add(u)
            m[f"n_{p}"] = len(arr)
            m[f"n_dup_{p}"] = dup_n
            m[f"{p}_chars"] = sum(len(u) for u in arr)
            m[f"dup_{p}_chars"] = dup_c
        words = _re.split(
            "[ \t\n\f\r]+", text.strip().lower()
        ) if text.strip() else []
        m["word_chars"] = sum(len(w) for w in words)
        for n in range(2, 5):
            counts = {}
            for i in range(len(words) - n + 1):
                g = " ".join(words[i : i + n])
                counts[g] = counts.get(g, 0) + 1
            best, best_key = 0, None
            for g, c in counts.items():
                if c > 1:
                    cov = c * (len(g) - (n - 1))
                    key = (c, cov, g)
                    if best_key is None or key > best_key:
                        best, best_key = cov, key
            m[f"top_{n}gram_chars"] = best
        for n in range(5, 11):
            counts = {}
            for i in range(len(words) - n + 1):
                g = " ".join(words[i : i + n])
                counts.setdefault(g, []).append(i)
            covered = set()
            for g, starts in counts.items():
                if len(starts) > 1:
                    for s in starts:
                        covered.update(range(s, s + n))
            m[f"dup_{n}gram_chars"] = sum(len(words[i]) for i in covered)
        thr = GOPHER_REPETITION_THRESHOLDS_BP
        exceed = (
            m["n_dup_lines"] * 10000 > m["n_lines"] * thr["dup_line_fraction"]
            or m["n_dup_paras"] * 10000
            > m["n_paras"] * thr["dup_para_fraction"]
            or m["dup_lines_chars"] * 10000
            > m["lines_chars"] * thr["dup_line_char_fraction"]
            or m["dup_paras_chars"] * 10000
            > m["paras_chars"] * thr["dup_para_char_fraction"]
        )
        for n in (2, 3, 4):
            exceed = exceed or (
                m[f"top_{n}gram_chars"] * 10000
                > m["word_chars"] * thr[f"top_{n}gram_char_fraction"]
            )
        for n in range(5, 11):
            exceed = exceed or (
                m[f"dup_{n}gram_chars"] * 10000
                > m["word_chars"] * thr[f"dup_{n}gram_char_fraction"]
            )
        m["repetition_ok"] = not exceed
        return m

    got = {r.doc_id: r.asDict() for r in gopher_repetition_flags(df).collect()}
    assert set(got) == {r[0] for r in rows}
    for doc_id, text in rows:
        exp = py_metrics(text)
        g = got[doc_id]
        for k, v in exp.items():
            assert g[k] == v, (doc_id, k, g[k], v, repr(text)[:80])


def test_gopher_repetition_flags_plan_has_no_lambda_hofs(spark):
    """The scale claim: the line/para stats are codegen expressions and
    the gram machinery is explode + lead-window + keyed aggs — no
    interpreted lambda HOFs anywhere in the plan, and every exchange
    keys on doc-bounded keys (never a bare gram)."""
    from cl_readability_spark.functions.curation import (
        gopher_repetition_flags,
    )

    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    plan = (
        gopher_repetition_flags(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "lambdafunction" not in plan.lower(), plan[:2000]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    import re as _re

    keys = _re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
    assert keys, "expected keyed exchanges for the gram aggregations"
    assert all("_id" in k for k in keys), keys


def test_curate_stage_pin_stacking_releases_all(spark):
    """Round-7 review regression: curate() attaches the stage pins ON
    TOP of the pins curate_near_dups already attached (materialize pin
    and/or minhash rehash pins) — attach_pins must MERGE, not overwrite,
    or release_curated(out) leaks the DISK_ONLY extract+flags pin for
    the session's lifetime."""
    from cl_readability_spark.functions.pins import (
        pins_outstanding,
        release_all_pins,
        release_pinned,
    )

    release_all_pins(spark)
    rows = [(i, 0, GOOD + f"\nunique tail {i}") for i in range(6)]
    df = spark.createDataFrame(
        rows, "conv_id long, turn_idx int, extracted_text string"
    )
    curated = curate(
        df, min_stopword_bp=0, materialize="disk",
        line_dedup=True, gopher_repetition=True,
    )
    assert curated.count() == 6
    # the gopher stage's input (the line stage's output) pin AND the
    # materialize pin are live
    assert pins_outstanding(spark) == 2
    assert release_pinned(curated) == 2
    assert pins_outstanding(spark) == 0


def _c4_py_oracle(text, min_words=3, min_sentences=5, badwords=()):
    """Independent python implementation of the written c4_filters
    semantics (Raffel et al. 2020 §2.2 as documented on the operator)."""
    import re as _re

    if text is None:
        return (None, 0, 0, 0, 0, 0, False, False, False, 0, False)
    lines = text.split("\n")
    kept, n_js, n_short, n_noterm = [], 0, 0, 0
    for ln in lines:
        if "javascript" in ln.lower():
            n_js += 1
            continue
        stripped = ln.strip(" \t\f\r")
        words = [w for w in _re.split(r"[ \t\f\r]+", stripped) if w]
        if len(words) < min_words:
            n_short += 1
            continue
        if stripped[-1] not in '.!?"”':
            n_noterm += 1
            continue
        kept.append(ln)
    cleaned = "\n".join(kept)
    lowered = text.lower()
    has_lorem = "lorem ipsum" in lowered
    has_curly = "{" in text
    has_bad = any(
        _re.search(r"(?:^|[^a-z0-9])" + _re.escape(w) + r"(?:[^a-z0-9]|$)",
                   lowered)
        for w in badwords
    )
    n_sent = len(_re.findall(r"[.!?]+", cleaned))
    keep = (not has_lorem and not has_curly and not has_bad
            and n_sent >= min_sentences)
    return (cleaned, len(lines), len(kept), n_js, n_short, n_noterm,
            has_lorem, has_curly, has_bad, n_sent, keep)


def _c4_cols(r):
    return (r.c4_text, r.n_lines, r.n_kept_lines, r.n_drop_javascript,
            r.n_drop_short_line, r.n_drop_no_terminal, r.has_lorem_ipsum,
            r.has_curly_brace, r.has_badword, r.n_sentences, r.c4_keep)


def test_c4_filters_matches_python_oracle(spark):
    """Randomized differential corpus incl. the hostile shapes the regex
    formulation must survive: CRLF, tabs, vertical tab (word-internal by
    the documented class), curly end quote, mixed-case javascript,
    empty/whitespace lines, trailing-newline variants, no-newline tails."""
    import random

    from cl_readability_spark.functions.curation import c4_filters

    rng = random.Random(1207)
    vocab = ["word", "the", "a.", "b!", "nope", "javascript", "JaVaScRiPt",
             "x", "tab\t", " ", "end?", "quote”", "{", "lorem", "ipsum",
             "\r", "v\x0bt.", 'dquote"']
    cases = [
        None, "", "\n", "\n\n", "Last line dropped no newline",
        "a\r\nCRLF line ends fine.\r\nnope\r\n",
        "line with\x0bvertical tab one word?\nThis one is kept now.",
        "Tab\tseparated words kept here.\n   \t  \nJAVASCRIPT LINE GONE.",
        "trailing spaces kept line.   \nmid\n\nEnd of page now done.",
    ]
    for _ in range(150):
        n = rng.randint(0, 8)
        lines = [" ".join(rng.choice(vocab)
                          for _ in range(rng.randint(0, 6)))
                 for _ in range(n)]
        cases.append("\n".join(lines) + ("\n" if rng.random() < 0.5 else ""))
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, text string"
    )
    got = {r.i: _c4_cols(r)
           for r in c4_filters(df, badwords=("nope", "lorem")).collect()}
    for i, c in enumerate(cases):
        exp = _c4_py_oracle(c, badwords=("nope", "lorem"))
        assert got[i] == exp, (i, c, got[i], exp)
        # attribution identity: drops partition the non-kept lines
        _, nl, nk, njs, nsh, nnt, *_rest = got[i]
        assert nl == nk + njs + nsh + nnt


def test_c4_filters_page_gates_and_params(spark):
    from cl_readability_spark.functions.curation import c4_filters

    base = "One good line stays here.\nAnother full sentence stays too!"
    rows = [
        (0, base),                              # clean, 2 sentences
        (1, base + "\nlorem IPSUM dolor."),     # lorem page flag
        (2, base + "\nhas a { brace."),         # curly page flag
        (3, base + "\nscunthorpe problem ok."), # badword INSIDE a word: no
        (4, base + "\nthorpe standing alone."), # badword with boundaries
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_filters(
        df, min_sentences=2, badwords=("thorpe",)).collect()}
    assert out[0].c4_keep and out[0].n_sentences == 2
    assert out[1].has_lorem_ipsum and not out[1].c4_keep
    assert out[2].has_curly_brace and not out[2].c4_keep
    assert not out[3].has_badword and out[3].c4_keep
    assert out[4].has_badword and not out[4].c4_keep
    # min_sentences gate uses the CLEANED text
    strict = {r.doc_id: r for r in c4_filters(
        df, min_sentences=3, badwords=("thorpe",)).collect()}
    assert not strict[0].c4_keep  # only 2 sentences survive cleaning


def test_c4_filters_min_words_per_line_variants(spark):
    from cl_readability_spark.functions.curation import c4_filters

    text = "one.\ntwo words.\nthree words here.\nfour words right here."
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    for k, exp_kept in [(0, 4), (1, 4), (2, 3), (3, 2), (4, 1), (5, 0)]:
        r = c4_filters(df, min_words_per_line=k).collect()[0]
        assert r.n_kept_lines == exp_kept, (k, r.n_kept_lines)
        assert r.n_lines == 4
        assert r.n_drop_short_line == 4 - exp_kept


def test_c4_filters_plan_is_single_codegen_projection(spark):
    """The battery must stay ONE whole-stage-codegen projection: no
    Exchange, no explode, no interpreted lambda HOF, no python stage
    (the PLANS.md HOF rule) — scan -> project at any scale."""
    from cl_readability_spark.functions.curation import c4_filters

    df = spark.createDataFrame(
        [(0, "Some line of text here.")], "doc_id long, text string"
    )
    plan = c4_filters(df, badwords=("bad",))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan            # no explode
    assert "lambdafunction" not in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the codegen'd single projection renders as "*(1) Project [...]"
    assert plan.lstrip().startswith("*(1) Project")


def test_source_mix_sample_semantics(spark):
    """Weight classes from the written contract: 0 drops the source;
    integral weights replicate exactly (epoch 0..w-1 per row);
    fractional weights keep/extend a hash-chosen subset whose observed
    rate is near the weight on 2000 rows; unknown sources get
    default_weight; expected total mass ~= sum of per-source weights."""
    from cl_readability_spark.functions.curation import source_mix_sample

    rows = [(i, f"s{i % 4}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_mix_sample(
        df,
        {"s0": 0.0, "s1": 2.0, "s2": 0.5},
        default_weight=2.25,  # s3
        seed=7,
    )
    got = out.groupBy("source", "epoch").count().collect()
    by = {(r.source, r.epoch): r["count"] for r in got}
    assert not any(s == "s0" for s, _ in by), "weight 0 must drop the source"
    assert by[("s1", 0)] == 500 and by[("s1", 1)] == 500
    assert ("s1", 2) not in by, "integral weight must not over-replicate"
    assert 200 <= by[("s2", 0)] <= 300, by  # 0.5 of 500, hash-exact subset
    assert ("s2", 1) not in by
    assert by[("s3", 0)] == 500 and by[("s3", 1)] == 500
    assert 75 <= by[("s3", 2)] <= 175, by  # frac 0.25 of 500
    w = {r.source: r.mix_weight for r in out.select("source", "mix_weight").distinct().collect()}
    assert w == {"s1": 2.0, "s2": 0.5, "s3": 2.25}

    # determinism: same seed -> byte-identical selection; different
    # seed -> a different subset of the fractional source
    a = sorted(r.doc_id for r in source_mix_sample(
        df, {"s2": 0.5}, default_weight=0.0, seed=7).collect())
    b = sorted(r.doc_id for r in source_mix_sample(
        df, {"s2": 0.5}, default_weight=0.0, seed=7).collect())
    c = sorted(r.doc_id for r in source_mix_sample(
        df, {"s2": 0.5}, default_weight=0.0, seed=8).collect())
    assert a == b and a != c

    import pytest as _pytest

    with _pytest.raises(ValueError, match="default_weight"):
        source_mix_sample(df, {}, default_weight=-0.1)
    with _pytest.raises(ValueError, match="weight for source"):
        source_mix_sample(df, {"s1": -1.0})


def test_source_mix_sample_plan_is_shuffle_free(spark):
    """The mixture sampler must stay a pure projection + Generate: no
    exchange, no python stage — upsampled mass is created row-local."""
    from cl_readability_spark.functions.curation import source_mix_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string"
    )
    plan = (
        source_mix_sample(df, {"a": 2.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:1500]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Generate" in plan, plan[:1500]


def test_curate_substring_dedup_stage(spark):
    """curate(substring_dedup_k=) runs ExactSubstr removal before the
    doc gates: text_col rewritten from surviving tokens (whitespace-
    normalized rebuild), substr_dedup audit columns added, a doc that is
    entirely a duplicated run becomes a husk absorbed by the QUALITY
    gate (every copy of a duplicated run goes — the paper-faithful
    keep='none'), and the rewrite is the operator's own output joined
    back on the row key."""
    from cl_readability_spark.functions.dedup import substring_dedup

    # two DIFFERENT non-repeating quality bodies (GOOD repeats one
    # sentence x3, which k=8 substring dedup would itself cut)
    good0 = (
        "the report covers what happened in the long meeting and it "
        "explains the reasons behind each decision with enough detail "
        "to be useful for anyone reading the notes again later today"
    )
    good1 = (
        "a second article walks through the deployment checklist and "
        "describes which steps were slow this quarter so that the team "
        "can plan the next rollout with far fewer surprises overall"
    )
    run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, 0, good0 + " " + run),
        (1, 0, good1 + " " + run),
        (2, 0, run),  # duplicated-run-only doc -> empty husk
    ]
    df = spark.createDataFrame(
        rows, "conv_id long, turn_idx int, extracted_text string"
    )
    curated = curate(
        df, min_stopword_bp=0, materialize="none", substring_dedup_k=8,
    )
    flags = {r.conv_id: r for r in curated.collect()}
    assert flags[0].kept and flags[0].extracted_text == good0
    assert flags[1].kept and flags[1].extracted_text == good1
    assert not flags[2].quality_ok and flags[2].extracted_text == ""
    n0 = len(good0.split()) + 8
    assert flags[0].substr_dedup_n_tokens == n0
    assert flags[0].substr_dedup_n_kept == n0 - 8
    assert flags[2].substr_dedup_n_kept == 0

    # the stage is exactly the operator's rewrite, row for row
    operator = substring_dedup(
        df.select(
            F.col("conv_id").alias("doc_id"), F.col("extracted_text").alias("text")
        ),
        k=8,
    )
    assert {
        r.doc_id: (r.dedup_text, r.n_tokens, r.n_kept_tokens)
        for r in operator.collect()
    } == {
        r.conv_id: (r.extracted_text, r.substr_dedup_n_tokens, r.substr_dedup_n_kept)
        for r in curated.collect()
    }


def test_quality_flag_matches_filter_hof_form(spark):
    """Round-8 codegen rewrite differential: the regexp_count token
    counters must be VALUE-IDENTICAL to the lambda-HOF form they
    replaced (size(filter(split(...), isin)) — the round-7 shipped
    semantics), across boundary shapes: adjacent stopwords, prefix
    shadowing ('a' vs 'and'), punctuation-fused tokens, leading/
    trailing/vertical-tab whitespace, empty and NULL text, and every
    language's marker words."""
    from cl_readability_spark.functions.curation import (
        LANG_MARKERS,
        STOPWORDS,
        quality_flag,
    )

    texts = [
        "the the a of to and in is on for with",       # all stopwords
        "a and of to a a",                              # prefix shadowing
        "the. a, of! xthe thex and",                    # punct-fused
        "  the   a \t of \x0b and  ",                   # messy whitespace
        "der die das und ist nicht le les et est",      # de vs fr markers
        "el los las que y una the and",                 # es + en mix
        "no marker words at all here frankly",
        "",
        "   ",
        None,
        ("The article is long enough, and the stopword ratio of this "
         "text is high, with the usual words in it for the gate. ") * 4,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )

    def hof_flag(text_col):
        # the round-7 form, verbatim
        n_chars = F.length(text_col)
        words = F.split(F.lower(F.trim(text_col)), r"\s+")
        n_words = F.size(words)
        n_stop = F.size(F.filter(words, lambda x: x.isin(STOPWORDS)))
        stop_bp = F.when(n_words > 0, n_stop * 10000 / n_words).otherwise(0)
        scores = {
            lang: F.size(F.filter(words, (lambda m: (lambda x: x.isin(m)))(m)))
            for lang, m in LANG_MARKERS.items()
        }
        best = None
        for lang in LANG_MARKERS:
            cond = None
            for other in LANG_MARKERS:
                if other == lang:
                    continue
                c = scores[lang] >= scores[other]
                cond = c if cond is None else (cond & c)
            best = F.when(cond, lang) if best is None else best.when(cond, lang)
        lang_pred = best.otherwise(list(LANG_MARKERS)[-1])
        return (
            (n_chars >= 10)
            & (n_chars <= 200_000)
            & (stop_bp >= 100)
            & lang_pred.isin("en", "de", "es")
        )

    new = quality_flag(
        F.col("text"), min_chars=10, max_chars=200_000,
        min_stopword_bp=100, langs=("en", "de", "es"),
    )
    rows = df.select(
        "i",
        F.coalesce(new, F.lit(False)).alias("new"),
        F.coalesce(hof_flag(F.col("text")), F.lit(False)).alias("old"),
    ).collect()
    assert rows, "empty differential"
    for r in rows:
        assert r.new == r.old, (r.i, texts[r.i], r.new, r.old)


def test_quality_flag_plan_has_no_lambda_hofs(spark):
    """Round-7 verdict task 1: curate()'s default quality gate must be a
    whole-stage-codegen projection — no interpreted lambda HOF, no
    python stage — and the same must hold for the full curate_flags
    stage-1 plan (projection + the one fingerprint window)."""
    from cl_readability_spark.functions.curation import (
        curate_flags,
        quality_flag,
    )

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today.")],
        "doc_id long, text string",
    )
    gate = df.select(quality_flag(F.col("text")).alias("q"))
    plan = gate._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan.lower(), plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.lstrip().startswith("*(1) Project"), plan[:500]

    flags = curate_flags(df, text_col="text", key_cols=("doc_id",))
    fplan = flags._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in fplan.lower(), fplan[:2000]
    assert "BatchEvalPython" not in fplan and "ArrowEvalPython" not in fplan


def test_curate_c4_and_gopher_repetition_stages(spark):
    """Round-8 composition: c4=True rewrites text from the surviving
    lines between the line stage and the substring stage (line-
    granularity passes before the whitespace-normalizing token pass)
    and ANDs c4_keep into quality; gopher_repetition=True ANDs
    repetition_ok the same way.  One doc per failure mode, audit
    columns closed-form."""
    rows = [
        (1, "the alpha1 beta1 gamma1 delta1 stop.\n"
            "and eps1 zeta1 eta1 of stop."),                      # kept
        (2, "the alpha2 { beta2 gamma2 stop.\n"
            "and eps2 zeta2 eta2 of stop."),                      # c4 page gate
        (3, "the e0 qa qb e1 qa qb e2 qa qb e3 qa qb e4 qa qb "
            "e5 qa qb e6 stop.\nand f0 f1 f2 of stop."),          # repetition
        (4, "the alpha4 beta4 gamma4 delta4 stop.\nshort x.\n"
            "and eps4 zeta4 eta4 of no terminal"),                # c4 line drops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in curate(
            df, text_col="text", key_cols=("doc_id",), policy="clusters",
            materialize="disk", min_chars=30,
            line_dedup=True, substring_dedup_k=8,
            c4=True, c4_opts={"min_sentences": 2, "badwords": ("badwordx",)},
            gopher_repetition=True, minhash_k=1,
        ).collect()
    }
    assert out[1].kept and out[1].c4_keep and out[1].repetition_ok
    assert not out[2].c4_keep and not out[2].quality_ok      # curly brace
    assert out[2].repetition_ok
    assert not out[3].repetition_ok and not out[3].quality_ok
    assert out[3].c4_keep
    # doc 4: 3 lines -> 1 kept (short + no-terminal), then the single
    # surviving line has 1 sentence < min_sentences=2 -> page gate
    assert out[4].c4_n_lines == 3 and out[4].c4_n_kept_lines == 1
    assert not out[4].c4_keep and not out[4].quality_ok
    # the line stage saw the ORIGINAL lines; substring audit counts the
    # post-c4 tokens (doc 3: 27 tokens, none duplicated)
    assert out[4].line_dedup_n_lines == 3
    assert out[3].substr_dedup_n_tokens == 27
    assert out[3].substr_dedup_n_kept == 27


def test_curate_stage_pins_follow_materialize(spark, planted):
    """Stage pins follow ``materialize``: under the default disk mode,
    composing >=2 branching rewrite stages pins each LATER branching
    stage's input (the mid-chain frames whose re-evaluation repeats
    upstream joins), never the first stage's caller-supplied input;
    under "local_checkpoint" every stage input is checkpointed and no
    pin is registered; values are identical either way (pins are
    value-neutral)."""
    from cl_readability_spark.functions.curation import release_curated
    from cl_readability_spark.functions.pins import pins_outstanding

    base = pins_outstanding(spark)
    kw = dict(
        jaccard_threshold=0.7, policy="pairwise", line_dedup=True,
        substring_dedup_k=8, gopher_repetition=True,
    )
    disk = curate(planted, **kw)
    disk_rows = sorted(
        (r.conv_id, r.turn_idx, r.kept) for r in disk.collect()
    )
    # materialize pin (flagged) + substring input + gopher input = 3;
    # the line stage's input (caller frame) must NOT be pinned
    assert pins_outstanding(spark) - base == 3
    release_curated(disk)
    assert pins_outstanding(spark) == base

    ckpt = curate(planted, materialize="local_checkpoint", **kw)
    ckpt_rows = sorted(
        (r.conv_id, r.turn_idx, r.kept) for r in ckpt.collect()
    )
    assert pins_outstanding(spark) == base
    assert ckpt_rows == disk_rows


def test_curate_url_stage(spark):
    """url_col= runs URL dedup first: the losing copy's url_keep=False
    ANDs into the quality gate (dropped_quality attribution, the
    c4_keep pattern); NULL-url rows are untouched; the report
    partition invariant holds with the extra gate."""
    rows = [
        ("c1", 0, GOOD, "http://A.com/x?utm_source=tw"),
        # same canonical URL, different (even better) text — still a
        # URL-level dup: ("c1", 0) < ("c2", 0) wins
        ("c2", 0, GOOD + " Extra words here.", "http://a.com/x/"),
        ("c3", 0, (
            "A completely different report covers the migration of the data "
            "platform, and it describes the rollout schedule in enough words "
            "to pass every quality gate without overlapping the other rows. "
        ) * 3, None),  # null URL: kept
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, url string"
    )
    out = {
        (r.conv_id, r.turn_idx): r
        for r in curate(df, url_col="url").collect()
    }
    assert out[("c1", 0)].url_keep and out[("c1", 0)].kept
    assert out[("c1", 0)].canon_url == "http://a.com/x"
    loser = out[("c2", 0)]
    assert not loser.url_keep and not loser.quality_ok and not loser.kept
    assert loser.canon_url == "http://a.com/x"
    assert out[("c3", 0)].url_keep and out[("c3", 0)].kept
    assert out[("c3", 0)].canon_url is None

    rep = curation_report(curate(df, url_col="url")).collect()[0]
    assert rep.rows_in == 3
    assert rep.dropped_quality == 1  # the URL loser, hierarchically
    assert rep.rows_kept == 2
    assert (
        rep.rows_in
        == rep.dropped_quality + rep.dropped_contaminated
        + rep.dropped_exact_dup + rep.dropped_near_dup + rep.rows_kept
    )


def test_curate_url_stage_line_winner_consistency(spark):
    """url_col= composed with line_dedup=True: both stages pick the
    lexicographic-minimum row key, so the URL winner keeps its lines
    and the loser husks — never the reverse."""
    rows = [
        ("c1", 0, GOOD, "http://a.com/x"),
        ("c2", 0, GOOD, "http://a.com/x?utm_source=tw"),  # identical text
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, url string"
    )
    out = {
        (r.conv_id, r.turn_idx): r
        for r in curate(df, url_col="url", line_dedup=True).collect()
    }
    winner, loser = out[("c1", 0)], out[("c2", 0)]
    assert winner.url_keep and winner.kept
    assert winner.line_dedup_n_kept == winner.line_dedup_n_lines
    assert not loser.url_keep and not loser.kept
    assert loser.line_dedup_n_kept == 0  # husked, not the winner


def test_curate_job_count_fence(spark, tmp_path):
    """A warm curate + curation_report over a planted corpus launches at
    most 14 Spark jobs.  The pair set of a corpus this size resolves on
    the driver from one bounded collect (dup_clusters), where the label-
    propagation rounds alone took 14 jobs of the 26 such a call ran
    before; the one-expression band column took the other driver gap."""
    import random
    import uuid

    from cl_readability_spark.functions.curation import release_curated

    rng = random.Random(15)
    vocab = [f"w{i}" for i in range(400)]
    markers = ("the", "and", "of", "to", "is", "with")
    base = [
        (f"doc-{i:04d}", 0, " ".join(
            rng.choice(markers) if rng.random() < 0.2 else rng.choice(vocab)
            for _ in range(rng.randint(80, 160))
        ))
        for i in range(300)
    ]
    exact = [(f"exact-{j:03d}", 0, rng.choice(base)[2].upper()) for j in range(20)]
    near = []
    for j in range(20):
        words = rng.choice(base)[2].split()
        words[rng.randrange(10, len(words) - 10)] = "zzplanted"
        near.append((f"near-{j:03d}", 0, " ".join(words)))
    src = str(tmp_path / "planted")
    spark.createDataFrame(
        base + exact + near, "conv_id string, turn_idx int, extracted_text string"
    ).coalesce(spark.sparkContext.defaultParallelism).write.parquet(src)

    def run():
        cur = curate(spark.read.parquet(src), min_stopword_bp=0)
        rep = curation_report(cur).collect()[0]
        release_curated(cur)
        return rep

    run()  # warm-up, not counted
    sc = spark.sparkContext
    group = f"curate-fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm curate + curation_report")
    try:
        rep = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep.rows_in == 340
    assert rep.dropped_exact_dup == 20 and rep.dropped_near_dup == 20
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 14, jobs


def test_curate_full_chain_job_count_fence(spark, tmp_path):
    """A warm curate + curation_report with all five optional stages on
    (url → line → c4 → substring → gopher repetition) launches at most
    as many Spark jobs as the if-chain composer it replaced: 41 or 42
    over ten warm calls in one session (7 and 3 of them), the spread
    being one more or one fewer query-stage job that AQE submits from
    its own threads."""
    import random
    import uuid

    from cl_readability_spark.functions.curation import release_curated

    rng = random.Random(16)
    vocab = [f"w{i}" for i in range(400)]
    markers = ("the", "and", "of", "to", "is", "with")

    def doc():
        return "\n".join(
            " ".join(
                rng.choice(markers) if rng.random() < 0.2 else rng.choice(vocab)
                for _ in range(rng.randint(10, 16))
            ) + "."
            for _ in range(6)
        )

    base = [(f"doc-{i:03d}", 0, doc(), f"http://site{i}.com/p") for i in range(100)]
    copies = [
        (f"exact-{j:02d}", 0, base[j][2], f"http://copy{j}.com/")
        for j in range(10)
    ]
    near = []
    for j in range(10):
        words = base[20 + j][2].split(" ")
        words[rng.randrange(5, len(words) - 5)] = "zzplanted"
        near.append((f"near-{j:02d}", 0, " ".join(words), None))
    urls = [
        (f"url-{j:02d}", 0, doc(), f"HTTP://site{40 + j}.com/p/?utm_source=x")
        for j in range(10)
    ]
    src = str(tmp_path / "planted")
    spark.createDataFrame(
        base + copies + near + urls,
        "conv_id string, turn_idx int, extracted_text string, url string",
    ).coalesce(spark.sparkContext.defaultParallelism).write.parquet(src)

    def run():
        cur = curate(
            spark.read.parquet(src), min_stopword_bp=0, url_col="url",
            line_dedup=True, c4=True, substring_dedup_k=50,
            gopher_repetition=True,
        )
        rep = curation_report(cur).collect()[0]
        release_curated(cur)
        return rep

    run()  # warm-up, not counted
    sc = spark.sparkContext
    group = f"curate-chain-fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm five-stage curate + curation_report")
    try:
        rep = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep.rows_in == 130
    assert rep.rows_kept < rep.rows_in
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 42, jobs


@pytest.mark.parametrize(
    "bad",
    [
        {"policy": "bogus"},
        {"materialize": "bogus"},
        {"substring_dedup_k": 1},
        {"jaccard_threshold": 1.5},
        {"minhash_k": 0},
        {"c4": True, "c4_opts": {"min_sentence": 2}},
        {"cluster_opts": {"checkpoint_dir_typo": "/x"}},
        {"text_col": "no_such_column"},
    ],
    ids=lambda bad: "-".join(bad),
)
def test_curate_rejects_bad_arguments_before_any_job(spark, planted, bad):
    """Every argument is checked before the first stage: under
    materialize="local_checkpoint" the line stage's pin is an eager
    checkpoint job, so a late check would raise only after it ran."""
    import uuid

    from pyspark.errors import AnalysisException

    kw = {"line_dedup": True, "materialize": "local_checkpoint", **bad}
    sc = spark.sparkContext
    group = f"curate-bad-args-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "curate with a bad argument")
    try:
        with pytest.raises((ValueError, TypeError, AnalysisException)):
            curate(planted, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
