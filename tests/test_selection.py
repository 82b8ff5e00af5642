"""DSIR importance resampling (functions/selection.py): python
differential oracle over unigrams+bigrams, target-affinity ranking,
hash determinism, and kwarg guards.  The DuckDB-parity check lives in
test_queries_oracle.py (LOCAL_TWINS['dsir_logw'])."""

import hashlib
import math
import re

from pyspark.sql import functions as F

import pytest

from cl_readability_spark.functions.selection import (
    dsir_logweights,
    dsir_sample,
)

pytestmark = pytest.mark.spark

_WS_RE = r"[ \t\n\f\r]"


def _py_words(t):
    t = re.sub(f"^{_WS_RE}+|{_WS_RE}+$", "", (t or "").lower())
    return [] if t == "" else re.split(f"{_WS_RE}+", t)


def _py_grams(t, ngrams):
    w = _py_words(t)
    out = []
    if 1 in ngrams:
        out += w
    if 2 in ngrams:
        out += [f"{a} {b}" for a, b in zip(w, w[1:])]
    return out


def _py_bucket(g, n_buckets):
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets


def _py_logweights(rows, target_rows, n_buckets, ngrams, alpha=1.0):
    tc, sc = {}, {}
    for _, t in target_rows:
        for g in _py_grams(t, ngrams):
            b = _py_bucket(g, n_buckets)
            tc[b] = tc.get(b, 0) + 1
    for _, t in rows:
        for g in _py_grams(t, ngrams):
            b = _py_bucket(g, n_buckets)
            sc[b] = sc.get(b, 0) + 1
    tt, st = sum(tc.values()), sum(sc.values())

    def lam(b):
        return math.log((tc.get(b, 0) + alpha) / (tt + alpha * n_buckets)) - math.log(
            (sc.get(b, 0) + alpha) / (st + alpha * n_buckets)
        )

    return {
        i: sum(lam(_py_bucket(g, n_buckets)) for g in _py_grams(t, ngrams))
        for i, t in rows
    }


def _corpus(seed=0):
    """Deterministic mixed corpus: sciencey docs, spammy docs, hostile
    whitespace (tabs/CR edges — the phantom-token trap), an empty doc."""
    rows = []
    for i in range(40):
        h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
        sci = f"science math research w{h % 7} analysis of data"
        spam = f"buy cheap now w{h % 5} click here buy"
        rows.append((i, sci if i % 2 == 0 else spam))
    rows += [
        (40, "\tscience math\r"),
        (41, "   "),
        (42, ""),
        (43, "science\n\nmath\tresearch"),
    ]
    return rows


@pytest.mark.parametrize("ngrams", [(1,), (1, 2), (2,)])
def test_dsir_logweights_matches_python_oracle(spark, ngrams):
    rows = _corpus()
    target_rows = [(100, "science math research analysis data study")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    got = {
        r.doc_id: r.dsir_logw
        for r in dsir_logweights(df, target, n_buckets=128, ngrams=ngrams).collect()
    }
    exp = _py_logweights(rows, target_rows, 128, ngrams)
    assert set(got) == set(exp)
    for i in exp:
        assert got[i] == pytest.approx(exp[i], abs=1e-9), i


def test_dsir_target_affinity_and_sampling(spark):
    """Science docs (target-like) must out-weigh spam docs of comparable
    length, and Gumbel-top-k must select mostly target-like docs."""
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + j, "science math research analysis of data study") for j in range(4)],
        "doc_id long, text string",
    )
    w = {
        r.doc_id: r.dsir_logw
        for r in dsir_logweights(df, target, n_buckets=256).collect()
    }
    sci = [w[i] for i in range(0, 40, 2)]
    spam = [w[i] for i in range(1, 40, 2)]
    assert min(sci) > max(spam)
    top = dsir_sample(df, target, k=10, n_buckets=256, seed=7)
    ids = [r.doc_id for r in top.collect()]
    assert len(ids) == 10
    # ids 40/43 are short science fragments; spam ids are odd < 40
    spam_picked = [i for i in ids if i < 40 and i % 2 == 1]
    assert len(spam_picked) <= 1, ids
    assert "dsir_key" in top.columns and "dsir_logw" in top.columns


def test_dsir_determinism_and_guards(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") % 2 == 0)
    a = sorted(
        (r.doc_id, r.dsir_logw)
        for r in dsir_logweights(df, target, n_buckets=64).collect()
    )
    b = sorted(
        (r.doc_id, r.dsir_logw)
        for r in dsir_logweights(
            df.repartition(13), target, n_buckets=64
        ).collect()
    )
    assert a == b  # partitioning-independent (pure hash, no RNG)
    s1 = [r.doc_id for r in dsir_sample(df, target, k=5, seed=3).collect()]
    s2 = [r.doc_id for r in dsir_sample(df, target, k=5, seed=3).collect()]
    s3 = [r.doc_id for r in dsir_sample(df, target, k=5, seed=4).collect()]
    assert s1 == s2
    assert s1 != s3  # a different seed redraws the Gumbel keys
    with pytest.raises(ValueError, match="alpha"):
        dsir_logweights(df, target, alpha=0.0)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_logweights(df, target, n_buckets=0)
    with pytest.raises(ValueError, match="ngrams"):
        dsir_logweights(df, target, ngrams=(3,))
    with pytest.raises(ValueError, match="k must be"):
        dsir_sample(df, target, k=0)


def test_dsir_empty_and_identical_distributions(spark):
    df = spark.createDataFrame(
        [(0, "same words here"), (1, "same words here"), (2, "")],
        "doc_id long, text string",
    )
    # target == source ⇒ λ_b = 0 exactly for every bucket ⇒ all logw 0
    out = {
        r.doc_id: r.dsir_logw for r in dsir_logweights(df, df, n_buckets=32).collect()
    }
    assert out == {0: pytest.approx(0.0), 1: pytest.approx(0.0), 2: 0.0}


def test_dsir_plan_shape(spark):
    """Plan golden: the fit corpora are scanned ONCE each (the first
    shipped shape re-referenced the count subplans for totals and a
    never-seen-bucket fallback — 6+ full scans), the λ table and count
    joins broadcast (no shuffled join anywhere except the row-key output
    join), and the only single-partition exchange is the B-row totals
    window (bounded by construction)."""
    import re as _re

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    target = docs.filter(F.col("doc_id") % 10 == 0)
    plan = (
        dsir_logweights(docs, target, n_buckets=10_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    file_scans = len(_re.findall(r"FileScan parquet \[", plan))
    mem_scans = len(_re.findall(r"InMemoryTableScan \[", plan))
    # r9 shape: the source fit and the weight pass both read the ONE
    # pinned per-(doc, bucket) count frame (2 InMemoryTableScans over the
    # same InMemoryRelation — the corpus gram pass runs once); the 4
    # FileScans are the target fit, the pinned frame's build subtree
    # (printed under each cache reference), and the output join's left
    # side.
    assert file_scans == 4, plan[:2000]
    assert mem_scans == 2, plan[:2000]
    assert plan.count("BroadcastNestedLoopJoin") == 0
    # the row-key output join is the ONLY shuffled join (under the r9
    # session default preferSortMergeJoin=false the planner may realize
    # it as ShuffledHashJoin instead of SortMergeJoin)
    assert (
        plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    )
    assert plan.count("Exchange SinglePartition") == 1  # B-row totals window
    # the bigram lambda must not index the words EXPRESSION per position:
    # element_at(tokenize(), i) re-runs the full tokenization per gram in
    # interpreted HOF eval — O(words²)/doc, 50+ min on the 1M corpus
    # (jstack: all cores in RegExpReplace.nullSafeEval).  zip_with over
    # two slices keeps re-evaluation constant per doc.
    # the r9 bind-once gram build unwraps its single-element array with
    # element_at(..., 1) — the quadratic trap is per-POSITION indexing
    # (element_at(words, i) for growing i), so assert every index is 1
    idxs = {m.group(1) for m in _re.finditer(r"element_at\([^,]*, (\d+)", plan)}
    assert idxs <= {"1"}, idxs
    assert "zip_with" in plan
