"""Real BPE trainer/encoder: incremental-vs-naive trainer differential
(identical merge sequences), hand-derivable merge order on a tiny
corpus, encode/decode round-trip, compression monotonicity,
partitioning invariance, and the zero-shuffle encode plan."""

import random

import pytest
from pyspark.sql import functions as F

from cl_readability_spark.functions.bpe import (
    EOW,
    _merge_loop,
    bpe_decode_tokens,
    bpe_encode,
    bpe_fit,
    word_counts,
)


def _merge_loop_naive(types: dict[tuple, int], n_merges: int) -> list[tuple]:
    """Reference trainer: full pair recount every round.  O(merges x
    types) — the differential oracle for the incremental trainer."""
    merges: list[tuple] = []
    syms = {w: list(w) for w in types}
    for _ in range(n_merges):
        pairs: dict[tuple, int] = {}
        for w, cnt in types.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        joined = best[0] + best[1]
        for w in types:
            s = syms[w]
            i, out = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == best[0] and s[i + 1] == best[1]:
                    out.append(joined)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_trainer_incremental_matches_naive_differential():
    """The optimized trainer must produce the IDENTICAL merge sequence
    as the recount-from-scratch oracle over randomized word tables —
    including the (count DESC, pair ASC) tie-break."""
    rng = random.Random("bpe-diff")
    for trial in range(8):
        types = {}
        for _ in range(40):
            w = "".join(
                rng.choice("abcdef") for _ in range(1 + rng.randrange(7))
            )
            key = tuple(list(w[:-1]) + [w[-1] + EOW])
            types[key] = types.get(key, 0) + 1 + rng.randrange(50)
        n = 1 + rng.randrange(60)
        assert _merge_loop(dict(types), n) == _merge_loop_naive(
            dict(types), n
        ), trial


def test_bpe_fit_hand_derived_merges(spark):
    """Tiny Sennrich-style corpus: 'low' x5, 'lowest' x2 — the first
    merges are derivable by hand.  (l,o) count 7 beats everything
    (ties broken lexicographically)."""
    corpus = _df(spark, ["low low low low low", "lowest lowest"])
    merges = bpe_fit(corpus, n_merges=4)
    assert merges[0] == ("l", "o")
    # after (l,o): 'lo w</w>' x5, 'lo w e s t</w>' x2 -> (lo,w) 5 wins
    # over (lo, w)=7? 'low' = lo w</w>: pair (lo, w</w>) x5; 'lowest' =
    # lo w e s t</w>: (lo, w) x2.  Max count 5 -> ('lo', 'w</w>')
    assert merges[1] == ("lo", "w" + EOW)


def test_bpe_encode_roundtrip_and_compression(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the lazy dog sleeps while the quick fox runs",
        "pack my box with five dozen liquor jugs",
    ] * 5
    corpus = _df(spark, texts)
    merges = bpe_fit(corpus, n_merges=60)
    out = bpe_encode(corpus, merges).collect()
    for r in out:
        toks = r["bpe_tokens"]
        # lossless round trip (modulo the implied whitespace collapse)
        assert bpe_decode_tokens(toks) == " ".join(r["text"].split())
    # more merges -> fewer tokens, down to one token per trained word
    n60 = sum(len(r["bpe_tokens"]) for r in out)
    few = bpe_encode(corpus, bpe_fit(corpus, n_merges=5)).collect()
    n5 = sum(len(r["bpe_tokens"]) for r in few)
    assert n60 < n5
    chars = sum(len(w) for r in out for w in r["text"].split())
    assert n60 <= chars


def test_bpe_unseen_chars_and_nulls(spark):
    corpus = _df(spark, ["aaa bbb aaa"])
    merges = bpe_fit(corpus, n_merges=10)
    probe = _df(spark, ["aaa zzz", None, "", "  \t "])
    rows = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(probe, merges).collect()}
    assert rows[0][0] == "aaa" + EOW  # trained word -> single token
    assert all("z" in t for t in rows[0][1:])  # unseen chars survive raw
    assert rows[1] is None
    assert rows[2] == [] and rows[3] == []


def test_bpe_fit_partitioning_invariant_and_guards(spark):
    texts = [f"alpha beta gamma delta{i % 7} epsilon" for i in range(50)]
    a = bpe_fit(_df(spark, texts), n_merges=30)
    b = bpe_fit(_df(spark, texts).repartition(13), n_merges=30)
    assert a == b
    with pytest.raises(ValueError, match="n_merges"):
        bpe_fit(_df(spark, texts), n_merges=0)
    with pytest.raises(ValueError, match="max_types"):
        bpe_fit(_df(spark, texts), max_types=0)
    with pytest.raises(ValueError, match="no words"):
        bpe_fit(_df(spark, ["   ", None]), n_merges=5)


def test_word_counts_plan_and_cap(spark):
    """The ONLY corpus pass: map-side-combinable agg + TakeOrdered —
    no global sort; the cap keeps the driver collect bounded."""
    df = _df(spark, ["a b c a b a"] * 4)
    wc = word_counts(df, max_types=2)
    rows = wc.collect()
    assert [r["word"] for r in rows] == ["a", "b"]
    plan = wc._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "partial_count" in plan, plan[:1500]


def test_bpe_encode_plan_shuffle_free(spark):
    df = _df(spark, ["a b", "c d"])
    merges = [("a", "b")]
    plan = (
        bpe_encode(df, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:1500]


def test_bpe_tokens_drive_the_packer(spark):
    """The tokenizer slots into the training-shard path: pack on REAL
    subword counts (size(bpe_tokens)) instead of the regex estimate —
    no oversize packs, token mass conserved."""
    from cl_readability_spark.functions.packing import pack_sequences

    texts = [f"some shared words plus unique{i} token materials" for i in range(30)]
    corpus = _df(spark, texts)
    merges = bpe_fit(corpus, n_merges=40)
    counted = bpe_encode(corpus, merges).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size("bpe_tokens").alias("n_tokens"),
    )
    total = counted.agg(F.sum("n_tokens")).collect()[0][0]
    packs = pack_sequences(counted, max_tokens=64, num_partitions=4)
    agg = packs.groupBy("pack_id").agg(F.sum("n_tokens").alias("t")).collect()
    assert sum(r["t"] for r in agg) == total
    assert all(r["t"] <= 64 for r in agg)
