"""SFT example assembly (functions/sft.py) and cross-split leakage
audit (functions/decontam.py:split_leakage): authored edge-case
goldens, a randomized python differential for the suffix-budget
selection, plan-shape pins, and planted leakage semantics.  The
DuckDB twins (sft_planted / split_leak_planted) are rehearsed in
test_queries_oracle.py."""

import random

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from cl_readability_spark.functions.decontam import split_leakage
from cl_readability_spark.functions.sft import (
    _OUT_SCHEMA,
    default_turn_tokens,
    sft_examples,
)

pytestmark = pytest.mark.spark


TURNS_SCHEMA = "conv_id string, turn_idx int, role string, text string"


def _rows(out):
    return sorted(
        (r.asDict() for r in out.collect()),
        key=lambda d: (d["conv_id"], d["target_idx"]),
    )


def test_budget_suffix_and_truncation(spark):
    # conv A: u(3 tok) a(2) u(4) a(1); budget 5 keeps turn-0 context for
    # target 1 (3 <= 5) and truncates target 3 to the turn-2 suffix
    # (3+2+4=9 > 5; suffix [2] = 4 <= 5; suffix [1,2] = 6 > 5)
    df = spark.createDataFrame(
        [
            ("A", 0, "user", "one two three"),
            ("A", 1, "assistant", "aa bb"),
            ("A", 2, "user", "c d e f"),
            ("A", 3, "assistant", "z"),
        ],
        TURNS_SCHEMA,
    )
    got = _rows(sft_examples(df, max_context_tokens=5))
    assert got == [
        {
            "conv_id": "A",
            "target_idx": 1,
            "context_start_idx": 0,
            "n_context_turns": 1,
            "context_tokens": 3,
            "target_tokens": 2,
            "truncated": False,
            "context_text": "user: one two three",
            "target_text": "aa bb",
        },
        {
            "conv_id": "A",
            "target_idx": 3,
            "context_start_idx": 2,
            "n_context_turns": 1,
            "context_tokens": 4,
            "target_tokens": 1,
            "truncated": True,
            "context_text": "user: c d e f",
            "target_text": "z",
        },
    ]


def test_zero_token_turns_and_min_context(spark):
    # whitespace-only turn counts 0 tokens and rides along at the
    # suffix boundary; a target with NO prior turns is dropped by the
    # default min_context_turns=1 but kept (context_start_idx=-1,
    # empty context) with min_context_turns=0
    df = spark.createDataFrame(
        [
            ("B", 0, "assistant", "hello"),
            ("B", 1, "user", "  \t "),
            ("B", 2, "assistant", "resp"),
        ],
        TURNS_SCHEMA,
    )
    got = _rows(sft_examples(df, max_context_tokens=5))
    assert [g["target_idx"] for g in got] == [2]
    assert got[0]["n_context_turns"] == 2
    assert got[0]["context_tokens"] == 1  # ws-only turn = 0 tokens
    assert got[0]["context_text"] == "assistant: hello\nuser:   \t "

    got0 = _rows(sft_examples(df, max_context_tokens=5, min_context_turns=0))
    assert [g["target_idx"] for g in got0] == [0, 2]
    first = got0[0]
    assert first["n_context_turns"] == 0
    assert first["context_start_idx"] == -1
    assert first["context_text"] == ""
    assert first["truncated"] is False


def test_budget_zero_and_oversized_first_turn(spark):
    # budget 0: every context turn is excluded -> all targets dropped
    # under min_context_turns=1; a first turn alone over budget makes
    # the idx-1 target context-free (dropped), not partially included
    df = spark.createDataFrame(
        [
            ("C", 0, "user", "w1 w2 w3 w4 w5 w6"),
            ("C", 1, "assistant", "ok"),
        ],
        TURNS_SCHEMA,
    )
    assert _rows(sft_examples(df, max_context_tokens=0)) == []
    assert _rows(sft_examples(df, max_context_tokens=5)) == []
    got = _rows(sft_examples(df, max_context_tokens=6))
    assert got[0]["n_context_turns"] == 1 and got[0]["truncated"] is False


def test_token_col_overrides_default(spark):
    # caller-supplied token counts drive the budget (the BPE
    # composition path); text word counts are ignored
    df = spark.createDataFrame(
        [
            ("D", 0, "user", "a b c d e", 1),
            ("D", 1, "user", "x", 100),
            ("D", 2, "assistant", "y", 1),
        ],
        TURNS_SCHEMA + ", n_tok int",
    )
    got = _rows(
        sft_examples(df, max_context_tokens=50, token_col="n_tok")
    )
    # turn 1 (100 tok) busts the budget; only turn 0 would fit but the
    # suffix must be contiguous-from-the-end, so context = [] -> dropped
    assert got == []
    got = _rows(
        sft_examples(df, max_context_tokens=101, token_col="n_tok")
    )
    assert got[0]["n_context_turns"] == 2
    assert got[0]["context_tokens"] == 101


def test_kwarg_guards(spark):
    df = spark.createDataFrame([("E", 0, "user", "x")], TURNS_SCHEMA)
    with pytest.raises(ValueError):
        sft_examples(df, max_context_tokens=-1)
    with pytest.raises(ValueError):
        sft_examples(df, min_context_turns=-1)
    with pytest.raises(ValueError):
        sft_examples(df, token_col="nope")


def _python_mirror(turns, budget, min_ctx, tgt_role):
    """Independent per-conv reference: explicit O(n^2) scan instead of
    cumsum+searchsorted."""
    out = []
    by_conv = {}
    for t in turns:
        by_conv.setdefault(t[0], []).append(t)
    for conv, ts in by_conv.items():
        ts = sorted(ts, key=lambda t: t[1])
        toks = [len(t[3].split()) if t[3] else 0 for t in ts]
        for p, t in enumerate(ts):
            if t[2] != tgt_role:
                continue
            start = p
            total = 0
            while start > 0 and total + toks[start - 1] <= budget:
                total += toks[start - 1]
                start -= 1
            n_ctx = p - start
            if n_ctx < min_ctx:
                continue
            ctx = "\n".join(
                f"{ts[j][2]}: {ts[j][3]}" for j in range(start, p)
            )
            out.append(
                (
                    conv,
                    ts[p][1],
                    ts[start][1] if n_ctx else -1,
                    n_ctx,
                    total,
                    toks[p],
                    start > 0,
                    ctx,
                    ts[p][3],
                )
            )
    return sorted(out)


def test_randomized_python_differential(spark):
    rng = random.Random(20260818)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    turns = []
    for c in range(40):
        n = rng.randint(1, 12)
        for i in range(n):
            role = rng.choice(["user", "assistant", "tool"])
            text = " ".join(
                rng.choice(words) for _ in range(rng.randint(0, 9))
            )
            turns.append((f"c{c}", i, role, text))
    df = spark.createDataFrame(turns, TURNS_SCHEMA)
    for budget, min_ctx in ((7, 1), (0, 0), (3, 2), (100, 1)):
        got = [
            tuple(d[k] for k in (
                "conv_id", "target_idx", "context_start_idx",
                "n_context_turns", "context_tokens", "target_tokens",
                "truncated", "context_text", "target_text",
            ))
            for d in _rows(
                sft_examples(
                    df,
                    max_context_tokens=budget,
                    min_context_turns=min_ctx,
                )
            )
        ]
        assert got == _python_mirror(turns, budget, min_ctx, "assistant"), (
            budget,
            min_ctx,
        )


def test_plan_shape_one_exchange_one_arrow_stage(spark):
    # the 100 TB shape: token projection codegen'd below ONE conv-keyed
    # exchange feeding ONE Arrow stage — no joins, no windows, no
    # interpreted lambda HOFs
    df = spark.createDataFrame(
        [("A", 0, "user", "x y"), ("A", 1, "assistant", "z")],
        TURNS_SCHEMA,
    )
    for kwargs in ({}, {"num_partitions": 3}):
        plan = (
            sft_examples(df, **kwargs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the explicit repartition SATISFIES the required distribution —
        # pinning the width must not add a second exchange
        assert plan.count("MapInPandas") == 1, kwargs
        assert plan.count("Exchange") == 1, kwargs
        for bad in ("Join", "Window", "ArrayFilter", "ArrayTransform"):
            assert bad not in plan, (bad, kwargs)
    # the pinned width actually spreads the Arrow stage (AQE coalesced
    # an unpinned small corpus to ONE python task — measured)
    out = sft_examples(df, num_partitions=3)
    assert out.rdd.getNumPartitions() == 3
    with pytest.raises(ValueError):
        sft_examples(df, num_partitions=0)


# --- split_leakage ---


CORPUS_SCHEMA = "doc_id long, split string, text string"


def test_split_leakage_exact_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "train", "the quick brown fox jumps"),
            (2, "test", "The quick brown fox jumps!"),  # normalized dup
            (3, "train", "completely unique text one"),
            (4, "val", "another unique eval text"),
            (5, "val", "shared eval passage here"),
            (6, "test", "shared eval passage here"),  # val-test: no flag
            (7, "train", "shared eval passage here"),  # both splits
            (8, "train", "dup inside train only"),
            (9, "train", "dup inside train only"),  # train-train: no flag
        ],
        CORPUS_SCHEMA,
    )
    got = sorted(
        (r.asDict() for r in split_leakage(df).collect()),
        key=lambda d: d["id"],
    )
    assert [d["id"] for d in got] == [1, 7]
    assert got[0]["leaks_into"] == "test"
    assert got[1]["leaks_into"] == "test,val"
    assert got[1]["n_protected_matches"] == 2
    # normalize=False: formatting edit no longer matches
    strict = split_leakage(df, normalize=False).collect()
    assert sorted(r.id for r in strict) == [7]


def test_split_leakage_near_planted(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    df = spark.createDataFrame(
        [
            (1, "train", base),
            (2, "test", base + " extra"),
            (
                3,
                "train",
                "totally different words entirely unrelated content "
                "for sure nothing shared with anything else at all ok",
            ),
        ],
        CORPUS_SCHEMA,
    )
    got = split_leakage(df, mode="near", jaccard_threshold=0.5).collect()
    assert len(got) == 1
    row = got[0].asDict()
    assert row["id"] == 1 and row["leaks_into"] == "test"
    assert row["max_jaccard"] >= 0.5


def test_split_leakage_guards(spark):
    df = spark.createDataFrame([(1, "train", "x")], CORPUS_SCHEMA)
    with pytest.raises(ValueError):
        split_leakage(df, mode="fuzzy")
    with pytest.raises(ValueError):
        split_leakage(df, protect=())
    # clean corpus -> empty audit
    assert split_leakage(df).count() == 0


# --- sft_dataset (composed path) ---


def test_sft_dataset_gate_dedup_split(spark):
    from cl_readability_spark.functions.sft import sft_dataset

    rows = []
    # two byte-identical conversations -> examples collapse to ONE
    for conv in ("a1", "a2"):
        rows += [
            (conv, 0, "user", "hello there friend"),
            (conv, 1, "assistant", "hi back"),
        ]
    # protocol violation (assistant twice in a row) -> gated out
    rows += [
        ("bad", 0, "user", "x"),
        ("bad", 1, "assistant", "y"),
        ("bad", 2, "assistant", "z"),
    ]
    df = spark.createDataFrame(rows, TURNS_SCHEMA)
    out = sft_dataset(
        df,
        max_context_tokens=10,
        ts_col=None,
        conv_gate_opts={"min_turns": 2},
    ).collect()
    assert len(out) == 1
    row = out[0].asDict()
    assert row["conv_id"] == "a1"  # min(conv_id, target_idx) winner
    assert row["split"] in ("train", "val", "test")
    assert len(row["fingerprint"]) == 32

    # conv_gate=False keeps the bad conversation's examples
    ungated = sft_dataset(
        df, max_context_tokens=10, conv_gate=False, ts_col=None
    )
    assert ungated.filter(F.col("conv_id") == "bad").count() > 0

    # dedup=False keeps both clones; split_seed=None omits the column
    both = sft_dataset(
        df,
        max_context_tokens=10,
        ts_col=None,
        conv_gate_opts={"min_turns": 2},
        dedup=False,
        split_seed=None,
    )
    assert both.count() == 2
    assert "split" not in both.columns


def test_sft_dataset_split_is_conversation_level_and_stable(spark):
    from cl_readability_spark.functions.sft import sft_dataset

    rows = []
    for c in range(30):
        rows += [
            (f"c{c}", 0, "user", f"question number {c} words here"),
            (f"c{c}", 1, "assistant", f"answer number {c}"),
            (f"c{c}", 2, "user", f"followup {c}"),
            (f"c{c}", 3, "assistant", f"final {c}"),
        ]
    df = spark.createDataFrame(rows, TURNS_SCHEMA)

    def splits(n_parts):
        out = sft_dataset(
            df.repartition(n_parts),
            max_context_tokens=100,
            ts_col=None,
            conv_gate=False,
        )
        return {
            (r["conv_id"], r["target_idx"]): r["split"]
            for r in out.collect()
        }

    a, b = splits(2), splits(7)
    assert a == b  # partitioning-independent
    per_conv = {}
    for (conv, _idx), s in a.items():
        per_conv.setdefault(conv, set()).add(s)
    # every example of a conversation lands in the SAME split
    assert all(len(v) == 1 for v in per_conv.values())
    assert len({s for v in per_conv.values() for s in v}) > 1


def test_sft_with_bpe_subword_counts(spark):
    """The real-subword budget path: bpe_encode's token counts drive
    the context suffix (token_col), so the budget is measured in the
    trainer's actual tokens, not whitespace words.  The selection is
    re-derived from the COLLECTED per-turn subword counts with the
    python mirror logic."""
    from cl_readability_spark.functions.bpe import bpe_encode, bpe_fit
    from cl_readability_spark.functions.sft import sft_examples

    rows = []
    for c in range(8):
        for i in range(6):
            role = "assistant" if i % 2 else "user"
            rows.append(
                (f"c{c}", i, role,
                 f"shared words material unique{c}x{i} extra tail here")
            )
    df = spark.createDataFrame(rows, TURNS_SCHEMA)
    merges = bpe_fit(df, n_merges=25)
    enc = bpe_encode(df, merges).withColumn(
        "n_tok", F.size("bpe_tokens").cast("long")
    )
    budget = 30
    got = {
        (d["conv_id"], d["target_idx"]): (
            d["n_context_turns"], d["context_tokens"], d["truncated"]
        )
        for d in _rows(
            sft_examples(enc, max_context_tokens=budget, token_col="n_tok")
        )
    }
    # independent expectation from the collected subword counts
    counts = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["n_tok"])
        for r in enc.select("conv_id", "turn_idx", "role", "n_tok").collect()
    }
    expect = {}
    for c in range(8):
        toks = [counts[(f"c{c}", i)][1] for i in range(6)]
        for p in range(6):
            if counts[(f"c{c}", p)][0] != "assistant":
                continue
            start, total = p, 0
            while start > 0 and total + toks[start - 1] <= budget:
                total += toks[start - 1]
                start -= 1
            if p - start >= 1:
                expect[(f"c{c}", p)] = (p - start, total, start > 0)
    assert got == expect
    # and the budget actually bites somewhere (signal both ways)
    assert any(v[2] for v in got.values())
    assert any(not v[2] for v in got.values())


def test_batched_equals_grouped_and_cross_batch_carry(spark):
    """``sft_examples`` (conv-sorted batches through one mapInPandas)
    is value-identical to the per-conversation applyInPandas reference
    ``_assemble`` — including when a conversation straddles Arrow
    batches (forced with a 5-row batch size against 40-turn
    conversations, so every conversation spans several batches and the
    carry path runs on every one)."""
    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "delta"]
    turns = []
    for c in range(12):
        for i in range(40):
            turns.append(
                (
                    f"c{c}",
                    i,
                    rng.choice(["user", "assistant", "tool"]),
                    " ".join(
                        rng.choice(words)
                        for _ in range(rng.randint(0, 6))
                    ),
                )
            )
    df = spark.createDataFrame(turns, TURNS_SCHEMA)

    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        """Reference assembly of ONE conversation (9-token budget,
        default target role, separators and min_context_turns).  A
        closure: python workers cannot import this test module."""
        pdf = pdf.sort_values("_idx", kind="mergesort")
        toks = pdf["_tok"].to_numpy(dtype=np.int64)
        idxs = pdf["_idx"].to_numpy(dtype=np.int64)
        roles = pdf["_role"].to_numpy(dtype=object)
        cum0 = np.zeros(len(pdf) + 1, dtype=np.int64)
        np.cumsum(toks, out=cum0[1:])
        targets = np.flatnonzero(roles == "assistant")
        starts = np.minimum(
            np.searchsorted(cum0, cum0[targets] - 9, side="left"), targets
        )
        n_ctx = targets - starts
        keep = n_ctx >= 1
        targets, starts, n_ctx = targets[keep], starts[keep], n_ctx[keep]
        lines = (pdf["_role"] + ": " + pdf["_text"]).to_numpy(dtype=object)
        texts = pdf["_text"].to_numpy(dtype=object)
        return pd.DataFrame(
            {
                "conv_id": [pdf["_conv"].iloc[0]] * targets.size,
                "target_idx": idxs[targets],
                "context_start_idx": idxs[starts],
                "n_context_turns": n_ctx,
                "context_tokens": cum0[targets] - cum0[starts],
                "target_tokens": toks[targets],
                "truncated": starts > 0,
                "context_text": [
                    "\n".join(lines[s:p]) for s, p in zip(starts, targets)
                ],
                "target_text": texts[targets],
            }
        )

    slim = df.select(
        F.col("conv_id").alias("_conv"),
        F.col("turn_idx").cast("long").alias("_idx"),
        F.col("role").alias("_role"),
        F.col("text").alias("_text"),
        default_turn_tokens(F.col("text")).alias("_tok"),
    )
    reference = slim.groupBy("_conv").applyInPandas(_assemble, _OUT_SCHEMA)
    baseline = sorted(tuple(r) for r in reference.collect())
    assert baseline

    def rows():
        out = sft_examples(df, max_context_tokens=9, num_partitions=3)
        return sorted(tuple(r) for r in out.collect())

    assert rows() == baseline
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        assert rows() == baseline
    finally:
        spark.conf.set(key, old)


def test_sft_dataset_to_shards_composition(spark):
    """The full last mile composes: sft_dataset output feeds
    epoch_shuffle (composite example key) and pack_sequences (budget =
    context+target tokens) — deterministic shards, every example packed
    exactly once, token mass conserved."""
    from cl_readability_spark.functions.assembly import epoch_shuffle
    from cl_readability_spark.functions.packing import pack_sequences
    from cl_readability_spark.functions.sft import sft_dataset

    rows = []
    for c in range(12):
        for i in range(6):
            rows.append(
                (f"c{c}", i, "assistant" if i % 2 else "user",
                 f"words for conversation {c} turn {i} padding here")
            )
    df = spark.createDataFrame(rows, TURNS_SCHEMA)
    ds = sft_dataset(
        df, max_context_tokens=30, ts_col=None, conv_gate=False
    )
    n_examples = ds.count()
    assert n_examples > 0

    shuf = epoch_shuffle(
        ds, seed=3, id_cols=("conv_id", "target_idx"), n_shards=4
    )
    a = sorted(
        (r.conv_id, r.target_idx, r.shard) for r in shuf.collect()
    )
    b = sorted(
        (r.conv_id, r.target_idx, r.shard)
        for r in epoch_shuffle(
            ds.repartition(7),
            seed=3,
            id_cols=("conv_id", "target_idx"),
            n_shards=4,
        ).collect()
    )
    assert a == b  # shard membership is partitioning-independent

    toks = ds.select(
        F.concat_ws("\x1f", "conv_id", F.col("target_idx").cast("string"))
        .alias("doc_id"),
        (F.col("context_tokens") + F.col("target_tokens")).alias("n_tokens"),
    )
    total = toks.agg(F.sum("n_tokens")).collect()[0][0]
    packed = pack_sequences(toks, max_tokens=64, num_partitions=4).collect()
    assert len(packed) == n_examples
    assert sum(r.n_tokens for r in packed) == total
    assert not any(r.oversize for r in packed)


def test_sft_dataset_non_default_conv_col_gate(spark):
    """ADVICE r8: conversation_flags always names its key 'conv_id', so a
    non-default conv_col with conv_gate=True used to raise
    UNRESOLVED_COLUMN; the gate must re-alias and produce the same rows as
    the default-named run."""
    from cl_readability_spark.functions.sft import sft_dataset

    rows = [
        ("a", 0, "user", "hello there friend"),
        ("a", 1, "assistant", "hi back"),
        ("bad", 0, "user", "x"),
        ("bad", 1, "assistant", "y"),
        ("bad", 2, "assistant", "z"),  # protocol violation -> gated out
    ]
    df = spark.createDataFrame(rows, TURNS_SCHEMA)
    renamed = df.withColumnRenamed("conv_id", "cid")
    out = sft_dataset(
        renamed,
        conv_col="cid",
        max_context_tokens=10,
        ts_col=None,
        conv_gate_opts={"min_turns": 2},
    ).collect()
    base = sft_dataset(
        df,
        max_context_tokens=10,
        ts_col=None,
        conv_gate_opts={"min_turns": 2},
    ).collect()
    assert sorted(tuple(r) for r in out) == sorted(tuple(r) for r in base)
    assert {r["conv_id"] for r in out} == {"a"}


def test_sft_examples_null_token_col_counts_zero(spark):
    """ADVICE r8: a NULL in a caller-supplied token_col used to reach the
    Arrow stage as NaN and crash the int64 cast; it now coalesces to 0
    (mirroring the default tokenizer's NULL-text -> 0)."""
    rows = [
        ("c", 0, "user", "one two", 2),
        ("c", 1, "assistant", "three", None),
        ("c", 2, "user", "four five six", 3),
        ("c", 3, "assistant", "seven", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, n_tok int",
    )
    out = _rows(sft_examples(df, max_context_tokens=4, token_col="n_tok"))
    # identical to an explicit 0 in place of the NULL
    df0 = spark.createDataFrame(
        [(c, i, r, t, 0 if n is None else n) for c, i, r, t, n in rows],
        "conv_id string, turn_idx int, role string, text string, n_tok int",
    )
    assert out == _rows(
        sft_examples(df0, max_context_tokens=4, token_col="n_tok")
    )
    # the NULL-token target itself emits (0-token target fits any budget)
    assert any(d["target_idx"] == 1 and d["target_tokens"] == 0 for d in out)


def test_sft_dataset_split_hex_guards(spark):
    """ADVICE r8: overlapping or non-lowercase-hex split buckets are now
    rejected before any plan is built."""
    from cl_readability_spark.functions.sft import sft_dataset

    df = spark.createDataFrame(
        [("a", 0, "user", "x"), ("a", 1, "assistant", "y")], TURNS_SCHEMA
    )
    with pytest.raises(ValueError, match="overlap"):
        sft_dataset(df, val_hexes=("c",), test_hexes=("c", "f"),
                    conv_gate=False, ts_col=None)
    with pytest.raises(ValueError, match="lowercase hex"):
        sft_dataset(df, val_hexes=("C",), conv_gate=False, ts_col=None)
    with pytest.raises(ValueError, match="lowercase hex"):
        sft_dataset(df, test_hexes=("g",), conv_gate=False, ts_col=None)
