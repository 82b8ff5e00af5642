"""SFT training-example assembly — the transcript-specific last mile:
turning a curated multi-turn conversation table into supervised
fine-tuning examples, one per target-role turn.

``sft_examples`` emits, for every ``target_role`` turn (default
``assistant``), the example a trainer reads: the LONGEST SUFFIX of the
turns strictly before it whose total token count fits
``max_context_tokens`` (chat-SFT context assembly: when a conversation
outgrows the window you keep the most recent turns, never a gap in the
middle), plus the target turn's text as the label.  The general
corpus-level assembly stages live in ``functions/assembly.py``
(epoch_shuffle / token_budget_sample / rank_buckets); this module is
their per-conversation counterpart over the transcript schema
(conv_id, turn_idx, role, text, ts).

Reference parity note: the reference (atlas-engineer/cl-readability)
is a single-document extraction library with no transcript surface;
this operator is part of the training-data-pipeline extension the
build brief asks for (transcripts → training examples).

Semantics (engine-exact, DuckDB-twinned):

- token count per turn = the number of maximal non-whitespace runs,
  with the explicit whitespace class ``[ \\t\\n\\f\\r]`` (java ``\\s``
  and RE2/python ``\\s`` disagree on U+000B — the transcript_quality
  stance); whitespace-only/NULL text counts 0.  Pass ``token_col`` to
  drive the budget with real subword counts instead (e.g.
  ``bpe_encode`` output sizes) — the assembly is tokenizer-agnostic.
- a prior turn at position j (0-based within the conversation, turns
  ordered by ``turn_idx``) is included in the context of the target at
  position p  iff  cum0[j] >= cum0[p] - max_context_tokens, where
  cum0[k] = total tokens of the first k turns.  cum0 is monotone
  non-decreasing, so the included set IS the maximal suffix that fits;
  zero-token turns at the boundary are included (side='left').
- ``context_text`` = the included turns rendered as
  ``role + role_sep + text`` joined by ``turn_sep`` (defaults
  ``": "`` / ``"\\n"``), NULL role/text rendered as ''.
- ``truncated`` = some prior turn was excluded (start position > 0).
- targets with fewer than ``min_context_turns`` context turns are
  dropped (default 1: a context-free example teaches nothing).
- on a conversation with DUPLICATED turn_idx values the ordering
  between the tied turns is unspecified (the conversation_flags
  ``idx_contiguous`` gate already rejects such conversations).

Scale shape (100 TB): one projection adds the per-turn token count
(whole-stage codegen — regexp-free size/split, no lambda HOFs), then
ONE conv-keyed exchange, a partition-local sort on (conv, turn_idx)
and ONE Arrow ``mapInPandas`` stage that assembles every conversation
of a batch with numpy cumsum + one vectorized searchsorted (no
per-row python dispatch; string joins are batch-level pandas ops).
Per-task memory is bounded by the largest single conversation — the
doc-bounded stance of conversation_flags / pdf_layout: a whale
conversation is one task, a skewed corpus is not a skewed plan.
Plan-shape-tested: exactly one Exchange, one MapInPandas, zero
joins/windows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

#: explicit whitespace class shared with transcript_quality/gopher —
#: java \s and RE2/python \s disagree on U+000B
_WS = "[ \t\n\f\r]"

_OUT_SCHEMA = (
    "conv_id string, target_idx long, context_start_idx long, "
    "n_context_turns long, context_tokens long, target_tokens long, "
    "truncated boolean, context_text string, target_text string"
)


def default_turn_tokens(text_col) -> "F.Column":
    """The module's default per-turn token count: the number of maximal
    non-whitespace runs (explicit class — both-engine-exact; DuckDB
    twin: ``length(regexp_extract_all(text, '[^ \\t\\n\\f\\r]+'))``).
    Whitespace-only/NULL text counts 0; no trim-vs-split edge cases
    (``trim`` strips only spaces, so a tab-padded turn would
    double-count under the split form).

    NOTE (r9): a ``regexp_count`` of run STARTS is value-identical and
    allocation-free, but measured 6× SLOWER end-to-end inside the
    assembly pipeline (sft_examples 6 s → 38 s at 383k turns) despite
    benchmarking comparably in isolation — the extracted-runs form
    stays."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(text_col, F.lit("")),
            F.lit("[^ \t\n\f\r]+"),
            F.lit(0),
        )
    ).cast("long")


def sft_examples(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    target_role: str = "assistant",
    max_context_tokens: int = 2048,
    min_context_turns: int = 1,
    token_col: str | None = None,
    role_sep: str = ": ",
    turn_sep: str = "\n",
    num_partitions: int | None = None,
) -> DataFrame:
    """One SFT example per ``target_role`` turn (module doc for the
    budget/suffix semantics):

    (conv_id, target_idx, context_start_idx, n_context_turns,
    context_tokens, target_tokens, truncated, context_text,
    target_text)

    ``context_start_idx`` is the ``turn_idx`` of the first included
    context turn.  ``token_col`` (a per-turn token-count column already
    on ``df``) replaces the default whitespace count — negative counts
    are rejected at runtime (they would break the monotone-prefix
    suffix search).

    ``num_partitions`` pins the conv-keyed exchange width with an
    explicit ``repartition(n, conv)`` that AQE will not coalesce (it
    satisfies the groupBy distribution, so the plan still has exactly
    ONE exchange — plan-shape-tested).  Set it when the shuffled BYTES
    understate the python-side work: AQE's byte-based coalescing sized
    a 50k-turn corpus to one partition (measured — one task carried the
    whole Arrow stage), because the per-conv string assembly cost lives
    in python, not in the exchange volume.  Default None keeps AQE
    sizing, which is right when partitions are byte-bound (real
    100 TB-scale string-heavy transcripts)."""
    # kwarg guards before any plan is built: reject nonsense at call
    # time, not mid-action
    if max_context_tokens < 0:
        raise ValueError("max_context_tokens must be >= 0")
    if min_context_turns < 0:
        raise ValueError("min_context_turns must be >= 0")
    if token_col is not None and token_col not in df.columns:
        raise ValueError(f"token_col {token_col!r} not in df.columns")
    if num_partitions is not None and num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")

    # NULL token counts coalesce to 0 (mirroring the default tokenizer's
    # NULL-text → 0) — uncoalesced they reach the Arrow stage as NaN
    # (nullable long → float64) and crash the int64 cast with an opaque
    # message; negative counts still get the explicit runtime guard
    tok = (
        F.coalesce(F.col(token_col).cast("long"), F.lit(0))
        if token_col is not None
        else default_turn_tokens(F.col(text_col))
    )
    slim = df.select(
        F.col(conv_col).cast("string").alias("_conv"),
        F.col(idx_col).cast("long").alias("_idx"),
        F.coalesce(F.col(role_col), F.lit("")).alias("_role"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
        tok.alias("_tok"),
    )

    budget = int(max_context_tokens)
    min_ctx = int(min_context_turns)
    tgt_role = str(target_role)
    rsep, tsep = str(role_sep), str(turn_sep)

    # conv-keyed repartition + partition-local sort, then ONE
    # mapInPandas stage that vectorizes across MANY conversations per
    # Arrow batch.  applyInPandas builds a pandas frame PER GROUP
    # (~150-180 us each) — at 20-turn conversations that overhead
    # dominated: 1M turns measured 4.3x FASTER through this path
    # (BENCH/BASELINE.md).  Values are equality-tested against a
    # per-conversation applyInPandas reference (tests/test_sft.py).
    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        """Assemble over a frame of one-or-more COMPLETE conversations,
        sorted by (_conv, _idx)."""
        toks = pdf["_tok"].to_numpy(dtype=np.int64)
        if toks.size and toks.min() < 0:
            raise ValueError(
                "sft_examples: negative token count in token_col"
            )
        conv = pdf["_conv"].to_numpy(dtype=object)
        idxs = pdf["_idx"].to_numpy(dtype=np.int64)
        roles = pdf["_role"].to_numpy(dtype=object)
        n = len(pdf)
        new = np.empty(n, dtype=bool)
        new[0] = True
        new[1:] = conv[1:] != conv[:-1]
        gstart = np.flatnonzero(new)
        goffs = gstart[np.cumsum(new) - 1]  # group-start row per row
        # cum0[k] = sum of toks[:k] over the WHOLE sorted batch —
        # globally monotone (toks >= 0), so one searchsorted serves
        # every conversation; the group boundary is enforced by
        # clamping to the group-start row.
        cum0 = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(toks, out=cum0[1:])
        targets = np.flatnonzero(roles == tgt_role)
        if targets.size == 0:
            return pdf.iloc[0:0]  # _iter_assemble drops empty outputs
        starts = np.searchsorted(
            cum0, cum0[targets] - budget, side="left"
        )
        starts = np.maximum(starts, goffs[targets])
        starts = np.minimum(starts, targets)
        n_ctx = targets - starts
        keep = n_ctx >= min_ctx
        targets, starts, n_ctx = targets[keep], starts[keep], n_ctx[keep]
        if targets.size == 0:
            return pdf.iloc[0:0]
        lines = (
            pdf["_role"].astype(str) + rsep + pdf["_text"].astype(str)
        ).to_numpy(dtype=object)
        texts = pdf["_text"].to_numpy(dtype=object)
        ctx_text = [
            tsep.join(lines[s:p]) for s, p in zip(starts, targets)
        ]
        return pd.DataFrame(
            {
                "conv_id": conv[targets],
                "target_idx": idxs[targets],
                "context_start_idx": np.where(
                    n_ctx > 0, idxs[np.minimum(starts, n - 1)], -1
                ),
                "n_context_turns": n_ctx,
                "context_tokens": cum0[targets] - cum0[starts],
                "target_tokens": toks[targets],
                "truncated": starts > goffs[targets],
                "context_text": ctx_text,
                "target_text": texts[targets],
            }
        )

    def _iter_assemble(batches):
        # a conversation may straddle Arrow batches within the sorted
        # partition: hold the trailing conversation's rows (as a LIST
        # of slices — concatenated ONCE at flush, so a whale
        # conversation spanning many batches costs one copy, not a
        # re-copy per batch) and flush when the stream moves past it.
        # Memory bound = the largest single conversation (the
        # applyInPandas bound).
        held_parts: list[pd.DataFrame] = []
        held_conv = None

        def _flush(extra=None):
            parts = held_parts + ([extra] if extra is not None else [])
            held_parts.clear()
            frame = (
                parts[0]
                if len(parts) == 1
                else pd.concat(parts, ignore_index=True)
            )
            return _process(frame)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            conv = pdf["_conv"].to_numpy(dtype=object)
            if held_parts and conv[0] != held_conv:
                out = _flush()  # held conversation ended at a batch edge
                if len(out):
                    yield out
            neq = np.flatnonzero(conv != conv[-1])
            cut = int(neq[-1]) + 1 if neq.size else 0
            if cut == 0:
                held_parts.append(pdf)  # whole batch is one conversation
                held_conv = conv[-1]
                continue
            head = pdf.iloc[:cut]
            out = _flush(head) if held_parts else _process(head)
            if len(out):
                yield out
            held_parts.append(pdf.iloc[cut:])
            held_conv = conv[-1]
        if held_parts:
            out = _flush()
            if len(out):
                yield out

    parted = (
        slim.repartition(num_partitions, "_conv")
        if num_partitions is not None
        else slim.repartition("_conv")
    )
    return parted.sortWithinPartitions("_conv", "_idx").mapInPandas(
        _iter_assemble, _OUT_SCHEMA
    )


def sft_dataset(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    ts_col: str | None = "ts",
    max_context_tokens: int = 2048,
    conv_gate: bool = True,
    conv_gate_opts: dict | None = None,
    dedup: bool = True,
    split_seed: int | None = 0,
    val_hexes: tuple[str, ...] = ("c", "d"),
    test_hexes: tuple[str, ...] = ("e", "f"),
    **sft_kwargs,
) -> DataFrame:
    """The composed transcript deployment path: curated conversations →
    trainer-ready SFT dataset, in one declarative chain —

    1. **conversation gate** (``conv_gate=True``): only ``conv_ok``
       conversations pass (``transcript_quality.conversation_flags``;
       ``conv_gate_opts`` forwards thresholds) via a conv-keyed
       LEFT SEMI join — broken protocol never becomes an example.
    2. **assembly**: ``sft_examples`` (every kwarg forwards, incl.
       ``token_col`` / ``num_partitions``).
    3. **example-level exact dedup** (``dedup=True``): fingerprint =
       md5(context_text \\x1f target_text); ONE winner per fingerprint
       by the skew-safe min(struct(conv_id, target_idx)) aggregation +
       row-key join (the url_dedup/line_dedup recipe — no window on
       the content key, a boilerplate example repeated across millions
       of conversations collapses map-side).  Non-winners are DROPPED.
    4. **conversation-level split assignment** (``split_seed`` not
       None): split = first hex char of md5(seed \\x1f conv_id) —
       12/2/2 sixteenths train/val/test, the ``split_assign`` recipe
       keyed by CONVERSATION so no example's context ever comes from
       another split's conversation, and deterministic at any cluster
       size.  Because dedup runs BEFORE the split filter, an exact
       duplicate example lands in exactly ONE split (never train AND
       test); near-duplicate leakage stays auditable downstream with
       ``decontam.split_leakage(mode="near")`` over
       (fingerprint, context_text+target_text, split).

    Output = the kept examples with ``fingerprint`` and (when
    ``split_seed`` is set) ``split`` appended.  Feed
    ``assembly.epoch_shuffle`` / ``packing.pack_sequences`` for shard
    writing.  Plan shape: one conv-keyed semi join, the sft_examples
    exchange, one fingerprint aggregate + one row-key join — every
    wide op keyed, no collects, no windows on content keys."""
    # split-bucket kwarg guards before any plan is built (the module's
    # guards-before-plan stance): md5 hex is lowercase, so an uppercase
    # or non-hex value would silently route everything to train, and an
    # overlapping pair would silently favor val
    _hexdigits = frozenset("0123456789abcdef")
    if not set(val_hexes) <= _hexdigits or not set(test_hexes) <= _hexdigits:
        raise ValueError(
            "val_hexes/test_hexes must be lowercase hex digits, got "
            f"{val_hexes!r} / {test_hexes!r}"
        )
    if set(val_hexes) & set(test_hexes):
        raise ValueError(
            f"val_hexes and test_hexes overlap: {val_hexes!r} / {test_hexes!r}"
        )
    if conv_gate:
        from cl_readability_spark.functions.transcript_quality import (
            conversation_flags,
        )

        flags = conversation_flags(
            df,
            conv_col=conv_col,
            idx_col=idx_col,
            role_col=role_col,
            text_col=text_col,
            ts_col=ts_col,
            **(conv_gate_opts or {}),
        )
        # conversation_flags always names its key column 'conv_id' —
        # re-alias to the caller's conv_col so non-default names resolve
        # (ADVICE r8: select(F.col(conv_col)) raised UNRESOLVED_COLUMN)
        ok = flags.filter(F.col("conv_ok")).select(
            F.col("conv_id").alias(conv_col)
        )
        df = df.join(ok, [conv_col], "left_semi")
    ex = sft_examples(
        df,
        conv_col=conv_col,
        idx_col=idx_col,
        role_col=role_col,
        text_col=text_col,
        max_context_tokens=max_context_tokens,
        **sft_kwargs,
    )
    ex = ex.withColumn(
        "fingerprint",
        F.md5(F.concat_ws("\x1f", "context_text", "target_text")),
    )
    if dedup:
        winners = (
            ex.groupBy("fingerprint")
            .agg(
                F.min(F.struct("conv_id", "target_idx")).alias("_w")
            )
            .select(
                F.col("_w.conv_id").alias("conv_id"),
                F.col("_w.target_idx").alias("target_idx"),
                F.lit(True).alias("_keep"),
            )
        )
        ex = (
            ex.join(winners, ["conv_id", "target_idx"], "left")
            .filter(F.coalesce(F.col("_keep"), F.lit(False)))
            .drop("_keep")
        )
    if split_seed is not None:
        bucket = F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f", F.lit(str(int(split_seed))), F.col("conv_id")
                )
            ),
            1,
            1,
        )
        ex = ex.withColumn(
            "split",
            F.when(bucket.isin(*val_hexes), "val")
            .when(bucket.isin(*test_hexes), "test")
            .otherwise("train"),
        )
    return ex

