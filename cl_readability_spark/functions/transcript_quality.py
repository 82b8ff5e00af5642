"""Conversation-level curation for multi-turn / agent transcripts.

The doc-level gates (gopher_flags, curate) treat each TURN as a
document; this module adds the CONVERSATION-level pass a transcript
corpus needs before turn-level processing: protocol integrity (role
alternation, tool-call adjacency, turn-index contiguity, timestamp
monotonicity) and conversation-shape stats (turn counts per role,
empty-turn and tool-output mass), rolled into one ``conv_ok`` gate.

There is no published canonical rulebook for agent-transcript curation
(the closest analogues are the role-alternation validators in public
chat-SFT pipelines); the rules here are honest documented heuristics in
the repo's langid/quality_score stance, each individually thresholded
so deployments can tune or disable any of them:

- a conversation STARTS with a user turn;
- two adjacent turns never share a non-tool role (a speaker talking
  twice = a merge artifact or truncated pair);
- a ``tool`` turn (a tool RESULT) must directly follow an ``assistant``
  turn (the call) or another ``tool`` turn (parallel results);
- ``turn_idx`` is exactly 0..n-1 (gaps/dups = a broken upstream join);
- timestamps are non-decreasing in turn order;
- empty-turn and tool-output mass are bounded (basis points, integer
  cross-multiplied — no floats, engine-exact like gopher_flags).

Scale shape (100 TB): one window over (conv_id ORDER BY turn_idx) for
the adjacency rules, then a groupBy on the SAME key — EnsureRequirements
satisfies both with a single conv-keyed exchange (plan-shape test).
Per-task work is bounded by the largest single conversation (the
doc-bounded stance of gopher_repetition / pdf_layout): a whale
conversation is one task, a skewed corpus is not a skewed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: explicit whitespace class shared with gopher_flags — java \s and
#: RE2/python \s disagree on U+000B, so `\s` would diverge the twins
_WS = "[ \t\n\f\r]"


def conversation_flags(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    ts_col: str | None = "ts",
    min_turns: int = 2,
    max_turns: int = 10_000,
    require_user_start: bool = True,
    max_role_violations: int = 0,
    max_empty_turn_bp: int = 2000,
    max_tool_char_bp: int = 8000,
) -> DataFrame:
    """One row per conversation with integrity + shape columns and the
    combined ``conv_ok`` gate (module doc for the rules):

    (conv_id, n_turns, n_user, n_assistant, n_tool, n_empty_turns,
    total_chars, tool_chars, starts_with_user, role_violations,
    idx_contiguous, ts_monotonic, duration_s, conv_ok)

    ``ts_col=None`` skips the timestamp rules (``ts_monotonic`` TRUE,
    ``duration_s`` 0 — for corpora without timestamps).  On a
    conversation with DUPLICATED turn_idx values the adjacency-rule
    ordering between the tied turns is unspecified (such a conversation
    is already rejected by ``idx_contiguous``; only that flag's value
    is contractual there).  Ratio
    thresholds are basis points, evaluated by integer
    cross-multiplication; roles other than user/assistant/tool count
    toward ``n_turns`` but no per-role column, and a NULL role is a
    violation wherever it appears.  Join the output back on
    ``conv_col`` (broadcast if the kept set is small) or semi-join
    ``filter(conv_ok)`` to gate the turn table."""
    # kwarg guards before any plan is built: reject nonsense at call
    # time, not mid-action
    if min_turns < 1:
        raise ValueError("min_turns must be >= 1")
    if max_turns < min_turns:
        raise ValueError("max_turns must be >= min_turns")
    if max_role_violations < 0:
        raise ValueError("max_role_violations must be >= 0")
    if max_empty_turn_bp < 0 or max_tool_char_bp < 0:
        raise ValueError("bp thresholds must be >= 0")
    # project BEFORE the conv-keyed exchange (guide-§2.3 shape): the
    # window/agg below need only (conv, idx, role, empty-flag, nchars
    # [, ts]) — computing the text-derived columns first drops the text
    # payload (KBs per row) from the shuffle and sort entirely
    # (measured: conversation_flags 4.4 s → text-free exchange at sf1.0)
    text = F.coalesce(F.col(text_col), F.lit(""))
    slim_cols = [
        F.col(conv_col),
        F.col(idx_col),
        F.col(role_col),
        (F.regexp_replace(text, f"{_WS}+", "") == "").alias("_is_empty"),
        F.length(text).cast("long").alias("_nchars"),
    ]
    if ts_col is not None:
        slim_cols.append(F.col(ts_col))
    df = df.select(*slim_cols)
    conv = F.col(conv_col)
    role = F.col(role_col)
    is_empty = F.col("_is_empty")
    nchars = F.col("_nchars")

    w = Window.partitionBy(conv_col).orderBy(idx_col)
    prev_role = F.lag(role).over(w)
    # adjacency rules (NULL-safe: a NULL role is always a violation;
    # the first turn has no prev — user-start is its own rule)
    same_speaker = (
        prev_role.isNotNull()
        & (F.coalesce(role, F.lit("\x00")) == prev_role)
        & (prev_role != "tool")
    )
    orphan_tool = (
        (F.coalesce(role, F.lit("\x00")) == "tool")
        & prev_role.isNotNull()
        & ~prev_role.isin("assistant", "tool")
    )
    null_role = role.isNull()
    viol = (
        same_speaker.cast("long")
        + orphan_tool.cast("long")
        + null_role.cast("long")
    )
    base = df.withColumn("_viol", viol)
    # contiguity check per ROW against the window rank (idx == rank-1
    # everywhere <=> idx is exactly 0..n-1): exact, and avoids a
    # count_distinct — whose Expand rewrite would add aggregation
    # passes — in the conv-level agg below
    base = base.withColumn(
        "_idx_ok",
        F.col(idx_col).cast("long") == F.row_number().over(w) - 1,
    )
    if ts_col is not None:
        prev_ts = F.lag(F.col(ts_col)).over(w)
        base = base.withColumn(
            "_ts_back",
            (prev_ts.isNotNull() & (F.col(ts_col) < prev_ts)).cast("long"),
        )
    else:
        base = base.withColumn("_ts_back", F.lit(0).cast("long"))

    idx = F.col(idx_col).cast("long")
    agg = base.groupBy(conv.alias("conv_id")).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum((role == "user").cast("long")).alias("n_user"),
        F.sum((role == "assistant").cast("long")).alias("n_assistant"),
        F.sum((role == "tool").cast("long")).alias("n_tool"),
        F.sum(is_empty.cast("long")).alias("n_empty_turns"),
        F.sum(nchars).alias("total_chars"),
        F.sum(F.when(role == "tool", nchars).otherwise(F.lit(0))).alias(
            "tool_chars"
        ),
        # first turn = min (idx, role) struct; ties on a duplicated min
        # idx break on the role string, NULL role pinned to a sentinel
        # that sorts first (well-defined on malformed input — the
        # contiguity gate rejects it anyway)
        (
            F.min(
                F.struct(
                    idx.alias("i"),
                    F.coalesce(role, F.lit("\x00")).alias("r"),
                )
            )["r"]
            == "user"
        ).alias("starts_with_user"),
        F.sum("_viol").alias("role_violations"),
        F.coalesce(F.min("_idx_ok"), F.lit(False)).alias("idx_contiguous"),
        (F.sum("_ts_back") == 0).alias("ts_monotonic"),
        (
            (
                F.unix_timestamp(F.max(ts_col))
                - F.unix_timestamp(F.min(ts_col))
            ).cast("long")
            if ts_col is not None
            else F.lit(0).cast("long")
        ).alias("duration_s"),
    )
    ok = (
        (F.col("n_turns") >= min_turns)
        & (F.col("n_turns") <= max_turns)
        & (F.col("role_violations") <= max_role_violations)
        & F.col("idx_contiguous")
        & F.col("ts_monotonic")
        # bp rules, integer cross-multiplied (gopher_flags stance)
        & (
            F.col("n_empty_turns") * 10_000
            <= F.lit(int(max_empty_turn_bp)) * F.col("n_turns")
        )
        & (
            F.col("tool_chars") * 10_000
            <= F.lit(int(max_tool_char_bp))
            * F.greatest(F.col("total_chars"), F.lit(1))
        )
    )
    if require_user_start:
        ok = ok & F.col("starts_with_user")
    return agg.withColumn("conv_ok", ok)
