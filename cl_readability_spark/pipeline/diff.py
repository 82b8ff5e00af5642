"""Span explode of an extraction result (SURVEY §2.8): one row per
block span, the input of the ``span_invariants`` twin's contract."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def explode_spans(
    result: DataFrame,
    outer: bool = False,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """content_spans → one row per block span (SURVEY §2.8 span-explode):
    (conv_id, turn_idx, span_idx, start, end, span_len).

    ``outer=True`` keeps turns whose span array is empty or NULL as one
    row with NULL span columns (posexplode_outer) — so per-turn checks
    can see span-less turns without a second pass over the extraction.
    ``keep_cols`` carries extra ``result`` columns through the explode
    (e.g. text_length), again avoiding a self-join back onto the
    expensive extraction subtree (PLANS.md self-join rule)."""
    explode = F.posexplode_outer if outer else F.posexplode
    keep = list(keep_cols)
    return result.select(
        "conv_id",
        "turn_idx",
        *keep,
        explode("content_spans").alias("span_idx", "span"),
    ).select(
        "conv_id",
        "turn_idx",
        *keep,
        "span_idx",
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        (F.col("span.end") - F.col("span.start")).alias("span_len"),
    )
