"""Grouped-map operators (applyInPandas) — per-conversation batch ops.

Completes the UDF surface (SURVEY §2.8): scalar pandas UDF (the readerable
gate), mapInArrow (extraction), mapInPandas (multimodal),
applyInPandasWithState (streaming sessions), and here the grouped-map form:
each conversation arrives as one pandas frame.

Scale note: groupBy(conv_id) shuffles on the conversation key — the one
operator family where per-conv salting is NOT applicable (the group must be
co-located).  Conversations are ≤50 turns by contract, so group size is
bounded; AQE skew-join handling covers pathological key distribution.

Performance note (round 8): applyInPandas materializes a pandas frame
PER GROUP (~150-180 µs each) — measured at ~75% of wall on 20-turn
conversations in the SFT assembly stage.  For hot paths over short
conversations use the batched form instead: conv-keyed repartition +
partition-local sort + mapInPandas with a trailing-conversation carry
(`functions/sft.py:sft_examples` ``impl="batched"`` is the worked
reference — 4.2× at 1M turns).  This module keeps the grouped-map form
deliberately: it completes the UDF API surface (SURVEY §2.8) and is the
readable baseline the batched form is equality-tested against."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

STITCH_SCHEMA = (
    "conv_id STRING, n_turns INT, first_role STRING, stitched_text STRING, "
    "total_chars LONG"
)


def stitch_conversations(transcripts: DataFrame) -> DataFrame:
    """One row per conversation: turns concatenated in turn_idx order —
    the 'conversation as a document' view used for conv-level dedup or
    quality filtering."""

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        texts = pdf["text"].fillna("")
        stitched = "\n\n".join(texts)
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n_turns": [len(pdf)],
                "first_role": [pdf["role"].iloc[0]],
                "stitched_text": [stitched],
                "total_chars": [int(texts.str.len().sum())],
            }
        )

    return (
        transcripts.select("conv_id", "turn_idx", "role", "text")
        .groupBy("conv_id")
        .applyInPandas(stitch, STITCH_SCHEMA)
    )
