"""Text normalization: the CCNet-style hygiene pass (Wenzek et al.
2020 §3.1 normalize text "by lowercasing, replacing digits with
placeholders and removing all Unicode punctuation/accent marks" before
dedup hashing) plus standard Unicode form normalization (UAX #15).

Pipeline position: dedup keys (line_dedup / minhash / exact) compare
NORMALIZED bytes, so near-identical documents differing only in
composed-vs-decomposed accents, case, digits, or whitespace runs should
normalize to one key.  ``normalize_text`` adds a normalized column; the
dedup operators then take it as their ``text_col``.

Engine split (the repo's standard): everything expressible stays JVM —
lowercase, digit folding, whitespace collapse are codegen projections
with EXPLICIT character classes (``[0-9]``, ``[ \\t\\n\\f\\r]`` — never
``\\s``/``\\d``, which java and RE2/python disagree on).  Unicode form
normalization and accent stripping have no Spark builtin, so they run
in ONE vectorized Arrow stage (pandas_udf) — and only when requested:
``form=None, strip_accents=False`` compiles to a pure whole-stage-
codegen plan with no python stage (plan-shape test).

Cross-engine semantics are pinned by the ``textnorm`` SQL twin: the
DuckDB oracle re-derives the full chain with DuckDB's OWN
``nfc_normalize``/``strip_accents``/``lower`` over planted
composed/decomposed/ligature/fullwidth text, so the python
``unicodedata`` implementation must agree with an independent ICU-free
engine byte-for-byte.

Operation order (pinned, mirrored in the twin): unicode form →
strip accents → lowercase → fold digits → collapse whitespace.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType

#: explicit whitespace class (gopher_flags/LINE_EDGE_WS stance)
_WS = "[ \t\n\f\r]"


def _unicode_stage(form: str | None, strip_accents: bool):
    """Vectorized Arrow stage for the parts Spark cannot express.
    ``strip_accents`` = NFD-decompose then drop combining marks (the
    unicodedata recipe; agrees with DuckDB's strip_accents on the
    twin's planted corpus), recomposed back to ``form`` when one is
    requested so downstream bytes stay in a single normal form."""
    import unicodedata

    def one(x):
        if x is None:
            return None
        y = unicodedata.normalize(form, x) if form else x
        if strip_accents:
            y = "".join(
                c
                for c in unicodedata.normalize("NFD", y)
                if not unicodedata.combining(c)
            )
            if form:
                y = unicodedata.normalize(form, y)
        return y

    @F.pandas_udf(StringType())
    def stage(s: pd.Series) -> pd.Series:
        return s.map(one)

    return stage


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    form: str | None = None,
    strip_accents: bool = False,
    lowercase: bool = False,
    fold_digits: bool = False,
    collapse_ws: bool = False,
) -> DataFrame:
    """Adds ``out_col`` = the normalized ``text_col`` (NULL stays NULL).

    - ``form``: 'NFC' | 'NFD' | 'NFKC' | 'NFKD' Unicode normalization
      (UAX #15), or None to skip.
    - ``strip_accents``: drop combining marks after NFD decomposition
      ('café' -> 'cafe', composed or decomposed alike).
    - ``lowercase``: JVM lower().
    - ``fold_digits``: every ASCII digit -> '0' (the CCNet placeholder;
      explicit ``[0-9]``, unicode digits are left alone on purpose —
      java and RE2 ``\\d`` disagree there).
    - ``collapse_ws``: runs of ``[ \\t\\n\\f\\r]`` -> one space, then
      edge-trimmed.

    The python stage exists ONLY when ``form``/``strip_accents`` is
    requested; the rest is one codegen projection."""
    if form is not None and form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be NFC/NFD/NFKC/NFKD or None, got {form!r}")
    col: Column = F.col(text_col)
    if form is not None or strip_accents:
        col = _unicode_stage(form, strip_accents)(col)
    if lowercase:
        col = F.lower(col)
    if fold_digits:
        col = F.regexp_replace(col, "[0-9]", "0")
    if collapse_ws:
        col = F.trim(F.regexp_replace(col, f"{_WS}+", " "))
    return df.withColumn(out_col, col)
