"""The extraction job — the Spark lifecycle of SURVEY §3.1.

scan → (resume anti-join) → conv_id-salted repartition → vectorized extract
→ stable (conv_id, turn_idx) ordering → output + metrics sidecar.

Scale notes (the design targets a 1000-executor cluster):
- The salted repartition spreads giant-document / long-conversation skew
  across the whole cluster; the salt is pmod(hash(turn_idx), K), derived only
  from data (deterministic, no RNG).  Extraction is per-row pure, so any
  partitioning is semantically safe.
- Only (conv_id, turn_idx, text) are read for extraction — column pruning
  reaches the parquet scan (verify via .explain: ReadSchema).
- The UDF stage is a narrow map after the repartition.  The exchange's
  width is pinned at ``spark.sql.shuffle.partitions`` (AQE cannot
  coalesce it; see ``salted_repartition``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cl_readability_spark.core.config import DEFAULT_CONFIG, ExtractorConfig
from cl_readability_spark.pipeline.udfs import (
    EXTRACT_OUTPUT_SCHEMA,
    make_arrow_extractor,
    make_readerable_udf,
)


def salted_repartition(
    df: DataFrame, num_partitions: int | None = None, salt_buckets: int = 16
) -> DataFrame:
    """conv_id-salted repartition (SURVEY §4.2): same conv_id spreads over up
    to ``salt_buckets`` partitions so a 50-turn conversation of 10 MB docs
    doesn't pin one task; deterministic (hash of turn_idx, no RNG).

    The partition count is ALWAYS pinned explicitly, so AQE cannot
    coalesce it: a bare ``repartition(cols)`` is AQE-coalescible, and AQE
    sizes partitions by shuffle *bytes* — blind to the Python-CPU cost of
    the extraction stage that follows.  A few MB of HTML can hold seconds
    of per-row DOM work, so byte-coalescing would serialize the stage onto
    one task (measured: 11× slowdown on small inputs).  Downstream of this
    exchange the work is CPU-proportional to rows, and the salt already
    bounds per-partition skew.

    The width is ``num_partitions`` when given, else
    ``spark.sql.shuffle.partitions``, which the deployment sets
    (``build_spark`` sets it to the local core count).  Each Python task
    also carries a fixed cost on top of its rows, measured on 4 CPUs at
    ~0.22 s of worker CPU (pyspark's ``setup_spark_files`` ~0.18 s, the
    daemon's post-task ``gc.collect`` ~0.04 s) plus JVM task and JIT time:
    a width above the task slots buys a second wave of that cost over a
    small input (width 8 → 4 on the 1.4 MB perfbench ``resume_write``
    batch cut a call's CPU from ~7.9 to ~5.9 s)."""
    salt = F.pmod(F.hash(F.col("turn_idx")), F.lit(salt_buckets))
    if not num_partitions:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    return df.repartition(num_partitions, F.col("conv_id"), salt)


# The JVM readerable-triage scorer behind ``prefilter_readerable="jvm"``.
# (?i) case-insensitive, (?s) dot-matches-newline, \b + [^>]* for
# attributes — real-world <P CLASS=...> paragraphs spanning lines must
# score, not silently extract zero blocks (a bare '<p>(.*?)</p>' would
# filter virtually any non-synthetic corpus to nothing).  The same
# literal works in Java regex and DuckDB RE2, so the readerable_triage_sql
# twin (functions/sqltwins.py) builds its oracle from it too.
_TRIAGE_PARA_RE = r"(?is)<p\b[^>]*>(.*?)</p>"
_TRIAGE_TAG_RE = r"(?s)<[^>]+>"


def triage_score_col(html_col):
    """Long Column: the isProbablyReaderable score of ``html_col`` —
    floor(sqrt(len - 140)) summed over <p> blocks whose tag-stripped,
    trimmed text is at least 140 chars (readability.lisp:634-668);
    readerable once the sum exceeds 20."""
    paras = F.regexp_extract_all(html_col, F.lit(_TRIAGE_PARA_RE), F.lit(1))

    def contrib(p):
        ln = F.length(F.trim(F.regexp_replace(p, _TRIAGE_TAG_RE, "")))
        return (
            F.when(ln >= 140, F.floor(F.sqrt((ln - 140).cast("double"))))
            .otherwise(F.lit(0))
            .cast("long")
        )

    return F.aggregate(
        F.transform(paras, contrib), F.lit(0).cast("long"), lambda a, x: a + x
    )


def extract_transcripts(
    df: DataFrame,
    config: ExtractorConfig = DEFAULT_CONFIG,
    salt_buckets: int = 16,
    num_partitions: int | None = None,
    prefilter_readerable: bool | str = False,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) →
    extracted(conv_id, turn_idx, extracted_text, content_spans [, metrics…]).

    ``prefilter_readerable`` inserts the is_readerable triage stage
    (readability.lisp:634-668) before full extraction — a selectivity win
    when much of the corpus is non-article noise.  Two variants:
    True/"exact" runs the DOM-parsing triage (a python pass — exact, but
    at 10^12 rows it is a second extraction-scale cost); "jvm" runs the
    regexp-expression approximation (``triage_score_col`` — JVM-only, no
    python workers, ≥99% per-turn agreement measured) and is the shape to
    deploy at the 100 TB target.

    ``num_partitions`` pins the extraction stage's task count; ``None``
    takes ``spark.sql.shuffle.partitions`` (``salted_repartition``)."""
    if prefilter_readerable not in (False, True, "exact", "jvm"):
        # strict: any other truthy string would silently fall through to
        # the expensive exact python pass ("JVM", "off", a typo...)
        raise ValueError(
            f"prefilter_readerable must be False/True/'exact'/'jvm', "
            f"got {prefilter_readerable!r}"
        )
    cols = ["conv_id", "turn_idx", "text"]
    src = df.select(*cols)
    if prefilter_readerable == "jvm":
        src = src.filter(triage_score_col(F.col("text")) > 20)
    elif prefilter_readerable:
        src = src.filter(make_readerable_udf(config)(F.col("text")))
    src = salted_repartition(src, num_partitions, salt_buckets)
    res = src.mapInArrow(make_arrow_extractor(config), EXTRACT_OUTPUT_SCHEMA)
    return res.sortWithinPartitions("conv_id", "turn_idx")


def metrics_sidecar(result_df: DataFrame) -> DataFrame:
    """Per-row lineage sidecar (FIXTURES.md §B metrics_sidecar shape):
    partition id + extraction metrics, written alongside the output."""
    return result_df.select(
        F.spark_partition_id().alias("partition_id"),
        "conv_id",
        "turn_idx",
        "status",
        "candidates_scored",
        "retries",
        "chars_in",
        "chars_kept",
    )


def metrics_rollup(result_df: DataFrame) -> DataFrame:
    """Aggregate metrics per status (plain DataFrame agg — no UDAF needed,
    SURVEY §2.8): row counts, total/avg chars in and kept, retries.  Rows
    are unordered; sort on the driver (an ``orderBy`` here doubles a
    collect's jobs, 4 instead of 2).  The resume job does not call this:
    its batch report is an Observation on the write
    (``resume._observe_statuses``), which costs no job of its own.  This
    is the rollup for a caller that already holds an extracted frame (the
    ``metrics_rollup`` SQL twin is its own ``groupBy`` over documents)."""
    return result_df.groupBy("status").agg(
        F.count("*").alias("rows"),
        F.sum("chars_in").alias("total_chars_in"),
        F.sum("chars_kept").alias("total_chars_kept"),
        F.avg("chars_kept").alias("avg_chars_kept"),
        F.sum("retries").alias("total_retries"),
        F.sum("candidates_scored").alias("total_candidates"),
    )
