"""exceptAll diff harness (SURVEY §2.11 set-ops row) + span-explode
tests."""

import pytest
from pyspark.sql import DataFrame, functions as F

from cl_readability_spark.pipeline.diff import explode_spans
from cl_readability_spark.pipeline.job import extract_transcripts
from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

pytestmark = pytest.mark.spark


def table_diff(actual: DataFrame, expected: DataFrame, columns: list[str] | None = None):
    """Compares two extraction outputs (e.g. two runs across a refactor)
    with exceptAll in both directions — multiset semantics, so duplicate
    rows are caught too.  Returns (only_in_actual, only_in_expected);
    both empty ⇔ the tables agree on ``columns`` (default: all common)."""
    if columns is None:
        columns = [c for c in actual.columns if c in set(expected.columns)]
    a = actual.select(*columns)
    e = expected.select(*columns)
    return a.exceptAll(e), e.exceptAll(a)


def assert_tables_equal(actual: DataFrame, expected: DataFrame,
                        columns: list[str] | None = None) -> None:
    extra, missing = table_diff(actual, expected, columns)
    n_extra, n_missing = extra.count(), missing.count()
    if n_extra or n_missing:
        raise AssertionError(
            f"table mismatch: {n_extra} rows only in actual "
            f"(sample {extra.limit(3).collect()}), {n_missing} only in expected "
            f"(sample {missing.limit(3).collect()})"
        )


def test_table_diff_detects_missing_and_extra(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y")], ["id", "v"])
    b = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["id", "v"])
    extra, missing = table_diff(a, b)
    assert [tuple(r) for r in extra.collect()] == [(2, "y")]  # dup counted
    assert [tuple(r) for r in missing.collect()] == [(3, "z")]
    with pytest.raises(AssertionError):
        assert_tables_equal(a, b)
    assert_tables_equal(a, a)


def test_extraction_self_consistent_across_runs(spark):
    df = synthetic_transcripts(spark, 3, seed=21)
    r1 = extract_transcripts(df, salt_buckets=4).select(
        "conv_id", "turn_idx", "extracted_text", "status"
    )
    r2 = extract_transcripts(df, salt_buckets=16, num_partitions=8).select(
        "conv_id", "turn_idx", "extracted_text", "status"
    )
    # partitioning/salting must not affect results
    assert_tables_equal(r1, r2)


def test_explode_spans(spark):
    df = synthetic_transcripts(spark, 2, seed=33)
    result = extract_transcripts(df, salt_buckets=4)
    spans = explode_spans(result)
    ok_rows = result.filter(F.col("status") == "ok").count()
    assert spans.count() >= ok_rows  # ≥1 span per ok row
    bad = spans.filter(
        (F.col("start") < 0) | (F.col("end") < F.col("start")) | (F.col("span_len") <= 0)
    )
    assert bad.count() == 0
    # span text slices reassemble into extracted_text (spot check)
    joined = spans.join(
        result.select("conv_id", "turn_idx", "extracted_text"),
        ["conv_id", "turn_idx"],
    ).limit(50)
    for r in joined.collect():
        assert 0 <= r.start <= r.end <= len(r.extracted_text)

