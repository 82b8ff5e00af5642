"""Driver contract for the spark-graft builder (PySpark target).

- ``entry``: flagship extraction on sf0.001 — documents wrapped into HTML
  transcripts (JVM expressions), run through the vectorized Readability
  pipeline (SURVEY §3.1).
- ``queries``/``oracle_sql``: the SQL-expressible sub-operator twins
  (cl_readability_spark/functions/sqltwins.py) each with a DuckDB oracle,
  plus the full-DOM extraction queries, which are not SQL-expressible →
  registered without an oracle (rows-only check per the contract).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from cl_readability_spark.functions.sqltwins import SQL_TWINS
from cl_readability_spark.pipeline.job import extract_transcripts
from cl_readability_spark.pipeline.transcripts import documents_as_transcripts


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: extract every turn of the sf0.001 transcript table."""
    transcripts = documents_as_transcripts(spark, "/root/testdata/sf0.001")
    result = extract_transcripts(transcripts, salt_buckets=8)
    return result.select(
        "conv_id",
        "turn_idx",
        "extracted_text",
        "content_spans",
        "status",
        "title",
        "text_length",
    )


def _q_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DOM extraction (not SQL-expressible → rows-only check)."""
    transcripts = documents_as_transcripts(spark, sf_dir)
    return extract_transcripts(transcripts, salt_buckets=8).select(
        "conv_id",
        "turn_idx",
        "extracted_text",
        F.size("content_spans").alias("n_spans"),
        "status",
        "text_length",
    )


# The driver checks at most this many queries() entries; exceeding it
# silently drops the last-registered ones from the correctness surface
# (it cost span_explode its round-5 row).  Pinned by queries() itself and
# by tests/test_entry_contract.py.
DRIVER_QUERY_CAP = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: builder for name, (builder, _sql) in SQL_TWINS.items()
    }
    out["extract_documents"] = _q_extract_documents
    # NOTE (round 7): the rows-only extract_documents_triaged entry was
    # retired to fund the hash-checked semdedup_planted twin under the
    # 50-query cap — its two halves are both more strongly checked
    # elsewhere: the triage EXPRESSION is hash-checked per conversation by
    # readerable_triage_sql (digest-CTE twin) with python/JVM gate
    # agreement pinned in tests/test_readerable.py, and the extraction it
    # gates is pinned by extract_documents (rows+schema) plus the
    # hash-checked span_invariants re-aggregation.  bench.py still times
    # the composed gate+extract as extract_corpus_triaged.
    # NOTE (round 7): the rows-only extract_metrics_rollup entry was
    # retired to fund the hash-checked curation_line_planted twin under
    # the 50-query cap — the rollup EXPRESSIONS are hash-checked by the
    # metrics_rollup twin, and the real-extraction output it rolled up
    # is pinned by extract_documents (rows+schema) plus the hash-checked
    # span_invariants re-aggregation of the same output (bench.py still
    # times the composed rollup as extract_corpus).
    # NOTE (round 7): the rows-only readerable_triage entry was retired
    # to fund the hash-checked span_invariants twin under the 50-query
    # cap — it was fully subsumed: readerable_triage_sql hash-checks the
    # SAME triage expression per conversation (digest-CTE twin), and
    # tests/test_readerable.py pins the python/JVM gate agreement.
    # NOTE (round 7): the rows-only dedup_minhash entry (raw minhash over
    # the real documents table) was retired to fund the hash-checked
    # gopher_repetition twin under the 50-query cap — the minhash chain
    # is the stronger-checked surface already: dedup_minhash_planted
    # hash-checks signature→banding→verify end to end, the pytest
    # Jaccard oracles pin real-corpus behavior, and bench.py still times
    # the real-corpus run as dedup_minhash_real.
    # NOTE (round 6): simhash_signatures was retired from the registry — the
    # driver evaluates at most 50 queries, and registering 51 in round 5
    # silently dropped the last one (span_explode).  The simhash surface
    # stays fully covered by the hash-checked dedup_simhash_planted chain
    # (sqltwins.py) and tests/test_dedup.py; DRIVER_QUERY_CAP below pins the
    # registry size so a future addition fails loudly instead.
    # NOTE (round 6): the rows-only winnow_fingerprints entry was retired
    # to fund the hash-checked gopher_quality twin under the 50-query
    # driver cap — the winnowing surface stays fully covered by the
    # hash-checked rolling_hash + dedup_winnow_planted chain and the
    # pytest Jaccard oracles in tests/test_dedup.py.

    # NOTE (round 7): the rows-only ann_lsh_topk entry (LSH-bucketed
    # top-k over the raw embeddings) was retired to fund the
    # hash-checked mix_sample twin under the 50-query cap — the LSH
    # chain is the stronger-checked surface already: ann_lsh_planted
    # hash-checks the SAME lsh_bucketed_topk operator (hyperplane
    # bucketing, multiprobe, in-bucket scoring) end to end against
    # brute force on a planted-certain corpus, and bench.py still
    # times the raw-corpus run as ann_lsh_topk.

    # NOTE (round 7): the rows-only ann_ivf_topk entry (IVF top-k over
    # the raw embeddings table) was retired to fund the hash-checked
    # c4_planted twin under the 50-query cap — the IVF chain is the
    # stronger-checked surface already: ann_ivf_planted hash-checks the
    # SAME ivf_topk operator (cell assignment, probe selection, in-cell
    # scoring) end to end against brute force on a planted-certain
    # corpus, and tests/test_similarity.py pins recall/n_probe behavior.

    # NOTE (round 6): the rows-only media_near_dups entry was replaced by
    # the hash-checked media_planted twin (sqltwins.py) — same chain
    # (binary payload → Arrow feature decode → banded LSH → cosine
    # verify), now with a closed-form expected pair set; the synthetic-
    # media composition stays pytest-covered in test_streaming_multimodal.

    # NOTE (round 7): the rows-only curation_report entry (the report
    # over REAL extract→curate output) was retired to fund the
    # hash-checked curation_report_planted twin under the 50-query cap —
    # the report EXPRESSIONS (hierarchical-attribution partition: rows_in
    # == the four drop counts + rows_kept) are now hash-checked against a
    # closed-form oracle on the curation_planted corpus, a strictly
    # stronger check than >0-rows on an unverifiable real-corpus report.
    # The real composition stays benched (bench.py curation_pipeline) and
    # pytest-covered (tests/test_curation.py); the 1M rerun counts are
    # recorded in BENCH/BASELINE.md ("Round-7 sustained 1M session").

    # NOTE (round 7): the rows-only embedding_near_dups entry (banded
    # LSH over embeddings + planted perturbed copies) was retired to
    # fund the hash-checked substring_dedup_planted twin under the
    # 50-query cap — the embedding chain is the stronger-checked
    # surface already: dedup_embedding_planted hash-checks the SAME
    # embedding_near_dups operator (banding, Hamming prefilter, cosine
    # verify) end to end, and bench.py still times the planted-corpus
    # run as embedding_near_dups.

    # NOTE (round 6): the rows-only pack_sequences entry was retired to
    # fund the hash-checked line_dedup_planted twin under the 50-query
    # cap — the packer's contract is the stronger check anyway: the
    # pack_invariants oracle re-aggregates the packer's ACTUAL output and
    # hash-checks the derived invariants, and tests/test_packing.py pins
    # the per-row behavior.

    # NOTE (round 7, late): the rows-only span_explode entry was retired
    # to fund the hash-checked pdf_layout_planted twin under the
    # 50-query cap — the explode_spans operator is already INSIDE a
    # hash-checked chain: the span_invariants twin runs explode_spans
    # (outer=True) over the SAME real extraction and hash-checks the
    # full _build_text_and_spans contract, a strictly stronger check
    # than >0-rows on the raw explosion.
    if len(out) > DRIVER_QUERY_CAP:
        raise AssertionError(
            f"queries() registers {len(out)} > {DRIVER_QUERY_CAP} entries; "
            "the driver would silently drop the excess — retire a subsumed "
            "query before adding a new one"
        )
    return out


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_builder, sql) in SQL_TWINS.items()}
