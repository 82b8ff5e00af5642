#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline workloads:
- extract_documents   — full Readability extraction of the sf documents
                        wrapped as HTML transcripts (the flagship path)
- extract_corpus      — extraction of the deterministic synthetic transcript
                        corpus (realistic boilerplate + length skew; size
                        scales with sf)
- readerable_triage   — cheap is_readerable pre-filter over the corpus
- sql twins           — the relational sub-operator suite (JVM-only plans)

Reported value = total wall-clock seconds; per-query seconds under
"queries"; extracted-turns/sec for the two extraction workloads under
"throughput".
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    from cl_readability_spark.functions.sqltwins import SQL_TWINS
    from cl_readability_spark.pipeline.job import extract_transcripts
    from cl_readability_spark.pipeline.session import build_spark
    from cl_readability_spark.pipeline.transcripts import (
        documents_as_transcripts,
        synthetic_transcripts,
    )
    from cl_readability_spark.pipeline.udfs import make_readerable_udf

    from pyspark.sql import functions as F

    spark = build_spark(app_name="cl-readability-bench", cores=cpus,
                        shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    # corpus size scales with sf: sf0.1 → ~1500 conversations (~38k turns)
    n_conversations = max(20, int(15000 * sf))

    # warm up JVM, python workers, module imports so timings are steady-state
    extract_transcripts(
        documents_as_transcripts(spark, sf_dir).limit(64), salt_buckets=4
    ).count()

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def run(name: str, fn) -> None:
        t0 = time.perf_counter()
        counts[name] = fn()
        timings[name] = round(time.perf_counter() - t0, 3)

    # 1. flagship: documents → HTML transcripts → extraction
    run(
        "extract_documents",
        lambda: extract_transcripts(
            documents_as_transcripts(spark, sf_dir), salt_buckets=8
        )
        .filter(F.col("status") == "ok")
        .count(),
    )

    # 2. synthetic corpus extraction (boilerplate + skew)
    corpus = synthetic_transcripts(spark, n_conversations, seed=42).cache()
    n_turns = corpus.count()
    run(
        "extract_corpus",
        lambda: extract_transcripts(corpus, salt_buckets=16)
        .select("status")
        .groupBy("status")
        .count()
        .count(),
    )

    # 3. readerable triage
    run(
        "readerable_triage",
        lambda: corpus.filter(make_readerable_udf()(F.col("text"))).count(),
    )

    # 3b. triaged extraction: the JVM regexp triage gates the corpus ahead
    # of the python extraction stage (the 100 TB shape for low-readerable
    # corpora — the gate is codegen'd, no python workers touch the rows it
    # rejects).  Same result aggregation as extract_corpus so the rows
    # saved are directly visible in the timing delta.
    run(
        "extract_corpus_triaged",
        lambda: extract_transcripts(
            corpus, salt_buckets=16, prefilter_readerable="jvm"
        )
        .select("status")
        .groupBy("status")
        .count()
        .count(),
    )

    # 4. SQL twins
    for name, (builder, _sql) in sorted(SQL_TWINS.items()):
        run(f"sql_{name}", lambda b=builder: builder_count(b, spark, sf_dir))

    # 5. dedup/ANN scale paths (banded LSH; JVM-only plans)
    from cl_readability_spark.functions.dedup import minhash_near_dups
    from cl_readability_spark.functions.similarity import (
        embedding_near_dups,
        plant_near_dups,
    )

    run(
        "dedup_minhash_real",
        lambda: minhash_near_dups(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), jaccard_threshold=0.5
        ).count(),
    )
    # 6. composed curation pipeline (extract -> gates -> dedup -> report)
    from cl_readability_spark.functions.curation import curate, curation_report

    run(
        "curation_pipeline",
        lambda: curation_report(
            curate(
                extract_transcripts(
                    documents_as_transcripts(spark, sf_dir), salt_buckets=8
                ),
                min_stopword_bp=0,
            )
        ).count(),
    )

    run(
        "embedding_near_dups",
        lambda: embedding_near_dups(
            plant_near_dups(
                spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
                every=5, gamma=0.43, seed=7,
            ),
            threshold=0.9,
            dim=64,
        ).count(),
    )

    # 6b. DSIR importance resampling over the documents table (target =
    # every 10th doc): fit both hashed-ngram distributions, weight every
    # doc, Gumbel-top-k 1% — the data-selection stack's bench row (its
    # correctness rows are the dsir_logw DuckDB twin and the
    # python differential in tests/test_selection.py)
    from cl_readability_spark.functions.selection import dsir_sample

    def _dsir():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        target = docs.filter(F.col("doc_id") % 10 == 0)
        return dsir_sample(docs, target, k=100).count()

    run("dsir_sample", _dsir)

    # 6c. soft dedup (SoftDeDup): per-doc duplicate multiplicity +
    # n**-alpha sampling weight over a planted-multiplicity corpus
    # (every 5 consecutive doc_ids share one text — the
    # dedup_weights_planted LOCAL twin's construction)
    from cl_readability_spark.functions.dedup import dedup_weights

    def _dedup_weights():
        group = F.floor(F.col("doc_id") / 5).cast("long")
        corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            F.concat(
                F.lit("planted dup text "), group.cast("string")
            ).alias("text"),
        )
        return dedup_weights(corpus, id_col="doc_id", text_col="text").count()

    run("dedup_weights", _dedup_weights)

    # 6d. context-window chunking (overlapping config) composed into
    # sequence packing — the long-document prep path; forces the full
    # chunk_text materialization via the pack token sum
    from cl_readability_spark.functions.packing import doc_chunks, pack_sequences

    def _doc_chunks_pack():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        chunks = doc_chunks(docs, max_tokens=128, stride=96).select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("doc_id"),
            F.col("n_chunk_tokens").alias("n_tokens"),
            F.length("chunk_text").alias("_text_bytes"),
        )
        # force the chunk_text materialization (Catalyst would prune it
        # through the packer, which only reads id + token count)
        chunks.agg(F.sum("_text_bytes")).collect()
        packs = pack_sequences(chunks, max_tokens=128, num_partitions=cpus)
        return packs.count()

    run("doc_chunks_pack", _doc_chunks_pack)

    # 6e. CCNet-style LM perplexity: fit the interpolated-bigram model
    # on every 3rd doc, score the whole corpus (fit + 3 broadcast
    # attachments + per-doc mean in one timed pass)
    from cl_readability_spark.functions.lm import lm_perplexity

    def _lm_ppl():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        ref = docs.filter(F.col("doc_id") % 3 == 0)
        out = lm_perplexity(docs, reference=ref, vocab_size=4096)
        return out.agg(F.sum("lm_logp_per_token")).collect()[0]

    run("lm_perplexity", _lm_ppl)

    # 6f. PDF/layout parse: closed-form toy payloads built JVM-side per
    # doc (3 pages x ~34 boxes: repeated header/footer, tiny watermark,
    # 30 body lines in 6 paragraphs), Arrow decode, pure-JVM assembly.
    # The sum over chars_out forces the text build (count() alone would
    # let Catalyst prune the concat chain out of the aggregates).
    from cl_readability_spark.pipeline.pdf_layout import pdf_extract

    def _pdf_extract():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id"
        )
        d = F.col("doc_id").cast("string")

        def page(pg: int):
            y0 = lambda k: (F.lit(120) + k * 14 + (k / 5).cast("int") * 10)
            body = F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda k: F.concat(
                    F.lit("box 50 "),
                    y0(k).cast("string"),
                    F.lit(" 270 "),
                    (y0(k) + 12).cast("string"),
                    F.lit(" 10 body "),
                    d,
                    F.lit(f" p{pg} l"),
                    k.cast("string"),
                    F.lit(" t"),
                    F.pmod(
                        F.xxhash64(d, k.cast("string"), F.lit(pg)),
                        F.lit(997),
                    ).cast("string"),
                ),
            )
            head = F.array(
                F.lit("page 612 792"),
                F.lit("box 50 20 250 32 10 Corp Report"),
                F.lit(f"box 280 760 330 770 9 Page {pg}"),
                F.lit("box 560 300 568 380 4 draft note"),
            )
            return F.concat(head, body)

        payload = F.encode(
            F.concat_ws(
                "\n",
                F.concat(
                    F.array(F.lit("PDFFAKE1")), page(1), page(2), page(3)
                ),
            ),
            "UTF-8",
        )
        out = pdf_extract(docs.select("doc_id", payload.alias("payload")))
        return int(
            out.filter(F.col("status") == "ok")
            .agg(F.sum("chars_out"))
            .collect()[0][0]
        )

    run("pdf_extract", _pdf_extract)

    # 6g. conversation-level transcript gate over the cached synthetic
    # corpus (integrity + shape rules; one conv-keyed exchange)
    from cl_readability_spark.functions.transcript_quality import (
        conversation_flags,
    )

    def _conv_flags():
        out = conversation_flags(corpus, require_user_start=False)
        return int(
            out.agg(
                F.sum(F.col("conv_ok").cast("long")),
            ).collect()[0][0]
        )

    run("conversation_flags", _conv_flags)

    # 7. raw-corpus ANN LSH top-k (the retired rows-only registry entry
    # lives on here; the operator's correctness row is ann_lsh_planted)
    from cl_readability_spark.functions.similarity import lsh_bucketed_topk

    def _ann_lsh_topk():
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = list(
            embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
        )
        return lsh_bucketed_topk(
            embs.filter(F.col("vec_id") != 0), q, k=10
        ).count()

    run("ann_lsh_topk", _ann_lsh_topk)

    # 8. dataset assembly + corpus n-gram stats over the cached corpus
    from cl_readability_spark.functions.assembly import (
        epoch_shuffle,
        token_budget_sample,
    )
    from cl_readability_spark.functions.ngrams import ngram_counts
    from cl_readability_spark.functions.pins import release_pinned

    def _epoch_shuffle():
        out = epoch_shuffle(
            corpus, seed=11, id_cols=("conv_id", "turn_idx"), n_shards=64
        )
        return int(out.agg(F.countDistinct("shard")).collect()[0][0])

    run("epoch_shuffle", _epoch_shuffle)

    def _token_budget():
        toks = corpus.select(
            F.concat_ws(
                "\x1f", "conv_id", F.col("turn_idx").cast("string")
            ).alias("doc_id"),
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
            F.length("text").cast("long").alias("prio"),
        )
        out = token_budget_sample(
            toks, 1_000_000, token_col="n_tokens", priority_col="prio",
            id_col="doc_id", join_back=False,
        )
        n = out.filter("selected").count()
        release_pinned(out)
        return n

    run("token_budget", _token_budget)

    def _ngram_top():
        return ngram_counts(
            corpus, text_col="text", n=3, min_count=10
        ).count()

    run("ngram_top", _ngram_top)

    # 9. transcripts → SFT training examples over the cached corpus
    # (token-budgeted context suffix per assistant turn; correctness row
    # is the sft_planted LOCAL twin) + cross-split leakage audit over
    # the planted-leak corpus (split_leak_planted LOCAL twin)
    from cl_readability_spark.functions.decontam import split_leakage
    from cl_readability_spark.functions.sft import sft_examples
    from tests.local_twins import q_split_leak_planted

    def _sft_examples():
        out = sft_examples(corpus, max_context_tokens=256)
        return int(out.agg(F.sum("context_tokens")).collect()[0][0])

    run("sft_examples", _sft_examples)

    run(
        "split_leakage",
        lambda: q_split_leak_planted(spark, sf_dir).count(),
    )

    # 9b. composed transcript deployment path: conversation gate →
    # assembly → example dedup → conv-level splits (correctness row is
    # the sft_dataset_planted LOCAL twin; the gate rides conv_flags)
    from cl_readability_spark.functions.sft import sft_dataset

    def _sft_dataset():
        out = sft_dataset(
            corpus, max_context_tokens=256, conv_gate_opts={
                "require_user_start": False,
            },
        )
        return int(out.agg(F.count("*")).collect()[0][0])

    run("sft_dataset", _sft_dataset)

    total = round(sum(timings.values()), 3)
    throughput = {
        "extract_documents_turns_per_sec": round(
            counts["extract_documents"] / timings["extract_documents"], 1
        ),
        "extract_corpus_turns_per_sec": round(n_turns / timings["extract_corpus"], 1),
        "corpus_turns": n_turns,
    }
    print(
        json.dumps(
            {
                "metric": "extraction+relational bench wall-clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "throughput": throughput,
            }
        )
    )
    # Compact headline as the FINAL stdout line: the driver tail-captures
    # stdout, and the full line above grew past its window in round 7
    # (63-entry queries map → "parsed": null in BENCH_r07.json).  This
    # line carries everything but the per-query map and always fits.
    print(
        json.dumps(
            {
                "metric": "extraction+relational bench wall-clock",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "cpus": cpus,
                "n_queries": len(timings),
                "throughput": throughput,
            }
        )
    )
    spark.stop()


def builder_count(builder, spark, sf_dir) -> int:
    df = builder(spark, sf_dir)
    return df.count()


if __name__ == "__main__":
    sys.exit(main())
