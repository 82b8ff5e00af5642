#!/usr/bin/env python
"""End-to-end training-data pipeline: the composed run a corpus team would
deploy (same `spark-submit --py-files clrs.zip` shape as extract_job.py).

    transcripts parquet
      → Readability extraction (salted, vectorized, resumable batches)
      → curation flags (quality gate, exact dedup, MinHash near-dup prune)
      → kept corpus parquet + one-row audit report (JSON on stdout)

C4-style cross-document LINE dedup (functions/dedup.py:line_dedup)
composes ahead of the doc-level gates when a corpus needs it — since
round 7 operator-level via curate(line_dedup=True) (sink-staged runs
here pass --line-dedup, which sets exactly that flag over the written
extraction table so the expensive pass stays staged once); the division
of labor (line dedup subsumes exact doc-dedup; emptied husks become
quality drops) is pinned in tests/test_curation.py and hash-checked by
the curation_line_planted twin.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain `python scripts/<this>.py` puts scripts/ (not the repo root) on
# sys.path; under spark-submit the package arrives via --py-files instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--salt-buckets", type=int, default=16)
    p.add_argument("--partitions", type=int, default=None,
                   help="pins the width of BOTH the extraction exchange "
                        "and the --pack pack_sequences exchange; without "
                        "it both use spark.sql.shuffle.partitions")
    p.add_argument("--jaccard-threshold", type=float, default=0.8)
    p.add_argument("--min-chars", type=int, default=100)
    p.add_argument("--min-stopword-bp", type=int, default=100,
                   help="stopword-ratio floor in basis points; 0 disables "
                        "(use for non-natural-language corpora)")
    p.add_argument("--langs", default="en",
                   help="comma-separated langid allowlist")
    p.add_argument("--benchmark", default=None,
                   help="parquet path of benchmark/eval passages (a 'text' "
                        "column): enables the decontamination gate — docs "
                        "sharing a word 13-gram with any passage are dropped "
                        "(before dedup) and accounted in the report")
    p.add_argument("--policy", choices=["clusters", "pairwise"],
                   default="clusters",
                   help="near-dup drop policy: 'clusters' keeps one "
                        "representative per duplicate component (connected "
                        "components over the verified pairs — the principled "
                        "default), 'pairwise' drops the higher-key side of "
                        "each pair (cheaper, key-order-dependent)")
    p.add_argument("--line-dedup", action="store_true",
                   help="run C4 cross-document line dedup ahead of the "
                        "doc-level gates (curate(line_dedup=True); in the "
                        "decomposed --benchmark sink path the same "
                        "line_dedup_rewrite pre-stage runs over the staged "
                        "extraction read-back)")
    p.add_argument("--pack", type=int, default=0, metavar="MAX_TOKENS",
                   help="post-stage: chunk the kept corpus into "
                        "MAX_TOKENS-token windows (doc_chunks) and pack "
                        "them into fixed-budget training sequences "
                        "(pack_sequences) written to <output>.packs; "
                        "0 disables")
    p.add_argument("--pack-stride", type=int, default=None,
                   help="chunk stride (default = --pack: disjoint windows; "
                        "smaller overlaps adjacent windows)")
    p.add_argument("--conv-gate", action="store_true",
                   help="drop whole conversations that fail the "
                        "conversation-level integrity/shape gate "
                        "(functions/transcript_quality.py "
                        "conversation_flags: role protocol, turn_idx "
                        "contiguity, ts monotonicity, empty-turn and "
                        "tool-output mass) before extraction — broken "
                        "conversations never reach a python worker")
    p.add_argument("--conv-max-violations", type=int, default=0,
                   help="with --conv-gate, tolerate up to N role-"
                        "protocol violations per conversation (default "
                        "0 = strict; corpora with free-form role "
                        "sequences want a higher bound or a large "
                        "sentinel to gate on structure rules only)")
    p.add_argument("--conv-require-user-start", action="store_true",
                   help="with --conv-gate, additionally require the "
                        "first turn's role to be 'user' (off by "
                        "default: synthetic/agent corpora open with "
                        "system or assistant turns legitimately)")
    p.add_argument("--pin", choices=["sink", "disk", "memory"], default="sink",
                   help="how the single extraction/flag pass is shared by the "
                        "near-dup branch and the write/report consumers: "
                        "'sink' stages through parquet tables (zero executor "
                        "cache — the 100 TB shape; staging dirs next to the "
                        "output), 'disk'/'memory' pin via executor storage "
                        "(curation.py materialize modes; sized heaps only)")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from cl_readability_spark.functions.curation import (
        curate,
        curate_flags,
        curate_near_dups,
        curation_report,
        line_dedup_rewrite,
        release_curated,
    )
    from cl_readability_spark.pipeline.job import extract_transcripts

    from cl_readability_spark.pipeline.session import get_or_build_session

    spark = get_or_build_session("cl-readability-curate")
    transcripts = spark.read.parquet(args.input)
    t0 = time.time()
    conv_stats = None
    if args.conv_gate:
        from cl_readability_spark.functions.transcript_quality import (
            conversation_flags,
        )

        flags = conversation_flags(
            transcripts,
            require_user_start=args.conv_require_user_start,
            max_role_violations=args.conv_max_violations,
        )
        # two evaluations of the conv aggregation (count + semi-join),
        # both over the pure parquet scan — deterministic, and the slim
        # aggregation is cheap next to extraction (441k turns/s at 1M);
        # the semi-join keys on conv_id, the same key the extraction's
        # salted repartition consumes downstream
        counts = flags.agg(
            F.count("*").alias("convs"),
            F.sum(F.col("conv_ok").cast("long")).alias("kept"),
        ).collect()[0]
        conv_stats = {
            "convs_in": int(counts["convs"]),
            "convs_kept": int(counts["kept"]),
        }
        transcripts = transcripts.join(
            flags.filter(F.col("conv_ok")).select("conv_id"),
            "conv_id",
            "left_semi",
        )
    extracted = extract_transcripts(
        transcripts,
        salt_buckets=args.salt_buckets,
        num_partitions=args.partitions,
    )
    kwargs = dict(
        jaccard_threshold=args.jaccard_threshold,
        min_chars=args.min_chars,
        min_stopword_bp=args.min_stopword_bp,
        langs=tuple(args.langs.split(",")),
        policy=args.policy,
        line_dedup=args.line_dedup,
    )
    if args.benchmark:
        from cl_readability_spark.functions.decontam import benchmark_ngram_hashes

        kwargs["benchmark_hashes"] = benchmark_ngram_hashes(
            spark.read.parquet(args.benchmark)
        )
    if args.policy == "clusters" and args.pin == "sink":
        # match the sink philosophy: the CC rounds stage through parquet
        # too (fault-tolerant, zero executor storage — dedup._RoundPinner)
        kwargs["cluster_opts"] = {
            "checkpoint_mode": "table",
            "checkpoint_dir": args.output.rstrip("/") + ".cc",
        }
    if args.pin == "sink":
        # the 100 TB shape: the expensive passes materialize through
        # columnar tables instead of executor storage — extraction once
        # into staging, flags+near-dup once into the flagged table, kept
        # projection + one-row report as pruned scans of what was written.
        # Zero cache, zero heap pinning (runs the 1M corpus at the default
        # 8 GB heap); in production the stagings are Iceberg tables
        # (pipeline/sink.py).  The near-dup branch re-evaluates the flag
        # window over the staging scan; ALSO staging the stage-1 flags as
        # their own table (curate_flags → write → curate_near_dups) was
        # measured SLOWER at 1M turns (223 s vs 186 s — the extra
        # full-text write costs more than the repeated window), so the
        # decomposed entry points exist in functions/curation.py but this
        # script keeps the 3-table shape.
        base = args.output.rstrip("/")
        staging1, staging3 = base + ".extracted", base + ".flagged"
        extracted.write.mode("overwrite").parquet(staging1)
        if args.benchmark:
            # with decontamination active, the flag subtree carries the
            # full-corpus 13-gram hashing Arrow stage; the near-dup
            # branch references the flags plan twice (no cross-branch
            # subplan reuse), so stage STAGE-1 FLAGS as their own table
            # — one decontamination pass — and run the near-dup stage
            # over the read-back.  Without --benchmark the repeated
            # subtree is just the cheap window and the measured trade
            # says don't pay the extra full-text write (PLANS.md).
            staging2 = base + ".flags1"
            flag_kwargs = {
                k: v for k, v in kwargs.items()
                if k in ("min_chars", "min_stopword_bp", "langs",
                         "benchmark_hashes")
            }
            flags_src = spark.read.parquet(staging1)
            if args.line_dedup:
                # over the STAGED scan: both line-stage branches are
                # pruned columnar reads, no pin needed (deterministic)
                flags_src, _ = line_dedup_rewrite(flags_src)
            curate_flags(
                flags_src, **flag_kwargs
            ).write.mode("overwrite").parquet(staging2)
            nd_kwargs = {
                k: v for k, v in kwargs.items()
                if k in ("jaccard_threshold", "policy", "cluster_opts")
            }
            curate_near_dups(
                spark.read.parquet(staging2), materialize="none", **nd_kwargs
            ).write.mode("overwrite").parquet(staging3)
        else:
            flags_src = spark.read.parquet(staging1)
            ckwargs = dict(kwargs)
            if args.line_dedup:
                # stage the line-stage OUTPUT as its own table: under
                # materialize="none" the near-dup branch re-references
                # the flags plan, and embedding the line chain (two
                # shuffles + a join) in that re-evaluated subtree was
                # measured at ~2.5x the staged cost (the
                # curation_line_planted twin's materialize note); the
                # audit columns ride along into the flagged table
                staging1b = base + ".linededup"
                rewritten, _ = line_dedup_rewrite(flags_src)
                rewritten.write.mode("overwrite").parquet(staging1b)
                flags_src = spark.read.parquet(staging1b)
                ckwargs["line_dedup"] = False
            curate(
                flags_src, materialize="none", **ckwargs
            ).write.mode("overwrite").parquet(staging3)
        flagged = spark.read.parquet(staging3)
        (
            flagged.filter(F.col("kept"))
            .select("conv_id", "turn_idx", "extracted_text", "content_spans")
            .write.mode("overwrite")
            .parquet(args.output)
        )
        report = curation_report(flagged).collect()[0].asDict()
        # the CC staging dir has served its purpose once the flagged
        # table (which embeds the drops) is written — clean it up so
        # repeated runs don't accumulate dead parquet next to the output
        if args.policy == "clusters":
            import shutil

            cc_dir = args.output.rstrip("/") + ".cc"
            if "://" not in cc_dir:
                shutil.rmtree(cc_dir, ignore_errors=True)
    else:
        from pyspark import StorageLevel

        curated = curate(
            extracted,
            materialize="disk" if args.pin == "disk" else "persist",
            **kwargs,
        ).persist(
            StorageLevel.DISK_ONLY if args.pin == "disk"
            else StorageLevel.MEMORY_AND_DISK
        )
        (
            curated.filter(F.col("kept"))
            .select("conv_id", "turn_idx", "extracted_text", "content_spans")
            .write.mode("overwrite")
            .parquet(args.output)
        )
        report = curation_report(curated).collect()[0].asDict()
        curated.unpersist()
        release_curated(curated)  # the inner flags pin curate() created
    if args.pack:
        # training-shard prep over what was just WRITTEN (pruned columnar
        # scan — the kept table is the stage boundary, same sink
        # philosophy as above): chunk whales to ≤ max_tokens windows,
        # then best-fit-decreasing pack — no oversize rows by
        # construction, so every pack respects the context budget
        from cl_readability_spark.functions.packing import (
            doc_chunks,
            pack_sequences,
        )

        kept_tbl = spark.read.parquet(args.output)
        chunks_path = args.output.rstrip("/") + ".chunks"
        doc_chunks(
            kept_tbl.select(
                F.concat_ws(
                    ":", "conv_id", F.col("turn_idx").cast("string")
                ).alias("doc_id"),
                F.col("extracted_text").alias("text"),
            ),
            max_tokens=args.pack,
            stride=args.pack_stride,
            id_col="doc_id",
        ).select(
            F.concat_ws(":", "doc_id", "chunk_idx").alias("doc_id"),
            F.col("n_chunk_tokens").alias("n_tokens"),
            "chunk_text",
        ).write.mode("overwrite").parquet(chunks_path)
        # chunks staged as a table: the pack assignment AND the text
        # join-back both read it, and without the stage boundary each
        # branch would re-run the whole tokenize+explode chunking (no
        # cross-branch subplan reuse)
        chunks = spark.read.parquet(chunks_path)
        assignment = pack_sequences(
            chunks,
            max_tokens=args.pack,
            num_partitions=args.partitions,
        )
        # text-carrying shard rows: assignment joined back on the UNIQUE
        # row key (skew-free); a shard writer groups by pack_id downstream
        packs_path = args.output.rstrip("/") + ".packs"
        assignment.join(
            chunks.select("doc_id", "chunk_text"), "doc_id"
        ).write.mode("overwrite").parquet(packs_path)
        packs_tbl = spark.read.parquet(packs_path)
        pk = packs_tbl.agg(
            F.count("*").alias("rows"),
            F.countDistinct("pack_id").alias("packs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum(F.col("oversize").cast("long")).alias("oversize"),
        ).collect()[0]
        report["pack_rows"] = pk["rows"]
        report["packs"] = pk["packs"]
        report["pack_tokens"] = pk["tokens"]
        report["pack_oversize"] = pk["oversize"]
        report["pack_fill"] = round(
            pk["tokens"] / (pk["packs"] * args.pack), 4
        ) if pk["packs"] else None
    if conv_stats is not None:
        report["conv_gate"] = conv_stats
    report["seconds"] = round(time.time() - t0, 2)
    report["output"] = args.output
    report["pin"] = args.pin
    report["policy"] = args.policy
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
