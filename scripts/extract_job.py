#!/usr/bin/env python
"""Production entry point — the deployment shape the north rule mandates:

    zip -r clrs.zip cl_readability_spark
    spark-submit --py-files clrs.zip scripts/extract_job.py \
        --input  <transcripts parquet/table path> \
        --output <extraction sink root> \
        --metrics <metrics sidecar root> \
        [--salt-buckets 16] [--partitions N] [--prefilter-readerable]

On a cluster, drop the --master local override spark-submit provides and let
the deploy mode set executors; the job itself is identical.  The sink is the
checkpointed resumable sink (CheckpointedSink) — re-running after a failure
resumes from the last committed batch (anti-join on (conv_id, turn_idx)).
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
    p.add_argument("--metrics", default=None)
    p.add_argument("--salt-buckets", type=int, default=16)
    p.add_argument("--partitions", type=int, default=None,
                   help="extraction tasks; default: "
                        "spark.sql.shuffle.partitions (the core count when "
                        "run as plain python)")
    p.add_argument("--max-elements", type=int, default=None)
    p.add_argument("--char-threshold", type=int, default=500)
    p.add_argument("--base-url", default=None)
    p.add_argument("--prefilter-readerable", choices=["off", "jvm", "exact"],
                   default="off",
                   help="triage before extraction: 'jvm' = regexp-expression "
                        "score (no python pass — the at-scale shape), "
                        "'exact' = DOM-parsing UDF")
    args = p.parse_args(argv)

    from cl_readability_spark.core.config import ExtractorConfig
    from cl_readability_spark.pipeline.resume import CheckpointedSink

    from cl_readability_spark.pipeline.session import get_or_build_session

    spark = get_or_build_session("cl-readability-extract")
    config = ExtractorConfig(
        document_url=args.base_url,
        max_elements=args.max_elements,
        char_threshold=args.char_threshold,
    )
    transcripts = spark.read.parquet(args.input)
    sink = CheckpointedSink(args.output)
    t0 = time.time()
    written = sink.run(
        transcripts,
        config=config,
        salt_buckets=args.salt_buckets,
        num_partitions=args.partitions,
        metrics_root=args.metrics,
        prefilter_readerable=(
            False if args.prefilter_readerable == "off"
            else ("jvm" if args.prefilter_readerable == "jvm" else True)
        ),
    )
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "rows_written": written,
                "seconds": round(dt, 2),
                "rows_per_sec": round(written / dt, 1) if dt > 0 else None,
                "output": args.output,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
