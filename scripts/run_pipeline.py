#!/usr/bin/env python
"""spark-submit entrypoint for the transcript-linkage pipeline.

Cluster usage (the north rule's launch mode):

    zip -r namedis_spark.zip namedis_spark/
    spark-submit --py-files namedis_spark.zip scripts/run_pipeline.py \
        --input /path/to/transcripts --checkpoint /path/ckpt --out /path/out

Sandbox usage (synthetic input):

    python scripts/run_pipeline.py --blocks 5 --checkpoint /tmp/ckpt --out /tmp/out
    python scripts/run_pipeline.py ... --resume     # re-enter after a kill

--resume re-enters at the last committed stage (the summary's
"resumed_from" names it) and is refused if the inputs or params differ
from those recorded in the checkpoint's manifest.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of transcripts (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--blocks", type=int, default=5, help="synthesize N blocks if no --input")
    ap.add_argument("--hot-blocks", type=int, default=0)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--out", required=True, help="output dir for assignments parquet")
    ap.add_argument("--labels", help="parquet dir of labels for evaluation")
    ap.add_argument(
        "--seeds",
        help="parquet dir of groundtruth seed membership (conv_id, seed_id): "
        "stage-1 clusters are pulled into seeds by shared coauthors "
        "(seedMergeSharingCoauthor) before the final closure",
    )
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from namedis_spark import pipeline
    from namedis_spark.datagen import generate_transcripts
    from namedis_spark.operators.scoring import ScoringParams
    from namedis_spark.session import get_spark

    spark = get_spark(app_name="transcript-linkage", master=args.master)
    t0 = time.time()

    labels = None
    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        # Synthetic input is written under the checkpoint root, in a
        # directory named by its generation options, and read back: the
        # run's input fingerprint is then a set of files, so a --resume in
        # a new process matches it (a generated plan's hash does not carry
        # across processes), and a resume with other options is refused.
        synth = os.path.join(
            args.checkpoint, "input",
            f"blocks={args.blocks},hot={args.hot_blocks},seed={args.seed}",
        )
        if not (args.resume and os.path.exists(os.path.join(synth, "labels", "_SUCCESS"))):
            t, l = generate_transcripts(
                spark, n_blocks=args.blocks, seed=args.seed, hot_blocks=args.hot_blocks
            )
            t.write.mode("overwrite").parquet(os.path.join(synth, "transcripts"))
            l.write.mode("overwrite").parquet(os.path.join(synth, "labels"))
        transcripts = spark.read.parquet(os.path.join(synth, "transcripts"))
        labels = spark.read.parquet(os.path.join(synth, "labels"))
    if args.labels:
        labels = spark.read.parquet(args.labels)

    params = ScoringParams()
    if args.threshold is not None:
        params.threshold = args.threshold

    seeds = spark.read.parquet(args.seeds) if args.seeds else None
    res = pipeline.run(
        spark, transcripts, args.checkpoint, labels=labels, params=params,
        resume=args.resume, seeds=seeds,
    )
    res.assignments.write.mode("overwrite").parquet(args.out)

    n_conv = res.assignments.count()
    n_clusters = res.assignments.select("cluster_id").distinct().count()
    summary = {
        "conversations": n_conv,
        "clusters": n_clusters,
        "wall_sec": round(time.time() - t0, 1),
        "resumed": args.resume,
        "resumed_from": res.resumed_from,
    }
    if res.metrics:
        summary.update({k: round(v, 6) for k, v in res.metrics.items()})
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
