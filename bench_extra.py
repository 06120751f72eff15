#!/usr/bin/env python
"""Extra benchmark harness for optimization work (guide §1).

bench.py is the FROZEN driver contract; this file adds the measurement
modes the optimization guide asks for without touching it:

* per-query isolation with N repetitions (build + count, same
  methodology/timed unit as bench.py);
* optional noop-sink timing (guide §1.4) so a query's full column set is
  computed without the count()-path column pruning;
* .explain("formatted") capture per query into a plans directory;
* job labels (guide §1.5).

Usage:
  python bench_extra.py --queries jaccard_pairs,flagship_linkage --reps 3
  python bench_extra.py --plans plans/r06 --suffix _before
  python bench_extra.py --all --reps 2 --json /tmp/iso.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "conversation_features",
    "tfiaf_weights",
    "cslr_role_pairs",
    "tfidf_cosine_pairs",
    "jaccard_pairs",
    "flagship_linkage",
    "term_frequencies",
    "tool_similarity",
    "simhash_fingerprints",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "ngram_jaccard_dups",
    "embedding_cosine_dups",
    "ann_topk",
    "term_ic",
]


def _timed(spark, name, fn, use_noop: bool) -> tuple[float, int]:
    spark.sparkContext.setJobDescription(f"bench_extra: {name}")
    t0 = time.time()
    df = fn(spark, SF_DIR)
    if use_noop:
        df.write.format("noop").mode("overwrite").save()
        n = -1
    else:
        n = df.count()
    dt = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    return dt, n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plans", default="", help="dir to write explain output")
    ap.add_argument("--suffix", default="", help="plan filename suffix")
    ap.add_argument("--json", default="")
    ap.add_argument(
        "--fresh-cache",
        action="store_true",
        help="release the session's memos between reps (cold per-query cost)",
    )
    args = ap.parse_args()

    from namedis_spark.queries import REGISTRY
    from namedis_spark.session import get_spark
    from namedis_spark.state import state

    spark = get_spark(
        app_name="namedis-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )

    names = [q for q in args.queries.split(",") if q]
    if args.all or not names:
        names = list(HEADLINE)

    results: dict[str, list[float]] = {}
    for name in names:
        fn = REGISTRY[name].spark_fn
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan)
        times = []
        for _ in range(args.reps):
            if args.fresh_cache:
                state(spark).release()
            dt, n = _timed(spark, name, fn, args.noop)
            times.append(dt)
            print(f"# {name}: rows={n} t={dt}s", file=sys.stderr)
        results[name] = times

    out = {
        "sf_dir": SF_DIR,
        "reps": args.reps,
        "noop": args.noop,
        "queries": results,
        "min": {k: min(v) for k, v in results.items()},
        "median": {k: sorted(v)[len(v) // 2] for k, v in results.items()},
    }
    line = json.dumps(out)
    print(line)
    if args.json:
        with open(args.json, "w") as f:
            f.write(line)
    spark.stop()


if __name__ == "__main__":
    main()
