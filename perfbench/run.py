#!/usr/bin/env python3
"""Transcript-linkage benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {skewed,registry} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run starts a local[nproc] Spark
session, writes the workload's seeded inputs to parquet, loads them, runs
an untimed warm-up and then repeats the workload's iteration
(closed loop, one client) until ``--seconds`` have passed. Outputs are
checked after the timed operations.

``--trace 0`` reports the end-to-end metrics (tracing off); ``--trace 1``
drives the pipeline stages (or registry operators) one span at a time and
reports per-layer metrics from Spark's event log. Human-readable lines
start with ``#``; the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["skewed", "registry"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, work: str) -> dict:
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    env = harness.environment(ROOT)
    steal0 = harness.steal_ticks()
    t0 = time.perf_counter()
    spark = harness.start_session(work, trace=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.load()
        wl.warm_up()
        setup_s = session_s + time.perf_counter() - t0
        say(
            f"setup: session {session_s:.2f}s, load+warm-up {setup_s - session_s:.2f}s "
            f"(input generation {gen_s:.2f}s, not counted) facts {wl.facts}"
        )

        with harness.RssSampler(jvm_pid) as rss:
            if args.trace:
                from perfbench import tracing

                traced = tracing.traced_run(wl, rss)
            else:
                metrics = timed_loop(wl, args.seconds, rss)
                metrics["setup_s"] = metric(setup_s, "s")
        wl.final_checks()
    finally:
        harness.stop_session(spark)
    if args.trace:
        # the event log is complete only once the session has stopped
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = traced.finish(os.path.join(work, "events"), per_layer)
    env["steal_ticks"] = harness.steal_ticks() - steal0
    say(f"env {json.dumps(env)}")
    if not args.trace:
        report_named_metrics(wl, metrics)
    for msg in wl.failures:
        say(f"FAILED {msg}")
    failed = min(len(wl.failures), wl.attempted)
    return {
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": failed,
        "metrics": metrics,
    }


def timed_loop(wl, seconds: float, rss) -> dict:
    """Repeat the workload's iteration until ``seconds`` have passed (at
    least once); report the median of each operation's wall time. The peak
    memory of the JVM and its Python workers is kept from the first timed
    iteration only: the JVM heap keeps growing over later iterations, so a
    peak over the whole loop would read higher whenever more iterations
    fit."""
    rss.window()
    ops: list[dict[str, float]] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        ops.append(wl.iteration())
        if len(ops) == 1:
            wl.peak_mb = rss.peak()[0] / 2**20
        say(f"iteration {len(ops)}: " + ", ".join(f"{k} {v:.3f}s" for k, v in ops[-1].items()))
    wl.op_medians = {k: statistics.median(o[k] for o in ops) for k in wl.ops}
    return {f"op{i}_s": metric(wl.op_medians[op], "s") for i, op in enumerate(wl.ops, 1)}


def report_named_metrics(wl, metrics: dict) -> None:
    """Print the workload's user-facing metrics by name and unit."""
    m, f = wl.op_medians, wl.facts
    rows = [("setup_s", metrics["setup_s"]["value"], "s")]
    if wl.name == "skewed":
        rows += [
            ("link_turns_per_s", f["turns"] / m["link"], "1/s"),
            ("resume_s", m["resume"], "s"),
            ("stream_convs_per_s", f["convs"] / m["stream"], "1/s"),
            ("pairwise_f1", f["pairwise_f1"], "ratio"),
            ("ckpt_bytes_per_input_byte", f["ckpt_bytes_per_input_byte"], "ratio"),
        ]
    else:
        rows += [
            ("registry_total_s", m["scorer_queries"] + m["operator_queries"], "s"),
            ("taxonomy_s", m["taxonomy"], "s"),
        ]
    rows += [
        ("ops_failed_frac", len(wl.failures) / max(1, wl.attempted), "ratio"),
        ("peak_rss_mb", wl.peak_mb, "MB"),
    ]
    for name, value, unit in rows:
        say(f"{wl.name} {name} = {value:.6g} {unit}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "namedis_spark")):
        print(f"perfbench: no namedis_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
