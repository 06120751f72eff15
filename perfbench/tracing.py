"""Traced run: per-layer metrics from spans recorded in the benchmark's
own files.

The traced run drives the layers one span at a time through their public
functions, in ``pipeline.run``'s order (features, each side-table job,
evidence pairs, small- then big-block scoring, connected components,
snapshot writes), or the registry's queries and taxonomy chain one by
one. Each span sets a Spark job group named after it and materializes its
output, so every Spark job belongs to one span. Task metrics per job group
(tasks, task CPU, GC, shuffle read/write, spill, records in/out) come
from Spark's event log, parsed after the session stops.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import time
from contextlib import contextmanager

from perfbench import inputs

TASK_FIELDS = ("tasks", "task_cpu_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "records_in", "records_out")


class Tracer:
    """Nested spans. Each span sets the Spark job group to its name, and
    records wall time and the peak memory (JVM plus Python workers, and the
    workers alone) in its interval."""

    def __init__(self, spark, rss):
        self.sc = spark.sparkContext
        self.rss = rss
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1]["name"] if self._stack else None,
               "children_s": 0.0}
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        self.rss.window()
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            total, workers = self.rss.peak()
            rec["python_mb"] = workers / 2**20
            rec["memory_mb"] = total / 2**20
            self._stack.pop()
            wall = rec["end"] - rec["start"]
            rec["wall_s"] = wall
            if self._stack:
                self._stack[-1]["children_s"] += wall
                self.sc.setJobGroup(self._stack[-1]["name"], self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("untraced", "untraced")
            self.spans.append(rec)

    def wall(self, name: str) -> float:
        """Wall time of the span ``name``; 0 if it did not run."""
        return next((s["wall_s"] for s in self.spans if s["name"] == name), 0.0)


def _traced_store(spark, root: str):
    """A CheckpointStore that records when each round write is issued, so
    the CC local contraction (everything before the first round write)
    and the number of CC rounds can be attributed."""
    from namedis_spark.sources.checkpoint import CheckpointStore

    class TracedStore(CheckpointStore):
        def __init__(self, spark, root):
            super().__init__(spark, root)
            self.writes: list[tuple[str, int, float]] = []

        def write_round(self, name, k, df, *args, **kwargs):
            self.writes.append((name, k, time.perf_counter()))
            return super().write_round(name, k, df, *args, **kwargs)

    return TracedStore(spark, root)


def staged_link(wl, tr: Tracer, ckpt: str) -> dict:
    """``pipeline.run`` (no seeds, fresh store) one stage per span.
    Returns counts the caller turns into per-layer metrics."""
    import pyspark.sql.functions as F

    from namedis_spark.operators import corpus
    from namedis_spark.operators.blocking import evidence_pairs
    from namedis_spark.operators.cluster import assignments_from_edges
    from namedis_spark.operators.features import conversation_features
    from namedis_spark.operators.scoring import (
        ScoringParams,
        SideTables,
        edges_above_threshold,
        prepare_scoring,
        score_blocks_exhaustive,
        score_pairs_grouped,
    )

    spark = wl.spark
    params = ScoringParams()
    store = _traced_store(spark, ckpt)
    out: dict = {}
    key_cols = ["block_key", "conv_id1", "conv_id2"]
    score_cols = ["stage1_mergeable", "score"]

    with tr.span("features"):
        features, (n_convs, _) = store.write_round(
            "features", 0, conversation_features(wl.transcripts),
            lineage={"op": "features"}, stat_cols=["conv_id"], blocking=False,
        )
        out["rows_out"] = n_convs

    with tr.span("corpus"):
        sizes = features.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
        size_rows = sizes.collect()
        big_keys = sizes.where(F.col("n") > params.small_block_size).select("block_key")
        hits = corpus.conv_author_hits(features).persist()
        with tr.span("corpus.coauthor_stats"):
            cn = corpus.coauthor_stats(features).persist()
            cn.count()
        with tr.span("corpus.key_ambiguity"):
            amb_pdf = corpus.key_ambiguity_pdf_bounded(features, rounds=3, hits=hits)
        with tr.span("corpus.term_name_stats"):
            term_rows, name_part_lps = corpus.term_and_name_stats(features)
        with tr.span("corpus.tool_simi"):
            ts_rows = corpus.tool_simi(features).collect()
        with tr.span("corpus.prune"):
            if amb_pdf is not None:
                focus = {r["block_key"] for r in size_rows}
                pruned = corpus.prune_evidence_tables(
                    amb_pdf, cn.toPandas(), focus, params.error_tolerance
                )
            else:
                pruned = corpus.prune_evidence_tables_df(
                    corpus.key_ambiguity(features, rounds=3, hits=hits),
                    cn, sizes.select("block_key"), params.error_tolerance,
                )
        hits.unpersist()
        cn.unpersist()
        side = SideTables()
        side.ambig, side.cn_counts, side.ambig_sum_total = pruned
        side.idf, side.cat_ic = corpus.idf_ic_from_stats(term_rows, int(n_convs))
        side.n_docs = float(n_convs)
        if side.idf:
            import math

            side.max_df = side.n_docs * math.exp(-min(side.idf.values()))
        tool_map: dict[str, list[tuple[str, float]]] = {}
        for r in ts_rows:
            tool_map.setdefault(r["tool1"], []).append((r["tool2"], float(r["linreg_simi"])))
        for v in tool_map.values():
            v.sort(key=lambda kv: (-kv[1], kv[0]))
        side.tool_simi_map = tool_map
        side.surname_lp, side.given_lp = name_part_lps
        out["side_mb"] = len(pickle.dumps(side)) / 2**20

    with tr.span("blocking"):
        big_feats = features.join(F.broadcast(big_keys), "block_key")
        pairs = evidence_pairs(big_feats, max_evidence_df=params.max_evidence_df).persist()
        out["candidate_pairs"] = pairs.count()

    with tr.span("scoring.small"):
        prep = prepare_scoring(spark, features, side)
        small = score_blocks_exhaustive(
            spark, prep, side, params,
            small_block_size=params.small_block_size, sizes=sizes,
        ).select(*key_cols, *score_cols).persist()
        small.count()
    with tr.span("scoring.big"):
        big_prep = prep.join(F.broadcast(big_keys), "block_key")
        big = score_pairs_grouped(spark, pairs, big_prep, side, params)
        big = big.where(
            F.col("stage1_mergeable") | (F.col("score") >= 0.8 * params.threshold)
        ).select(*key_cols, *score_cols).persist()
        big.count()
    with tr.span("scoring.snapshot"):
        scored = store.write_round(
            "scored", 0, small.unionByName(big),
            lineage={"op": "blocking+scoring"}, blocking=False,
        )
        for df in (small, big, sizes):
            df.unpersist()

    with tr.span("cluster"):
        edges = edges_above_threshold(scored, params).persist()
        out["edges"] = edges.count()
        t_cc = time.perf_counter()
        assignments = assignments_from_edges(spark, features, edges, store=store)
        assignments = store.write_round(
            "assignments", 0, assignments, lineage={"op": "cc"}, blocking=False
        )
        edges.unpersist()
    cc_writes = [w for w in store.writes if w[0] == "cc"]
    out["cc_rounds"] = len(cc_writes)
    out["contract_s"] = (cc_writes[0][2] - t_cc) if cc_writes else 0.0

    with tr.span("checkpoint.flush"):
        store.flush()
    out["assignments"] = assignments
    out["sizes"] = [(r["block_key"], r["n"]) for r in size_rows]
    out["pairs"] = pairs
    out["small_block_size"] = params.small_block_size
    return out


def read_snapshots(wl, tr: Tracer, ckpt: str) -> None:
    """What resume reads: every committed snapshot, into a noop sink."""
    from namedis_spark.sources.checkpoint import CheckpointStore

    store = CheckpointStore(wl.spark, ckpt)
    with tr.span("checkpoint.read"):
        for name in sorted(os.listdir(ckpt)):
            if name == "metrics":
                continue
            for k in store.complete_rounds(name):
                store.read_round(name, k).write.format("noop").mode("overwrite").save()


def blocking_quality(wl, counts: dict) -> dict:
    """SparkER-style blocking metrics for the big-block route: candidate
    pairs, reduction ratio against all within-block pairs of the big
    blocks, and pair completeness against the labels."""
    import pyspark.sql.functions as F

    big = {b: n for b, n in counts["sizes"] if n > counts["small_block_size"]}
    small_pairs = sum(n * (n - 1) // 2 for b, n in counts["sizes"] if b not in big)
    big_pairs = sum(n * (n - 1) // 2 for n in big.values())
    cand = counts["candidate_pairs"]
    lab = wl.labels.select("conv_id", "entity_id")
    true_cand = 0
    true_big = 0
    if big:
        true_cand = (
            counts["pairs"].select("conv_id1", "conv_id2")
            .join(lab.withColumnRenamed("conv_id", "conv_id1"), "conv_id1")
            .join(lab.select(F.col("conv_id").alias("conv_id2"),
                             F.col("entity_id").alias("e2")), "conv_id2")
            .where(F.col("entity_id") == F.col("e2"))
            .count()
        )
        feats_big = counts["assignments"].where(F.col("block_key").isin(list(big)))
        per_entity = (
            feats_big.select("conv_id").join(lab, "conv_id")
            .groupBy("entity_id").count().collect()
        )
        true_big = sum(r["count"] * (r["count"] - 1) // 2 for r in per_entity)
    counts["pairs"].unpersist()
    return {
        "blocking.candidate_pairs": cand,
        "blocking.reduction_ratio": 1 - cand / big_pairs if big_pairs else 0.0,
        "blocking.pair_completeness": true_cand / true_big if true_big else 0.0,
        "scoring.small_pairs": small_pairs,
        "scoring.pairs_scored": small_pairs + cand,
    }


def streaming_metrics(q) -> dict:
    progress = [json.loads(p.json) for p in q.recentProgress]
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    ops = progress[-1].get("stateOperators", []) if progress else []
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": statistics.median(
            p["durationMs"].get("triggerExecution", 0) for p in batches
        ) if batches else 0.0,
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "streaming.state_mb": sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20,
    }


def traced_run(wl, rss) -> "TraceResult":
    """One untraced iteration of the workload's main work, then the same
    work traced span by span. Returns a result that is finished (event log
    parsed) once the session has stopped."""
    from perfbench import workloads

    tr = Tracer(wl.spark, rss)
    res = TraceResult(wl, tr)
    if wl.name == "registry":
        t0 = time.perf_counter()
        wl.iteration()
        untraced = time.perf_counter() - t0
        t0 = time.perf_counter()
        for name in workloads.QUERIES:
            with tr.span(f"queries.{name}"):
                wl.run_query(name)
        res.values.update(traced_taxonomy(wl, tr))
        res.wall = time.perf_counter() - t0
    else:
        _r, _ck, untraced = wl.link()
        ckpt = wl.path("traced-ckpt")
        t0 = time.perf_counter()
        counts = staged_link(wl, tr, ckpt)
        res.wall = time.perf_counter() - t0
        wl.attempted += 1
        read_snapshots(wl, tr, ckpt)
        res.values.update(blocking_quality(wl, counts))
        res.values.update(
            {
                "features.rows_out": counts["rows_out"],
                "corpus.result_mb": counts["side_mb"],
                "scoring.edges_emitted": counts["edges"],
                "scoring.edge_yield": counts["edges"] / max(1, res.values["scoring.pairs_scored"]),
                "cluster.edges_in": counts["edges"],
                "cluster.rounds": counts["cc_rounds"],
                "cluster.contract_s": counts["contract_s"],
                "checkpoint.bytes_written": inputs.dir_bytes(ckpt),
                "checkpoint.files": inputs.dir_files(ckpt),
                "checkpoint.bytes_per_input_byte": inputs.dir_bytes(ckpt) / wl.inp["bytes"],
            }
        )
        with tr.span("streaming"):
            q, _dt = wl.stream()
        res.values.update(streaming_metrics(q))
    res.values["trace.untraced_wall_s"] = untraced
    return res


def traced_taxonomy(wl, tr: Tracer) -> dict:
    from namedis_spark.operators.taxonomy import (
        ancestor_closure,
        lcs_closeness,
        with_attenuation,
    )

    with tr.span("taxonomy.edges"):
        edges, tf = wl.taxonomy_frames()
        edges = edges.persist()
        edges.count()
    with tr.span("taxonomy.closure"):
        closure = ancestor_closure(edges).persist()
        closure_rows = closure.count()
    with tr.span("taxonomy.attenuation"):
        catt = with_attenuation(closure).persist()
        catt.count()
    with tr.span("taxonomy.lcs"):
        lcs_rows = lcs_closeness(tf, catt).count()
    wl.attempted += 1
    for df in (catt, closure, edges):
        df.unpersist()
    return {"taxonomy.closure_rows": closure_rows, "taxonomy.lcs_rows": lcs_rows}


class TraceResult:
    def __init__(self, wl, tr: Tracer):
        self.wl = wl
        self.tr = tr
        self.wall = 0.0
        self.values: dict[str, float] = {}

    def finish(self, event_dir: str, per_layer: list[dict]) -> dict:
        """Parse the event log, check the trace is complete, and return
        every metric of ``per_layer`` (BENCHMARK.json's list; a layer that
        does not run on this workload reports 0)."""
        tr, v = self.tr, self.values
        groups = parse_event_log(event_dir)
        span_names = {s["name"] for s in tr.spans}

        def task(names, field):
            return sum(groups.get(n, {}).get(field, 0.0) for n in names)

        corpus_spans = [n for n in span_names if n.startswith("corpus")]
        scoring_spans = [n for n in span_names if n.startswith("scoring")]
        query_spans = [n for n in span_names if n.startswith("queries.")]
        v.update(
            {
                "features.wall_s": tr.wall("features"),
                "features.task_cpu_s": task(["features"], "task_cpu_s"),
                "features.shuffle_write_mb": task(["features"], "shuffle_write_mb"),
                "corpus.wall_s": tr.wall("corpus"),
                "corpus.coauthor_stats_s": tr.wall("corpus.coauthor_stats"),
                "corpus.key_ambiguity_s": tr.wall("corpus.key_ambiguity"),
                "corpus.term_name_stats_s": tr.wall("corpus.term_name_stats"),
                "corpus.tool_simi_s": tr.wall("corpus.tool_simi"),
                "corpus.prune_s": tr.wall("corpus.prune"),
                "corpus.task_cpu_s": task(corpus_spans, "task_cpu_s"),
                "blocking.wall_s": tr.wall("blocking"),
                "blocking.shuffle_write_mb": task(["blocking"], "shuffle_write_mb"),
                "scoring.small_wall_s": tr.wall("scoring.small"),
                "scoring.big_wall_s": tr.wall("scoring.big"),
                "scoring.python_mb": max(
                    [s["python_mb"] for s in tr.spans if s["name"] in scoring_spans] or [0.0]
                ),
                "scoring.shuffle_mb": task(scoring_spans, "shuffle_write_mb"),
                "scoring.spill_mb": task(scoring_spans, "spill_mb"),
                "scoring.task_cpu_s": task(scoring_spans, "task_cpu_s"),
                "cluster.wall_s": tr.wall("cluster"),
                "cluster.tasks": task(["cluster"], "tasks"),
                "checkpoint.flush_wait_s": tr.wall("checkpoint.flush"),
                "checkpoint.read_s": tr.wall("checkpoint.read"),
                "streaming.wall_s": tr.wall("streaming"),
                "queries.task_cpu_s": task(query_spans, "task_cpu_s"),
                "queries.shuffle_write_mb": task(query_spans, "shuffle_write_mb"),
                "taxonomy.edges_s": tr.wall("taxonomy.edges"),
                "taxonomy.closure_s": tr.wall("taxonomy.closure"),
                "taxonomy.attenuation_s": tr.wall("taxonomy.attenuation"),
                "taxonomy.lcs_s": tr.wall("taxonomy.lcs"),
                "memory.peak_mb": max(s["memory_mb"] for s in tr.spans),
                "trace.wall_s": self.wall,
                "trace.overhead_s": self.wall - v["trace.untraced_wall_s"],
            }
        )
        for name in query_spans:
            v[f"{name}_s"] = tr.wall(name)
        for field in TASK_FIELDS:
            v[f"spark.{field}"] = task(span_names, field)
        # the traced iteration's top-level spans run back to back; their
        # self times must account for its wall time
        in_iteration = [s for s in tr.spans if s["parent"] is None
                        and s["name"] not in ("checkpoint.read", "streaming")]
        v["trace.span_coverage"] = sum(s["wall_s"] for s in in_iteration) / self.wall
        self.check_complete(span_names)
        self.print_spans(groups)
        return {m["name"]: {"value": float(v.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in per_layer}

    def check_complete(self, span_names: set[str]) -> None:
        wl, v = self.wl, self.values
        if not 0.95 <= v["trace.span_coverage"] <= 1.0001:
            wl.fail(
                f"span self times cover {v['trace.span_coverage']:.3f} of the traced wall time"
            )
        own = {"skewed": ("streaming",), "registry": ("taxonomy.", "queries.")}
        for workload, prefixes in own.items():
            present = [n for n in span_names if n.startswith(prefixes)]
            if (workload == wl.name) != bool(present):
                state = "missing" if workload == wl.name else "present"
                wl.fail(f"{prefixes} spans {state} on {wl.name}")
        if wl.name == "skewed" and not (
            v["blocking.candidate_pairs"] > v["scoring.small_pairs"]
        ):
            wl.fail("big-block route should do most of the scoring work on skewed")

    def print_spans(self, groups: dict) -> None:
        print(
            "# span                         wall_s   self_s  "
            + " ".join(f"{f:>14}" for f in TASK_FIELDS)
        )
        for s in sorted(self.tr.spans, key=lambda s: s["start"]):
            g = groups.get(s["name"], {})
            print(
                f"# {s['name']:<28} {s['wall_s']:7.3f} {s['wall_s'] - s['children_s']:7.3f}  "
                + " ".join(f"{g.get(f, 0):14.3f}" for f in TASK_FIELDS),
                flush=True,
            )


def parse_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per Spark job group from the event log(s)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for fn in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id", "untraced"
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = out.setdefault(
                        stage_group.get(ev["Stage ID"], "untraced"),
                        dict.fromkeys(TASK_FIELDS, 0.0),
                    )
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    g["tasks"] += 1
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 2**20
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    g["records_in"] += m.get("Input Metrics", {}).get(
                        "Records Read", 0
                    ) + sr.get("Total Records Read", 0)
                    g["records_out"] += m.get("Output Metrics", {}).get(
                        "Records Written", 0
                    ) + sw.get("Shuffle Records Written", 0)
    return out
