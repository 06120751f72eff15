"""End-to-end resumable entity-resolution pipeline (SURVEY.md §7).

transcripts → features → side tables → blocking → pair scoring → edges →
connected components (checkpointed rounds) → assignments [→ evaluation].

Stage boundaries are checkpoint snapshots, mirroring EP1's staged outputs
(clust.pl:326-435: *-c1.txt / *-c2.txt per stage). `run(resume=True)`
re-enters at the last committed boundary and reruns only what follows it:

- ``assignments`` committed: every snapshot is returned, read lazily; no
  Spark job runs and nothing is written.
- ``cc`` round committed: if it carries the convergence marker, the
  assignments are derived from it directly; otherwise the star rounds
  continue from it. Features and scores are read from their snapshots.
- ``seed_merge`` committed (seeded runs): it is read, not recomputed.
- ``scored`` committed: the side-table phase (block sizes, author hits,
  coauthor stats, ambiguity, term/name stats, tool similarity) and the
  evidence pairs are skipped; they only feed scoring.
- ``features`` committed: the side tables and scoring rerun from it.

A committed snapshot is never rewritten by a resume. Every run records an
input fingerprint (transcript files with their canonical plan hash, or the
in-process plan hash; schema, scoring params, ambiguity rounds, seeds
on/off) in the store's ``manifest.json``; a resume whose fingerprint
differs, or a store holding snapshots but no manifest, is refused with
``ResumeMismatchError`` instead of silently mixing inputs. A fresh run
clears the stage snapshots it finds, so no stale round can be resumed
later.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

import pyspark.sql.functions as F

from namedis_spark.operators import corpus
from namedis_spark.operators.blocking import evidence_pairs
from namedis_spark.operators.cluster import assignments_from_edges
from namedis_spark.operators.evaluate import macro_micro, pairwise_prf
from namedis_spark.operators.features import conversation_features
from namedis_spark.operators.scoring import (
    EMIT_FLOOR_FRAC,
    ScoringParams,
    SideTables,
    edges_above_threshold,
    prepare_scoring,
    score_blocks_exhaustive,
    score_pairs_grouped,
)
from namedis_spark.sources.checkpoint import MANIFEST, CheckpointStore
from namedis_spark.state import file_identity

# the snapshots a run writes, in pipeline order
STAGES = ("features", "scored", "seed_merge", "cc", "assignments")


class ResumeMismatchError(ValueError):
    """A resume was asked of a store written for other inputs or params."""


@dataclass
class PipelineResult:
    features: DataFrame
    scored_pairs: DataFrame
    assignments: DataFrame
    metrics: dict | None = None
    # the committed boundary a resume re-entered at: "assignments",
    # "cc:<round>", "seed_merge", "scored" or "features"; None when
    # nothing was resumed
    resumed_from: str | None = None


def input_fingerprint(
    transcripts: DataFrame,
    params: ScoringParams,
    ambiguity_rounds: int,
    seeded: bool,
) -> dict:
    """What a run's snapshots are computed from, as stored in the manifest.

    File-backed transcripts are identified by (path, size, mtime) of the
    files their plan reads plus the SHA-256 of the canonicalized analyzed
    plan, so a filter or projection on top of the file scan changes the
    fingerprint; both are stable across driver processes. Other inputs are
    identified by the plan's ``semanticHash()``, which holds only within
    one driver process. Runs no Spark job: the file list comes from the
    already-resolved file index, the stats from ``state.file_identity``
    (the Hadoop filesystem client) and the plan from the analyzer."""
    files = transcripts.inputFiles()
    if files:
        plan = transcripts._jdf.queryExecution().analyzed().canonicalized().toString()
        source = {
            "files": file_identity(transcripts.sparkSession, files),
            "plan_sha256": hashlib.sha256(plan.encode()).hexdigest(),
        }
    else:
        source = transcripts.semanticHash()
    fp = {
        "transcripts": source,
        "schema": transcripts.schema.jsonValue(),
        "params": dataclasses.asdict(params),
        "ambiguity_rounds": ambiguity_rounds,
        "seeded": seeded,
    }
    return json.loads(json.dumps(fp))  # the form it reads back as


def _check_resumable(store: CheckpointStore, fingerprint: dict) -> None:
    manifest = store.read_manifest()
    if manifest is None:
        if store.has_rounds(STAGES):
            raise ResumeMismatchError(
                f"cannot resume from {store.root!r}: it holds pipeline "
                f"snapshots but no {MANIFEST}, so what they were computed "
                "from is unknown; run without resume to start over"
            )
        store.write_manifest(fingerprint)  # empty store: a fresh run
    elif manifest != fingerprint:
        diff = sorted(
            k for k in manifest.keys() | fingerprint.keys()
            if manifest.get(k) != fingerprint.get(k)
        )
        raise ResumeMismatchError(
            f"cannot resume from {store.root!r}: this run differs from its "
            f"{MANIFEST} in {', '.join(diff)}; run without resume to start over"
        )


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    checkpoint_dir: str,
    labels: DataFrame | None = None,
    params: ScoringParams | None = None,
    resume: bool = False,
    ambiguity_rounds: int = 3,
    seeds: DataFrame | None = None,
) -> PipelineResult:
    import os
    import sys
    import time

    profile = bool(os.environ.get("SPARK_GRAFT_PROFILE"))
    _t = time.time()

    def tick(stage: str) -> None:
        nonlocal _t
        if profile:
            print(f"# pipeline.{stage}: {time.time() - _t:.1f}s", file=sys.stderr)
        _t = time.time()

    params = params or ScoringParams()
    store = CheckpointStore(spark, checkpoint_dir)
    fingerprint = input_fingerprint(
        transcripts, params, ambiguity_rounds, seeds is not None
    )
    if resume:
        _check_resumable(store, fingerprint)
    else:
        store.clear(STAGES)
        store.write_manifest(fingerprint)
    # latest committed round per stage (all None on a fresh run)
    done = {name: store.latest_round(name) for name in STAGES}

    if all(done[s] is not None for s in ("features", "scored", "assignments")):
        # the whole run is committed: hand back its snapshots
        features = store.read_round("features", done["features"])
        scored = store.read_round("scored", done["scored"])
        assignments = store.read_round("assignments", done["assignments"])
        resumed_from = "assignments"
    else:
        resumed_from = next(
            (
                f"cc:{done[s]}" if s == "cc" else s
                for s in reversed(STAGES)
                if done[s] is not None
            ),
            None,
        )
        features, scored, assignments = _run_stages(
            spark, store, done, transcripts, params, resume, ambiguity_rounds,
            seeds, tick,
        )

    metrics = None
    if labels is not None:
        prf = pairwise_prf(assignments, labels)
        metrics = macro_micro(prf)

    store.flush()  # join async lineage/metrics writes
    tick("flush")

    return PipelineResult(
        features=features,
        scored_pairs=scored,
        assignments=assignments,
        metrics=metrics,
        resumed_from=resumed_from,
    )


def _run_stages(
    spark: SparkSession,
    store: CheckpointStore,
    done: dict,
    transcripts: DataFrame,
    params: ScoringParams,
    resume: bool,
    ambiguity_rounds: int,
    seeds: DataFrame | None,
    tick,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Every stage after the last committed one; committed stages are read
    from their snapshots. Returns (features, scored, assignments)."""
    # -- features (stage snapshot: resumable without recompute) ----------
    # n_convs rides the materialization action as an Observation (fresh
    # path) or comes from the committed snapshot's parquet footers (resume)
    # — either way it costs zero extra Spark jobs (it used to be a separate
    # aggregation job in the side-table stage).
    if done["features"] is not None:
        k = done["features"]
        features = store.read_round("features", k).persist()
        n_convs = store.round_row_count("features", k)
    else:
        features, (n_convs, _) = store.write_round(
            "features",
            0,
            conversation_features(transcripts),
            lineage={"op": "features"},
            stat_cols=["conv_id"],
            blocking=False,
        )
    tick("features")

    # -- side tables + blocking + scoring (stage snapshot) ----------------
    if done["scored"] is not None:
        scored = store.read_round("scored", done["scored"])
    else:
        scored = _score(
            spark, store, features, int(n_convs), params, ambiguity_rounds, tick
        )
    tick("blocking_scoring")

    # -- clustering (per-round snapshots inside) --------------------------
    if seeds is not None:
        # Groundtruth-seed pull (clust.pl:946-957): with seedClusterKeys
        # the reference SKIPS stage-1 coauthor merging —
        # seedMergeSharingCoauthor replaces it, fed with singleton per-pub
        # clusters (clust.pl:919-922 → :956) — and seeds can only merge
        # with each other through stage-2 similarity. Composition here
        # mirrors that: singleton ions enter the per-block greedy seed
        # merge; its verdict (seed pulls + the leftover
        # mergeSharingCoauthor fixpoint) enters the final closure as
        # mandatory hub edges, and the closure otherwise uses ONLY
        # score≥threshold edges (stage1-only edges are dropped, so two
        # DISTINCT human seed clusters sharing ≥2 coauthors are no longer
        # silently re-merged). seeds: (conv_id, seed_id). The merge table
        # (with its `ambiguous` labeling-aid flags) is snapshotted for
        # inspection. Plan unchanged when seeds is None.
        from namedis_spark.operators.seedmerge import seed_merge_sharing_coauthor

        if done["seed_merge"] is not None:
            seed_merged = store.read_round("seed_merge", done["seed_merge"])
        else:
            ion_assign = features.select(
                "conv_id", F.col("conv_id").alias("cluster_id")
            )
            seed_merged = seed_merge_sharing_coauthor(features, ion_assign, seeds)
            seed_merged = store.write_round(
                "seed_merge", 0, seed_merged, lineage={"op": "seed_merge"},
                blocking=False,
            )
        hubs = seed_merged.groupBy("cluster_id").agg(
            F.min("conv_id").alias("hub"), F.first("block_key").alias("block_key")
        )
        seed_edges = (
            seed_merged.join(hubs.select("cluster_id", "hub"), "cluster_id")
            .where(F.col("conv_id") != F.col("hub"))
            .select(
                "block_key",
                F.col("conv_id").alias("conv_id1"),
                F.col("hub").alias("conv_id2"),
            )
        )
        stage2_edges = scored.where(
            F.col("score") >= params.threshold
        ).select("block_key", "conv_id1", "conv_id2")
        edges = stage2_edges.unionByName(seed_edges)
    else:
        edges = edges_above_threshold(scored, params)
    assignments = assignments_from_edges(
        spark, features, edges, store=store, resume=resume
    )
    assignments = store.write_round(
        "assignments", 0, assignments, lineage={"op": "cc"}, blocking=False
    )
    tick("clustering")
    return features, scored, assignments


def _score(
    spark: SparkSession,
    store: CheckpointStore,
    features: DataFrame,
    n_convs: int,
    params: ScoringParams,
    ambiguity_rounds: int,
    tick,
) -> DataFrame:
    """Side tables (EP2 analog), blocking and pair scoring; returns the
    committed-on-flush ``scored`` snapshot."""
    import os
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    profile = bool(os.environ.get("SPARK_GRAFT_PROFILE"))

    # -- corpus side tables (EP2 analog) ----------------------------------
    # The five side-table jobs are independent; Spark schedules concurrent
    # jobs from separate driver threads, so their (small-data) latencies
    # overlap instead of adding up.
    # (features is already materialized + cached by the eager localCheckpoint
    # inside write_round — a persist().count() here would store and scan a
    # second copy.)
    # Candidate pairs are only *materialized* for big blocks (evidence
    # joins); small blocks are scored pair-table-free by
    # score_blocks_exhaustive below. Evidence-pair generation depends only
    # on features, not the side tables — run it concurrently with them.
    sizes = (
        features.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
    )
    big_keys = sizes.where(F.col("n") > params.small_block_size).select("block_key")
    big_feats = features.join(F.broadcast(big_keys), "block_key")
    pairs = evidence_pairs(big_feats, max_evidence_df=params.max_evidence_df).persist()

    # (author, conv) participation pairs feed the ambiguity name table
    hits = corpus.conv_author_hits(features).persist()

    def timed(tag, fn):
        if not profile:
            return fn
        def wrapped():
            t0 = time.time()
            out = fn()
            print(f"# side.{tag}: {time.time() - t0:.2f}s", file=sys.stderr)
            return out
        return wrapped

    # the coauthor aggregation (corpus-sized pair explode) is the heaviest
    # input of the prune step; materialize it CONCURRENTLY with the
    # ambiguity fixed-point loop so it is cache-warm when the prune's
    # significance filter needs it (it otherwise computes serially after
    # the loop — a measured chunk of the Amdahl floor)
    cn = corpus.coauthor_stats(features).persist()

    with ThreadPoolExecutor(max_workers=6) as ex:
        f_cn = ex.submit(timed("coauthor_stats", lambda: cn.count()))
        f_pairs = ex.submit(timed("pairs", lambda: pairs.count()))
        # Ambiguity fixed point: when the distinct-name universe fits the
        # documented driver bound (the common case — it is the same bound
        # the broadcast dicts rely on), ONE bounded pull + sub-ms numpy
        # iteration replaces ~4 barrier-latency Spark jobs per round; the
        # significance prune then also runs driver-side on the names-sized
        # tables (cn's OUTPUT is one row per name — only computing it is
        # corpus-sized). Past the bound, the fully-distributed loop + prune
        # run instead and the driver receives only the pruned dicts.
        f_amb = ex.submit(
            timed(
                "ambiguity_fixed_point",
                lambda: corpus.key_ambiguity_pdf_bounded(
                    features, rounds=ambiguity_rounds, hits=hits
                ),
            )
        )
        # idf/IC + name-part tables derive from ONE unioned explode+groupBy
        # job (both collects are vocab-/surface-sized; sharing the job
        # removes a scheduling barrier from the serial floor)
        f_terms = ex.submit(
            timed("term_name_stats", lambda: corpus.term_and_name_stats(features))
        )
        f_ts = ex.submit(timed("tool_simi", lambda: corpus.tool_simi(features).collect()))

        amb_pdf = f_amb.result()
        if amb_pdf is not None:
            # submitted only on the bounded branch: the distributed
            # fallback takes block keys as a DataFrame, so collecting
            # O(distinct block keys) Row objects to the driver in the
            # over-bound regime was pure waste (the exact regime the
            # 10M-name guard exists for)
            f_focus = ex.submit(lambda: sizes.select("block_key").collect())

            def _prune_local():
                f_cn.result()  # cn cache is warm; toPandas reads it
                focus = {r["block_key"] for r in f_focus.result()}
                return corpus.prune_evidence_tables(
                    amb_pdf, cn.toPandas(), focus, params.error_tolerance
                )

            f_side = ex.submit(timed("prune_local", _prune_local))
        else:
            f_side = ex.submit(
                timed(
                    "ambiguity_prune",
                    lambda: corpus.prune_evidence_tables_df(
                        corpus.key_ambiguity(
                            features, rounds=ambiguity_rounds, hits=hits
                        ),
                        cn,
                        sizes.select("block_key"),
                        params.error_tolerance,
                    ),
                )
            )
        pruned, (term_rows, name_part_lps), ts_rows = (
            f_side.result(), f_terms.result(), f_ts.result(),
        )
        f_pairs.result()
        f_cn.result()
    hits.unpersist()
    cn.unpersist()

    side = SideTables.from_stats(
        pruned, term_rows, int(n_convs), ts_rows, name_part_lps
    )
    tick("side_tables")

    # -- blocking + scoring (stage snapshot) ------------------------------
    # Two disjoint paths by block size (see score_blocks_exhaustive /
    # evidence_pairs): small blocks score all pairs in-worker with no pair
    # table; big (hot) blocks score only evidence-driven candidates.
    # both scorers read prep: persisted, its Python pass runs once
    prep = prepare_scoring(spark, features, side).persist()
    key_cols = ["block_key", "conv_id1", "conv_id2"]
    # The clustering path reads ONLY (stage1_mergeable, score) — the 12
    # diagnostic component columns are ~4/5 of the row and are only read
    # by verification queries, which invoke the scorers directly. Keeping
    # them off the scored-pair checkpoint matters: at 10^12 turns the
    # scored-pair table is the pipeline's biggest materialized
    # intermediate.
    score_cols = ["stage1_mergeable", "score"]
    small_scored = score_blocks_exhaustive(
        spark,
        prep,
        side,
        params,
        small_block_size=params.small_block_size,
        sizes=sizes,
    )
    big_prep = prep.join(F.broadcast(big_keys), "block_key")
    big_scored = score_pairs_grouped(spark, pairs, big_prep, side, params)
    emit_floor = EMIT_FLOOR_FRAC * params.threshold
    big_scored = big_scored.where(
        F.col("stage1_mergeable") | (F.col("score") >= emit_floor)
    )
    scored = small_scored.select(*key_cols, *score_cols).unionByName(
        big_scored.select(*key_cols, *score_cols)
    )
    scored = store.write_round(
        "scored", 0, scored, lineage={"op": "blocking+scoring"}, blocking=False
    )
    # scored is checkpointed (plan truncated) — the block-size, evidence-
    # pair and prep caches are fully consumed; release them so repeated
    # run() calls in one session (the bench loop) keep storage memory flat.
    sizes.unpersist()
    pairs.unpersist()
    prep.unpersist()
    return scored
