"""Iterative transitive-closure clustering (SURVEY.md §7 M4).

Replaces the reference's sequential agglomerative loop (`agglomerative`,
NLPUtil.pm:3760-3883) with the north rule's prescription: edges above
threshold → alternating **large-star / small-star** connected components
(Kiveris et al., "Connected Components in MapReduce and Beyond") — each
round two shuffles on the node key, O(log n) rounds, order-independent and
therefore deterministic under any parallelism.

Each round is checkpointed through CheckpointStore (parquet snapshot with
``_SUCCESS`` commit marker + per-partition lineage/metrics rows); resume
re-enters at the last complete round, or returns it outright when it carries
the convergence marker (FIXTURES.md §5.4).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from namedis_spark.sources.checkpoint import CheckpointStore


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(neighbors ∪ {u}); emit (v, m) for every
    strict neighbor v > u."""
    nbrs = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    m = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    m = m.select("u", F.least("mv", "u").alias("m"))
    # no trailing distinct: duplicate (v, m) rows collapse map-side in
    # small_star's groupBy(min) anyway, and the round's final distinct
    # dedups — dropping it removes one full shuffle per CC round
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _contract_local(edges: DataFrame) -> DataFrame:
    """Partition-local contraction: replace each partition's edge set with
    its local star graph (node → partition-local component min).

    Exactness: contraction only collapses paths the star rounds would have
    collapsed anyway, so the global component structure is unchanged — but
    the rounds start from a near-star graph and converge in ~1 round
    instead of O(log diameter), and each round's input is ~#nodes rows
    instead of #edges. The local representative is the component's MIN NODE
    ID (computed via one argsort + np.unique, no string groupby): the local
    star is then already in the star rounds' canonical form, so a
    fully-local component is a fixpoint immediately and only components
    spanning partitions consume rounds. Deterministic regardless of
    intra-partition arrival order. Vectorized end-to-end (factorize + numpy
    label propagation with pointer jumping), no per-row Python.
    """
    import numpy as np
    import pandas as pd

    def contract(batches):
        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.append(pdf["src"])
            dsts.append(pdf["dst"])
        if not srcs:
            yield pd.DataFrame({"src": pd.Series(dtype=object),
                                "dst": pd.Series(dtype=object)})
            return
        src = pd.concat(srcs, ignore_index=True)
        dst = pd.concat(dsts, ignore_index=True)
        codes, uniques = pd.factorize(pd.concat([src, dst], ignore_index=True))
        n = len(uniques)
        m = len(src)
        cs, cd = codes[:m], codes[m:]
        lab = np.arange(n, dtype=np.int64)
        while True:
            prev = lab
            # relax every edge toward the smaller label, both directions
            emin = np.minimum(lab[cs], lab[cd])
            lab = lab.copy()
            np.minimum.at(lab, cs, emin)
            np.minimum.at(lab, cd, emin)
            # pointer jumping: collapse label chains to roots
            while True:
                nxt = lab[lab]
                if np.array_equal(nxt, lab):
                    break
                lab = nxt
            if np.array_equal(lab, prev):
                break
        uniq = np.asarray(uniques, dtype=object)
        # canonicalize each component's representative to its min node id:
        # in string-sorted node order, the first occurrence of each label
        # is that component's minimum
        order = np.argsort(uniq, kind="stable")
        _, first = np.unique(lab[order], return_index=True)
        rep_of_label = np.empty(n, dtype=np.int64)
        rep_of_label[lab[order[first]]] = order[first]
        rep = rep_of_label[lab]
        keep = rep != np.arange(n, dtype=np.int64)
        yield pd.DataFrame({"src": uniq[keep], "dst": uniq[rep[keep]]})

    return edges.repartition("src").mapInPandas(contract, "src string, dst string")


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint; for each node u with
    smaller neighbors N: m = min(N ∪ {u}); emit (v, m) for v ∈ N ∪ {u},
    v ≠ m."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    pairs = (
        oriented.join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .unionAll(m.select(F.col("u").alias("src"), F.col("m").alias("dst")))
    )
    return pairs.where(F.col("src") != F.col("dst")).distinct()


def _is_star(edges: DataFrame) -> bool:
    """True iff the edge set is a canonical min-rooted star forest — the
    large-star/small-star fixpoint: every src unique, no node is both a
    src and a dst, every edge points downward (dst < src). One small
    aggregation job, used to skip the confirmation round when the edge
    count has stabilized but the checksum still moved (the final round
    typically only re-points a few leaves)."""
    nodes = edges.select(
        F.col("src").alias("x"),
        F.lit(1).alias("s"),
        F.when(F.col("dst") >= F.col("src"), 1).otherwise(0).alias("up"),
    ).unionAll(
        edges.select(F.col("dst").alias("x"), F.lit(0).alias("s"), F.lit(0).alias("up"))
    )
    bad = (
        nodes.groupBy("x")
        .agg(
            F.sum("s").alias("ns"),
            F.count(F.lit(1)).alias("nt"),
            F.sum("up").alias("nu"),
        )
        .where(
            (F.col("ns") > 1)
            | ((F.col("ns") > 0) & (F.col("nt") > F.col("ns")))
            | (F.col("nu") > 0)
        )
    )
    return bad.limit(1).count() == 0


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    store: CheckpointStore | None = None,
    name: str = "cc",
    max_rounds: int = 50,
    resume: bool = False,
    probe_fixpoint: bool = True,
) -> DataFrame:
    """edges(src, dst) → assignment (node, cluster_id) where cluster_id is
    the component's minimum node id.

    With ``store``, every round's edge state is a committed snapshot;
    ``resume=True`` re-enters at the last complete round and — because each
    round is a pure function of the previous snapshot — yields byte-identical
    final assignments after any kill point. The round the loop converged at
    is marked once its snapshot has landed; resuming at a marked round
    returns it as-is (no round, no star probe, no Spark job).
    """
    e = edges.select(
        F.col("src").cast("string"), F.col("dst").cast("string")
    ).where(F.col("src") != F.col("dst"))

    start_round = 0
    resumed = False
    if store is not None and resume:
        latest = store.latest_round(name)
        if latest is not None:
            e = store.read_round(name, latest)
            if store.is_converged(name, latest):
                return e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
            start_round = latest + 1
            resumed = True
    import os
    import sys
    import time

    profile = bool(os.environ.get("SPARK_GRAFT_PROFILE"))

    if not resumed:
        # local contraction absorbs the initial distinct (union-find dedups
        # implicitly) and hands the rounds a near-star graph; eager
        # checkpoint: the star round references its input several times and
        # must not re-run the Python contraction per reference
        t0 = time.time()
        # two passes: the first collapses each hash partition's subgraph to
        # local stars; the second re-co-locates by src, so a node that
        # appeared in several partitions (and so carries edges to several
        # local representatives) bridges those stars. One extra shuffle of
        # ~#nodes rows buys the star rounds a graph that is already near its
        # fixpoint — typically two rounds (apply + verify) regardless of the
        # original diameter.
        e = _contract_local(_contract_local(e)).localCheckpoint(eager=True)
        if profile:
            print(f"# cc.contract: {time.time() - t0:.2f}s", file=sys.stderr)

    def _stats(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    # convergence = identical (count, xor-of-xxhash64 checksum) of the
    # distinct edge set across rounds — piggybacked on the per-round
    # metrics job instead of extra exceptAll shuffles (collision odds
    # ~2^-64; the edge sets are already distinct)
    prev = None
    converged = None  # the round the loop reached its fixpoint at
    for k in range(start_round, max_rounds):
        t0 = time.time()
        new_e = _small_star(_large_star(e))
        if store is not None:
            # non-blocking: the round is materialized (and its convergence
            # checksum observed) in one job; its parquet snapshot lands in
            # the background — the next round starts immediately from the
            # in-memory checkpointed edges.
            new_e, cur = store.write_round(
                name,
                k,
                new_e,
                lineage={"op": "large_star+small_star", "prev_round": k - 1},
                stat_cols=["src", "dst"],
                blocking=False,
            )
        else:
            new_e = new_e.localCheckpoint(eager=True)
            cur = _stats(new_e)
        e = new_e
        if profile:
            print(
                f"# cc.round{k}: {time.time() - t0:.2f}s n={cur[0]}",
                file=sys.stderr,
            )
        if cur == prev:
            converged = k
            break
        near_stable = prev is None or abs(prev[0] - cur[0]) <= max(
            64, prev[0] // 1000
        )
        if probe_fixpoint and near_stable and _is_star(e):
            # Probe whether the graph is already a canonical star forest
            # and skip the no-op confirmation round. Probed on round 0
            # (contraction usually hands the rounds an already-star graph)
            # and on NEAR-stable rounds — count unchanged or moved <0.1%
            # (the final productive round typically re-points only a few
            # leaves, so the count moves by single digits while the
            # checksum changes; the old exact-equality gate missed it and
            # paid a full confirmation round). Skipped on rounds whose
            # edge count is still genuinely shrinking — one fewer serial
            # aggregation job per such round, and the probe almost never
            # fires there.
            if profile:
                print(f"# cc.star_fixpoint after round {k}", file=sys.stderr)
            converged = k
            break
        prev = cur

    if store is not None:
        store.flush()  # join async per-round lineage/metrics writes
        if converged is not None:
            # after flush: the round's snapshot (an overwrite) has landed
            store.mark_converged(name, converged)
    # star graph: every src points at its component min (dst)
    return e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))


def assignments_from_edges(
    spark: SparkSession,
    features: DataFrame,
    edges: DataFrame,
    store: CheckpointStore | None = None,
    resume: bool = False,
) -> DataFrame:
    """Full assignment table: every conversation gets a cluster_id; nodes
    untouched by any edge are singleton clusters (clust.pl:920-923
    singleton init)."""
    cc = connected_components(
        spark,
        edges.select(F.col("conv_id1").alias("src"), F.col("conv_id2").alias("dst")),
        store=store,
        resume=resume,
    )
    return (
        features.select("block_key", F.col("conv_id").alias("node"))
        .join(cc, "node", "left")
        .select(
            "block_key",
            F.col("node").alias("conv_id"),
            F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id"),
        )
    )
