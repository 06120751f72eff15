"""Blocking + candidate-pair generation (SURVEY.md §7 M2).

The reference clusters strictly within one ambiguous name's pub set
(clust.pl:895-896); our blocking key is the normalized focus-speaker name.
Big blocks (more than ``ScoringParams.small_block_size`` conversations) get
candidate pairs from two evidence sources, unioned and deduped:

1. **shared-coauthor equi-join** — the reference's stage-1 trigger
   (mergeSharingCoauthor, NLPUtil.pm:3904-3941): explode (conv, coauthor),
   self-join on (block_key, coauthor). Coauthors whose within-block document
   frequency exceeds ``max_evidence_df`` are excluded from pair *generation*
   (skew guard, the analog of TOKEN_MAX_MATCH_TERMS, ConceptNet.pm:33) —
   they still participate in scoring.
2. **shared-rare-term equi-join** — stage-2 recall: terms with within-block
   df ≤ ``max_evidence_df``.

Small blocks need no pair table. ``block_pair_grid``, this module's one
within-block all-pairs primitive, salts their rows into a 2-D bucket grid
(Hyper Dimension Shuffle, VLDB 2019) and enumerates each pair once behind
one Arrow-batched Python boundary. ``scoring.score_blocks_exhaustive`` and
the registry's CSLR/Jaccard/Jaro-Winkler pair queries call it.

At 10^12 turns the evidence joins are the scale path: pair count grows with
Σ df² per evidence key (bounded by the df cap), not with block size².
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Rows per block_pair_grid bucket. A module constant, not an option: tests
# shrink it to force cross-bucket cells on small fixtures.
BUCKET_ROWS = 96


def _canonical_pairs(df: DataFrame) -> DataFrame:
    """Keep one row per unordered pair: conv_id1 < conv_id2
    (symmetric-pair dedup, NLPUtil.pm:3814-3815)."""
    return df.where(F.col("conv_id1") < F.col("conv_id2"))


def evidence_pairs(
    features: DataFrame,
    max_evidence_df: int = 50,
    min_shared_coauthors: int = 1,
) -> DataFrame:
    """Candidate pairs sharing >= 1 coauthor or >= 1 rare term within the
    same block. Returns (block_key, conv_id1, conv_id2, n_shared_coauthors,
    n_shared_terms)."""
    co = features.select(
        "block_key", "conv_id", F.explode("coauthors").alias("ev")
    ).withColumn("kind", F.lit("c"))
    te = features.select(
        "block_key", "conv_id", F.explode(F.map_keys("term_freq")).alias("ev")
    ).withColumn("kind", F.lit("t"))
    ev = co.unionByName(te)

    # within-block evidence-key document frequency cap: hot keys (a coauthor
    # or term present in most of the block) generate O(df²) pairs and no
    # discriminative signal — drop them from pair generation.
    df_counts = ev.groupBy("block_key", "ev", "kind").agg(
        F.count(F.lit(1)).alias("df")
    )
    ev = ev.join(
        df_counts.where(F.col("df") <= max_evidence_df).select("block_key", "ev", "kind"),
        ["block_key", "ev", "kind"],
    )

    a = ev.select("block_key", "ev", "kind", F.col("conv_id").alias("conv_id1"))
    b = ev.select("block_key", "ev", "kind", F.col("conv_id").alias("conv_id2"))
    pairs = _canonical_pairs(a.join(b, ["block_key", "ev", "kind"]))

    agg = pairs.groupBy("block_key", "conv_id1", "conv_id2").agg(
        F.sum(F.when(F.col("kind") == "c", 1).otherwise(0)).alias("n_shared_coauthors"),
        F.sum(F.when(F.col("kind") == "t", 1).otherwise(0)).alias("n_shared_terms"),
    )
    return agg.where(
        (F.col("n_shared_coauthors") >= min_shared_coauthors)
        | (F.col("n_shared_terms") >= 1)
    )


def _replicate_to_grid(rows: DataFrame, nb, id_col: str) -> DataFrame:
    """Salted 2-D bucket grid: each row hashes (on ``id_col``) into bucket
    ``b`` of its block's ``nb`` and replicates to the ``nb`` cells
    (least(b, j), greatest(b, j)), j in [0, nb), its bucket touches — so
    every unordered bucket pair of a block meets in exactly one bi ≤ bj
    cell. Adds columns b, bi, bj."""
    return (
        rows.withColumn("b", F.pmod(F.xxhash64(id_col), nb).cast("int"))
        .withColumn("j", F.explode(F.sequence(F.lit(0), nb - 1)))
        .withColumn("bi", F.least(F.col("b"), F.col("j")))
        .withColumn("bj", F.greatest(F.col("b"), F.col("j")))
        .drop("j")
    )


def block_pair_grid(
    rows: DataFrame,
    sizes: DataFrame,
    id_col: str,
    kernel: Callable[[pd.DataFrame, np.ndarray, np.ndarray], pd.DataFrame],
    schema,
) -> DataFrame:
    """Every within-block pair of ``rows`` exactly once, scored by ``kernel``.

    ``rows`` carry ``block_key`` and an ``id_col`` unique within the block;
    ``sizes`` holds (block_key, n) for the blocks to enumerate. A block
    hashes into ceil(n / BUCKET_ROWS) buckets (``_replicate_to_grid``) and
    one ``groupBy(block_key, bi, bj).applyInPandas`` enumerates each cell:
    ``triu`` inside a bucket, the cross product between buckets, swapped so
    that id1 < id2. ``kernel(cell_rows, i1, i2)`` gets the cell's rows and
    the pairs' positional indices and returns the ``schema`` columns after
    ``block_key``; a cell without pairs returns an empty frame."""
    nb = F.ceil(F.col("n") / F.lit(BUCKET_ROWS)).cast("int")
    grid = _replicate_to_grid(
        rows.join(F.broadcast(sizes), "block_key"), nb, id_col
    ).drop("n")

    def cell(key, pdf):
        bi, bj = int(key[1]), int(key[2])
        b = pdf["b"].to_numpy()
        m1 = np.flatnonzero(b == bi)
        if bi == bj:
            ii, jj = np.triu_indices(m1.size, k=1)
            i1, i2 = m1[ii], m1[jj]
        else:
            m2 = np.flatnonzero(b == bj)
            i1, i2 = np.repeat(m1, m2.size), np.tile(m2, m1.size)
        if i1.size == 0:
            return pd.DataFrame()
        ids = pdf[id_col].to_numpy()
        swap = ids[i1] > ids[i2]
        i1, i2 = np.where(swap, i2, i1), np.where(swap, i1, i2)
        out = kernel(pdf, i1, i2)
        out.insert(0, "block_key", key[0])
        return out

    return grid.groupBy("block_key", "bi", "bj").applyInPandas(cell, schema=schema)
