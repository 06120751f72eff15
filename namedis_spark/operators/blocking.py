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

Small blocks need no pair table: ``scoring.score_blocks_exhaustive`` scores
all their pairs inside the Python worker over a salted bucket grid.

At 10^12 turns the evidence joins are the scale path: pair count grows with
Σ df² per evidence key (bounded by the df cap), not with block size².
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


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
