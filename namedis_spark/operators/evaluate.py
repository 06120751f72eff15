"""Pairwise precision/recall/F1 evaluation (calcPerf, clust.pl:727-836).

Join-based pair counting — never materializes pairs:
  predicted pairs  = Σ_clusters C(n,2)
  truth pairs      = Σ_entities C(n,2)           (clust.pl:621-625)
  correct pairs    = Σ_(cluster,entity) C(n,2)
  P = correct/predicted, R = correct/truth, F1 = 2PR/(P+R)  (NLPUtil.pm:815)

Macro-average across blocks mirrors batchCluster (clust.pl:389-435).
Evaluation stays strictly within identical blocking keys (FIXTURES.md §5.3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from namedis_spark.state import tracked_persist


def _nc2(col):
    return (F.col(col) * (F.col(col) - 1) / 2).cast("double")


def pairwise_prf(assignments: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-block pairwise P/R/F1.

    assignments: (block_key, conv_id, cluster_id)
    labels:      (block_key, conv_id, entity_id)
    """
    joined = assignments.join(labels, ["block_key", "conv_id"])

    pred = (
        joined.groupBy("block_key", "cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("block_key")
        .agg(F.sum(_nc2("n")).alias("pred_pairs"))
    )
    truth = (
        joined.groupBy("block_key", "entity_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("block_key")
        .agg(F.sum(_nc2("n")).alias("truth_pairs"))
    )
    correct = (
        joined.groupBy("block_key", "cluster_id", "entity_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("block_key")
        .agg(F.sum(_nc2("n")).alias("correct_pairs"))
    )

    out = (
        pred.join(truth, "block_key")
        .join(correct, "block_key")
        .withColumn(
            "precision",
            F.when(F.col("pred_pairs") > 0, F.col("correct_pairs") / F.col("pred_pairs")).otherwise(1.0),
        )
        .withColumn(
            "recall",
            F.when(F.col("truth_pairs") > 0, F.col("correct_pairs") / F.col("truth_pairs")).otherwise(1.0),
        )
        .withColumn(
            "f1",
            F.when(
                (F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
            ).otherwise(0.0),
        )
    )
    return out.select(
        "block_key", "pred_pairs", "truth_pairs", "correct_pairs",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def align_external(
    corpus_keys: DataFrame, external: DataFrame, labels: DataFrame
) -> DataFrame:
    """Competitor-alignment scoring (alignarnet.pl / align-distinct.pl in
    competitors-scripts/ — the scoring half; the DBLP-specific format
    converters are out of scope): an external system's clustering arrives
    keyed by record CONTENT (the title-year analog), not by our internal
    conv ids. Align the two sides on the content key — keys duplicated on
    EITHER side are unalignable (the reference tracks duplicate
    title-years and can only count-match them, alignarnet.pl:50-54) and
    are excluded from scoring but kept in the accounting — then
    pairwise-score the external clusters against groundtruth on the
    matched subset: precision over the external system's pairs, recall
    over matched groundtruth pairs (alignarnet.pl:36-47).

    corpus_keys: (block_key, conv_id, key)
    external:    (key, ext_cluster)
    labels:      (block_key, conv_id, entity_id)

    Returns per block: n_records, n_matched, pred/truth/correct pairs and
    P/R/F1 over the matched subset (1.0/1.0/1.0 for blocks with no
    alignable pairs, matching ``pairwise_prf``'s empty-denominator
    convention). Join-based pair counting throughout — no pair
    materialization, scales like ``pairwise_prf``.
    """
    ck = (
        corpus_keys.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("nc"),
            F.min("block_key").alias("block_key"),
            F.min("conv_id").alias("conv_id"),
        )
        .where(F.col("nc") == 1)
    )
    ex = (
        external.groupBy("key")
        .agg(F.count(F.lit(1)).alias("ne"), F.min("ext_cluster").alias("ext_cluster"))
        .where(F.col("ne") == 1)
    )
    matched = ck.join(ex, "key").select(
        "block_key", "conv_id", F.col("ext_cluster").alias("cluster_id")
    )
    prf = pairwise_prf(matched, labels)
    acct = (
        corpus_keys.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .join(
            matched.groupBy("block_key").agg(F.count(F.lit(1)).alias("n_matched")),
            "block_key",
            "left",
        )
        .withColumn("n_matched", F.coalesce("n_matched", F.lit(0)))
    )
    return acct.join(prf, "block_key", "left").select(
        "block_key",
        "n_records",
        "n_matched",
        F.coalesce("pred_pairs", F.lit(0.0)).alias("pred_pairs"),
        F.coalesce("truth_pairs", F.lit(0.0)).alias("truth_pairs"),
        F.coalesce("correct_pairs", F.lit(0.0)).alias("correct_pairs"),
        F.coalesce("precision", F.lit(1.0)).alias("precision"),
        F.coalesce("recall", F.lit(1.0)).alias("recall"),
        F.coalesce("f1", F.lit(1.0)).alias("f1"),
    )


def result_stat(prf: DataFrame) -> DataFrame:
    """Cross-run result comparison (resultstat.pl:98-268).

    Input ``prf``: one row per (run_id, name, thres, precision, recall) —
    the per-name threshold-sweep performance records of several result
    runs (the reference parses these from DISTINCT-format result files,
    resultstat.pl:110-146).

    Reference semantics, faithfully:

    * per (name, thres): precision/recall averaged across runs, and F1
      computed PER RUN then averaged ("avg-f1", resultstat.pl:131-135,
      168-179);
    * per thres: macro P/R/F1 = mean of the per-name averages over all
      names (resultstat.pl:211-223); micro-F1 = f1(macro_p, macro_r)
      (resultstat.pl:227, the reference's naming);
    * best unified threshold = argmax of macro-F1 (resultstat.pl:236,
      ties broken toward the smaller threshold, rounded to 6 so both
      engines pick identically);
    * output: per-name rows at the best threshold (resultstat.pl:241-253)
      plus ``__MACRO__`` / ``__MICRO__`` summary rows (the "Average
      (macro-F1)" / "(micro-F1)" footer lines, resultstat.pl:255-262).
    """

    def f1_of(pcol, rcol):
        return F.when(
            (F.col(pcol) + F.col(rcol)) > 0,
            2 * F.col(pcol) * F.col(rcol) / (F.col(pcol) + F.col(rcol)),
        ).otherwise(0.0)

    per_run = prf.withColumn("f1", f1_of("precision", "recall"))
    by_name = per_run.groupBy("name", "thres").agg(
        F.avg("precision").alias("p"),
        F.avg("recall").alias("r"),
        F.avg("f1").alias("f1"),
    )
    by_thres = (
        by_name.groupBy("thres")
        .agg(
            F.avg("p").alias("macro_p"),
            F.avg("r").alias("macro_r"),
            F.avg("f1").alias("macro_f1"),
        )
        .withColumn("micro_f1", f1_of("macro_p", "macro_r"))
    )
    # referenced three times below (thres filter + two summary rows)
    best = tracked_persist(
        by_thres.orderBy(F.desc(F.round("macro_f1", 6)), F.asc("thres")).limit(1)
    )
    names_at_best = by_name.join(F.broadcast(best.select("thres")), "thres").select(
        "name",
        "thres",
        F.round("p", 6).alias("p"),
        F.round("r", 6).alias("r"),
        F.round("f1", 6).alias("f1"),
    )
    summary = best.select(
        F.lit("__MACRO__").alias("name"),
        "thres",
        F.round("macro_p", 6).alias("p"),
        F.round("macro_r", 6).alias("r"),
        F.round("macro_f1", 6).alias("f1"),
    ).unionByName(
        best.select(
            F.lit("__MICRO__").alias("name"),
            "thres",
            F.round("macro_p", 6).alias("p"),
            F.round("macro_r", 6).alias("r"),
            F.round("micro_f1", 6).alias("f1"),
        )
    )
    return names_at_best.unionByName(summary)


def macro_micro(prf: DataFrame) -> dict:
    """Macro (mean of per-block) and micro (pooled pair counts) P/R/F1."""
    row = prf.agg(
        F.avg("precision").alias("macro_p"),
        F.avg("recall").alias("macro_r"),
        F.avg("f1").alias("macro_f1"),
        F.sum("pred_pairs").alias("pp"),
        F.sum("truth_pairs").alias("tp"),
        F.sum("correct_pairs").alias("cp"),
    ).collect()[0]
    micro_p = row["cp"] / row["pp"] if row["pp"] else 1.0
    micro_r = row["cp"] / row["tp"] if row["tp"] else 1.0
    micro_f1 = 2 * micro_p * micro_r / (micro_p + micro_r) if micro_p + micro_r else 0.0
    return {
        "macro_p": row["macro_p"], "macro_r": row["macro_r"], "macro_f1": row["macro_f1"],
        "micro_p": micro_p, "micro_r": micro_r, "micro_f1": micro_f1,
    }
