"""Parity: the two scoring kernels ``pipeline._score`` runs must reproduce
the scalar oracle ``score_one_pair`` channel-for-channel on real generated
blocks, fed the side tables the pipeline builds:

* ``score_pairs_grouped`` over a big block's evidence pairs, with the
  bucket grid forced to salt;
* ``score_blocks_exhaustive`` over every small block, with at least three
  buckets per block, so cross-bucket cells where id order disagrees with
  bucket order are exercised.
"""

from __future__ import annotations

import math
from types import SimpleNamespace

import pytest

import pyspark.sql.functions as F

from namedis_spark.datagen import generate_transcripts
from namedis_spark.operators import blocking, corpus, scoring
from namedis_spark.operators.blocking import evidence_pairs
from namedis_spark.operators.features import conversation_features
from namedis_spark.operators.scoring import (
    ScoringParams,
    SideTables,
    prepare_scoring,
    score_blocks_exhaustive,
    score_one_pair,
    score_pairs_grouped,
)

KEY = ["block_key", "conv_id1", "conv_id2"]
BOOL_COLS = ["stage1_mergeable", "gate_passed"]
STR_COLS = ["stage1_reason"]
NUM_COLS = [
    "cslr_coauthor", "cslr_tool", "jw", "content_cos", "taxonomy_cos",
    "year_discount", "coauthor_boost", "ic_sum", "score",
]
# forced grid geometry (module constants of operators/scoring.py and
# operators/blocking.py)
TARGET_PAIRS = 200
MIN_SMALL_BUCKETS = 3


def _side_tables(f, n_convs: int, params: ScoringParams) -> SideTables:
    """The side tables as ``pipeline._score`` builds them when the name
    universe fits the driver bound (it does at this size)."""
    amb = corpus.key_ambiguity_pdf_bounded(
        f, rounds=3, hits=corpus.conv_author_hits(f)
    )
    assert amb is not None
    focus = {r["block_key"] for r in f.select("block_key").distinct().collect()}
    pruned = corpus.prune_evidence_tables(
        amb, corpus.coauthor_stats(f).toPandas(), focus, params.error_tolerance
    )
    term_rows, name_part_lps = corpus.term_and_name_stats(f)
    return SideTables.from_stats(
        pruned, term_rows, n_convs, corpus.tool_simi(f).collect(), name_part_lps
    )


def _oracle_kw(side: SideTables, params: ScoringParams) -> dict:
    return dict(
        ambig=side.ambig,
        cn_counts=side.cn_counts,
        ambig_sum_total=side.ambig_sum_total,
        idf=side.idf,
        tool_simi_map=side.tool_simi_map,
        cat_ic=side.cat_ic,
        params=params,
        n_docs=side.n_docs,
        max_df=side.max_df,
        surname_lp=side.surname_lp,
        given_lp=side.given_lp,
    )


def _by_key(df) -> dict:
    rows = [r.asDict() for r in df.collect()]
    out = {tuple(r[k] for k in KEY): r for r in rows}
    assert len(out) == len(rows), "a pair was emitted twice"
    return out


@pytest.fixture(scope="module")
def run(spark):
    t, _ = generate_transcripts(spark, n_blocks=3, seed=7, hot_blocks=1)
    f = conversation_features(t).persist()
    params = ScoringParams()
    feats = {r["conv_id"]: r.asDict() for r in f.collect()}
    side = _side_tables(f, len(feats), params)

    sizes_df = f.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
    sizes = {r["block_key"]: r["n"] for r in sizes_df.collect()}
    small = {k for k, n in sizes.items() if n <= params.small_block_size}
    big = set(sizes) - small
    assert small and big
    bucket_rows = min(sizes[k] for k in small) // MIN_SMALL_BUCKETS

    prep = prepare_scoring(spark, f, side).persist()
    pairs = evidence_pairs(
        f.where(F.col("block_key").isin(sorted(big))),
        max_evidence_df=params.max_evidence_df,
    ).persist()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(scoring, "TARGET_PAIRS_PER_GROUP", TARGET_PAIRS)
        mp.setattr(blocking, "BUCKET_ROWS", bucket_rows)
        grouped = score_pairs_grouped(spark, pairs, prep, side, params)
        exhaustive = score_blocks_exhaustive(
            spark, prep, side, params,
            small_block_size=params.small_block_size, sizes=sizes_df,
        )
    # the bucket score_blocks_exhaustive hashed each small-block conv into
    buckets = {
        r["conv_id"]: r["b"]
        for r in f.join(sizes_df, "block_key")
        .where(F.col("block_key").isin(sorted(small)))
        .select(
            "conv_id",
            F.pmod(
                F.xxhash64("conv_id"), F.ceil(F.col("n") / F.lit(bucket_rows))
            ).alias("b"),
        )
        .collect()
    }

    kw = _oracle_kw(side, params)

    def oracle(c1: str, c2: str) -> dict:
        return score_one_pair(feats[c1], feats[c2], **kw)

    by_block: dict[str, list[str]] = {}
    for cid, r in feats.items():
        by_block.setdefault(r["block_key"], []).append(cid)
    small_oracle = {}
    for bk in small:
        ids = sorted(by_block[bk])
        for i, c1 in enumerate(ids):
            for c2 in ids[i + 1:]:
                small_oracle[(bk, c1, c2)] = oracle(c1, c2)

    g = _by_key(grouped)
    return SimpleNamespace(
        params=params,
        sizes=sizes,
        small=small,
        bucket_rows=bucket_rows,
        buckets=buckets,
        pairs={tuple(r[k] for k in KEY) for r in pairs.collect()},
        grouped=g,
        grouped_oracle={k: oracle(k[1], k[2]) for k in g},
        exhaustive=_by_key(exhaustive),
        small_oracle=small_oracle,
    )


def _assert_same_channels(got: dict, want: dict) -> None:
    assert got.keys() <= want.keys()
    for k, rg in got.items():
        rw = want[k]
        for c in BOOL_COLS + STR_COLS:
            assert rg[c] == rw[c], (k, c, rg[c], rw[c])


def _assert_close_channels(got: dict, want: dict) -> None:
    for k, rg in got.items():
        rw = want[k]
        for c in NUM_COLS:
            a, b = rg[c], rw[c]
            assert a == pytest.approx(b, rel=1e-9, abs=1e-12), (k, c, a, b)


def test_same_pair_set(run):
    # grouped: every evidence pair of the big block comes back exactly once,
    # from a grid that really salted
    n_pairs = len(run.pairs)
    assert n_pairs > 200
    assert math.ceil(math.sqrt(2 * n_pairs / TARGET_PAIRS)) > 1
    assert set(run.grouped) == run.pairs
    # exhaustive: exactly the oracle's pairs that are stage-1 mergeable or
    # score at least EMIT_FLOOR_FRAC x threshold, over all pairs of the
    # small blocks
    floor = scoring.EMIT_FLOOR_FRAC * run.params.threshold
    want = {
        k for k, r in run.small_oracle.items()
        if r["stage1_mergeable"] or r["score"] >= floor
    }
    assert len(run.small_oracle) > 1000
    assert want and set(run.exhaustive) == want


def test_booleans_and_reasons_exact(run):
    _assert_same_channels(run.grouped, run.grouped_oracle)
    _assert_same_channels(run.exhaustive, run.small_oracle)


def test_numeric_channels_close(run):
    _assert_close_channels(run.grouped, run.grouped_oracle)
    _assert_close_channels(run.exhaustive, run.small_oracle)


def test_small_block_kernel_canonical_cross_bucket_pairs(run):
    """Every small block spans >= 3 buckets; emitted pairs are canonical
    (conv_id1 < conv_id2) and unique (``_by_key`` asserts that), and some
    of them come from cross-bucket cells where the lower id sits in the
    higher bucket — the case the kernel's id swap exists for."""
    for bk in run.small:
        assert math.ceil(run.sizes[bk] / run.bucket_rows) >= MIN_SMALL_BUCKETS
    assert all(c1 < c2 for _, c1, c2 in run.exhaustive)
    assert any(run.buckets[c1] > run.buckets[c2] for _, c1, c2 in run.exhaustive)


def test_stage1_rules_through_both_kernels(spark):
    """The generated blocks above merge only by CSLR odds. Hand-made
    blocks drive the other stage-1 rules — shared>=2 (unambiguous focus),
    subset and evidence-error (ambiguous focus) — through both kernels,
    and every row they return must match the oracle."""
    convs = [
        # unambiguous focus: two shared coauthors merge, one does not
        ("w1", "john smith", ["a b", "c d", "e f"], {"t1": 1}),
        ("w2", "john smith", ["a b", "c d"], {"t1": 1, "t2": 2}),
        ("w3", "john smith", ["a b", "x y"], {"t3": 1}),
        # ambiguous focus: subset, rare and famous shared coauthors
        ("a1", "wei wang", ["a b", "c d", "e f"], {"t1": 1}),
        ("a2", "wei wang", ["a b", "c d"], {}),
        ("a3", "wei wang", ["rare pal", "x x"], {"t2": 1}),
        ("a4", "wei wang", ["rare pal", "y y"], {"t2": 1}),
        ("a5", "wei wang", ["famous star", "x x"], {}),
        ("a6", "wei wang", ["famous star", "y y"], {"t3": 1}),
    ]
    feats = {
        cid: {
            "conv_id": cid,
            "block_key": " ".join(sorted(focus.split())),
            "focus_name": focus,
            "focus_raw": focus.title(),
            "coauthors": co,
            "venue": "tool_01",
            "tool_freq": {"tool_01": 1},
            "term_freq": tf,
            "year_from": 2020,
            "year_to": 2021,
        }
        for cid, focus, co, tf in convs
    }
    f = spark.createDataFrame(
        list(feats.values()),
        "conv_id string, block_key string, focus_name string, "
        "focus_raw string, coauthors array<string>, venue string, "
        "tool_freq map<string,int>, term_freq map<string,int>, "
        "year_from int, year_to int",
    )
    params = ScoringParams()
    side = SideTables(
        ambig={"wei wang": 10.0},
        cn_counts={"wei wang": 20.0, "rare pal": 3.0, "famous star": 500.0},
        ambig_sum_total=10000.0,
        idf={"t1": 2.0, "t2": 2.0, "t3": 2.0},
    )
    kw = _oracle_kw(side, params)
    oracle = {
        (a["block_key"], a["conv_id"], b["conv_id"]): score_one_pair(a, b, **kw)
        for a in feats.values()
        for b in feats.values()
        if a["block_key"] == b["block_key"] and a["conv_id"] < b["conv_id"]
    }
    pairs = spark.createDataFrame(
        list(oracle), "block_key string, conv_id1 string, conv_id2 string"
    )
    prep = prepare_scoring(spark, f, side)
    grouped = _by_key(score_pairs_grouped(spark, pairs, prep, side, params))
    exhaustive = _by_key(score_blocks_exhaustive(spark, prep, side, params))

    assert set(grouped) == set(oracle)
    floor = scoring.EMIT_FLOOR_FRAC * params.threshold
    assert set(exhaustive) == {
        k for k, r in oracle.items() if r["stage1_mergeable"] or r["score"] >= floor
    }
    for got in (grouped, exhaustive):
        _assert_same_channels(got, oracle)
        _assert_close_channels(got, oracle)
        reasons = {r["stage1_reason"] for r in got.values()}
        assert {"shared>=2", "subset", "evidence-error"} <= reasons
