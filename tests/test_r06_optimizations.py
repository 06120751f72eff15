"""Round-6 optimization parity tests.

Each optimization that rewrote an operator's internals gets a focused
check that the fast path is value-identical to the reference form it
replaced (the slow forms are kept in the module as the documented
arithmetic reference)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F


# ---------------------------------------------------------------------------
# similarity: literal-plane signatures vs the arithmetic expression form
# ---------------------------------------------------------------------------


def test_plane_coeff_matches_sql(spark):
    from namedis_spark.operators import similarity as S

    cells = []
    args = []
    for t in (0, 3, 11):
        for j in (0, 5, 11):
            for d in (0, 1, 63, 129):
                cells.append(S.plane_component("spark", str(t), str(j), str(d), 7))
                args.append((t, j, d))
    # the bare component is DECIMAL in SQL; in the signature expression it
    # is consumed in a double product — compare at that type
    row = spark.sql(
        "SELECT "
        + ", ".join(f"cast({c} as double) AS c{i}" for i, c in enumerate(cells))
    ).head()
    for i, (t, j, d) in enumerate(args):
        assert row[f"c{i}"] == S._plane_coeff(t, j, d, 7), (t, j, d)


def test_resolve_planes_matches_sql_expr(spark):
    from namedis_spark.operators import similarity as S

    counts = [2, 7, 8, 9, 15, 16, 17, 127, 128, 129, 1023, 1024, 1025, 10**6]
    sel = ", ".join(
        f"({S.adaptive_planes_expr(str(c))}) AS p{i}" for i, c in enumerate(counts)
    )
    row = spark.sql(f"SELECT {sel}").head()
    for i, c in enumerate(counts):
        assert row[f"p{i}"] == S._resolve_planes(spark, None, c), c


def test_table_buckets_matches_arithmetic_form(spark):
    from namedis_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [((i * 37 + d * 11) % 19 - 9) / 3.0 for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    fast = S.table_buckets(emb, n_tables=4, n_planes=5)
    planes = "5"
    sigs = F.expr(
        f"transform(sequence(0, 3), t -> {S.sig_expr_spark('t', planes, S.HYPERPLANE_SEED)})"
    )
    ref = emb.select("vec_id", F.posexplode(sigs).alias("tbl", "bucket"))
    diff = (
        fast.alias("a")
        .join(ref.alias("b"), ["vec_id", "tbl"])
        .where("a.bucket <> b.bucket")
        .count()
    )
    assert diff == 0
    assert fast.count() == 160


def test_table_buckets_stale_uniform_probe_stays_exact(spark, monkeypatch):
    """A memoized probe that claims a uniform dim on what is now a ragged
    corpus (data rewritten under an identical plan) must not null-pad the
    shorter rows into wrong buckets: the per-row size guard sends them to
    the exact walk."""
    from namedis_spark.operators import similarity as S
    from namedis_spark.state import file_identity, state

    emb = spark.createDataFrame(
        [
            (i, [((i * 37 + d * 11) % 19 - 9) / 3.0 for d in range(8 if i % 3 else 5)])
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    )
    key = (emb.semanticHash(), file_identity(spark, emb.inputFiles()))
    monkeypatch.setitem(state(spark).probes, key, (40, 8, 8))
    fast = S.table_buckets(emb, n_tables=4, n_planes=5)
    sigs = F.expr(
        f"transform(sequence(0, 3), t -> {S.sig_expr_spark('t', '5', S.HYPERPLANE_SEED)})"
    )
    ref = emb.select("vec_id", F.posexplode(sigs).alias("tbl", "bucket"))
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, ref.collect()))


# ---------------------------------------------------------------------------
# dedup: Arrow-batched shingling vs the SQL md5 chain
# ---------------------------------------------------------------------------


def test_python_shingles_match_sql_chain(spark):
    from namedis_spark.operators.dedup import _shingles_df

    rows = [
        (1, "The quick brown fox! Jumps over 42 lazy dogs."),
        (2, "ab"),  # shorter than one gram
        (3, ""),  # empty
        (4, None),  # null text
        (5, "aaaaaa"),  # heavy duplicate grams
        (6, "Ünïcode größe 文字 test"),  # non-ascii survives tokenization rules
        (7, "one two one two one"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        r["doc_id"]: r["shingles"]
        for r in _shingles_df(docs, "text").collect()
    }
    assert fast == _sql_chain_shingles(docs)  # values AND first-occurrence order


def _sql_chain_shingles(docs):
    """doc_id -> shingles by the SQL md5 chain (array_distinct over the
    28-bit hashes), the form the DuckDB oracle mirrors."""
    from namedis_spark.functions.sqlexpr import tokens_expr

    toks = tokens_expr("text", "spark")
    norm = docs.select(
        "doc_id", F.expr(f"array_join({toks}, ' ')").alias("_norm")
    )
    grams = (
        "transform(filter(sequence(1, greatest(length(_norm) - 2, 1)),"
        " i -> i + 2 <= length(_norm)), i -> substring(_norm, i, 3))"
    )
    return {
        r["doc_id"]: r["shingles"]
        for r in norm.select(
            "doc_id",
            F.expr(
                f"array_distinct(transform({grams},"
                f" g -> cast(conv(substring(md5(g), 1, 7), 16, 10) as bigint)))"
            ).alias("shingles"),
        ).collect()
    }


def test_python_shingles_dedup_colliding_hashes(spark):
    """Two different grams with the same 28-bit md5 prefix ('pie' and
    '3fj') are one shingle, as in the SQL chain and the DuckDB oracle."""
    import hashlib

    from namedis_spark.operators.dedup import _shingles_df

    def h(g):
        return hashlib.md5(g.encode()).hexdigest()[:7]

    assert h("pie") == h("3fj")
    docs = spark.createDataFrame(
        [(1, "pie 3fj"), (2, "3fj pie pie")], "doc_id long, text string"
    )
    fast = {r["doc_id"]: r["shingles"] for r in _shingles_df(docs, "text").collect()}
    assert fast == _sql_chain_shingles(docs)
    assert len(fast[1]) == 4  # 5 grams, one colliding pair


# ---------------------------------------------------------------------------
# pipeline: over-bound ambiguity fallback must not collect block keys
# ---------------------------------------------------------------------------


def test_fallback_path_never_collects_block_keys(spark, tmp_path, monkeypatch):
    from pyspark.sql import DataFrame

    from namedis_spark import pipeline
    from namedis_spark.datagen import generate_transcripts
    from namedis_spark.operators import corpus

    # force the over-bound regime: the bounded pull declines
    monkeypatch.setattr(
        corpus, "key_ambiguity_pdf_bounded", lambda *a, **k: None
    )

    orig_collect = DataFrame.collect

    def spy(self):
        if [f.lower() for f in self.columns] == ["block_key"]:
            raise AssertionError(
                "fallback path collected the block-key table to the driver"
            )
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)

    t, _ = generate_transcripts(spark, n_blocks=3, seed=7, hot_blocks=0)
    res = pipeline.run(spark, t, str(tmp_path / "ckpt"))
    assert res.assignments.count() > 0


# ---------------------------------------------------------------------------
# taxonomy: driver-BFS fast path vs the distributed frontier-join loop
# ---------------------------------------------------------------------------


def test_closure_driver_path_matches_distributed(spark):
    from namedis_spark.operators.taxonomy import ancestor_closure

    edges = spark.createDataFrame(
        [
            ("a", "m1"), ("a", "m2"), ("b", "m1"), ("c", "m2"),
            ("m1", "top"), ("m2", "mid"), ("mid", "top"), ("top", "ROOT"),
            ("lonely", None),
        ],
        "term string, parent string",
    )
    extra = spark.createDataFrame([("orphan",)], "term string")
    s_fast: dict = {}
    s_slow: dict = {}
    fast = ancestor_closure(edges, extra_nodes=extra, stats=s_fast).collect()
    slow = ancestor_closure(
        edges, extra_nodes=extra, stats=s_slow, driver_edge_bound=0
    ).collect()
    assert s_fast.get("driver_path") is True
    assert "driver_path" not in s_slow
    key = lambda r: (r["term"], r["ancestor"], r["depth"])
    assert sorted(map(key, fast)) == sorted(map(key, slow))
    assert s_fast["rounds"] == s_slow["rounds"]


# ---------------------------------------------------------------------------
# registry all-pairs queries: one within-block pair grid
# ---------------------------------------------------------------------------


def test_cslr_block_routes_agree(spark, monkeypatch):
    """The Python-scored all-pairs queries enumerate through
    blocking.block_pair_grid. With BUCKET_ROWS=1 a block of n rows hashes
    into n buckets (sf0.001 CSLR blocks hold up to 7 convs, name blocks 2
    surfaces), so diagonal and cross-bucket cells both run; the pair table
    must equal the default grid's, be canonical (id1 < id2) and
    duplicate-free, and give each block exactly n(n-1)/2 rows."""
    from collections import Counter

    import namedis_spark.queries as Q
    from namedis_spark.functions.core import cslr_v2_log
    from namedis_spark.operators import blocking

    sf = "/root/testdata/sf0.001"
    queries = {
        "cslr_v2_log": lambda: Q._cslr_scored_pairs(spark, sf, cslr_v2_log),
        "jaccard_type_pairs": lambda: Q.jaccard_type_pairs(spark, sf),
        "jaro_winkler_names": lambda: Q.jaro_winkler_names(spark, sf),
    }
    real_grid = blocking.block_pair_grid
    for name, run in queries.items():
        default = _sorted(run().collect())
        seen_sizes = []

        def grid(rows, sizes, *args):
            seen_sizes.append(sizes)
            return real_grid(rows, sizes, *args)

        with monkeypatch.context() as mp:
            mp.setattr(blocking, "BUCKET_ROWS", 1)
            mp.setattr(blocking, "block_pair_grid", grid)
            fine = _sorted(run().collect())
        assert fine == default, name
        assert all(r[1] < r[2] for r in fine), name
        assert len({r[:3] for r in fine}) == len(fine), name

        (sizes,) = seen_sizes
        n = {r["block_key"]: r["n"] for r in sizes.collect()}
        assert max(n.values()) >= 2, name
        assert Counter(r[0] for r in fine) == {
            k: v * (v - 1) // 2 for k, v in n.items() if v > 1
        }, name


@pytest.mark.parametrize("query", ["cslr_role_pairs", "jaro_winkler_names"])
def test_pair_queries_run_one_grouped_map_node(spark, query):
    """Plan-shape guard: an all-pairs query runs exactly one grouped-map
    pandas node (the pair grid) and no per-pair mapInPandas route."""
    import namedis_spark.queries as Q

    df = Q.REGISTRY[query].spark_fn(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInPandas") == 1, final
    assert "MapInPandas" not in final, final


def _sorted(rows):
    return sorted(tuple(r) for r in rows)
