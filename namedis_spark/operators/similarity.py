"""Similarity search over embedding columns (training-data-pipeline op).

* brute-force cosine top-k — exactness baseline; JVM-side zip_with dot
  products, window top-k. The SMALL side (the query set) is broadcast and
  the corpus is streamed once — never the reverse.
* multi-table hyperplane LSH — the scale path: T independent
  random-hyperplane signatures bucket each vector; union of same-bucket
  pairs across tables (OR-amplification) are the candidates; only those
  are exactly scored. At 10^9 vectors the bucket join replaces the O(n²)
  cross join; recall is tuned via n_planes (bucket granularity, AND) ×
  n_tables (OR). For cosine ≥ 0.95 the default 6 planes × 12 tables gives
  per-pair miss probability (1 - 0.899^6)^12 ≈ 1.3e-4.

The plane components are derived from pure integer arithmetic —
((t·7919 + j)·10007 + d·379 + seed) mod 2001, centered and scaled — so
both engines (Spark SQL and the DuckDB oracle) regenerate identical
planes with no broadcast and no stored state, and the signature folds are
left-associative in both dialects, making bucket ids bit-identical
(verified empirically across engines).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from namedis_spark.state import file_identity, state, tracked_persist

HYPERPLANE_SEED = 7
ANN_N_PLANES = 6
ANN_N_TABLES = 12


def _as_double(col: str = "embedding"):
    return F.expr(f"transform({col}, x -> cast(x as double))")


def plane_component(dialect: str, t: str, j: str, d: str, seed: int) -> str:
    """One pseudo-random plane coefficient in [-1, 1) — identical integer
    arithmetic in both dialects (all operands non-negative, so % == pmod).

    The coefficient index k = t·8191 + j·131 + d (injective for d < 131,
    j < 62, t ≤ 16 — embedding dims beyond 130 would need a wider layout)
    is scrambled by the Knuth multiplicative constant before the modulus:
    a LINEAR index map (the earlier (t·7919+j)·10007 + d·379 form) makes
    consecutive planes near-identical (10007 ≡ 2 mod 2001), collapsing
    signatures into a handful of buckets — measured 13 distinct buckets
    out of 256 and all-pairs candidate volume. k·2654435761 ≤ 2.7e14
    stays far inside bigint in both engines."""
    k = f"(({t}) * 8191 + ({j}) * 131 + ({d}) + {seed})"
    return f"((((({k} * 2654435761) % 2147483648) % 2001) - 1000) / 1000.0)"


def sig_expr_spark(
    t_var: str, n_planes: int | str, seed: int, emb: str = "embedding"
) -> str:
    """Spark SQL: hyperplane signature of `emb` for table index `t_var`
    (a column or literal). `n_planes` may be an int or a SQL expression
    (adaptive plane counts). Left-fold accumulation."""
    comp = plane_component("spark", t_var, "j", "d", seed)
    return f"""aggregate(
        sequence(0, ({n_planes}) - 1),
        cast(0 as bigint),
        (acc, j) -> acc * 2 + if(
            aggregate(
                zip_with(transform({emb}, x -> cast(x as double)),
                         sequence(0, size({emb}) - 1),
                         (x, d) -> x * {comp}),
                0d, (a, x) -> a + x) >= 0, 1, 0))"""


def sig_expr_duckdb(
    t_var: str, n_planes: int | str, seed: int, emb: str = "embedding"
) -> str:
    """DuckDB twin of `sig_expr_spark` — list_reduce is a left fold and
    the first-element init equals Spark's 0d init exactly (0 + x0 == x0)."""
    comp = plane_component("duckdb", t_var, "j", "d", seed)
    return f"""list_reduce(list_transform(range(0, CAST(({n_planes}) AS bigint)), j ->
        CASE WHEN list_reduce(
                 list_transform(range(0, len({emb})),
                                d -> CAST({emb}[d + 1] AS double) * {comp}),
                 (a, b) -> a + b) >= 0
             THEN CAST(1 AS bigint) ELSE CAST(0 AS bigint) END),
        (a, b) -> a * 2 + b)"""


# Adaptive plane count: planes ~ log2(n / target-bucket) keeps expected
# bucket sizes flat as the corpus grows, bounded to [6, 12]. The LOWER
# bound preserves the documented recall at small n; the UPPER bound keeps
# per-table recall workable with the fixed table count (at cosine 0.95,
# 12 planes x 12 tables still give ~0.98 pair recall) - beyond ~10^6
# vectors the honest scale path is more tables / multi-probe / IVF, not
# more planes (documented in the module docstring).
PLANES_MIN, PLANES_MAX, TARGET_BUCKET = 6, 12, 8


def adaptive_planes_expr(count_expr: str) -> str:
    """SQL (both dialects): bounded log2 plane count from a corpus-count
    expression. log2 of exact powers of two is exact in IEEE, so ceil
    agrees across engines."""
    return (
        f"greatest({PLANES_MIN}, least({PLANES_MAX},"
        f" cast(ceil(log2(greatest({count_expr}, 2) / {TARGET_BUCKET}.0)) as int)))"
    )


def _corpus_probe(df: DataFrame, col: str = "embedding") -> tuple[int, int, int]:
    """(n_rows, min_dim, max_dim) of the corpus in ONE tiny aggregate job,
    memoized in the session's state on (plan hash, identity of the files
    it reads), so repeated calls over one corpus (the bench loop, LSH
    probes over a shared table) pay it once. Feeds the adaptive plane
    count and the literal-plane emission below."""
    def probe() -> tuple[int, int, int]:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size(col)).alias("lo"),
            F.max(F.size(col)).alias("hi"),
        ).head()
        return (int(r["n"]), int(r["lo"] or 0), int(r["hi"] or 0))

    try:
        key = (df.semanticHash(), file_identity(df.sparkSession, df.inputFiles()))
    except Exception:
        return probe()
    probes = state(df.sparkSession).probes
    if key not in probes:
        probes[key] = probe()
    return probes[key]


def _plane_coeff(t: int, j: int, d: int, seed: int) -> float:
    """Python twin of ``plane_component`` — same pure-integer arithmetic,
    same final IEEE-double division, so the emitted literal is bit-equal
    to what the SQL expression computes (parity is asserted in tests)."""
    k = t * 8191 + j * 131 + d + seed
    return float((((k * 2654435761) % 2147483648) % 2001) - 1000) / 1000.0


def _planes_literal(n_tables: int, n_planes: int, dim: int, seed: int) -> str:
    """SQL literal array(n_tables)(n_planes)(dim) of plane coefficients.

    The plane coefficients are constants per (table, plane, dim) — the
    per-row modular-arithmetic chain in ``sig_expr_spark`` recomputes
    them for EVERY row × table × plane × dim (measured ~10x the whole
    signature stage at dim 64). Hoisting them into a literal is the
    guide's "do not recompute loop-invariant work per row"; the per-row
    arithmetic left is exactly the dot products + sign folds, in the
    same order with the same IEEE doubles, so bucket ids are unchanged
    (the DuckDB oracle keeps the arithmetic form)."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array("
                + ", ".join(
                    f"{_plane_coeff(t, j, d, seed)!r}d" for d in range(dim)
                )
                + ")"
                for j in range(n_planes)
            )
            + ")"
            for t in range(n_tables)
        )
        + ")"
    )


def _sig_literal_expr(
    n_tables: int, n_planes: int, dim: int, uniform: bool, seed: int,
    emb: str = "embedding",
) -> str:
    """Array of the T bucket signatures from literal planes (bound once to
    ``L``). An element_at walk bounded by each row's own size matches
    ``sig_expr_spark`` exactly; ``uniform`` (the probe saw every row at
    ``dim``) adds a zip_with fast path for rows of size ``dim`` only, so a
    stale probe cannot null-pad a shorter row into a wrong bucket."""
    lit = _planes_literal(n_tables, n_planes, max(dim, 1), seed)
    plane = "element_at(element_at(L, t + 1), j + 1)"
    dot = (
        f"aggregate(sequence(0, size({emb}) - 1), 0d,"
        f" (acc, d) -> acc + cast(element_at({emb}, d + 1) as double)"
        f" * element_at({plane}, d + 1))"
    )
    if uniform:
        dot = (
            f"if(size({emb}) = {dim},"
            f" aggregate(zip_with(transform({emb}, x -> cast(x as double)),"
            f" {plane}, (x, y) -> x * y), 0d, (acc, x) -> acc + x), {dot})"
        )
    return (
        f"element_at(transform(array({lit}), L ->"
        f" transform(sequence(0, {n_tables - 1}), t -> aggregate("
        f"sequence(0, {n_planes - 1}), cast(0 as bigint),"
        f" (acc, j) -> acc * 2 + if({dot} >= 0, 1, 0)))), 1)"
    )


def _resolve_planes(spark, n_planes: int | None, cnt: int) -> int:
    """Adaptive plane count as an int — exact-integer twin of
    ``adaptive_planes_expr``: ceil(log2(max(cnt,2)/8)) is the smallest k
    with 2^(k+3) >= cnt, i.e. (cnt-1).bit_length() - 3. Verified equal to
    the SQL scalar over 2..5000, every power of two ±1 up to 2^40 and
    powers of ten (log2 of exact powers of two is exact in IEEE, so the
    float ceil never strays). Saves the one-row scalar query per corpus."""
    if n_planes is not None:
        return int(n_planes)
    c = max(int(cnt), 2)
    k = (c - 1).bit_length() - 3
    return max(PLANES_MIN, min(PLANES_MAX, k))


def table_buckets(
    embeddings: DataFrame,
    n_tables: int = ANN_N_TABLES,
    n_planes: int | None = ANN_N_PLANES,
    seed: int = HYPERPLANE_SEED,
) -> DataFrame:
    """(vec_id, tbl, bucket) for all T tables in ONE pass over the corpus:
    the T signatures are computed in a single projection (an array built
    by `transform` over the table index) and posexploded — one scan, no
    per-table re-read, no broadcast.

    ``n_planes=None`` → adaptive: planes from the corpus count (a
    single-row aggregate collected to the driver — a scalar, never data;
    the oracle computes the identical count via a scalar subquery),
    memoized per session and input (``_corpus_probe``).

    Plane coefficients are emitted as a LITERAL (table, plane, dim)
    tensor (see ``_planes_literal``): they are row-invariant, and the
    arithmetic-form expression recomputed them per row × table × plane ×
    dim — measured 12s → 1.3s for the signature stage at sf0.1 with
    bit-identical buckets. ``sig_expr_spark`` remains the arithmetic
    reference form (and the oracle's shape)."""
    cnt, lo, hi = _corpus_probe(embeddings)
    planes = _resolve_planes(embeddings.sparkSession, n_planes, cnt)
    sigs = F.expr(
        _sig_literal_expr(n_tables, planes, hi, uniform=(lo == hi), seed=seed)
    )
    return embeddings.select("vec_id", F.posexplode(sigs).alias("tbl", "bucket"))


LSH_MAX_BUCKET_SIZE = 4096  # skew guard (see lsh_candidates)


def lsh_candidates(
    embeddings: DataFrame,
    n_tables: int = ANN_N_TABLES,
    n_planes: int | None = ANN_N_PLANES,
    seed: int = HYPERPLANE_SEED,
    max_bucket_size: int = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Distinct (vec_id1 < vec_id2) pairs sharing a bucket in ≥1 table.
    Pair volume is Σ_tables Σ_buckets bucket² — grows with collision
    structure, not n²; n_planes scales bucket granularity with corpus
    size (planes ∝ log n keeps expected bucket size flat).

    Buckets beyond ``max_bucket_size`` are dropped BEFORE the self-join
    (the same skew guard as the minhash banding cap): one degenerate
    flood of near-identical vectors otherwise makes pair generation
    quadratic. Pairs inside a dropped bucket usually re-enter through a
    finer table; a genuinely identical-vector flood belongs to exact
    dedup, which runs first."""
    # persist: both sides of the self-join reference the bucket table, and
    # the T×planes×dim signature expression is expensive enough that
    # recomputing it per reference doubles the stage
    b = tracked_persist(table_buckets(embeddings, n_tables, n_planes, seed))
    kept = (
        b.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= 2) & (F.col("n") <= max_bucket_size))
        .select("tbl", "bucket")
    )
    pairable = b.join(kept, ["tbl", "bucket"])
    a = pairable.select("tbl", "bucket", F.col("vec_id").alias("vec_id1"))
    c = pairable.select("tbl", "bucket", F.col("vec_id").alias("vec_id2"))
    return (
        a.join(c, ["tbl", "bucket"])
        .where(F.col("vec_id1") < F.col("vec_id2"))
        .select("vec_id1", "vec_id2")
        .distinct()
    )


def _with_norm(df: DataFrame, id_alias: str, e_alias: str, n_alias: str) -> DataFrame:
    return df.select(
        F.col("vec_id").alias(id_alias), _as_double().alias(e_alias)
    ).withColumn(
        n_alias, F.expr(f"sqrt(aggregate({e_alias}, 0d, (acc, x) -> acc + x * x))")
    )


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0d, (acc, x) -> acc + x)"


def exact_cosine(pairs: DataFrame, embeddings: DataFrame,
                 id1: str = "vec_id1", id2: str = "vec_id2") -> DataFrame:
    """Join the embedding arrays onto candidate pairs and compute the exact
    round-6 cosine. Linear in the candidate count."""
    a = _with_norm(embeddings, id1, "e1", "n1")
    b = _with_norm(embeddings, id2, "e2", "n2")
    return (
        pairs.join(a, id1)
        .join(b, id2)
        .withColumn(
            "cosine",
            F.round(F.expr(_DOT.format(a="e1", b="e2")) / (F.col("n1") * F.col("n2")), 6),
        )
        .select(id1, id2, "cosine")
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of `queries` (vec_id, embedding) against the
    corpus — the exactness baseline for ANN. The QUERY side is broadcast
    (it is the small side by construction); the corpus streams through
    executors once and is never collected or broadcast. Ties broken by
    vec_id for determinism."""
    corpus = _with_norm(embeddings, "cand_id", "e2", "n2")
    qs = _with_norm(queries, "query_id", "e1", "n1")
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .where(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            F.round(F.expr(_DOT.format(a="e1", b="e2")) / (F.col("n1") * F.col("n2")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "cosine", "rk")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    seed: int = HYPERPLANE_SEED,
) -> DataFrame:
    """Bucketed ANN top-k — the registered scale path. Corpus and query
    signatures are bucket-joined per table (equi-join on (tbl, bucket), no
    corpus broadcast, no cross join); the unioned candidates are exactly
    scored and window-ranked. Fewer planes than the near-dup detector
    (coarser buckets) so each query sees enough candidates for top-k;
    recall vs `brute_force_topk` is measured in tests."""
    cb = table_buckets(embeddings, n_tables, n_planes, seed).select(
        "tbl", "bucket", F.col("vec_id").alias("cand_id")
    )
    qb = table_buckets(queries, n_tables, n_planes, seed).select(
        "tbl", "bucket", F.col("vec_id").alias("query_id")
    )
    cand = (
        qb.join(cb, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    scored = exact_cosine(cand, embeddings, "query_id", "cand_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "cosine", "rk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path that complements
# hyperplane LSH: a small spherical k-means codebook partitions the corpus
# into cells; a query exactly scores only the vectors in its n_probe nearest
# cells. Candidate volume per query ≈ n_probe · n / n_cells regardless of
# the data's bucket-collision structure (LSH's weakness on anisotropic
# corpora). The codebook is tiny (n_cells × dim doubles) and rides the plan
# as a literal expression — assignment is a pure per-row projection, no
# broadcast join, no shuffle until the per-cell candidate equi-join.
# ---------------------------------------------------------------------------

IVF_N_CELLS = 64
IVF_N_PROBE = 4
IVF_TRAIN_ITERS = 2


def _normalize(vec: list[float]) -> list[float]:
    n = sum(x * x for x in vec) ** 0.5
    return [x / n for x in vec] if n > 0 else list(vec)


def _cents_sql(cents: list[list[float]]) -> str:
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{x!r}d" for x in c) + ")" for c in cents
        )
        + ")"
    )


def _scores_sql(cents: list[list[float]], emb: str = "embedding") -> str:
    """Per-cell dot products of the (unnormalized) embedding against the
    unit-norm codebook — argmax over them is the spherical-k-means cell
    (scaling by 1/|e| does not change the argmax)."""
    e = f"transform({emb}, x -> cast(x as double))"
    return (
        f"transform({_cents_sql(cents)},"
        f" c -> aggregate(zip_with({e}, c, (x, y) -> x * y), 0d, (acc, x) -> acc + x))"
    )


def ivf_cell_expr(cents: list[list[float]], emb: str = "embedding") -> str:
    """SQL: 0-based index of the nearest codebook cell (first-occurrence
    tie-break — deterministic)."""
    s = _scores_sql(cents, emb)
    return f"cast(array_position({s}, array_max({s})) - 1 as int)"


def ivf_probe_expr(
    cents: list[list[float]], n_probe: int, emb: str = "embedding"
) -> str:
    """SQL: array of the n_probe nearest cell indices, by descending score
    with index tie-break (array_sort on (-score, idx) structs)."""
    s = _scores_sql(cents, emb)
    ranked = (
        f"array_sort(zip_with({s}, sequence(0, {len(cents) - 1}),"
        f" (sc, i) -> struct(-sc as ns, i as i)))"
    )
    return f"transform(slice({ranked}, 1, {n_probe}), x -> cast(x.i as int))"


def ivf_train(
    embeddings: DataFrame,
    n_cells: int = IVF_N_CELLS,
    iters: int = IVF_TRAIN_ITERS,
) -> list[list[float]]:
    """Deterministic spherical k-means codebook.

    Init: the n_cells corpus vectors with the smallest md5(vec_id) —
    order-independent, seedless, and spread by the hash. Each Lloyd
    iteration is one distributed pass: per-row cell assignment (literal
    codebook projection) → posexplode → per-(cell, dim) mean — then the
    (n_cells × dim)-sized result is collected and re-normalized on the
    driver. Empty cells keep their previous centroid. Cost: `iters`
    shuffles of n·dim skinny rows; the collect is codebook-sized, never
    corpus-sized."""
    seed_rows = (
        embeddings.select("vec_id", _as_double().alias("e"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_cells)
        .collect()
    )
    cents = [_normalize([float(x) for x in r["e"]]) for r in seed_rows]
    for _ in range(iters):
        cell = F.expr(ivf_cell_expr(cents))
        sums = (
            embeddings.select(cell.alias("cell"), F.posexplode(_as_double()))
            .groupBy("cell", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        dim = len(cents[0])
        new = [list(c) for c in cents]  # empty cells keep previous centroid
        acc: dict[int, list[float]] = {}
        for r in sums:
            acc.setdefault(int(r["cell"]), [0.0] * dim)[int(r["pos"])] = float(r["m"])
        for c, vec in acc.items():
            new[c] = _normalize(vec)
        cents = new
    return cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = IVF_N_CELLS,
    n_probe: int = IVF_N_PROBE,
    iters: int = IVF_TRAIN_ITERS,
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: corpus assigned to its nearest cell, each query
    probes its n_probe nearest cells; only probed-cell candidates are
    exactly scored and window-ranked. Pass a pre-trained ``cents`` to
    amortize the codebook across calls (index-build vs query split).

    The query side's embedding is joined from ``queries`` itself, so a
    query set disjoint from the corpus works (unlike an in-corpus-only
    contract, which would silently return zero rows for external
    queries)."""
    if cents is None:
        cents = ivf_train(embeddings, n_cells=n_cells, iters=iters)
    corpus = embeddings.select(
        F.expr(ivf_cell_expr(cents)).alias("cell"), F.col("vec_id").alias("cand_id")
    )
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.expr(ivf_probe_expr(cents, n_probe))).alias("cell"),
    )
    cand = (
        probes.join(corpus, "cell")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    qs = _with_norm(queries, "query_id", "e1", "n1")
    cs = _with_norm(embeddings, "cand_id", "e2", "n2")
    scored = (
        cand.join(qs, "query_id")
        .join(cs, "cand_id")
        .withColumn(
            "cosine",
            F.round(F.expr(_DOT.format(a="e1", b="e2")) / (F.col("n1") * F.col("n2")), 6),
        )
        .select("query_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "cosine", "rk")
    )
