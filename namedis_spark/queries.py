"""Driver-contract query registry: Spark implementation + DuckDB oracle SQL
for every operator from SURVEY.md §2 that is SQL-expressible.

Each entry runs the *real* namedis_spark operator on a transcripts table
derived deterministically from the driver's `events` parquet (same
derivation in both engines), and pairs it with an independent ANSI-SQL
oracle for DuckDB. Column names and rounding (round 6 on doubles) match on
both sides — the driver hashes values after sorting columns by name.

Conventions:
* no map/timestamp output columns (ints, strings, rounded doubles only)
* counts cast to bigint on both sides (DuckDB sum() yields HUGEINT)
* VERIFICATION-ONLY pair queries (cslr_role_pairs, cslr_v1_pairs,
  tfidf_cosine_pairs, jaccard_pairs, jaccard_type_pairs,
  year_discount_pairs, stage2_coauthor_boost) enumerate ALL within-block
  pairs so the oracle can replay them value-for-value — O(block²) by
  design, for parity checking at small SF only. Those scored by a Python
  function (the CSLR and type-Jaccard queries, jaro_winkler_names)
  enumerate through operators/blocking.block_pair_grid, the primitive the
  pipeline's small-block scorer uses. The production pipeline routes
  through the capped/salted candidate paths
  (operators/blocking.evidence_pairs + score_blocks_exhaustive); never
  lift the enumeration queries into a production plan.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from namedis_spark.functions.sqlexpr import (
    content_terms_expr,
    fingerprint_expr,
    norm_name_expr,
    stopword_list_sql,
    tokens_expr,
)
from namedis_spark.state import file_identity, state, tracked_persist

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The Spark queries only ever read these three (everything else in the
# driver's data dir is unreferenced by the registry); registering a view
# reads the table's parquet footer on the driver, so the unused seven
# cost ~2s of per-session metadata work for nothing. The DuckDB oracle
# side (scripts/check_entry.py, the driver) registers its own full list.
SPARK_TABLES = ["events", "documents", "embeddings"]


def transcripts_sql(dialect: str) -> str:
    """Deterministic transcript derivation from `events` — identical
    semantics in Spark SQL and DuckDB SQL (input_hint shape)."""
    s = "string" if dialect == "spark" else "varchar"
    return f"""
        SELECT CAST(user_id AS {s}) AS conv_id,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
               event_type AS role,
               concat(event_type, ' v', CAST(CAST(floor(value / 10) AS int) AS {s}),
                      ' ', coalesce(props, '')) AS text,
               CASE WHEN event_id % 3 = 0 THEN event_type ELSE NULL END AS tool,
               ts
        FROM events
    """


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the input tables as temp views, memoized in the session's
    state on (sf_dir, identity of the table files): registering re-reads
    parquet footers on the driver (~1 s) and nearly every registry query
    calls this (guide §6). Files rewritten since sf_dir was last registered
    drop its feature table and refresh every cached plan over them — a new
    read of a rewritten path otherwise matches the old cache entry."""
    st = state(spark)
    paths = [f"{sf_dir}/{t}.parquet" for t in SPARK_TABLES]
    files = file_identity(spark, paths)
    if st.views == sf_dir and st.files[sf_dir] == files:
        return
    if st.files.get(sf_dir, files) != files:
        st.drop_feature_table(sf_dir)
        for path in paths:
            spark.catalog.refreshByPath(path)
    for t, path in zip(SPARK_TABLES, paths):
        spark.read.parquet(path).createOrReplaceTempView(t)
    st.views, st.files[sf_dir] = sf_dir, files


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(transcripts_sql("spark"))


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's persisted feature table for sf_dir: several queries
    fan out aggregations over it (one extraction scan, not one per
    action)."""
    from namedis_spark.operators.features import conversation_features

    register_views(spark, sf_dir)  # drops the table if the files changed
    return state(spark).feature_table(
        sf_dir, lambda: conversation_features(spark.sql(transcripts_sql("spark")))
    )


def _assert_golden(
    df: DataFrame,
    name: str,
    sf_dir: str,
    tol: float = 1e-6,
    goldens_dir: str | None = None,
) -> DataFrame:
    """Join-assert a non-SQL-expressible query against its committed golden
    (goldens/{name}_{sfbase}.csv) when one exists for this input dir: any
    value drift raises, turning the driver's rows-only check into a value
    check. Silently skipped when no golden is committed (other SFs, bench
    runs), so the assertion costs nothing outside verification. The compare
    is driver-side over the small verification output; regenerate with
    scripts/regen_goldens.py after an intentional scoring change.

    Dtype resolution is JOINT per column: if either side is float the pair
    is compared as float64 under ``tol`` (a golden CSV whose float column
    happens to parse as int64 no longer breaks the compare), otherwise both
    sides compare as strings. Rows sort by the exact (string) columns first
    so tying rounded floats cannot misalign rows. ``goldens_dir`` overrides
    the committed goldens directory (used by the corruption test)."""
    import os

    base = os.path.basename(sf_dir.rstrip("/"))
    if goldens_dir is None:
        goldens_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens")
    gpath = os.path.join(goldens_dir, f"{name}_{base}.csv")
    if not os.path.exists(gpath):
        return df
    import pandas as pd

    g = df.toPandas()
    x = pd.read_csv(gpath)
    if len(g) != len(x):
        raise AssertionError(f"{name}: {len(g)} rows vs golden {len(x)}")
    if sorted(g.columns) != sorted(x.columns):
        raise AssertionError(
            f"{name}: columns {sorted(g.columns)} vs golden {sorted(x.columns)}"
        )
    g = g[sorted(g.columns)].copy()
    x = x[sorted(x.columns)].copy()
    float_cols, exact_cols = [], []
    for c in g.columns:
        if g[c].dtype.kind == "f" or x[c].dtype.kind == "f":
            g[c] = pd.to_numeric(g[c]).astype("float64").round(6)
            x[c] = pd.to_numeric(x[c]).astype("float64").round(6)
            float_cols.append(c)
        else:
            g[c] = g[c].astype(str)
            x[c] = x[c].astype(str)
            exact_cols.append(c)
    order = exact_cols + float_cols
    g = g.sort_values(order).reset_index(drop=True)
    x = x.sort_values(order).reset_index(drop=True)
    for c in g.columns:
        if c in float_cols:
            # ~(diff<=tol) flags NaN-vs-value; both-NaN is then unflagged.
            bad = ~((g[c] - x[c]).abs() <= tol) & ~(g[c].isna() & x[c].isna())
        else:
            bad = g[c] != x[c]
        if bad.any():
            i = int(bad.idxmax())
            raise AssertionError(
                f"{name} drifted from golden at row {i} col {c}: "
                f"{g[c][i]!r} != {x[c][i]!r}"
            )
    return df


_DUCK_TRANSCRIPTS = f"WITH transcripts AS ({transcripts_sql('duckdb')})"

# DuckDB per-conversation feature CTE used by several oracles: focus name,
# ordered full text, years, venue.
_DUCK_FEATURES = (
    _DUCK_TRANSCRIPTS
    + f""",
    base AS (
        SELECT conv_id,
               min(CASE WHEN turn_idx = 0 THEN {norm_name_expr('role', 'duckdb')} END) AS focus_name,
               string_agg(text, ' ' ORDER BY turn_idx) AS full_text,
               CAST(year(min(ts)) AS int) AS year_from,
               CAST(year(max(ts)) AS int) AS year_to,
               CAST(count(*) AS bigint) AS n_turns
        FROM transcripts GROUP BY conv_id
    ),
    venues AS (
        SELECT conv_id, tool AS venue,
               row_number() OVER (PARTITION BY conv_id ORDER BY count(*) DESC, tool ASC) AS rk
        FROM transcripts WHERE tool IS NOT NULL GROUP BY conv_id, tool
    ),
    roles AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS norm_role
        FROM transcripts
    ),
    feats AS (
        SELECT b.conv_id, b.focus_name, b.full_text, b.year_from, b.year_to, b.n_turns,
               coalesce(v.venue, 'UNKNOWN') AS venue,
               (SELECT count(*) FROM roles r
                 WHERE r.conv_id = b.conv_id AND r.norm_role <> b.focus_name) AS n_coauthors
        FROM base b LEFT JOIN (SELECT conv_id, venue FROM venues WHERE rk = 1) v
          ON b.conv_id = v.conv_id
    )
"""
)


@dataclass
class QuerySpec:
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(spark_fn=fn, oracle=oracle)
        return fn

    return deco


_SUBREPORTS: dict[str, QuerySpec] = {}


def subreport(name: str, oracle: str):
    """Like @q but collected into the merged `corpus_reports` entry instead
    of a standalone registry row: the driver verifies at most 50 queries, so
    the five scalar (key, value) report queries union into one verified
    query and every evidence/similarity query keeps its own row."""

    def deco(fn):
        _SUBREPORTS[name] = QuerySpec(spark_fn=fn, oracle=oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# §2.1/2.4 scans + aggregations
# ---------------------------------------------------------------------------


@subreport(
    "count_by_year",
    "SELECT CAST(year(ts) AS int) AS year, CAST(count(*) AS bigint) AS n_events "
    "FROM events GROUP BY 1",
)
def count_by_year(spark, sf_dir):
    """count-by-year report (clean.pl:350,398-404)."""
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT CAST(year(ts) AS int) AS year, CAST(count(*) AS bigint) AS n_events "
        "FROM events GROUP BY 1"
    )


@subreport(
    "top_focus_names",
    _DUCK_TRANSCRIPTS
    + """
    SELECT focus AS focus_name, CAST(count(*) AS bigint) AS n_convs
    FROM (SELECT conv_id, min(CASE WHEN turn_idx = 0 THEN role END) AS focus
          FROM transcripts GROUP BY conv_id)
    GROUP BY 1 ORDER BY n_convs DESC, focus_name ASC LIMIT 100
    """,
)
def top_focus_names(spark, sf_dir):
    """count-by-name top-100 (clean.pl:352-418) over focus speakers."""
    t = load_transcripts(spark, sf_dir)
    return (
        t.groupBy("conv_id")
        .agg(F.min_by("role", "turn_idx").alias("focus_name"))
        .groupBy("focus_name")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .orderBy(F.desc("n_convs"), F.asc("focus_name"))
        .limit(100)
    )


@subreport(
    "normalize_name_keys",
    _DUCK_TRANSCRIPTS
    + f"""
    SELECT {norm_name_expr('role', 'duckdb')} AS norm_key,
           CAST(count(*) AS bigint) AS n_turns
    FROM transcripts GROUP BY 1
    """,
)
def normalize_name_keys(spark, sf_dir):
    """blocking-key normalizer (standardizeChineseName analog,
    NLPUtil.pm:1854-1876)."""
    t = load_transcripts(spark, sf_dir)
    return t.groupBy(
        F.expr(norm_name_expr("role", "spark")).alias("norm_key")
    ).agg(F.count(F.lit(1)).alias("n_turns"))


@q(
    "conversation_features",
    _DUCK_FEATURES
    + """
    SELECT conv_id, focus_name, venue, year_from, year_to, n_turns,
           CAST(n_coauthors AS bigint) AS n_coauthors
    FROM feats
    """,
)
def conversation_features_q(spark, sf_dir):
    """per-conversation feature row (SURVEY.md §1.4 mapping)."""
    f = _features(spark, sf_dir)
    return f.select(
        "conv_id",
        "focus_name",
        "venue",
        "year_from",
        "year_to",
        "n_turns",
        F.size("coauthors").cast("bigint").alias("n_coauthors"),
    )


@q(
    "term_frequencies",
    _DUCK_TRANSCRIPTS
    + f"""
    SELECT term, CAST(count(*) AS bigint) AS freq FROM (
        SELECT unnest({content_terms_expr('text', 'duckdb')}) AS term
        FROM transcripts
    ) GROUP BY 1
    """,
)
def term_frequencies(spark, sf_dir):
    """content-term frequency table (extractTitleGrams analog,
    NLPUtil.pm:2477-2506; stopword removal + lemma rules). Lemma applied
    via broadcast irregular join (see exploded_content_terms), not the
    inline CASE chain — fixed the r2 +86% codegen regression."""
    from namedis_spark.operators.features import exploded_content_terms

    t = load_transcripts(spark, sf_dir)
    return (
        exploded_content_terms(t, keep=())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@q(
    "bigram_frequencies",
    _DUCK_TRANSCRIPTS
    + f"""
    SELECT bigram, CAST(count(*) AS bigint) AS freq FROM (
        SELECT unnest(list_transform(
                   list_filter(range(1, len(toks)), i -> i < len(toks)),
                   i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
        FROM (SELECT {tokens_expr('text', 'duckdb')} AS toks FROM transcripts)
    ) GROUP BY 1
    """,
)
def bigram_frequencies(spark, sf_dir):
    """bigram extraction (extractTitleWords, NLPUtil.pm:2238-2295)."""
    t = load_transcripts(spark, sf_dir)
    toks = F.expr(tokens_expr("text", "spark"))
    # sequence() is inclusive and reverses when start > stop, so clamp and
    # re-filter for 0/1-token rows
    ts = tokens_expr("text", "spark")
    bigrams = F.expr(
        f"""transform(
                filter(sequence(1, greatest(size({ts}) - 1, 1)),
                       i -> i + 1 <= size({ts})),
                i -> concat(element_at({ts}, i), ' ', element_at({ts}, i + 1)))"""
    )
    return (
        t.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@q(
    "coauthor_cooccurrence",
    _DUCK_TRANSCRIPTS
    + f"""
    , roles AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS name
        FROM transcripts
    )
    SELECT a.name AS name1, b.name AS name2, CAST(count(*) AS bigint) AS n_convs
    FROM roles a JOIN roles b ON a.conv_id = b.conv_id AND a.name < b.name
    GROUP BY 1, 2
    """,
)
def coauthor_cooccurrence(spark, sf_dir):
    """coauthor co-occurrence counts (arriveAuthorTuple,
    cnambig.pl:353-371)."""
    t = load_transcripts(spark, sf_dir)
    roles = t.select(
        "conv_id", F.expr(norm_name_expr("role", "spark")).alias("name")
    ).distinct()
    a, b = roles.alias("a"), roles.alias("b")
    return (
        a.join(b, "conv_id")
        .where(F.col("a.name") < F.col("b.name"))
        .groupBy(F.col("a.name").alias("name1"), F.col("b.name").alias("name2"))
        .agg(F.count(F.lit(1)).alias("n_convs"))
    )


# ---------------------------------------------------------------------------
# §2.5/2.6 joins + similarity
# ---------------------------------------------------------------------------

# role-frequency vectors + block assignment, shared by jaccard/flagship
_DUCK_RF = f"""
    rf AS (
        SELECT conv_id, {norm_name_expr('role', 'duckdb')} AS role,
               CAST(count(*) AS bigint) AS f
        FROM transcripts GROUP BY 1, 2
    ),
    tot AS (SELECT conv_id, sum(f) AS s FROM rf GROUP BY 1),
    blocks AS (
        SELECT conv_id,
               min(CASE WHEN turn_idx = 0 THEN {norm_name_expr('role', 'duckdb')} END) AS block_key
        FROM transcripts GROUP BY conv_id
    ),
    jacc AS (
        SELECT ba.block_key, a.conv_id AS conv_id1, b.conv_id AS conv_id2,
               round(sum(least(a.f, b.f))
                     / (any_value(ta.s) + any_value(tb.s) - sum(least(a.f, b.f))), 6)
                   AS jaccard
        FROM rf a
        JOIN rf b ON a.role = b.role AND a.conv_id < b.conv_id
        JOIN blocks ba ON ba.conv_id = a.conv_id
        JOIN blocks bb ON bb.conv_id = b.conv_id AND ba.block_key = bb.block_key
        JOIN tot ta ON ta.conv_id = a.conv_id
        JOIN tot tb ON tb.conv_id = b.conv_id
        GROUP BY 1, 2, 3
    )
"""


def _jacc_rf_conv(spark, sf_dir):
    """Shared subtrees of the jaccard/flagship family: the per-(conv, role)
    frequency table and the per-conv (total, block_key) table — block_key
    and the vector total are derived from rf itself (min_by over the role's
    first turn_idx), so the transcript table is scanned ONCE instead of
    twice (guide §2.4: remove the second scan+shuffle outright)."""
    t = load_transcripts(spark, sf_dir)
    rf = t.groupBy(
        "conv_id", F.expr(norm_name_expr("role", "spark")).alias("role")
    ).agg(F.count(F.lit(1)).alias("f"), F.min("turn_idx").alias("ti"))
    conv = rf.groupBy("conv_id").agg(
        F.sum("f").alias("s"), F.min_by("role", "ti").alias("block_key")
    )
    return rf, conv


def _spark_jaccard_pairs(spark, sf_dir):
    # Pair generation joins on (role, BLOCK_KEY), not on role alone: the
    # original formulation joined role vectors globally and only filtered
    # to same-block pairs afterwards — O(Σ role-df²) cross-block pairs
    # built and thrown away (a hot shared role joins the whole corpus
    # against itself at scale). Same-block shared roles are identical for
    # every surviving pair, so Σmin and the output are unchanged
    # (guide §2.3/§3: shuffle fewer bytes, prune the big side before the
    # join). The totals ride the same join instead of two extra
    # post-aggregation joins.
    rf, conv = _jacc_rf_conv(spark, sf_dir)
    rfb = rf.join(conv, "conv_id")
    a = rfb.select(
        F.col("conv_id").alias("conv_id1"), "role", "block_key",
        F.col("f").alias("f1"), F.col("s").alias("s1"),
    )
    b = rfb.select(
        F.col("conv_id").alias("conv_id2"), "role", "block_key",
        F.col("f").alias("f2"), F.col("s").alias("s2"),
    )
    return (
        a.join(b, ["role", "block_key"])
        .where(F.col("conv_id1") < F.col("conv_id2"))
        .groupBy("block_key", "conv_id1", "conv_id2")
        .agg(
            F.sum(F.least("f1", "f2")).alias("inter"),
            F.first("s1").alias("s1"),
            F.first("s2").alias("s2"),
        )
        .select(
            "block_key",
            "conv_id1",
            "conv_id2",
            F.round(
                F.col("inter") / (F.col("s1") + F.col("s2") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


@q(
    "jaccard_pairs",
    _DUCK_TRANSCRIPTS + ", " + _DUCK_RF + " SELECT * FROM jacc",
)
def jaccard_pairs(spark, sf_dir):
    """weighted Jaccard over per-conversation role-frequency vectors within
    blocks (jaccard, NLPUtil.pm:3172-3252; freq mode) — JVM-side
    explode+join formulation: Σmin / (S1 + S2 − Σmin)."""
    return _spark_jaccard_pairs(spark, sf_dir)


_FLAGSHIP_THRESHOLD = 0.5

_DUCK_FLAGSHIP = (
    "WITH RECURSIVE transcripts AS ("
    + transcripts_sql("duckdb")
    + "), "
    + _DUCK_RF
    + f""",
    edges AS (
        SELECT conv_id1 AS src, conv_id2 AS dst FROM jacc
        WHERE jaccard >= {_FLAGSHIP_THRESHOLD}
    ),
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(a, b) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
    ),
    comp AS (SELECT a AS node, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT bl.block_key, bl.conv_id,
           coalesce(c.cluster_id, bl.conv_id) AS cluster_id
    FROM blocks bl LEFT JOIN comp c ON c.node = bl.conv_id
"""
)


@q("flagship_linkage", _DUCK_FLAGSHIP)
def flagship_linkage(spark, sf_dir):
    """Flagship: blocking → Jaccard pair scoring → large-star/small-star
    connected components → cluster assignments (the pipeline's shape on the
    driver's events-derived transcripts; oracle uses a recursive-CTE
    transitive closure)."""
    from namedis_spark.operators.cluster import connected_components

    jacc = _spark_jaccard_pairs(spark, sf_dir)
    edges = jacc.where(F.col("jaccard") >= _FLAGSHIP_THRESHOLD).select(
        F.col("conv_id1").alias("src"), F.col("conv_id2").alias("dst")
    )
    cc = connected_components(spark, edges)
    # blocks from the SAME rf→conv subtree the pair scorer uses (identical
    # canonical subplan → Spark reuses its exchange instead of re-scanning
    # and re-aggregating the transcript table)
    _, conv = _jacc_rf_conv(spark, sf_dir)
    blocks = conv.select("conv_id", "block_key")
    return blocks.join(cc, blocks["conv_id"] == cc["node"], "left").select(
        "block_key",
        "conv_id",
        F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("cluster_id"),
    )


@subreport(
    "cluster_sizes",
    _DUCK_FLAGSHIP.replace(
        """SELECT bl.block_key, bl.conv_id,
           coalesce(c.cluster_id, bl.conv_id) AS cluster_id
    FROM blocks bl LEFT JOIN comp c ON c.node = bl.conv_id""",
        """SELECT cluster_id, CAST(count(*) AS bigint) AS n_convs FROM (
           SELECT coalesce(c.cluster_id, bl.conv_id) AS cluster_id
           FROM blocks bl LEFT JOIN comp c ON c.node = bl.conv_id
       ) GROUP BY 1""",
    ),
)
def cluster_sizes(spark, sf_dir):
    """cluster-size report (saveClusters sort-by-size, clust.pl:675-725)."""
    return (
        flagship_linkage(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_convs"))
    )


_SWEEP_GRID = (0.05, 0.1, 0.2, 0.3, 0.4, 0.5)


@q(
    "threshold_sweep",
    _DUCK_TRANSCRIPTS
    + ", "
    + _DUCK_RF
    + f""",
    grid(thres) AS (VALUES {', '.join(f'({t})' for t in _SWEEP_GRID)}),
    truth AS (
        SELECT b.block_key, b.conv_id,
               CAST(CAST(b.conv_id AS bigint) % 7 AS varchar) AS entity_id
        FROM blocks b
    ),
    truth_pairs AS (
        SELECT CAST(sum(n * (n - 1) / 2) AS bigint) AS tp FROM (
            SELECT block_key, entity_id, count(*) AS n FROM truth GROUP BY 1, 2
        )
    ),
    labeled AS (
        SELECT j.jaccard,
               (ta.entity_id = tb.entity_id) AS same
        FROM jacc j
        JOIN truth ta ON ta.conv_id = j.conv_id1
        JOIN truth tb ON tb.conv_id = j.conv_id2
    ),
    counts AS (
        SELECT g.thres,
               CAST(count(*) FILTER (l.jaccard >= g.thres) AS bigint) AS pred_pairs,
               CAST(count(*) FILTER (l.jaccard >= g.thres AND l.same) AS bigint)
                   AS correct_pairs
        FROM grid g CROSS JOIN labeled l GROUP BY 1
    )
    SELECT thres, pred_pairs, correct_pairs,
           (SELECT tp FROM truth_pairs) AS truth_pairs,
           round(CASE WHEN pred_pairs > 0
                      THEN correct_pairs / CAST(pred_pairs AS double) ELSE 0 END, 6) AS p,
           round(correct_pairs / CAST((SELECT tp FROM truth_pairs) AS double), 6) AS r,
           round(CASE WHEN correct_pairs > 0
                      THEN 2.0 * correct_pairs
                           / (pred_pairs + (SELECT tp FROM truth_pairs))
                      ELSE 0 END, 6) AS f1
    FROM counts
    """,
)
def threshold_sweep(spark, sf_dir):
    """threshold-sweep regression surface (clust.pl:877-893,971-977 `-j
    lo-hi -d step` grids; best-threshold selection resultstat.pl:211-268):
    pairwise P/R/F1 of the Jaccard scorer against the synthetic truth at a
    fixed threshold grid — pairs scored ONCE, every threshold a filter."""
    jacc = _spark_jaccard_pairs(spark, sf_dir)
    t = load_transcripts(spark, sf_dir)
    blocks = t.groupBy("conv_id").agg(
        F.min_by(F.expr(norm_name_expr("role", "spark")), "turn_idx").alias("block_key")
    )
    truth = blocks.withColumn(
        "entity_id", (F.col("conv_id").cast("long") % 7).cast("string")
    )
    tp = (
        truth.groupBy("block_key", "entity_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).cast("long").alias("tp"))
        .collect()[0]["tp"]
    )
    labeled = (
        jacc.join(
            truth.select(F.col("conv_id").alias("conv_id1"),
                         F.col("entity_id").alias("e1")),
            "conv_id1",
        )
        .join(
            truth.select(F.col("conv_id").alias("conv_id2"),
                         F.col("entity_id").alias("e2")),
            "conv_id2",
        )
        .select("jaccard", (F.col("e1") == F.col("e2")).alias("same"))
    )
    grid = spark.createDataFrame([(t,) for t in _SWEEP_GRID], "thres double")
    counts = (
        F.broadcast(grid)
        .crossJoin(labeled)
        .groupBy("thres")
        .agg(
            F.count(F.when(F.col("jaccard") >= F.col("thres"), 1)).alias("pred_pairs"),
            F.count(
                F.when((F.col("jaccard") >= F.col("thres")) & F.col("same"), 1)
            ).alias("correct_pairs"),
        )
    )
    return counts.select(
        "thres",
        "pred_pairs",
        "correct_pairs",
        F.lit(int(tp)).alias("truth_pairs"),
        F.round(
            F.when(
                F.col("pred_pairs") > 0,
                F.col("correct_pairs") / F.col("pred_pairs").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("p"),
        F.round(F.col("correct_pairs") / F.lit(float(tp)), 6).alias("r"),
        F.round(
            F.when(
                F.col("correct_pairs") > 0,
                2.0 * F.col("correct_pairs")
                / (F.col("pred_pairs") + F.lit(float(tp))),
            ).otherwise(0.0),
            6,
        ).alias("f1"),
    )


def _result_stat_oracle() -> str:
    grid = ", ".join(f"({t})" for t in _SWEEP_GRID)
    return (
        _DUCK_TRANSCRIPTS
        + ", "
        + _DUCK_RF
        + f""",
    grid(thres) AS (VALUES {grid}),
    runs(run_id) AS (VALUES (1), (2)),
    truth AS (
        SELECT b.block_key, b.conv_id,
               CAST(CAST(b.conv_id AS bigint) % 7 AS varchar) AS entity_id
        FROM blocks b
    ),
    names AS (SELECT DISTINCT block_key AS name FROM truth),
    tpb AS (
        SELECT block_key AS name, sum(n * (n - 1) / 2.0) AS truth_pairs FROM (
            SELECT block_key, entity_id, count(*) AS n FROM truth GROUP BY 1, 2
        ) GROUP BY 1
    ),
    scored AS (
        SELECT 1 AS run_id, block_key, conv_id1, conv_id2, jaccard AS score
        FROM jacc
        UNION ALL
        SELECT 2, block_key, conv_id1, conv_id2, round(jaccard * jaccard, 6)
        FROM jacc
    ),
    labeled AS (
        SELECT s.run_id, s.block_key AS name, s.score,
               (ta.entity_id = tb.entity_id) AS same
        FROM scored s
        JOIN truth ta ON ta.conv_id = s.conv_id1
        JOIN truth tb ON tb.conv_id = s.conv_id2
    ),
    counts AS (
        SELECT l.run_id, l.name, g.thres,
               count(*) FILTER (l.score >= g.thres) AS pred,
               count(*) FILTER (l.score >= g.thres AND l.same) AS correct
        FROM grid g CROSS JOIN labeled l GROUP BY 1, 2, 3
    ),
    prf AS (
        SELECT r.run_id, nm.name, g.thres,
               CASE WHEN coalesce(c.pred, 0) > 0
                    THEN coalesce(c.correct, 0) / CAST(c.pred AS double)
                    ELSE 1.0 END AS precision,
               CASE WHEN coalesce(t.truth_pairs, 0) > 0
                    THEN coalesce(c.correct, 0) / t.truth_pairs
                    ELSE 1.0 END AS recall
        FROM runs r
        CROSS JOIN names nm
        CROSS JOIN grid g
        LEFT JOIN counts c
          ON c.run_id = r.run_id AND c.name = nm.name AND c.thres = g.thres
        LEFT JOIN tpb t ON t.name = nm.name
    ),
    per_run AS (
        SELECT *, CASE WHEN precision + recall > 0
                       THEN 2 * precision * recall / (precision + recall)
                       ELSE 0.0 END AS f1
        FROM prf
    ),
    by_name AS (
        SELECT name, thres, avg(precision) AS p, avg(recall) AS r,
               avg(f1) AS f1
        FROM per_run GROUP BY 1, 2
    ),
    by_thres AS (
        SELECT thres, avg(p) AS macro_p, avg(r) AS macro_r,
               avg(f1) AS macro_f1
        FROM by_name GROUP BY 1
    ),
    best AS (
        SELECT *, CASE WHEN macro_p + macro_r > 0
                       THEN 2 * macro_p * macro_r / (macro_p + macro_r)
                       ELSE 0.0 END AS micro_f1
        FROM by_thres
        ORDER BY round(macro_f1, 6) DESC, thres ASC LIMIT 1
    )
    SELECT n.name, n.thres, round(n.p, 6) AS p, round(n.r, 6) AS r,
           round(n.f1, 6) AS f1
    FROM by_name n JOIN best b ON n.thres = b.thres
    UNION ALL
    SELECT '__MACRO__', thres, round(macro_p, 6), round(macro_r, 6),
           round(macro_f1, 6) FROM best
    UNION ALL
    SELECT '__MICRO__', thres, round(macro_p, 6), round(macro_r, 6),
           round(micro_f1, 6) FROM best
    """
    )


@q("result_stat", _result_stat_oracle())
def result_stat_q(spark, sf_dir):
    """Cross-run micro/macro result comparison (resultstat.pl:98-268): two
    deterministic scorer runs (weighted role Jaccard and its squared
    variant) produce per-name threshold-sweep PRF records; the reference's
    aggregation then averages P/R/F1 per (name, thres) across runs, macro-
    averages over names per threshold, derives micro-F1 from the macro
    P/R, picks the best unified threshold by macro-F1, and reports the
    per-name rows at that threshold plus the __MACRO__/__MICRO__ footer."""
    from namedis_spark.operators.evaluate import result_stat

    jacc = _spark_jaccard_pairs(spark, sf_dir)
    t = load_transcripts(spark, sf_dir)
    blocks = t.groupBy("conv_id").agg(
        F.min_by(F.expr(norm_name_expr("role", "spark")), "turn_idx").alias("block_key")
    )
    truth = blocks.withColumn(
        "entity_id", (F.col("conv_id").cast("long") % 7).cast("string")
    )
    names = truth.select(F.col("block_key").alias("name")).distinct()
    tpb = (
        truth.groupBy("block_key", "entity_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("block_key")
        .agg(F.sum(F.expr("n * (n - 1) / 2.0")).alias("truth_pairs"))
        .select(F.col("block_key").alias("name"), "truth_pairs")
    )
    scored = jacc.select(
        F.lit(1).alias("run_id"), "block_key", "conv_id1", "conv_id2",
        F.col("jaccard").alias("score"),
    ).unionByName(
        jacc.select(
            F.lit(2).alias("run_id"), "block_key", "conv_id1", "conv_id2",
            F.round(F.col("jaccard") * F.col("jaccard"), 6).alias("score"),
        )
    )
    labeled = (
        scored.join(
            truth.select(F.col("conv_id").alias("conv_id1"),
                         F.col("entity_id").alias("e1")),
            "conv_id1",
        )
        .join(
            truth.select(F.col("conv_id").alias("conv_id2"),
                         F.col("entity_id").alias("e2")),
            "conv_id2",
        )
        .select(
            "run_id", F.col("block_key").alias("name"), "score",
            (F.col("e1") == F.col("e2")).alias("same"),
        )
    )
    grid = spark.createDataFrame([(x,) for x in _SWEEP_GRID], "thres double")
    runs = spark.createDataFrame([(1,), (2,)], "run_id int")
    counts = (
        F.broadcast(grid)
        .crossJoin(labeled)
        .groupBy("run_id", "name", "thres")
        .agg(
            F.count(F.when(F.col("score") >= F.col("thres"), 1)).alias("pred"),
            F.count(
                F.when((F.col("score") >= F.col("thres")) & F.col("same"), 1)
            ).alias("correct"),
        )
    )
    base = (
        F.broadcast(runs)
        .crossJoin(names)
        .crossJoin(F.broadcast(grid))
        .join(counts, ["run_id", "name", "thres"], "left")
        .join(tpb, "name", "left")
    )
    prf = base.select(
        "run_id",
        "name",
        "thres",
        F.when(
            F.coalesce(F.col("pred"), F.lit(0)) > 0,
            F.coalesce(F.col("correct"), F.lit(0)) / F.col("pred").cast("double"),
        )
        .otherwise(1.0)
        .alias("precision"),
        F.when(
            F.coalesce(F.col("truth_pairs"), F.lit(0.0)) > 0,
            F.coalesce(F.col("correct"), F.lit(0)) / F.col("truth_pairs"),
        )
        .otherwise(1.0)
        .alias("recall"),
    )
    return result_stat(prf)


@q(
    "cluster_report",
    _DUCK_FLAGSHIP.replace(
        """SELECT bl.block_key, bl.conv_id,
           coalesce(c.cluster_id, bl.conv_id) AS cluster_id
    FROM blocks bl LEFT JOIN comp c ON c.node = bl.conv_id""",
        """, assign AS (
        SELECT bl.block_key, bl.conv_id,
               coalesce(c.cluster_id, bl.conv_id) AS cluster_id
        FROM blocks bl LEFT JOIN comp c ON c.node = bl.conv_id
    ),
    yr AS (
        SELECT conv_id, CAST(year(min(ts)) AS int) AS year_from
        FROM transcripts GROUP BY 1
    ),
    j AS (SELECT a.cluster_id, a.conv_id, y.year_from
          FROM assign a JOIN yr y USING (conv_id)),
    sizes AS (SELECT cluster_id, CAST(count(*) AS bigint) AS n_convs
              FROM j GROUP BY 1),
    ranked AS (
        SELECT cluster_id, n_convs,
               CAST(dense_rank() OVER (ORDER BY n_convs DESC, cluster_id)
                    AS int) AS cluster_rank
        FROM sizes
    )
    SELECT r.cluster_rank, j.cluster_id, r.n_convs, j.conv_id, j.year_from,
           CAST(row_number() OVER (PARTITION BY j.cluster_id
                                   ORDER BY j.year_from, j.conv_id)
                AS int) AS member_rank
    FROM j JOIN ranked r USING (cluster_id)""",
    ),
)
def cluster_report(spark, sf_dir):
    """cluster-file sink ordering (saveClusters, clust.pl:675-725): clusters
    ranked by size desc (ties by id), members ranked by year within each —
    the sort is encoded as rank columns so it is verifiable row-order-free.
    The global size ranking runs on the cluster-summary table (small) and is
    broadcast back — no single-partition window over the member table."""
    from pyspark.sql import Window

    assigns = flagship_linkage(spark, sf_dir)
    feats = _features(spark, sf_dir).select("conv_id", "year_from")
    j = assigns.join(feats, "conv_id")
    sizes = j.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_convs"))
    ranked = sizes.withColumn(
        "cluster_rank",
        F.dense_rank()
        .over(Window.orderBy(F.desc("n_convs"), F.asc("cluster_id")))
        .cast("int"),
    )
    member_rank = (
        F.row_number()
        .over(
            Window.partitionBy("cluster_id").orderBy("year_from", "conv_id")
        )
        .cast("int")
    )
    return (
        j.join(F.broadcast(ranked), "cluster_id")
        .withColumn("member_rank", member_rank)
        .select(
            "cluster_rank", "cluster_id", "n_convs", "conv_id", "year_from",
            "member_rank",
        )
    )


@q(
    "pairwise_f1",
    _DUCK_FLAGSHIP.replace(
        """SELECT bl.block_key, bl.conv_id,
           coalesce(c.cluster_id, bl.conv_id) AS cluster_id
    FROM blocks bl LEFT JOIN comp c ON c.node = bl.conv_id""",
        f""", assign AS (
        SELECT bl.block_key, bl.conv_id,
               coalesce(c.cluster_id, bl.conv_id) AS cluster_id
        FROM blocks bl LEFT JOIN comp c ON c.node = bl.conv_id
    ),
    truth AS (
        SELECT conv_id,
               CAST(CAST(conv_id AS bigint) % 7 AS varchar) AS entity_id
        FROM blocks
    ),
    j AS (SELECT a.block_key, a.conv_id, a.cluster_id, t.entity_id
          FROM assign a JOIN truth t USING (conv_id)),
    pred AS (SELECT block_key, CAST(sum(n * (n - 1) / 2) AS double) AS pred_pairs
             FROM (SELECT block_key, cluster_id, count(*) AS n FROM j GROUP BY 1, 2)
             GROUP BY 1),
    tru AS (SELECT block_key, CAST(sum(n * (n - 1) / 2) AS double) AS truth_pairs
            FROM (SELECT block_key, entity_id, count(*) AS n FROM j GROUP BY 1, 2)
            GROUP BY 1),
    corr AS (SELECT block_key, CAST(sum(n * (n - 1) / 2) AS double) AS correct_pairs
             FROM (SELECT block_key, cluster_id, entity_id, count(*) AS n
                   FROM j GROUP BY 1, 2, 3) GROUP BY 1)
    SELECT p.block_key, p.pred_pairs, t.truth_pairs, c.correct_pairs,
           round(CASE WHEN p.pred_pairs > 0 THEN c.correct_pairs / p.pred_pairs ELSE 1 END, 6) AS precision,
           round(CASE WHEN t.truth_pairs > 0 THEN c.correct_pairs / t.truth_pairs ELSE 1 END, 6) AS recall,
           round(CASE WHEN (CASE WHEN p.pred_pairs > 0 THEN c.correct_pairs / p.pred_pairs ELSE 1 END)
                         + (CASE WHEN t.truth_pairs > 0 THEN c.correct_pairs / t.truth_pairs ELSE 1 END) > 0
                      THEN 2 * (CASE WHEN p.pred_pairs > 0 THEN c.correct_pairs / p.pred_pairs ELSE 1 END)
                             * (CASE WHEN t.truth_pairs > 0 THEN c.correct_pairs / t.truth_pairs ELSE 1 END)
                           / ((CASE WHEN p.pred_pairs > 0 THEN c.correct_pairs / p.pred_pairs ELSE 1 END)
                            + (CASE WHEN t.truth_pairs > 0 THEN c.correct_pairs / t.truth_pairs ELSE 1 END))
                      ELSE 0 END, 6) AS f1
    FROM pred p JOIN tru t USING (block_key) JOIN corr c USING (block_key)""",
    ),
)
def pairwise_f1_q(spark, sf_dir):
    """pairwise P/R/F1 evaluation (calcPerf, clust.pl:727-836) of the
    flagship clusters against a deterministic pseudo-truth partition."""
    from namedis_spark.operators.evaluate import pairwise_prf

    assign = flagship_linkage(spark, sf_dir)
    truth = assign.select(
        "block_key",
        "conv_id",
        (F.col("conv_id").cast("bigint") % 7).cast("string").alias("entity_id"),
    )
    return pairwise_prf(assign, truth.drop("block_key").join(
        assign.select("block_key", "conv_id"), "conv_id"
    ))


_PRF_TAIL_SQL = """
    pred AS (SELECT block_key, CAST(sum(n * (n - 1) / 2) AS double) AS pred_pairs
             FROM (SELECT block_key, cluster_id, count(*) AS n FROM j GROUP BY 1, 2)
             GROUP BY 1),
    tru AS (SELECT block_key, CAST(sum(n * (n - 1) / 2) AS double) AS truth_pairs
            FROM (SELECT block_key, entity_id, count(*) AS n FROM j GROUP BY 1, 2)
            GROUP BY 1),
    corr AS (SELECT block_key, CAST(sum(n * (n - 1) / 2) AS double) AS correct_pairs
             FROM (SELECT block_key, cluster_id, entity_id, count(*) AS n
                   FROM j GROUP BY 1, 2, 3) GROUP BY 1)
"""


@q(
    "external_alignment",
    _DUCK_FEATURES
    + f""",
    ck0 AS (
        SELECT focus_name AS block_key, conv_id,
               focus_name || '|' || venue || '|' || CAST(year_from AS varchar)
                 || '|' || CAST(n_turns AS varchar) AS key
        FROM feats
    ),
    ck AS (
        SELECT key, min(block_key) AS block_key, min(conv_id) AS conv_id
        FROM ck0 GROUP BY key HAVING count(*) = 1
    ),
    ex0 AS (
        SELECT focus_name || '|' || venue || '|' || CAST(year_from AS varchar)
                 || '|' || CAST(n_turns AS varchar) AS key,
               focus_name || '@' || venue AS ext_cluster
        FROM feats
    ),
    ex AS (
        SELECT key, min(ext_cluster) AS ext_cluster
        FROM ex0 GROUP BY key HAVING count(*) = 1
    ),
    m AS (
        SELECT ck.block_key, ck.conv_id, ex.ext_cluster AS cluster_id
        FROM ck JOIN ex USING (key)
    ),
    truth AS (
        SELECT conv_id, CAST(CAST(conv_id AS bigint) % 7 AS varchar) AS entity_id
        FROM feats
    ),
    j AS (SELECT m.block_key, m.conv_id, m.cluster_id, t.entity_id
          FROM m JOIN truth t USING (conv_id)),
    {_PRF_TAIL_SQL.lstrip()},
    acct AS (
        SELECT block_key, CAST(count(*) AS bigint) AS n_records,
               CAST(count(*) FILTER (WHERE conv_id IN (SELECT conv_id FROM m))
                    AS bigint) AS n_matched
        FROM ck0 GROUP BY 1
    )
    SELECT a.block_key, a.n_records, a.n_matched,
           coalesce(p.pred_pairs, 0) AS pred_pairs,
           coalesce(t.truth_pairs, 0) AS truth_pairs,
           coalesce(c.correct_pairs, 0) AS correct_pairs,
           round(coalesce(CASE WHEN p.pred_pairs > 0
                               THEN c.correct_pairs / p.pred_pairs END,
                          1.0), 6) AS precision,
           round(coalesce(CASE WHEN t.truth_pairs > 0
                               THEN c.correct_pairs / t.truth_pairs END,
                          1.0), 6) AS recall,
           round(coalesce(
               CASE WHEN (CASE WHEN p.pred_pairs > 0
                               THEN c.correct_pairs / p.pred_pairs ELSE 1 END)
                       + (CASE WHEN t.truth_pairs > 0
                               THEN c.correct_pairs / t.truth_pairs ELSE 1 END) > 0
                    THEN 2 * (CASE WHEN p.pred_pairs > 0
                                   THEN c.correct_pairs / p.pred_pairs ELSE 1 END)
                           * (CASE WHEN t.truth_pairs > 0
                                   THEN c.correct_pairs / t.truth_pairs ELSE 1 END)
                         / ((CASE WHEN p.pred_pairs > 0
                                  THEN c.correct_pairs / p.pred_pairs ELSE 1 END)
                          + (CASE WHEN t.truth_pairs > 0
                                  THEN c.correct_pairs / t.truth_pairs ELSE 1 END))
               END, 1.0), 6) AS f1
    FROM acct a
    LEFT JOIN pred p USING (block_key)
    LEFT JOIN tru t USING (block_key)
    LEFT JOIN corr c USING (block_key)
    """,
)
def external_alignment(spark, sf_dir):
    """competitor-alignment scoring (alignarnet.pl / align-distinct.pl —
    the transferable scoring half, see operators.evaluate.align_external):
    a simulated external clustering (the venue-merge baseline an external
    tool like Arnetminer effectively applies) keyed by record content
    (focus|venue|year|n_turns — the title-year analog), aligned to the
    corpus on that key with duplicate-key exclusion, then pairwise-scored
    against the deterministic pseudo-truth per block."""
    from namedis_spark.operators.evaluate import align_external

    f = _features(spark, sf_dir)
    key = F.concat_ws(
        "|",
        "focus_name",
        "venue",
        F.col("year_from").cast("string"),
        F.col("n_turns").cast("string"),
    )
    corpus_keys = f.select("block_key", "conv_id", key.alias("key"))
    external = f.select(
        key.alias("key"),
        F.concat_ws("@", "focus_name", "venue").alias("ext_cluster"),
    )
    labels = f.select(
        "block_key",
        "conv_id",
        (F.col("conv_id").cast("bigint") % 7).cast("string").alias("entity_id"),
    )
    return align_external(corpus_keys, external, labels)


# ---------------------------------------------------------------------------
# §2.3/2.4 corpus side tables
# ---------------------------------------------------------------------------

_DUCK_HITS = f"""
    conv_terms AS (
        SELECT DISTINCT conv_id, unnest({content_terms_expr('text', 'duckdb')}) AS term
        FROM transcripts
    ),
    term_occ AS (
        SELECT term, CAST(count(*) AS bigint) AS freq FROM (
            SELECT unnest({content_terms_expr('text', 'duckdb')}) AS term FROM transcripts
        ) GROUP BY 1
    ),
    hits AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS author
        FROM transcripts
    ),
    pubnum AS (SELECT author, CAST(count(*) AS bigint) AS pubnum FROM hits GROUP BY 1)
"""


@q(
    "tfiaf_weights",
    _DUCK_TRANSCRIPTS
    + ", "
    + _DUCK_HITS
    + """,
    ta AS (
        SELECT ct.term, h.author, CAST(count(*) AS bigint) AS hit_freq,
               any_value(p.pubnum) AS pubnum,
               least(any_value(p.pubnum), 3) / 3.0 AS scaledown
        FROM conv_terms ct JOIN hits h USING (conv_id) JOIN pubnum p USING (author)
        GROUP BY 1, 2
    ),
    per_term AS (
        SELECT term,
               CAST(count(*) AS bigint) AS author_count,
               sum(hit_freq * scaledown) AS hit_freq_sum,
               sum(greatest(CAST(hit_freq AS double), pubnum ^ 0.666) * scaledown) AS topic_pub_est,
               sum(scaledown) AS author_num_nonforay
        FROM ta GROUP BY 1
    ),
    with_freq AS (SELECT p.*, o.freq FROM per_term p JOIN term_occ o USING (term)),
    mx AS (SELECT max(author_num_nonforay) AS max_an FROM with_freq),
    final AS (
        SELECT term, freq, author_count,
               CASE WHEN freq = 1 OR author_num_nonforay <= 0 THEN 0.0
                    ELSE round(hit_freq_sum / topic_pub_est, 6) END AS tf,
               CASE WHEN freq = 1 OR author_num_nonforay <= 0 THEN 0.0
                    ELSE round(ln((SELECT max_an FROM mx) / author_num_nonforay) + 0.5, 6) END AS iaf
        FROM with_freq
    )
    SELECT term, freq, author_count, tf, iaf, round(tf * iaf, 6) AS tfiaf FROM final
    """,
)
def tfiaf_weights(spark, sf_dir):
    """TF-IAF term weighting (exterm.pl:517-733) — see
    operators.corpus.term_weights."""
    from namedis_spark.operators.corpus import term_weights

    return term_weights(_features(spark, sf_dir))


@q(
    "tool_similarity",
    _DUCK_FEATURES
    + """,
    av AS (
        SELECT focus_name AS author, venue, CAST(count(*) AS bigint) AS cnt
        FROM feats WHERE venue <> 'UNKNOWN' GROUP BY 1, 2
    ),
    tool_count AS (SELECT venue, CAST(sum(cnt) AS bigint) AS count1 FROM av GROUP BY 1),
    xy AS (
        SELECT a.venue AS tool1, b.venue AS tool2,
               CAST(sum(b.cnt) AS bigint) AS count2,
               sum(a.cnt * b.cnt) AS sxy,
               sum(b.cnt * b.cnt) AS syy,
               CAST(count(*) AS bigint) AS n_shared
        FROM av a JOIN av b ON a.author = b.author AND a.venue <> b.venue
        GROUP BY 1, 2
    ),
    sxx AS (SELECT venue AS tool1, sum(cnt * cnt) AS sxx FROM av GROUP BY 1)
    SELECT x.tool1, x.tool2,
           round(CAST(x.count2 AS double) / tc.count1, 6) AS relative_freq,
           round(CAST(x.sxy AS double) / s.sxx, 6) AS linreg_simi,
           round(sqrt((x.syy - 2.0 * (CAST(x.sxy AS double) / s.sxx) * x.sxy
                       + (CAST(x.sxy AS double) / s.sxx) ^ 2 * s.sxx)
                      / s.sxx / ((CAST(x.sxy AS double) / s.sxx) ^ 2)), 6)
               AS linreg_residue_dev,
           tc.count1, x.count2
    FROM xy x JOIN sxx s USING (tool1) JOIN tool_count tc ON tc.venue = x.tool1
    WHERE CAST(x.count2 AS double) / tc.count1 > 0
    """,
)
def tool_similarity(spark, sf_dir):
    """venue-similarity regression (venuesimi.pl:157-229) — see
    operators.corpus.tool_simi."""
    from namedis_spark.operators.corpus import tool_simi

    return tool_simi(_features(spark, sf_dir))


@q(
    "year_discount_pairs",
    _DUCK_FEATURES
    + """
    SELECT a.conv_id AS conv_id1, b.conv_id AS conv_id2,
           CAST(CASE WHEN a.year_to < b.year_from THEN b.year_from - a.year_to
                     WHEN b.year_to < a.year_from THEN a.year_from - b.year_to
                     ELSE 0 END AS int) AS year_gap,
           round(CASE WHEN (CASE WHEN a.year_to < b.year_from THEN b.year_from - a.year_to
                                 WHEN b.year_to < a.year_from THEN a.year_from - b.year_to
                                 ELSE 0 END) > 6 THEN 0.0
                      WHEN (CASE WHEN a.year_to < b.year_from THEN b.year_from - a.year_to
                                 WHEN b.year_to < a.year_from THEN a.year_from - b.year_to
                                 ELSE 0 END) <= 2 THEN 1.0
                      ELSE 0.7 ^ ((CASE WHEN a.year_to < b.year_from THEN b.year_from - a.year_to
                                        WHEN b.year_to < a.year_from THEN a.year_from - b.year_to
                                        ELSE 0 END) - 2) END, 6) AS year_discount
    FROM feats a JOIN feats b ON a.conv_id < b.conv_id AND a.focus_name = b.focus_name
    """,
)
def year_discount_pairs(spark, sf_dir):
    """year-range gap + discount per within-block pair
    (calcYearRangeDiff/calcYearDiffDiscount, ConceptNet.pm:5442-5473)."""
    f = _features(spark, sf_dir)
    a = f.select("conv_id", "focus_name", "year_from", "year_to")
    gap = (
        a.alias("a")
        .join(a.alias("b"), "focus_name")
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("conv_id1"),
            F.col("b.conv_id").alias("conv_id2"),
            F.when(
                F.col("a.year_to") < F.col("b.year_from"),
                F.col("b.year_from") - F.col("a.year_to"),
            )
            .when(
                F.col("b.year_to") < F.col("a.year_from"),
                F.col("a.year_from") - F.col("b.year_to"),
            )
            .otherwise(0)
            .cast("int")
            .alias("year_gap"),
        )
    )
    return gap.withColumn(
        "year_discount",
        F.round(
            F.when(F.col("year_gap") > 6, 0.0)
            .when(F.col("year_gap") <= 2, 1.0)
            .otherwise(F.pow(F.lit(0.7), F.col("year_gap") - 2)),
            6,
        ),
    )


@q(
    "top_terms_per_conv",
    _DUCK_TRANSCRIPTS
    + f""",
    tf AS (
        SELECT conv_id, term, CAST(count(*) AS bigint) AS freq FROM (
            SELECT conv_id, unnest({content_terms_expr('text', 'duckdb')}) AS term
            FROM transcripts
        ) GROUP BY 1, 2
    )
    SELECT conv_id, term, freq, CAST(rk AS int) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY conv_id
                                     ORDER BY freq DESC, term ASC) AS rk
        FROM tf
    ) WHERE rk <= 5
    """,
)
def top_terms_per_conv(spark, sf_dir):
    """top-N map entries by weight (hashTopN, NLPUtil.pm:2817-2838;
    concept-vector top-N prune, ConceptNet.pm:6251-6266) via window rank."""
    from pyspark.sql import Window

    from namedis_spark.operators.features import exploded_terms

    t = load_transcripts(spark, sf_dir)
    tf = exploded_terms(t)
    w = Window.partitionBy("conv_id").orderBy(F.desc("freq"), F.asc("term"))
    return (
        tf.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 5)
    )


@q(
    "rare_focus_convs",
    _DUCK_FEATURES
    + """,
    top3 AS (
        SELECT focus_name FROM (
            SELECT focus_name, count(*) AS n FROM feats GROUP BY 1
            ORDER BY n DESC, focus_name ASC LIMIT 3
        )
    )
    SELECT conv_id, focus_name FROM feats
    WHERE focus_name NOT IN (SELECT focus_name FROM top3)
    """,
)
def rare_focus_convs(spark, sf_dir):
    """anti-join / subtractSet (NLPUtil.pm:2670-2705): conversations whose
    focus is not among the 3 most frequent."""
    f = _features(spark, sf_dir)
    top3 = (
        f.groupBy("focus_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("focus_name"))
        .limit(3)
        .select("focus_name")
    )
    return f.join(top3, "focus_name", "left_anti").select("conv_id", "focus_name")


@q(
    "block_role_union",
    _DUCK_TRANSCRIPTS
    + f""",
    blocks AS (
        SELECT conv_id,
               min(CASE WHEN turn_idx = 0 THEN {norm_name_expr('role', 'duckdb')} END) AS block_key
        FROM transcripts GROUP BY conv_id
    )
    SELECT b.block_key, {norm_name_expr('t.role', 'duckdb')} AS role,
           CAST(count(*) AS bigint) AS freq
    FROM transcripts t JOIN blocks b USING (conv_id)
    GROUP BY 1, 2
    """,
)
def block_role_union(spark, sf_dir):
    """map-union with frequency sum (unionArrayToHashRef,
    NLPUtil.pm:2732-2776): per-block role-frequency vector."""
    t = load_transcripts(spark, sf_dir)
    blocks = t.groupBy("conv_id").agg(
        F.min_by(F.expr(norm_name_expr("role", "spark")), "turn_idx").alias("block_key")
    )
    return (
        t.join(blocks, "conv_id")
        .groupBy("block_key", F.expr(norm_name_expr("role", "spark")).alias("role"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@subreport(
    "venue_rank",
    _DUCK_FEATURES
    + """
    SELECT venue, CAST(count(*) AS bigint) AS n_convs
    FROM feats GROUP BY 1 ORDER BY n_convs DESC, venue ASC LIMIT 10
    """,
)
def venue_rank(spark, sf_dir):
    """multi-key sort + limit (topN/schwartzianSort, NLPUtil.pm:1550-1678,
    2861-2874)."""
    f = _features(spark, sf_dir)
    return (
        f.groupBy("venue")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .orderBy(F.desc("n_convs"), F.asc("venue"))
        .limit(10)
    )


# (key column, value column) of each subreport, for the uniform merge shape
_REPORT_COLS = {
    "count_by_year": ("year", "n_events"),
    "top_focus_names": ("focus_name", "n_convs"),
    "normalize_name_keys": ("norm_key", "n_turns"),
    "cluster_sizes": ("cluster_id", "n_convs"),
    "venue_rank": ("venue", "n_convs"),
}


def _corpus_reports_oracle() -> str:
    parts = []
    for name, spec in _SUBREPORTS.items():
        k, v = _REPORT_COLS[name]
        parts.append(
            f"SELECT '{name}' AS report, CAST({k} AS varchar) AS key, "
            f"CAST({v} AS bigint) AS value FROM ({spec.oracle})"
        )
    return " UNION ALL ".join(parts)


@q("corpus_reports", _corpus_reports_oracle())
def corpus_reports(spark, sf_dir):
    """Union of the five scalar report queries — count-by-year
    (clean.pl:350,398-404), count-by-name top-100 (clean.pl:352-418),
    blocking-key normalization (NLPUtil.pm:1854-1876), cluster-size report
    (clust.pl:675-725), and venue top-N (NLPUtil.pm:1550-1678) — merged to
    one verified row so the 50-query driver window covers every
    evidence/similarity query (each sub-report keeps its own oracle SQL,
    unioned with a report tag)."""
    dfs = []
    for name, spec in _SUBREPORTS.items():
        k, v = _REPORT_COLS[name]
        dfs.append(
            spec.spark_fn(spark, sf_dir).select(
                F.lit(name).alias("report"),
                F.col(k).cast("string").alias("key"),
                F.col(v).cast("bigint").alias("value"),
            )
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out


# ---------------------------------------------------------------------------
# §2.6 similarity operators — the pandas-UDF scorers vs independent SQL
# ---------------------------------------------------------------------------

_DUCK_CSLR = (
    _DUCK_TRANSCRIPTS
    + f""",
    rf AS (
        SELECT conv_id, {norm_name_expr('role', 'duckdb')} AS role,
               CAST(count(*) AS bigint) AS f
        FROM transcripts GROUP BY 1, 2
    ),
    blocks AS (
        SELECT conv_id,
               min(CASE WHEN turn_idx = 0 THEN {norm_name_expr('role', 'duckdb')} END) AS block_key
        FROM transcripts GROUP BY conv_id
    ),
    sums AS (SELECT conv_id, sum(f) AS s, count(*) AS k FROM rf GROUP BY 1),
    pairs AS (
        SELECT ba.block_key, ba.conv_id AS c1, bb.conv_id AS c2,
               CASE WHEN sa.s < sb.s OR (sa.s = sb.s AND sa.k < sb.k)
                    THEN bb.conv_id ELSE ba.conv_id END AS mult_conv,
               CASE WHEN sa.s < sb.s OR (sa.s = sb.s AND sa.k < sb.k)
                    THEN ba.conv_id ELSE bb.conv_id END AS samp_conv
        FROM blocks ba
        JOIN blocks bb ON ba.block_key = bb.block_key AND ba.conv_id < bb.conv_id
        JOIN sums sa ON sa.conv_id = ba.conv_id
        JOIN sums sb ON sb.conv_id = bb.conv_id
    ),
    mult AS (
        SELECT p.c1, p.c2, r.role, least(r.f, 4) + 0.5 AS fprior
        FROM pairs p JOIN rf r ON r.conv_id = p.mult_conv
    ),
    samp AS (
        SELECT p.c1, p.c2, r.role, CAST(r.f AS double) AS f
        FROM pairs p JOIN rf r ON r.conv_id = p.samp_conv
    ),
    mstats AS (
        SELECT c1, c2, sum(fprior) + 0.5 AS s, count(*) + 1 AS m
        FROM mult GROUP BY 1, 2
    ),
    joined AS (
        SELECT s.c1, s.c2, s.f, m.fprior
        FROM samp s LEFT JOIN mult m ON m.c1 = s.c1 AND m.c2 = s.c2 AND m.role = s.role
    ),
    sh AS (
        SELECT c1, c2,
               coalesce(sum(CASE WHEN fprior IS NOT NULL THEN f END), 0) AS shsum,
               coalesce(sum(CASE WHEN fprior IS NOT NULL THEN lgamma(f + 1) END), 0) AS lg_fs,
               coalesce(sum(CASE WHEN fprior IS NOT NULL THEN f * ln(fprior) END), 0) AS f_lnp,
               coalesce(sum(CASE WHEN fprior IS NULL THEN f END), 0) AS usum,
               sum(f) AS n0
        FROM joined GROUP BY 1, 2
    ),
    calc AS (
        SELECT p.block_key, p.c1 AS conv_id1, p.c2 AS conv_id2,
               sh.shsum + greatest(sh.usum - floor(sh.n0 * 0.3334), 0) AS n,
               greatest(sh.usum - floor(sh.n0 * 0.3334), 0) AS ua,
               sh.lg_fs, sh.f_lnp, sh.shsum, ms.s, ms.m
        FROM pairs p
        JOIN sh ON sh.c1 = p.c1 AND sh.c2 = p.c2
        JOIN mstats ms ON ms.c1 = p.c1 AND ms.c2 = p.c2
    )
    SELECT block_key, conv_id1, conv_id2,
           round(lgamma(n + 1) - lg_fs - lgamma(ua + 1)
                 + f_lnp - shsum * ln(s)
                 + ua * (ln(0.5) - ln(s))
                 + lgamma(m + n) - lgamma(n + 1) - lgamma(m), 6) AS log_cslr
    FROM calc
"""
)


_DUCK_CSLR_V1 = (
    _DUCK_TRANSCRIPTS
    + f""",
    rf AS (
        SELECT conv_id, {norm_name_expr('role', 'duckdb')} AS role,
               CAST(count(*) AS bigint) AS f
        FROM transcripts GROUP BY 1, 2
    ),
    blocks AS (
        SELECT conv_id,
               min(CASE WHEN turn_idx = 0 THEN {norm_name_expr('role', 'duckdb')} END) AS block_key
        FROM transcripts GROUP BY conv_id
    ),
    sums AS (SELECT conv_id, sum(f) AS s, count(*) AS k FROM rf GROUP BY 1),
    pairs AS (
        -- v1 template pick: plain OR of the two conditions (NLPUtil.pm:3268-3276)
        SELECT ba.block_key, ba.conv_id AS c1, bb.conv_id AS c2,
               CASE WHEN sa.s < sb.s OR sa.k < sb.k
                    THEN bb.conv_id ELSE ba.conv_id END AS mult_conv,
               CASE WHEN sa.s < sb.s OR sa.k < sb.k
                    THEN ba.conv_id ELSE bb.conv_id END AS samp_conv
        FROM blocks ba
        JOIN blocks bb ON ba.block_key = bb.block_key AND ba.conv_id < bb.conv_id
        JOIN sums sa ON sa.conv_id = ba.conv_id
        JOIN sums sb ON sb.conv_id = bb.conv_id
    ),
    mult AS (
        -- prior added BEFORE the cap, cap applies to the inflated value
        -- (NLPUtil.pm:3362-3369)
        SELECT p.c1, p.c2, r.role, least(r.f + 0.5, 4) AS fprior
        FROM pairs p JOIN rf r ON r.conv_id = p.mult_conv
    ),
    samp AS (
        SELECT p.c1, p.c2, r.role, CAST(r.f AS double) AS f
        FROM pairs p JOIN rf r ON r.conv_id = p.samp_conv
    ),
    mstats AS (
        SELECT c1, c2, sum(fprior) + 0.5 AS s, count(*) + 1 AS m
        FROM mult GROUP BY 1, 2
    ),
    joined AS (
        SELECT s.c1, s.c2, s.f, m.fprior
        FROM samp s LEFT JOIN mult m ON m.c1 = s.c1 AND m.c2 = s.c2 AND m.role = s.role
    ),
    sh AS (
        SELECT c1, c2,
               coalesce(sum(CASE WHEN fprior IS NOT NULL THEN f END), 0) AS shsum,
               coalesce(sum(CASE WHEN fprior IS NOT NULL THEN lgamma(f + 1) END), 0) AS lg_fs,
               coalesce(sum(CASE WHEN fprior IS NOT NULL THEN f * ln(fprior) END), 0) AS f_lnp,
               coalesce(sum(CASE WHEN fprior IS NOT NULL THEN 1 END), 0) AS seen_cnt,
               coalesce(sum(CASE WHEN fprior IS NULL THEN 1 END), 0) AS unseen_cnt
        FROM joined GROUP BY 1, 2
    ),
    calc AS (
        -- UNSEEN = unseen TYPE COUNT minus floor(seenTypes/2)
        -- (NLPUtil.pm:3330-3333,3350-3355)
        SELECT p.block_key, p.c1 AS conv_id1, p.c2 AS conv_id2,
               sh.shsum + greatest(sh.unseen_cnt - floor(sh.seen_cnt * 0.5), 0) AS n,
               greatest(sh.unseen_cnt - floor(sh.seen_cnt * 0.5), 0) AS ua,
               sh.lg_fs, sh.f_lnp, sh.shsum, ms.s, ms.m
        FROM pairs p
        JOIN sh ON sh.c1 = p.c1 AND sh.c2 = p.c2
        JOIN mstats ms ON ms.c1 = p.c1 AND ms.c2 = p.c2
    )
    SELECT block_key, conv_id1, conv_id2,
           round(lgamma(n + 1) - lg_fs - lgamma(ua + 1)
                 + f_lnp - shsum * ln(s)
                 + ua * (ln(0.5) - ln(s))
                 + lgamma(m + n) - lgamma(n + 1) - lgamma(m), 6) AS log_cslr
    FROM calc
"""
)


def _cslr_scored_pairs(spark, sf_dir, log_fn, out_col: str = "log_cslr"):
    """Within-block pair scores ``log_fn(vec1, vec2)`` over per-conv
    role-frequency vectors. One transcript scan builds the per-conv
    (role-frequency map, block key) side table; ``blocking.block_pair_grid``
    enumerates each within-block pair once (conv_id1 < conv_id2), so a
    vector crosses the Python boundary once per grid cell, not per pair,
    and a hot block spreads over many cells. O(block²) by design: these are
    the verification-only enumeration queries (module docstring)."""
    import pandas as pd

    from namedis_spark.operators.blocking import block_pair_grid

    t = load_transcripts(spark, sf_dir)
    rf = t.groupBy(
        "conv_id", F.expr(norm_name_expr("role", "spark")).alias("role")
    ).agg(F.count(F.lit(1)).cast("int").alias("f"), F.min("turn_idx").alias("ti"))
    side = rf.groupBy("conv_id").agg(
        F.map_from_entries(F.collect_list(F.struct("role", "f"))).alias("vec"),
        F.min_by("role", "ti").alias("block_key"),
    )
    sizes = side.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))

    def kernel(rows, i1, i2):
        ids = rows["conv_id"].to_numpy()
        vecs = [dict(v) for v in rows["vec"]]
        return pd.DataFrame(
            {
                "conv_id1": ids[i1],
                "conv_id2": ids[i2],
                out_col: [
                    round(log_fn(vecs[a], vecs[b]), 6) for a, b in zip(i1, i2)
                ],
            }
        )

    return block_pair_grid(
        side,
        sizes,
        "conv_id",
        kernel,
        f"block_key string, conv_id1 string, conv_id2 string, {out_col} double",
    )


@q("cslr_v1_pairs", _DUCK_CSLR_V1)
def cslr_v1_pairs(spark, sf_dir):
    """CSLR v1 likelihood ratio (log) — the obsolete-but-selectable earlier
    variant (isSameCategorical, NLPUtil.pm:3255-3480; version switch
    clust.pl:95-104), with its seen-cancels-unseen type-count semantics —
    verified against an independent closed-form SQL oracle."""
    from namedis_spark.functions.core import cslr_v1_log

    return _cslr_scored_pairs(spark, sf_dir, cslr_v1_log)


@q("cslr_role_pairs", _DUCK_CSLR)
def cslr_role_pairs(spark, sf_dir):
    """CSLR v2 likelihood ratio (log) over per-conversation role-frequency
    vectors, per within-block pair — the novel categorical similarity as an
    Arrow-batched pandas UDF (isSameCategorical2, NLPUtil.pm:3486-3712),
    verified here against an independent closed-form SQL oracle."""
    from namedis_spark.functions.core import cslr_v2_log

    return _cslr_scored_pairs(spark, sf_dir, cslr_v2_log)


@q(
    "jaro_winkler_names",
    _DUCK_TRANSCRIPTS
    + f"""
    , surfaces AS (
        SELECT DISTINCT surface, {norm_name_expr('surface', 'duckdb')} AS block_key
        FROM (
            SELECT role AS surface FROM transcripts
            UNION SELECT replace(role, '_', '-') FROM transcripts
            UNION SELECT upper(role) FROM transcripts
        )
    )
    SELECT a.block_key, a.surface AS name1, b.surface AS name2,
           round(jaro_winkler_similarity(a.surface, b.surface), 6) AS jw
    FROM surfaces a JOIN surfaces b
      ON a.block_key = b.block_key AND a.surface < b.surface
    """,
)
def jaro_winkler_names(spark, sf_dir):
    """Jaro-Winkler similarity between distinct speaker-name surfaces
    WITHIN a blocking key (north-star string channel) — pairs are
    enumerated per normalized-name block by ``blocking.block_pair_grid``,
    as the pipeline's small-block scorer does, never by an O(V²) theta
    join over the whole name vocabulary.
    Deterministic case/hyphen variants of each role stand in for the
    surface diversity real names have (same derivation in the oracle)."""
    import pandas as pd

    from namedis_spark.functions.core import jaro_winkler
    from namedis_spark.operators.blocking import block_pair_grid

    t = load_transcripts(spark, sf_dir)
    surfaces = (
        t.select(F.col("role").alias("surface"))
        .union(t.select(F.expr("replace(role, '_', '-')")))
        .union(t.select(F.upper("role")))
        .select(
            "surface", F.expr(norm_name_expr("surface", "spark")).alias("block_key")
        )
        .distinct()
    )
    sizes = surfaces.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))

    def kernel(rows, i1, i2):
        names = rows["surface"].to_numpy()
        n1, n2 = names[i1], names[i2]
        return pd.DataFrame(
            {
                "name1": n1,
                "name2": n2,
                "jw": [round(jaro_winkler(x, y), 6) for x, y in zip(n1, n2)],
            }
        )

    return block_pair_grid(
        surfaces,
        sizes,
        "surface",
        kernel,
        "block_key string, name1 string, name2 string, jw double",
    )


@q(
    "tfidf_cosine_pairs",
    _DUCK_TRANSCRIPTS
    + f""",
    tf AS (
        SELECT conv_id, term, CAST(count(*) AS bigint) AS f FROM (
            SELECT conv_id, unnest({content_terms_expr('text', 'duckdb')}) AS term
            FROM transcripts
        ) GROUP BY 1, 2
    ),
    nconv AS (SELECT CAST(count(DISTINCT conv_id) AS double) AS n FROM transcripts),
    idf AS (SELECT term, ln((SELECT n FROM nconv) / count(*)) AS idf FROM tf GROUP BY term),
    v AS (SELECT tf.conv_id, tf.term, tf.f * idf.idf AS w FROM tf JOIN idf USING (term)),
    norms AS (SELECT conv_id, sqrt(sum(w * w)) AS nrm FROM v GROUP BY 1),
    blocks AS (
        SELECT conv_id,
               min(CASE WHEN turn_idx = 0 THEN {norm_name_expr('role', 'duckdb')} END) AS block_key
        FROM transcripts GROUP BY conv_id
    ),
    dots AS (
        SELECT a.conv_id AS conv_id1, b.conv_id AS conv_id2, sum(a.w * b.w) AS dot
        FROM v a JOIN v b ON a.term = b.term AND a.conv_id < b.conv_id
        GROUP BY 1, 2
    )
    SELECT ba.block_key, ba.conv_id AS conv_id1, bb.conv_id AS conv_id2,
           round(coalesce(d.dot, 0) / (na.nrm * nb.nrm), 6) AS cosine
    FROM blocks ba
    JOIN blocks bb ON ba.block_key = bb.block_key AND ba.conv_id < bb.conv_id
    JOIN norms na ON na.conv_id = ba.conv_id
    JOIN norms nb ON nb.conv_id = bb.conv_id
    LEFT JOIN dots d ON d.conv_id1 = ba.conv_id AND d.conv_id2 = bb.conv_id
    """,
)
def tfidf_cosine_pairs(spark, sf_dir):
    """TF-IDF cosine over turn text per within-block pair (north-star
    vector channel). Engine-side explode-join formulation — the scale
    path: the dot product is an equi-join on term, never a per-pair map
    shipment. (The python twin functions.core.tfidf_cosine is exercised by
    the pipeline scorer and unit tests.)"""
    f = _features(spark, sf_dir)  # already persisted by the feature cache
    n = state(spark).feature_count(sf_dir)  # counted once per build
    tf = f.select(
        "conv_id", "block_key", F.explode("term_freq").alias("term", "tfv")
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select("term", (F.log(F.lit(float(n)) / F.col("df"))).alias("idf"))
    )
    v = tf.join(idf, "term").select(
        "conv_id", "block_key", "term", (F.col("tfv") * F.col("idf")).alias("w")
    )
    norms = v.groupBy("conv_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    # dot products joined on (term, BLOCK_KEY): only within-block pairs are
    # consumed by the left join below, and a same-block pair's shared-term
    # set is block-independent, so restricting the join key prunes the
    # cross-block pair explosion before the shuffle with identical output
    # (guide §2.3 — a hot global term otherwise joins the whole corpus
    # against itself)
    a = v.select(
        F.col("conv_id").alias("conv_id1"), "term", "block_key",
        F.col("w").alias("w1"),
    )
    b = v.select(
        F.col("conv_id").alias("conv_id2"), "term", "block_key",
        F.col("w").alias("w2"),
    )
    dots = (
        a.join(b, ["term", "block_key"])
        .where(F.col("conv_id1") < F.col("conv_id2"))
        .groupBy("conv_id1", "conv_id2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    blocks = f.select("block_key", "conv_id")
    pairs = (
        blocks.alias("x")
        .join(blocks.alias("y"), "block_key")
        .where(F.col("x.conv_id") < F.col("y.conv_id"))
        .select(
            "block_key",
            F.col("x.conv_id").alias("conv_id1"),
            F.col("y.conv_id").alias("conv_id2"),
        )
    )
    return (
        pairs.join(dots, ["conv_id1", "conv_id2"], "left")
        .join(norms.withColumnRenamed("conv_id", "conv_id1").withColumnRenamed("nrm", "n1"), "conv_id1")
        .join(norms.withColumnRenamed("conv_id", "conv_id2").withColumnRenamed("nrm", "n2"), "conv_id2")
        .select(
            "block_key",
            "conv_id1",
            "conv_id2",
            F.round(
                F.coalesce(F.col("dot"), F.lit(0.0)) / (F.col("n1") * F.col("n2")), 6
            ).alias("cosine"),
        )
    )


@q(
    "key_ambiguity",
    _DUCK_FEATURES
    + f""",
    hits AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS name
        FROM transcripts
    ),
    names AS (SELECT name, CAST(count(*) AS bigint) AS occurrence FROM hits GROUP BY 1),
    seed AS (
        SELECT focus_name AS name,
               greatest(1.0, round(0.9 * count(DISTINCT venue)
                                   - 1.3 * (CASE WHEN count(*) = 1 THEN 1.0 ELSE 0.0 END), 6))
                   AS seed
        FROM feats GROUP BY 1
    ),
    a0 AS (
        SELECT n.name, n.occurrence, coalesce(s.seed, 1.0) AS ambig,
               (string_split(n.name, ' '))[-1] AS surname,
               (string_split(n.name, ' '))[1] AS givenname
        FROM names n LEFT JOIN seed s USING (name)
    ),
    tot AS (SELECT sum(ambig) AS total FROM a0),
    sp AS (SELECT surname, sum(ambig) / (SELECT total FROM tot) AS p_s FROM a0 GROUP BY 1),
    gp AS (SELECT givenname, sum(ambig) / (SELECT total FROM tot) AS p_g FROM a0 GROUP BY 1)
    SELECT a0.name, a0.occurrence,
           round(least(CAST(a0.occurrence AS double),
                       greatest(a0.ambig,
                                round(sp.p_s * gp.p_g * 1.22
                                      * (SELECT total FROM tot), 6))), 6) AS ambig
    FROM a0 JOIN sp USING (surname) JOIN gp USING (givenname)
    """,
)
def key_ambiguity_q(spark, sf_dir):
    """name-ambiguity fixed point (cnambig.pl:452-782) with the
    occurrence cap (a name observed k times denotes <= k persons; see
    corpus.key_ambiguity) — at this scale the absolute-convergence test
    (Σ|Δ| < 500) stops after one update, which the oracle replays exactly."""
    from namedis_spark.operators.corpus import key_ambiguity

    return key_ambiguity(_features(spark, sf_dir))


_DUCK_AMBIG_R1 = (
    _DUCK_FEATURES
    + f""",
    hits AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS name
        FROM transcripts
    ),
    names AS (SELECT name, CAST(count(*) AS bigint) AS occurrence FROM hits GROUP BY 1),
    seed AS (
        SELECT focus_name AS name,
               greatest(1.0, round(0.9 * count(DISTINCT venue)
                                   - 1.3 * (CASE WHEN count(*) = 1 THEN 1.0 ELSE 0.0 END), 6))
                   AS seed
        FROM feats GROUP BY 1
    ),
    a0 AS (
        SELECT n.name, n.occurrence, coalesce(s.seed, 1.0) AS ambig,
               (string_split(n.name, ' '))[-1] AS surname,
               (string_split(n.name, ' '))[1] AS givenname
        FROM names n LEFT JOIN seed s USING (name)
    ),
    tot AS (SELECT sum(ambig) AS total FROM a0),
    sp AS (SELECT surname, sum(ambig) / (SELECT total FROM tot) AS p_s FROM a0 GROUP BY 1),
    gp AS (SELECT givenname, sum(ambig) / (SELECT total FROM tot) AS p_g FROM a0 GROUP BY 1),
    a1 AS (
        SELECT a0.name, a0.occurrence, a0.surname, a0.givenname,
               round(least(CAST(a0.occurrence AS double),
                           greatest(a0.ambig,
                                    round(sp.p_s * gp.p_g * 1.22
                                          * (SELECT total FROM tot), 6))), 6) AS ambig
        FROM a0 JOIN sp USING (surname) JOIN gp USING (givenname)
    ),
    tot1 AS (SELECT sum(ambig) AS total FROM a1)
"""
)


@q(
    "name_part_probs",
    _DUCK_AMBIG_R1
    + """
    SELECT kind, part, n_names, ambig_sum,
           round(ambig_sum / (SELECT total FROM tot1), 6) AS prob
    FROM (
        SELECT 'surname' AS kind, surname AS part,
               CAST(count(*) AS bigint) AS n_names,
               round(sum(ambig), 6) AS ambig_sum
        FROM a1 GROUP BY 2
        UNION ALL
        SELECT 'givenname' AS kind, givenname AS part,
               CAST(count(*) AS bigint) AS n_names,
               round(sum(ambig), 6) AS ambig_sum
        FROM a1 GROUP BY 2
    )
    """,
)
def name_part_probs_q(spark, sf_dir):
    """surname/givenname frequency + probability decomposition
    (cnambig.pl:420-439,583-782 — the SURNAMES / GIVEN_NAMES sections of
    ambiguity.csv); see operators.corpus.name_part_probs."""
    from namedis_spark.operators.corpus import name_part_probs

    return name_part_probs(_features(spark, sf_dir), rounds=1)


@q(
    "block_thresholds",
    _DUCK_AMBIG_R1
    + """
    SELECT name AS block_key,
           CAST(greatest(2, round(0.9 * ambig, 0)) AS int) AS k_est,
           round(0.05 * greatest(1.0, ambig / 10.0), 6) AS thres
    FROM a1 WHERE name IN (SELECT focus_name FROM feats)
    """,
)
def block_thresholds(spark, sf_dir):
    """per-block K and merge-threshold selection (calcKClustThres,
    clust.pl:296-324: K = scaled ambiguity estimate floored at 2; thres =
    base 0.05 × max(1, ambig/10))."""
    from namedis_spark.operators.corpus import key_ambiguity

    f = _features(spark, sf_dir)
    amb = key_ambiguity(f, rounds=1)
    focus = f.select(F.col("focus_name").alias("name")).distinct()
    return (
        amb.join(focus, "name")
        .select(
            F.col("name").alias("block_key"),
            F.greatest(F.lit(2), F.round(0.9 * F.col("ambig"), 0))
            .cast("int")
            .alias("k_est"),
            F.round(0.05 * F.greatest(F.lit(1.0), F.col("ambig") / 10.0), 6)
            .alias("thres"),
        )
    )



def _duck_term_occ() -> str:
    return (
        "WITH RECURSIVE transcripts AS ("
        + transcripts_sql("duckdb")
        + f"""),
    term_occ AS (
        SELECT term, CAST(count(*) AS bigint) AS freq FROM (
            SELECT unnest({content_terms_expr('text', 'duckdb')}) AS term FROM transcripts
        ) GROUP BY 1
    ),
    """
    )


def _term_freqs_df(spark, sf_dir):
    return (
        _features(spark, sf_dir)
        .select(F.explode("term_freq").alias("term", "f"))
        .groupBy("term")
        .agg(F.sum("f").cast("bigint").alias("freq"))
    )


def _dag_ic_oracle() -> str:
    from namedis_spark.operators.taxonomy import closure_oracle_ctes

    return (
        _duck_term_occ()
        + closure_oracle_ctes()
        + """
    SELECT node AS term, round(freq, 6) AS freq,
           round(ln((SELECT m FROM mc)) - ln(freq), 6) AS ic
    FROM pf
    """
    )


@q("term_ic", _dag_ic_oracle())
def term_ic_q(spark, sf_dir):
    """taxonomy term information content over the multi-level DAG
    (trainDBLPFile + calcNetIC, ConceptNet.pm:5315-5411, 4931-4970):
    iterative-join ancestor closure (enumAncestors:2852), batch-
    attenuated full-depth frequency pass-up (addFreqAndAuthors:3483-3520),
    IC = log(MC) − log(freq). Oracle = recursive-CTE closure over the
    identical edge list; see operators.taxonomy."""
    from namedis_spark.operators.taxonomy import (
        ancestor_closure,
        synthetic_dag,
        term_ic_dag,
        with_attenuation,
    )

    tf = _term_freqs_df(spark, sf_dir)
    closure = with_attenuation(
        ancestor_closure(synthetic_dag(tf), extra_nodes=tf.select("term"))
    )
    return term_ic_dag(tf, closure)


def _dag_closeness_oracle() -> str:
    from namedis_spark.operators.taxonomy import (
        IC_OFFSET,
        LCS_MAX_DEPTH_SUM,
        closure_oracle_ctes,
    )

    return (
        _duck_term_occ()
        + closure_oracle_ctes()
        + f""",
    ics AS (
        SELECT node, round(ln((SELECT m FROM mc)) - ln(freq), 6) AS ic FROM pf
    ),
    corpus_closure AS (
        SELECT ca.* FROM catt ca JOIN term_occ t ON t.term = ca.term
    ),
    cand AS (
        SELECT a.term AS term1, b.term AS term2, a.ancestor,
               a.depth + b.depth AS depth_sum,
               a.depth / a.atten + b.depth / b.atten AS atten_depth_sum,
               a.atten * b.atten AS att
        FROM corpus_closure a JOIN corpus_closure b
          ON a.ancestor = b.ancestor AND a.term < b.term
        WHERE a.depth + b.depth <= {LCS_MAX_DEPTH_SUM}
    ),
    best AS (
        SELECT *, row_number() OVER (
            PARTITION BY term1, term2
            ORDER BY depth_sum, atten_depth_sum, ancestor) AS rk
        FROM cand
    )
    SELECT b.term1, b.term2, b.ancestor AS lcs, b.depth_sum,
           round(b.att, 6) AS attenuation,
           round(greatest(i.ic - {IC_OFFSET}, 0), 6) AS closeness
    FROM best b JOIN ics i ON i.node = b.ancestor
    WHERE b.rk = 1
    """
    )


@q("term_closeness_pairs", _dag_closeness_oracle())
def term_closeness_q(spark, sf_dir):
    """concept/LCS closeness over the multi-level DAG (calcTermCloseness
    ConceptNet.pm:5630-5655, leastCommonSubsumer:3283-3361): for corpus
    term pairs whose least common subsumer lies within combined depth ≤ 3,
    closeness = max(IC(lcs) − ICOffset, 0); LCS selection = min depth-sum,
    attenuated-depth-sum tie-break (recAttenuateByBatch), lexical final
    tie-break. Mixed leaf depths make true multi-level subsumers occur
    (depth-sum-3 pairs through mid-level nodes)."""
    from namedis_spark.operators.taxonomy import (
        ancestor_closure,
        lcs_closeness,
        synthetic_dag,
        with_attenuation,
    )

    tf = _term_freqs_df(spark, sf_dir)
    closure = with_attenuation(
        ancestor_closure(synthetic_dag(tf), extra_nodes=tf.select("term"))
    )
    return lcs_closeness(tf, closure)


# ---------------------------------------------------------------------------
# §2.2 cleaning + training-data text ops (documents table)
# ---------------------------------------------------------------------------


def _xml_restore_oracle() -> str:
    from namedis_spark.operators.textops import XML_ENTITIES

    expr = "text"
    for a, b in XML_ENTITIES:
        lit = b.replace("'", "''")
        expr = f"replace({expr}, '{a}', '{lit}')"
    return f"SELECT doc_id, {expr} AS restored FROM documents"


def _strip_publisher_oracle() -> str:
    from namedis_spark.operators.textops import PUBLISHER_PATTERNS

    expr = "lower(text)"
    for pat, rep in PUBLISHER_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return f"SELECT doc_id, trim({expr}) AS stripped FROM documents"


@q(
    "doc_restore_ops",
    f"""
    SELECT doc_id, 'xml' AS variant, restored AS text_out
    FROM ({_xml_restore_oracle()})
    UNION ALL
    SELECT doc_id, 'publisher' AS variant, stripped AS text_out
    FROM ({_strip_publisher_oracle()})
    """,
)
def doc_restore_ops(spark, sf_dir):
    """Document restore/strip chains as one variant-tagged union (the
    ann_topk pattern — the driver verifies at most 50 queries, so the
    two per-doc string-transform chains share one slot, each variant
    keeping its own oracle inside the union):

    * ``xml``: XML-entity restore chain (clean.pl:210-237,
      restoreXmlEntity NLPUtil.pm:764-773);
    * ``publisher``: publisher/page-count/year strip chain
      (removePublisher, NLPUtil.pm:1522-1548)."""
    from namedis_spark.operators.textops import (
        restore_xml_entities,
        strip_publisher,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    xml = restore_xml_entities(docs).select(
        "doc_id", F.lit("xml").alias("variant"), F.col("restored").alias("text_out")
    )
    pub = strip_publisher(docs).select(
        "doc_id",
        F.lit("publisher").alias("variant"),
        F.col("stripped").alias("text_out"),
    )
    return xml.unionByName(pub)


@q(
    "text_quality_stats",
    f"""
    SELECT doc_id,
           CAST(length(text) AS bigint) AS n_chars,
           CAST(len(list_filter(regexp_split_to_array(text, ' +'), x -> x <> '')) AS bigint) AS n_ws_tokens,
           CAST(len({tokens_expr('text', 'duckdb')}) AS bigint) AS n_tokens,
           CAST(len(list_distinct({tokens_expr('text', 'duckdb')})) AS bigint) AS n_distinct,
           round(len(list_filter({tokens_expr('text', 'duckdb')},
                                 t -> list_contains([{stopword_list_sql()}], t)))
                 / CAST(greatest(len({tokens_expr('text', 'duckdb')}), 1) AS double), 6)
               AS stopword_ratio,
           round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / CAST(greatest(length(text), 1) AS double), 6) AS alpha_ratio,
           round(list_aggregate(list_transform({tokens_expr('text', 'duckdb')},
                                               t -> CAST(length(t) AS double)), 'sum')
                 / CAST(greatest(len({tokens_expr('text', 'duckdb')}), 1) AS double), 6)
               AS mean_token_len
    FROM documents
    """,
)
def text_quality_stats_q(spark, sf_dir):
    """Token counting (whitespace + regex + distinct terms) and quality
    scoring (stopword/alpha ratios, mean token length) as ONE per-doc
    stats table — the two former queries `token_stats` and
    `quality_scores` joined on doc_id to fit the driver's 50-query
    verification window; both operators and all eight metric columns
    stay independently oracle-checked (the value hash covers every
    column)."""
    from namedis_spark.operators.textops import quality_scores, token_stats

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    return token_stats(docs).join(quality_scores(docs), "doc_id")


def _language_id_oracle() -> str:
    from namedis_spark.functions.langdata import DE_WORDS, EN_WORDS, FR_WORDS

    toks = tokens_expr("text", "duckdb")
    vocab = sorted(DE_WORDS | FR_WORDS | EN_WORDS)
    dic = ", ".join(
        f"('{w}', {int(w in DE_WORDS)}, {int(w in FR_WORDS)}, {int(w in EN_WORDS)})"
        for w in vocab
    )
    return f"""
    WITH dic(w, in_de, in_fr, in_en) AS (VALUES {dic}),
    t AS (SELECT doc_id, {toks} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS w FROM t),
    j AS (
        SELECT e.doc_id,
               coalesce(d.in_de, 0) AS in_de,
               coalesce(d.in_fr, 0) AS in_fr,
               coalesce(d.in_en, 0) AS in_en
        FROM ex e LEFT JOIN dic d ON d.w = e.w
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_words,
               sum(CASE WHEN in_de = 1 AND in_en = 0 THEN 1 ELSE 0 END) AS de_hits,
               sum(CASE WHEN in_de = 1 AND in_en = 1 THEN 1 ELSE 0 END) AS sh_de,
               sum(CASE WHEN in_en = 1 AND in_de = 0 THEN 1 ELSE 0 END) AS en_de,
               sum(CASE WHEN in_fr = 1 AND in_en = 0 THEN 1 ELSE 0 END) AS fr_hits,
               sum(CASE WHEN in_fr = 1 AND in_en = 1 THEN 1 ELSE 0 END) AS sh_fr,
               sum(CASE WHEN in_en = 1 AND in_fr = 0 THEN 1 ELSE 0 END) AS en_fr,
               sum(CASE WHEN in_en = 1 THEN 1 ELSE 0 END) AS en_hits
        FROM j GROUP BY 1
    ),
    votes AS (
        SELECT t.doc_id,
               CAST(coalesce(a.n_words, 0) AS int) AS n_words,
               coalesce(a.de_hits, 0) AS de_hits, coalesce(a.sh_de, 0) AS sh_de,
               coalesce(a.en_de, 0) AS en_de,
               coalesce(a.fr_hits, 0) AS fr_hits, coalesce(a.sh_fr, 0) AS sh_fr,
               coalesce(a.en_fr, 0) AS en_fr,
               coalesce(a.en_hits, 0) AS en_hits
        FROM t LEFT JOIN agg a USING (doc_id)
    )
    , flags AS (
        SELECT *,
               (NOT (n_words <= 4 AND en_de >= n_words - 1)
                AND de_hits > 0
                AND (de_hits * 3 >= en_de OR sh_de >= en_de)) AS is_de,
               (NOT (n_words <= 4 AND en_fr >= n_words - 1)
                AND fr_hits > 0
                AND (fr_hits * 3 >= en_fr OR sh_fr >= en_fr)) AS is_fr
        FROM votes
    )
    SELECT doc_id, n_words,
           CAST(de_hits AS bigint) AS de_hits,
           CAST(fr_hits AS bigint) AS fr_hits,
           CAST(en_hits AS bigint) AS en_hits,
           CASE WHEN is_de AND (NOT is_fr OR de_hits >= fr_hits) THEN 'de'
                WHEN is_fr THEN 'fr'
                ELSE 'en' END AS lang_pred
    FROM flags
    """


@q("language_id", _language_id_oracle())
def language_id_q(spark, sf_dir):
    """Dictionary-vote language ID (testLang, clean.pl:445-541): per
    document, German/French native-word votes against English with the
    reference's decision rule (short-English pass, foreign*3 >= english
    or shared >= english). The loan-phrase lookahead + apostrophe
    handling live in the Python port operators.textops.test_lang."""
    from namedis_spark.operators.textops import language_id

    register_views(spark, sf_dir)
    return language_id(spark.table("documents"))


@q(
    "doc_fingerprints",
    f"SELECT doc_id, {fingerprint_expr('text', 'duckdb')} AS fingerprint FROM documents",
)
def doc_fingerprints(spark, sf_dir):
    """document fingerprinting (normalized-content md5)."""
    from namedis_spark.operators.textops import fingerprints

    register_views(spark, sf_dir)
    return fingerprints(spark.table("documents"))


@q(
    "dedup_exact",
    f"""
    SELECT {fingerprint_expr('text', 'duckdb')} AS fingerprint,
           CAST(count(*) AS bigint) AS n_docs,
           min(doc_id) AS keeper_doc_id
    FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """exact dedup via content-fingerprint groupBy."""
    from namedis_spark.operators.dedup import exact_duplicates

    register_views(spark, sf_dir)
    return exact_duplicates(spark.table("documents"))


def _minhash_oracle() -> str:
    from namedis_spark.operators.dedup import _A, _B, MINHASH_PRIME, N_HASHES, shingle_keys

    sh = shingle_keys("text", dialect="duckdb")
    hcols = ", ".join(
        f"list_min(list_transform(shingles, x -> ({_A[i]} * x + {_B[i]}) % {MINHASH_PRIME})) AS h{i}"
        for i in range(N_HASHES)
    )
    return f"""
        SELECT doc_id, {hcols}
        FROM (SELECT doc_id, {sh} AS shingles FROM documents)
        WHERE len(shingles) > 0
    """


@q("minhash_signatures", _minhash_oracle())
def minhash_signatures_q(spark, sf_dir):
    """MinHash signatures over md5-derived character-3-gram shingles —
    portable affine hashes reproduced bit-for-bit by the SQL oracle."""
    from namedis_spark.operators.dedup import minhash_signatures

    register_views(spark, sf_dir)
    return minhash_signatures(spark.table("documents"))


def _lsh_cand_ctes() -> str:
    """Shared CTE chain sig → exploded → kept (bucket-size cap) → e2 —
    mirrors operators.dedup.lsh_candidate_pairs including the
    MAX_BUCKET_SIZE skew guard."""
    from namedis_spark.operators.dedup import MAX_BUCKET_SIZE, N_BANDS, N_HASHES

    rows = N_HASHES // N_BANDS
    bands = " UNION ALL ".join(
        "SELECT doc_id, "
        + f"{bnd} AS band, concat_ws('_', "
        + ", ".join(f"h{bnd * rows + j}" for j in range(rows))
        + ") AS bucket FROM sig"
        for bnd in range(N_BANDS)
    )
    return f"""
        sig AS ({_minhash_oracle()}),
        exploded AS ({bands}),
        kept AS (
            SELECT band, bucket FROM exploded
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_SIZE}
        ),
        e2 AS (
            SELECT ex.doc_id, ex.band, ex.bucket
            FROM exploded ex JOIN kept USING (band, bucket)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2
            FROM e2 a JOIN e2 b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
    """


def _lsh_oracle() -> str:
    return f"WITH {_lsh_cand_ctes()} SELECT doc_id1, doc_id2 FROM cand"


@q("minhash_lsh_candidates", _lsh_oracle())
def minhash_lsh_candidates(spark, sf_dir):
    """LSH banding candidates: same-band-bucket document pairs."""
    from namedis_spark.operators.dedup import lsh_candidate_pairs

    register_views(spark, sf_dir)
    return lsh_candidate_pairs(spark.table("documents"))


def _ngram_jaccard_oracle(threshold: float = 0.5) -> str:
    """LSH-candidate generation (same portable minhash banding + bucket
    cap as the Spark path) followed by exact shingle-set Jaccard on the
    candidates only — the oracle replays the full two-stage pipeline."""
    from namedis_spark.operators.dedup import shingle_keys

    sh = shingle_keys("text", dialect="duckdb")
    return f"""
        WITH {_lsh_cand_ctes()},
        sets AS (SELECT doc_id, {sh} AS shingles FROM documents),
        j AS (
            SELECT c.doc_id1, c.doc_id2,
                   CAST(len(list_intersect(a.shingles, b.shingles)) AS bigint) AS i,
                   len(a.shingles) AS sz1, len(b.shingles) AS sz2
            FROM cand c
            JOIN sets a ON a.doc_id = c.doc_id1
            JOIN sets b ON b.doc_id = c.doc_id2
        )
        SELECT doc_id1, doc_id2,
               round(CAST(i AS double) / (sz1 + sz2 - i), 6) AS jaccard
        FROM j
        WHERE round(CAST(i AS double) / (sz1 + sz2 - i), 6) >= {threshold}
    """


@q("ngram_jaccard_dups", _ngram_jaccard_oracle())
def ngram_jaccard_dups(spark, sf_dir):
    """near-dup pairs by exact character-3-gram Jaccard >= 0.5, generated
    from LSH banding candidates (bucket-capped) and verified exactly —
    the production two-stage path; no raw shingle self-join."""
    from namedis_spark.operators.dedup import lsh_candidate_pairs, ngram_jaccard_pairs

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    return ngram_jaccard_pairs(
        docs, threshold=0.5, candidates=lsh_candidate_pairs(docs)
    )


def _simhash_oracle(bits: int = 32) -> str:
    toks = tokens_expr("text", "duckdb")
    return f"""
        WITH tf AS (
            SELECT doc_id, tok, CAST(count(*) AS bigint) AS w,
                   CAST(concat('0x', substring(md5(tok), 1, 8)) AS bigint) AS h
            FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
            GROUP BY doc_id, tok
        ),
        votes AS (
            SELECT doc_id, j.j AS bit,
                   sum(CASE WHEN CAST(floor(h / (2 ^ j.j)) AS bigint) % 2 = 1
                            THEN w ELSE -w END) AS v
            FROM tf, (SELECT unnest(range(0, {bits})) AS j) j
            GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN CAST(2 ^ bit AS bigint) ELSE 0 END) AS bigint)
                   AS simhash
        FROM votes GROUP BY 1
    """


@q("simhash_fingerprints", _simhash_oracle())
def simhash_fingerprints(spark, sf_dir):
    """SimHash 32-bit fingerprints (weighted md5 bit votes)."""
    from namedis_spark.operators.dedup import simhash

    register_views(spark, sf_dir)
    return simhash(spark.table("documents"))


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_ANN_K = 5

_DUCK_ANN = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS e
        FROM embeddings
    ),
    dims AS (
        SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS d FROM v
    ),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM dims GROUP BY 1),
    qs AS (SELECT vec_id FROM v WHERE vec_id < 10),
    dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id, sum(a.x * b.x) AS dot
        FROM dims a JOIN dims b ON a.d = b.d
        WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.query_id, d.cand_id,
               round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots d
        JOIN norms na ON na.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.cand_id
    )
    SELECT query_id, cand_id, cosine, CAST(rk AS int) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id ASC) AS rk
        FROM scored
    ) WHERE rk <= {_ANN_K}
"""


def _ann_brute(emb):
    """brute-force cosine top-k (queries = vec_id < 10) — the exactness
    baseline for ANN; ranking on round-6 cosine with id tie-break so both
    engines order identically."""
    from namedis_spark.operators.similarity import brute_force_topk

    return brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=_ANN_K)


def _hyperplane_sigs_cte(n_tables: int, n_planes: int | None) -> str:
    """DuckDB CTE: (vec_id, tbl, bucket) for all T hyperplane tables —
    bit-identical to operators.similarity.table_buckets (same integer
    plane arithmetic, same left-fold accumulation; parity verified).
    ``n_planes=None`` → adaptive count via a scalar subquery, mirroring
    the Spark side's driver-side corpus count."""
    from namedis_spark.operators.similarity import (
        HYPERPLANE_SEED,
        adaptive_planes_expr,
        sig_expr_duckdb,
    )

    planes = (
        adaptive_planes_expr("(SELECT count(*) FROM embeddings)")
        if n_planes is None
        else n_planes
    )
    sig = sig_expr_duckdb("ts.t", planes, HYPERPLANE_SEED)
    return f"""
        sigs AS (
            SELECT vec_id, ts.t AS tbl, {sig} AS bucket
            FROM embeddings, (SELECT unnest(range(0, {n_tables})) AS t) ts
        )
    """


_DUCK_EMB_NORMS = """
    wn AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS double)) AS e,
               sqrt(list_reduce(
                   list_transform(embedding, x -> CAST(x AS double) * CAST(x AS double)),
                   (a, b) -> a + b)) AS nrm
        FROM embeddings
    )
"""

_DUCK_PAIR_COSINE = """
    round(list_reduce(list_transform(range(0, len(a.e)),
                                     i -> a.e[i + 1] * b.e[i + 1]),
                      (x, y) -> x + y) / (a.nrm * b.nrm), 6)
"""


def _embedding_dups_oracle(threshold: float = 0.95) -> str:
    from namedis_spark.operators.similarity import (
        ANN_N_TABLES,
        LSH_MAX_BUCKET_SIZE,
    )

    return f"""
    WITH {_hyperplane_sigs_cte(ANN_N_TABLES, None)},
    kept AS (
        SELECT tbl, bucket FROM sigs
        GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {LSH_MAX_BUCKET_SIZE}
    ),
    s2k AS (SELECT s.* FROM sigs s JOIN kept USING (tbl, bucket)),
    cand AS (
        SELECT DISTINCT s1.vec_id AS vec_id1, s2.vec_id AS vec_id2
        FROM s2k s1 JOIN s2k s2
          ON s1.tbl = s2.tbl AND s1.bucket = s2.bucket AND s1.vec_id < s2.vec_id
    ),
    {_DUCK_EMB_NORMS}
    SELECT c.vec_id1, c.vec_id2, {_DUCK_PAIR_COSINE} AS cosine
    FROM cand c
    JOIN wn a ON a.vec_id = c.vec_id1
    JOIN wn b ON b.vec_id = c.vec_id2
    WHERE {_DUCK_PAIR_COSINE} >= {threshold}
    """


@q("embedding_cosine_dups", _embedding_dups_oracle())
def embedding_cosine_dups(spark, sf_dir):
    """embedding near-dup pairs (cosine >= 0.95): multi-table hyperplane
    LSH candidates (equi-join on (table, bucket)) + exact verification —
    no cross join, no corpus broadcast; the oracle replays the identical
    two-stage pipeline with bit-identical bucket ids."""
    from namedis_spark.operators.dedup import embedding_cosine_pairs

    register_views(spark, sf_dir)
    return embedding_cosine_pairs(spark.table("embeddings"), threshold=0.95)


_ANN_LSH_TABLES = 8
_ANN_LSH_PLANES = 4


def _ann_lsh_oracle() -> str:
    return f"""
    WITH {_hyperplane_sigs_cte(_ANN_LSH_TABLES, _ANN_LSH_PLANES)},
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        FROM sigs q JOIN sigs c
          ON q.tbl = c.tbl AND q.bucket = c.bucket
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    {_DUCK_EMB_NORMS},
    scored AS (
        SELECT cd.query_id, cd.cand_id, {_DUCK_PAIR_COSINE} AS cosine
        FROM cand cd
        JOIN wn a ON a.vec_id = cd.query_id
        JOIN wn b ON b.vec_id = cd.cand_id
    )
    SELECT query_id, cand_id, cosine, CAST(rk AS int) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id ASC) AS rk
        FROM scored
    ) WHERE rk <= {_ANN_K}
    """


def _ann_lsh(emb):
    """bucketed ANN top-k (queries = vec_id < 10) — the registered scale
    path: multi-table hyperplane LSH candidates + exact cosine + window
    rank. Recall vs the brute-force baseline is asserted in tests."""
    from namedis_spark.operators.similarity import lsh_topk

    return lsh_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=_ANN_K,
        n_tables=_ANN_LSH_TABLES,
        n_planes=_ANN_LSH_PLANES,
    )


_IVF_Q_CELLS = 8
_IVF_Q_PROBE = 2
_IVF_DIM = 64


def _ivf_codebook() -> list[list[float]]:
    """Fixed deterministic codebook for the registered IVF query: dyadic
    values (k/16) so every literal is exact in both binary and decimal —
    the Spark projection and the DuckDB oracle see bit-identical doubles.
    The *trained* (spherical k-means) codebook path is exercised by
    tests/test_dedup_text.py recall/determinism tests; the correctness
    gate replays the assignment + probe + verify machinery, which is
    codebook-agnostic."""
    import random

    r = random.Random(1234)
    return [
        [r.randrange(-16, 17) / 16.0 for _ in range(_IVF_DIM)]
        for _ in range(_IVF_Q_CELLS)
    ]


def _ivf_topk_oracle() -> str:
    cents = _ivf_codebook()
    vals = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(x) for x in c) + "]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    # dot = strict left fold over i, matching Spark's
    # aggregate(zip_with(...), 0d, +) element order bit-for-bit.
    dot = (
        "list_reduce(list_transform(range(0, len(v.e)),"
        " i -> v.e[i + 1] * c.c[i + 1]), (x, y) -> x + y)"
    )
    return f"""
    WITH cents(cidx, c) AS (VALUES {vals}),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS e
        FROM embeddings
    ),
    scores AS (
        SELECT v.vec_id, c.cidx, {dot} AS dot
        FROM v CROSS JOIN cents c
    ),
    asn AS (
        SELECT vec_id, cidx,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cidx ASC) AS rk
        FROM scores
    ),
    corpus AS (SELECT vec_id AS cand_id, cidx AS cell FROM asn WHERE rk = 1),
    probes AS (
        SELECT vec_id AS query_id, cidx AS cell
        FROM asn WHERE vec_id < 10 AND rk <= {_IVF_Q_PROBE}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, c.cand_id
        FROM probes p JOIN corpus c USING (cell)
        WHERE p.query_id <> c.cand_id
    ),
    {_DUCK_EMB_NORMS},
    scored AS (
        SELECT cd.query_id, cd.cand_id, {_DUCK_PAIR_COSINE} AS cosine
        FROM cand cd
        JOIN wn a ON a.vec_id = cd.query_id
        JOIN wn b ON b.vec_id = cd.cand_id
    )
    SELECT query_id, cand_id, cosine, CAST(rk AS int) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id ASC) AS rk
        FROM scored
    ) WHERE rk <= {_ANN_K}
    """


def _ann_ivf(emb):
    """IVF ANN top-k (queries = vec_id < 10): per-row nearest-cell
    assignment against a literal codebook (pure projection, no shuffle),
    n_probe-cell probing, candidate equi-join on cell, exact cosine +
    window rank. Registered with a fixed dyadic codebook so the DuckDB
    oracle replays the assignment bit-identically; the trained-codebook
    path (ivf_train) is covered by recall/determinism tests."""
    from namedis_spark.operators.similarity import ivf_topk

    return ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=_ANN_K,
        n_probe=_IVF_Q_PROBE,
        cents=_ivf_codebook(),
    )


def _ann_topk_oracle() -> str:
    def tag(sql: str, variant: str) -> str:
        return (
            f"SELECT '{variant}' AS variant, query_id, cand_id, cosine, rk "
            f"FROM ({sql})"
        )

    return (
        tag(_DUCK_ANN, "brute")
        + " UNION ALL "
        + tag(_ann_lsh_oracle(), "lsh")
        + " UNION ALL "
        + tag(_ivf_topk_oracle(), "ivf")
    )


@q("ann_topk", _ann_topk_oracle())
def ann_topk(spark, sf_dir):
    """ANN top-k, all three registered variants in one tagged union (the
    driver verifies a bounded query window, so the variants share one
    registry row the way `corpus_reports` unions its sub-reports):

    * ``brute`` — exact cosine baseline, query-side broadcast;
    * ``lsh``  — multi-table hyperplane LSH candidates + exact verify;
    * ``ivf``  — literal-codebook cell assignment + n_probe probing
      (fixed dyadic codebook; the DuckDB twin replays it bit-identically).
    """
    cols = ["query_id", "cand_id", "cosine", "rk"]

    def tag(df, variant):
        return df.select(F.lit(variant).alias("variant"), *cols)

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return (
        tag(_ann_brute(emb), "brute")
        .unionByName(tag(_ann_lsh(emb), "lsh"))
        .unionByName(tag(_ann_ivf(emb), "ivf"))
    )


def _venue_norm_oracle() -> str:
    from namedis_spark.operators.textops import venue_norm_expr

    return (
        _DUCK_TRANSCRIPTS
        + f""",
    surfaces AS (
        SELECT DISTINCT raw FROM (
            SELECT tool AS raw FROM transcripts WHERE tool IS NOT NULL
            UNION SELECT tool || ' (2)' FROM transcripts WHERE tool IS NOT NULL
            UNION SELECT upper(tool) || ', second section' FROM transcripts
             WHERE tool IS NOT NULL
            UNION SELECT 'World Wide Web (companion)'
        )
    )
    SELECT raw, {venue_norm_expr('raw', 'duckdb')} AS venue FROM surfaces
    """
    )


@q("venue_normalize", _venue_norm_oracle())
def venue_normalize(spark, sf_dir):
    """Venue/tool alias normalization (parseDBLPBlock venue handling,
    NLPUtil.pm:637-648 + %venueMap :315-317): first comma-section,
    parenthesized track marker stripped, trimmed/lowercased, alias map
    applied. Deterministic variant surfaces (track / section / alias
    forms) derived from the tool column in both engines."""
    from namedis_spark.operators.textops import normalize_venues

    t = load_transcripts(spark, sf_dir)
    surfaces = (
        t.where(F.col("tool").isNotNull())
        .select(F.col("tool").alias("raw"))
        .union(
            t.where(F.col("tool").isNotNull()).select(
                F.concat(F.col("tool"), F.lit(" (2)"))
            )
        )
        .union(
            t.where(F.col("tool").isNotNull()).select(
                F.concat(F.upper("tool"), F.lit(", second section"))
            )
        )
        .union(
            t.limit(1).select(F.lit("World Wide Web (companion)"))
        )
        .distinct()
    )
    return normalize_venues(surfaces, venue_col="raw")


@q("concept_pair_simi", None)  # fuzzy matcher end-to-end — rows-only
def concept_pair_simi(spark, sf_dir):
    """Full reference stage-2 pair scoring end-to-end: conversation texts
    → fuzzy concept matching with token/lemma provenance → cluster
    vectors (titleSetToVector) → calcConceptVectorSimi per within-block
    pair (shared-term sum + exact-lemma override, overlap dedup,
    single-shared-term veto, venue CSLR boost, priors, ICSum gate).
    Non-SQL-expressible (windowed matcher + sequential discounts) →
    rows-only."""
    import math

    from namedis_spark.functions.matcher import ConceptMatcher
    from namedis_spark.operators.concepts import cluster_pair_simi

    t = load_transcripts(spark, sf_dir)
    f = _features(spark, sf_dir)
    texts = t.groupBy("conv_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(turn_idx, text))),"
            " x -> x.text), ' ')"
        ).alias("text")
    )
    convs = f.select(
        "block_key", "conv_id", "venue", "year_from", "year_to"
    ).join(texts, "conv_id")

    # terms aligned with the events vocabulary so the matcher genuinely
    # fires: single-token concepts (perfect matches, shared channel) plus
    # versioned variants whose BASE is a virtual taxonomy ancestor only —
    # different versions meet at the base through the LCS channel
    # (the base is deliberately NOT a matchable term: an LCS that is
    # itself a shared term is skipped, ConceptNet.pm:6013)
    terms = [
        "signup", "purchase", "click", "view",
        "error v0", "error v1", "error v2", "error v3",
    ]
    # idf-ish term weights + corpus term freqs from one aggregation. The
    # word-level df table is FILTERED to the bounded taxonomy vocabulary
    # (raw term tokens + their lemmas) before the collect: the matcher only
    # ever looks tfiaf/word_freq up by term-token lemmas, so the prune is
    # semantics-preserving, and the driver-side table is O(|taxonomy|) —
    # never the unbounded corpus vocabulary (web text: typos, ids, hashes).
    # The corpus mass total stays exact via a distributed scalar agg.
    from namedis_spark.functions.matcher import lemma_suffix

    _tax_words = {
        w for tt in terms for w in tt.replace("(", " ").replace(")", " ").lower().split()
    }
    vocab = sorted(_tax_words | {lemma_suffix(w)[0] for w in _tax_words})
    wdf = (
        t.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    mc = float(wdf.agg(F.sum("df").alias("s")).collect()[0]["s"] or 1.0)
    df_rows = wdf.where(F.col("w").isin(vocab)).collect()
    n = t.select("conv_id").distinct().count()
    tfiaf = {r["w"]: round(math.log(max(float(n) / r["df"], 1.001)) + 0.5, 6) for r in df_rows}
    word_freq = {r["w"]: float(r["df"]) for r in df_rows}
    m = ConceptMatcher(terms, tfiaf)
    # IC/freq tables over the taxonomy terms: freq = min word df of the
    # term's main tokens (phrase at most as frequent as its rarest word)
    freqs = {}
    for tid, term in enumerate(terms):
        main = term.split("(")[0].strip().lower().split()
        freqs[tid] = min((word_freq.get(w, 1.0) for w in main), default=1.0)
    ics = {tid: math.log(mc / f) for tid, f in freqs.items()}

    # mini taxonomy for the cross-term LCS channel: each versioned term
    # ("error vK") is a child of a VIRTUAL base concept (id beyond the
    # matchable terms), so two conversations matching different versions
    # meet at the base at depth-sum 2 without the base ever being a
    # shared term itself
    base_ids: dict[str, int] = {}
    base_of = {}
    for tid, term in enumerate(terms):
        parts = term.split()
        if len(parts) == 2 and parts[1].startswith("v"):
            bid = base_ids.setdefault(parts[0], len(terms) + len(base_ids))
            base_of[tid] = bid
    ancestors = {
        tid: (
            {tid: (0, 1.0), base_of[tid]: (1, 1.0)}
            if tid in base_of
            else {tid: (0, 1.0)}
        )
        for tid in range(len(terms))
    }
    for base, bid in base_ids.items():
        freqs[bid] = word_freq.get(base, 1.0)
        ics[bid] = math.log(mc / freqs[bid])

    from namedis_spark.functions.conceptsimi import least_common_subsumer

    def closeness_fn(c1, c2):
        res = least_common_subsumer(ancestors.get(c1, {}), ancestors.get(c2, {}), 3)
        if res is None:
            return None
        lcs, ds, at, _d1, _d2 = res
        return (max(ics.get(lcs, 0.0) - 1.0, 0.0), at, lcs, ds)

    return _assert_golden(
        cluster_pair_simi(
            convs, m, ics=ics, freqs=freqs, mc=mc, ic_offset=1.0,
            closeness_fn=closeness_fn,
        ),
        "concept_pair_simi",
        sf_dir,
    )


def _multimodal_oracle() -> str:
    """DuckDB twin of the stub decoder (operators.multimodal._decode_stub)
    on text/plain payloads: payload = utf-8 bytes of ``text`` (ASCII in
    the synthetic corpus, so character codes == byte values); feature =
    [n_bytes, sum(first 256 bytes) % 997, first byte, last byte]. The PIL
    image path stays behind the worker capability probe and is
    golden/unit-tested — it never fires for text/plain media, so this
    registered query is deterministic on every container."""
    byte_sum = """
        CASE WHEN length(text) = 0 THEN 0
             ELSE list_reduce(
                 list_transform(range(1, least(length(text), 256) + 1),
                                i -> unicode(substr(text, CAST(i AS int), 1))),
                 (a, b) -> a + b)
        END"""
    return f"""
    SELECT doc_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS bigint) AS n_bytes,
           CAST(octet_length(encode(text)) AS double) AS f_len,
           CAST(({byte_sum}) % 997 AS double) AS f_checksum,
           CAST(CASE WHEN length(text) = 0 THEN 0
                     ELSE unicode(substr(text, 1, 1)) END AS double) AS f_first,
           CAST(CASE WHEN length(text) = 0 THEN 0
                     ELSE unicode(substr(text, length(text), 1)) END AS double)
               AS f_last
    FROM documents
    """


@q("multimodal_features", _multimodal_oracle())
def multimodal_features(spark, sf_dir):
    """multimodal binary-column plumbing: docs → media table (binary
    payload + typed metadata) → mapInPandas feature extraction. The stub
    decode path is deterministic and hash-derived, so it carries a full
    DuckDB oracle (VERDICT r4 #3); the real-image PIL path is exercised
    by unit tests behind the worker capability probe (see
    operators.multimodal)."""
    from namedis_spark.operators.multimodal import extract_features, to_media_table

    register_views(spark, sf_dir)
    media = to_media_table(spark.table("documents"))
    return extract_features(media).select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.round(F.element_at("feature", 1), 6).alias("f_len"),
        F.round(F.element_at("feature", 2), 6).alias("f_checksum"),
        F.round(F.element_at("feature", 3), 6).alias("f_first"),
        F.round(F.element_at("feature", 4), 6).alias("f_last"),
    )


def _chinese_name_oracle() -> str:
    from namedis_spark.functions.text import TWOCHAR_SURNAMES, pinyin_syllables

    syl = ", ".join(f"('{s}')" for s in pinyin_syllables())
    two = ", ".join(f"('{s}')" for s in TWOCHAR_SURNAMES)
    part_chars = lambda p: f"""
        CASE WHEN {p} IN (SELECT s FROM two) THEN 1
             WHEN {p} IN (SELECT s FROM syl) THEN 1
             WHEN EXISTS (SELECT 1 FROM syl a JOIN syl b ON a.s || b.s = {p})
                  THEN 2
        END"""  # noqa: E731
    return (
        _DUCK_TRANSCRIPTS
        + f""",
    syl(s) AS (VALUES {syl}),
    two(s) AS (VALUES {two}),
    names AS (
        SELECT DISTINCT {norm_name_expr('role', 'duckdb')} AS name FROM transcripts
    ),
    pc AS (
        SELECT name,
               CASE WHEN len(string_split(name, ' ')) = 2
                    THEN replace((string_split(name, ' '))[1], '-', '') END AS p1,
               CASE WHEN len(string_split(name, ' ')) = 2
                    THEN replace((string_split(name, ' '))[2], '-', '') END AS p2
        FROM names
    ),
    chars AS (
        SELECT name, {part_chars('p1')} AS c1, {part_chars('p2')} AS c2 FROM pc
    )
    SELECT name,
           CAST(CASE WHEN c1 IS NOT NULL AND c2 IS NOT NULL
                          AND c1 + c2 BETWEEN 2 AND 3
                     THEN c1 + c2 ELSE 0 END AS int) AS cn_chars
    FROM chars
    """
    )


def _cantonese_name_oracle() -> str:
    from namedis_spark.functions.text import (
        cantonese_syllables,
        pinyin_syllables,
    )

    syl = ", ".join(f"('{s}')" for s in pinyin_syllables())
    csyl = ", ".join(f"('{s}')" for s in cantonese_syllables())
    cnt = lambda p, tbl: f"""
        CASE WHEN {p} IN (SELECT s FROM {tbl}) THEN 1
             WHEN EXISTS (SELECT 1 FROM {tbl} a JOIN {tbl} b ON a.s || b.s = {p})
                  THEN 2
             ELSE 0 END"""  # noqa: E731
    return (
        _DUCK_TRANSCRIPTS
        + f""",
    syl(s) AS (VALUES {syl}),
    csyl(s) AS (VALUES {csyl}),
    names AS (
        SELECT DISTINCT {norm_name_expr('role', 'duckdb')} AS name FROM transcripts
    ),
    pc AS (
        SELECT name,
               CASE WHEN len(string_split(replace(name, '-', ''), ' ')) = 2
                    THEN (string_split(replace(name, '-', ''), ' '))[1] END AS p1,
               CASE WHEN len(string_split(replace(name, '-', ''), ' ')) = 2
                    THEN (string_split(replace(name, '-', ''), ' '))[2] END AS p2
        FROM names
    ),
    counts AS (
        SELECT name,
               {cnt('p1', 'syl')} AS pin1, {cnt('p2', 'syl')} AS pin2,
               {cnt('p1', 'csyl')} AS can1, {cnt('p2', 'csyl')} AS can2
        FROM pc WHERE p1 IS NOT NULL
    )
    SELECT name,
           CAST(CASE WHEN pin1 BETWEEN 1 AND 2 AND pin2 = 1 THEN 0
                     WHEN (can1 BETWEEN 1 AND 2 OR pin1 BETWEEN 1 AND 2)
                          AND can2 = 1 THEN 1
                     ELSE 0 END AS int) AS is_cantonese
    FROM counts
    UNION ALL
    SELECT name, 0 FROM pc WHERE p1 IS NULL
    """
    )


def _name_votes_oracle() -> str:
    from namedis_spark.functions.nameorder import derived_name_exprs
    from namedis_spark.functions.text import (
        TWOCHAR_SURNAMES,
        cantonese_syllables,
        pinyin_syllables,
    )

    name1, name2 = derived_name_exprs("duckdb", "conv_id")
    syl = ", ".join(f"('{s}')" for s in pinyin_syllables())
    csyl = ", ".join(f"('{s}')" for s in cantonese_syllables())
    two = ", ".join(f"'{s}'" for s in TWOCHAR_SURNAMES)
    # syllable count: 1 if a single syllable, 2 if a two-syllable
    # concatenation (loadPinyin overwrite order resolves 1↔2 to 1), else 0
    pin = lambda p: f"""
        CASE WHEN {p} IN (SELECT q.s FROM syl q) THEN 1
             WHEN EXISTS (SELECT 1 FROM syl a JOIN syl b ON a.s || b.s = {p}) THEN 2
             ELSE 0 END"""  # noqa: E731
    return f"""
    WITH transcripts AS ({transcripts_sql('duckdb')}),
    syl(s) AS (VALUES {syl}),
    csyl(s) AS (VALUES {csyl}),
    convs AS (SELECT DISTINCT conv_id FROM transcripts),
    raw_names AS (
        SELECT conv_id, 1 AS sn, {name1} AS nm FROM convs
        UNION ALL SELECT conv_id, 2, {name2} FROM convs
    ),
    parts AS (
        SELECT conv_id, sn, nm,
               (string_split(nm, ' '))[1] AS first_raw,
               (string_split(nm, ' '))[2] AS second_raw
        FROM raw_names
    ),
    feats0 AS (
        SELECT conv_id, sn,
               contains(first_raw, '-') AS hyph1,
               replace(first_raw, '-', '') AS f,
               second_raw AS s
        FROM parts
    ),
    plainparts AS (
        -- probability tables from the plain single/single surfaces only
        SELECT f0.f AS given, f0.s AS surname FROM feats0 f0
        WHERE NOT f0.hyph1 AND {pin('f0.f')} = 1 AND {pin('f0.s')} = 1
    ),
    sur AS (SELECT surname AS part, CAST(count(*) AS bigint) AS cnt
            FROM plainparts GROUP BY 1),
    giv AS (SELECT given AS part, CAST(count(*) AS bigint) AS cnt
            FROM plainparts GROUP BY 1),
    tots AS (SELECT (SELECT sum(cnt) FROM sur) AS st,
                    (SELECT sum(cnt) FROM giv) AS gt),
    surlp AS (SELECT part, CAST(floor(ln(CAST(cnt AS double)
                 / (SELECT st FROM tots)) * 1e6 + 0.5) AS bigint) AS lp FROM sur),
    givlp AS (SELECT part, CAST(floor(ln(CAST(cnt AS double)
                 / (SELECT gt FROM tots)) * 1e6 + 0.5) AS bigint) AS lp FROM giv),
    nv AS (
        SELECT f0.conv_id, f0.sn,
               {pin('f0.f')} AS pin1, {pin('f0.s')} AS pin2,
               f0.hyph1,
               f0.f IN (SELECT q.s FROM csyl q) AS can1,
               f0.s IN (SELECT q.s FROM csyl q) AS can2,
               f0.f IN ({two}) AS two1, f0.s IN ({two}) AS two2,
               ss.lp AS sur_s, sf.lp AS sur_f, gf.lp AS giv_f, gs.lp AS giv_s
        FROM feats0 f0
        LEFT JOIN surlp ss ON ss.part = f0.s
        LEFT JOIN surlp sf ON sf.part = f0.f
        LEFT JOIN givlp gf ON gf.part = f0.f
        LEFT JOIN givlp gs ON gs.part = f0.s
    ),
    votes AS (
        SELECT conv_id, sn,
               (pin2 = 2 AND NOT two2 AND NOT can2)
               OR (pin1 = 1 AND pin2 = 1 AND (sur_s IS NULL OR giv_f IS NULL))
                   AS sure_rev,
               hyph1
               OR (pin1 = 2 AND NOT two1 AND NOT can1)
               OR (pin1 = 1 AND pin2 = 1 AND (sur_f IS NULL OR giv_s IS NULL))
                   AS sure_not,
               CASE WHEN pin1 = 1 AND pin2 = 1
                         AND sur_s IS NOT NULL AND giv_f IS NOT NULL
                         AND sur_f IS NOT NULL AND giv_s IS NOT NULL
                    THEN sur_s + giv_f ELSE 0 END AS fwd,
               CASE WHEN pin1 = 1 AND pin2 = 1
                         AND sur_s IS NOT NULL AND giv_f IS NOT NULL
                         AND sur_f IS NOT NULL AND giv_s IS NOT NULL
                    THEN sur_f + giv_s ELSE 0 END AS rev
        FROM nv
    ),
    agg AS (
        SELECT conv_id, bool_or(sure_rev) AS sr, bool_or(sure_not) AS snr,
               sum(fwd) AS fwd, sum(rev) AS rev
        FROM votes GROUP BY 1
    )
    SELECT conv_id,
           CAST(CASE WHEN sr AND snr THEN -1
                     WHEN sr THEN 1
                     WHEN snr THEN 0
                     WHEN fwd >= rev THEN 0
                     ELSE 1 END AS int) AS vote
    FROM agg
    """


@q("name_reverse_votes", _name_votes_oracle())
def name_reverse_votes(spark, sf_dir):
    """Chinese-name order vote per record (testChnNameReverse,
    NLPUtil.pm:1750-1851): two pinyin surfaces derived per conversation
    (portable hash over a fixed syllable pool — hyphenated, concatenated
    and plain shapes), surname/givenname log-probability tables built
    from the plain surfaces, then the full vote (hyphen + two-syllable
    sure-flags, asymmetric table misses, fixed-point log-likelihood sums)
    via the pure port in functions.nameorder; the oracle replays every
    step in SQL."""
    import pandas as pd
    import pyspark.sql.types as T

    from namedis_spark.functions.nameorder import derived_name_exprs, name_reverse_vote

    t = load_transcripts(spark, sf_dir)
    n1, n2 = derived_name_exprs("spark", "conv_id")
    names = tracked_persist(
        t.select("conv_id")
        .distinct()
        .select("conv_id", F.expr(n1).alias("name1"), F.expr(n2).alias("name2"))
    )

    # probability tables from the plain single/single surfaces (both
    # derived names considered; the vote port gates on syllable counts).
    # The per-part counting runs DISTRIBUTED — the syllable-pair gate is
    # pushed into the query and only the aggregated (part, role, count)
    # table is collected, bounded by 2× the 407-syllable vocabulary, never
    # O(#conversations) (mirrors corpus.term_and_name_stats).
    import math as _math

    from namedis_spark.functions.text import _SYLLABLES

    syls = sorted(_SYLLABLES)
    part_rows = (
        names.select(F.explode(F.array("name1", "name2")).alias("nm"))
        .where(~F.col("nm").contains("-"))
        .select(F.split("nm", " ").alias("p"))
        .where(F.size("p") == 2)
        .select(F.col("p")[0].alias("giv"), F.col("p")[1].alias("sur"))
        .where(F.col("giv").isin(syls) & F.col("sur").isin(syls))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("giv").alias("part"), F.lit("g").alias("role")),
                    F.struct(F.col("sur").alias("part"), F.lit("s").alias("role")),
                )
            ).alias("x")
        )
        .groupBy("x.part", "x.role")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    sur_cnt = {r["part"]: float(r["cnt"]) for r in part_rows if r["role"] == "s"}
    giv_cnt = {r["part"]: float(r["cnt"]) for r in part_rows if r["role"] == "g"}
    st = sum(sur_cnt.values()) or 1.0
    gt = sum(giv_cnt.values()) or 1.0
    sur_lp = {k: _math.log(v / st) for k, v in sur_cnt.items()}
    giv_lp = {k: _math.log(v / gt) for k, v in giv_cnt.items()}
    bc = spark.sparkContext.broadcast((sur_lp, giv_lp))

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("vote", T.IntegerType()),
        ]
    )

    def udf(batches):
        slp, glp = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "vote": pd.Series(
                        [
                            name_reverse_vote([a, b], slp, glp)
                            for a, b in zip(pdf["name1"], pdf["name2"])
                        ],
                        dtype="int32",
                    ),
                }
            )

    return names.mapInPandas(udf, schema=schema)


def _name_flags_oracle() -> str:
    """cn_chars ⋈ is_cantonese per distinct name (both sub-oracles emit
    exactly one row per name)."""
    return (
        f"SELECT a.name, a.cn_chars, b.is_cantonese "
        f"FROM ({_chinese_name_oracle()}) a "
        f"JOIN ({_cantonese_name_oracle()}) b USING (name)"
    )


@q("chinese_name_flags", _name_flags_oracle())
def chinese_name_flags(spark, sf_dir):
    """pinyin/Cantonese name classifiers in one pass over the distinct
    normalized names: isChineseName (NLPUtil.pm:1680-1710; syllable table à
    la loadPinyin:1339-1368, generated from the standard initial×final
    inventory) gives the pinyin character count (2-3) or 0, and
    isCantoneseName (NLPUtil.pm:1712-1748) flags two-part names reading as
    Cantonese (HK conventional) but not as standard pinyin."""
    import pandas as pd
    import pyspark.sql.types as T

    from namedis_spark.functions.text import chinese_name_chars, is_cantonese_name

    t = load_transcripts(spark, sf_dir)
    names = t.select(
        F.expr(norm_name_expr("role", "spark")).alias("name")
    ).distinct()

    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("cn_chars", T.IntegerType()),
            T.StructField("is_cantonese", T.IntegerType()),
        ]
    )

    def udf(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "name": pdf["name"],
                    "cn_chars": pd.Series(
                        [chinese_name_chars(n) for n in pdf["name"]],
                        dtype="int32",
                    ),
                    "is_cantonese": pd.Series(
                        [is_cantonese_name(n) for n in pdf["name"]],
                        dtype="int32",
                    ),
                }
            )

    return names.mapInPandas(udf, schema=schema)


# deterministic phrase taxonomy over the synthetic corpus vocabulary,
# shared by the fuzzy matcher query (golden-verified) and the exact-window
# variant (oracle-verified)
_CONCEPT_TERMS = [
    "table scan", "hash join", "sort merge join (query engine)",
    "window agg", "row group (columnar format)", "vector batch",
    "query plan", "filter", "stream group", "data column",
    "merge batch", "key value",
]


def _concept_term_tokens() -> list[tuple[str, str, int, int]]:
    """(term, lemma, tpos, tlen) rows for each taxonomy term's MAIN
    phrase (parenthesized context stripped), tokenized + lemmatized with
    the same machinery as ``content_terms_expr`` — embedded as literals
    in BOTH engines' queries so term tokenization cannot drift."""
    import re as _re

    from namedis_spark.functions.text import STOPWORDS, lemma

    rows: list[tuple[str, str, int, int]] = []
    for t in _CONCEPT_TERMS:
        m = _re.match(r"^(.*?)\s*\(([^)]*)\)\s*$", t)
        main = m.group(1) if m else t
        toks = [
            lemma(w)
            for w in _re.split(r"[^a-z0-9]+", main.lower())
            if w and w not in STOPWORDS
        ]
        for i, lm in enumerate(toks):
            rows.append((t, lm, i, len(toks)))
    return rows


def _concept_match_exact_oracle() -> str:
    rows = _concept_term_tokens()
    vals = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', '{lm}', {tp}, {tl})"
        for t, lm, tp, tl in rows
    )
    terms = content_terms_expr("text", "duckdb")
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({terms}) AS lemma,
               unnest(range(0, len({terms}))) AS pos
        FROM documents
    ),
    tt(term, lemma, tpos, tlen) AS (VALUES {vals}),
    w AS (
        -- (doc_id, term, w0, tpos) is unique by construction (doc
        -- positions unique via the ordinal unnest; term token rows
        -- unique), so a plain count equals the distinct-tpos count and
        -- needs no distinct expansion
        SELECT t.doc_id, tt.term, t.pos - tt.tpos AS w0, tt.tlen
        FROM toks t JOIN tt USING (lemma)
        GROUP BY 1, 2, 3, 4
        HAVING count(*) = tt.tlen
    )
    SELECT doc_id, term, CAST(count(*) AS bigint) AS n_hits
    FROM w GROUP BY 1, 2
    """


@q("concept_match_exact", _concept_match_exact_oracle())
def concept_match_exact(spark, sf_dir):
    """Restricted EXACT-window concept matcher (the SQL-expressible
    subset of matchTitle — the exact posting-intersection case,
    ConceptNet.pm:3648-3822 before any fuzzy discount applies): a term
    matches wherever its main-phrase lemma sequence appears as an
    ordered contiguous run in the document's content-token stream
    (stopword-transparent: positions are counted on kept tokens, the
    same stream ``content_terms_expr`` gives both engines). Returns
    (doc_id, term, n_hits). The full fuzzy path — windowed subset
    enumeration, gap/suffix/context/inversion discounts — remains
    golden-verified in ``concept_match_titles``."""
    register_views(spark, sf_dir)
    docs = spark.table("documents")
    term_rows = _concept_term_tokens()
    tt = F.broadcast(
        spark.createDataFrame(
            term_rows, "term string, lemma string, tpos int, tlen int"
        )
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(content_terms_expr("text", "spark"))).alias(
            "pos", "lemma"
        ),
    )
    # (doc_id, term, w0, tpos) is unique by construction — posexplode
    # gives unique doc positions and the term table is unique on
    # (term, tpos) — so count(*) equals countDistinct(tpos) and plans as
    # ONE partial-aggregated exchange instead of a distinct expansion
    w = (
        toks.join(tt, "lemma")
        .groupBy(
            "doc_id", "term", (F.col("pos") - F.col("tpos")).alias("w0"), "tlen"
        )
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") == F.col("tlen"))
    )
    return w.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )


@q("concept_match_titles", None)  # fuzzy windowed matcher — no SQL oracle
def concept_match_titles(spark, sf_dir):
    """fuzzy taxonomy concept matching (matchTitle / matchSnippet /
    calcMatchScore / distributeMatches, ConceptNet.pm:3648-4364; see
    functions.matcher + operators.concepts): documents matched against a
    deterministic phrase taxonomy over the corpus vocabulary, term weights
    from idf. Genuinely non-SQL-expressible (windowed subset enumeration
    with sequential discount logic) → rows-only check."""
    import math

    from namedis_spark.functions.matcher import ConceptMatcher
    from namedis_spark.operators.concepts import concept_match

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    # deterministic taxonomy over the known synthetic vocabulary: engine
    # phrases with parenthesized disambiguation contexts (shared with the
    # oracle-verified exact-window variant above)
    terms = _CONCEPT_TERMS
    # df table pruned to the bounded taxonomy vocabulary before collect —
    # the matcher only looks tfiaf up by term-token lemmas (see
    # concept_pair_simi for the argument); O(|taxonomy|) driver rows, not
    # the unbounded corpus vocabulary.
    from namedis_spark.functions.matcher import lemma_suffix

    _tax_words = {
        w for tt in terms for w in tt.replace("(", " ").replace(")", " ").lower().split()
    }
    vocab = sorted(_tax_words | {lemma_suffix(w)[0] for w in _tax_words})
    df_rows = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("w").isin(vocab))
        .collect()
    )
    n = docs.count()
    tfiaf = {
        r["w"]: round(math.log(float(n) / r["df"]) + 0.5, 6) for r in df_rows
    }
    m = ConceptMatcher(terms, tfiaf)
    return _assert_golden(
        concept_match(docs, m, id_col="doc_id", text_col="text").select(
            F.col("id").alias("doc_id"), "term", "weight"
        ),
        "concept_match_titles",
        sf_dir,
    )


# ---------------------------------------------------------------------------
# §2.5/2.8 blocking + evidence machinery as first-class verified operators
# ---------------------------------------------------------------------------


@q(
    "blocking_candidates",
    _DUCK_FEATURES
    + f""",
    ev AS (
        SELECT f.focus_name AS block_key, r.conv_id, r.norm_role AS ev, 'c' AS kind
        FROM roles r JOIN feats f USING (conv_id)
        WHERE r.norm_role <> f.focus_name
        UNION ALL
        SELECT block_key, conv_id, ev, 't' FROM (
            SELECT focus_name AS block_key, conv_id,
                   unnest(list_distinct({content_terms_expr('full_text', 'duckdb')})) AS ev
            FROM feats
        )
    ),
    dfc AS (
        SELECT block_key, ev, kind, count(*) AS df FROM ev GROUP BY 1, 2, 3
    ),
    ev2 AS (
        SELECT e.* FROM ev e JOIN dfc USING (block_key, ev, kind)
        WHERE dfc.df <= 50
    ),
    p AS (
        SELECT a.block_key, a.conv_id AS conv_id1, b.conv_id AS conv_id2, a.kind
        FROM ev2 a JOIN ev2 b USING (block_key, ev, kind)
        WHERE a.conv_id < b.conv_id
    )
    SELECT block_key, conv_id1, conv_id2,
           CAST(count(*) FILTER (WHERE kind = 'c') AS bigint) AS n_shared_coauthors,
           CAST(count(*) FILTER (WHERE kind = 't') AS bigint) AS n_shared_terms
    FROM p GROUP BY 1, 2, 3
    HAVING n_shared_coauthors >= 1 OR n_shared_terms >= 1
    """,
)
def blocking_candidates(spark, sf_dir):
    """candidate-pair generation: within-block shared-coauthor /
    shared-rare-term equi-joins with the per-evidence df<=50 skew cap — the
    blocking stage itself (mergeSharingCoauthor's pair trigger,
    NLPUtil.pm:3904-3941; cap ≙ TOKEN_MAX_MATCH_TERMS, ConceptNet.pm:33),
    verified against an independent SQL replay."""
    from namedis_spark.operators.blocking import evidence_pairs

    return evidence_pairs(_features(spark, sf_dir)).select(
        "block_key", "conv_id1", "conv_id2",
        F.col("n_shared_coauthors").cast("bigint").alias("n_shared_coauthors"),
        F.col("n_shared_terms").cast("bigint").alias("n_shared_terms"),
    )


@q(
    "block_term_vectors",
    _DUCK_FEATURES
    + f""",
    tf AS (
        SELECT block_key, conv_id, term, count(*) AS w FROM (
            SELECT focus_name AS block_key, conv_id,
                   unnest({content_terms_expr('full_text', 'duckdb')}) AS term
            FROM feats
        ) GROUP BY 1, 2, 3
    ),
    bs AS (SELECT block_key, count(DISTINCT conv_id) AS sz FROM tf GROUP BY 1),
    agg AS (
        SELECT t.block_key, t.term,
               sum(t.w) AS w_raw, count(*) AS c
        FROM tf t GROUP BY 1, 2
    )
    SELECT block_key, term,
           CAST(c AS bigint) AS n_convs,
           round(w_raw / (sqrt(c) * greatest(1.0, ln(sz))), 6) AS w,
           CAST(rk AS int) AS rk
    FROM (
        SELECT a.*, b.sz,
               row_number() OVER (
                   PARTITION BY a.block_key
                   ORDER BY a.w_raw / (sqrt(a.c) * greatest(1.0, ln(b.sz))) DESC,
                            a.term ASC) AS rk
        FROM agg a JOIN bs b USING (block_key)
    ) WHERE rk <= 20
    """,
)
def block_term_vectors(spark, sf_dir):
    """cluster-vector aggregation (titleSetToVector, ConceptNet.pm:6154-6285):
    per-set term weights summed, scaled by 1/(sqrt(count)·max(1, log|S|))
    (:6242-6244) and top-N pruned (KEPT_TOPN, :6181-6182,6251-6266) — block
    as the title set, window rank as the prune."""
    from pyspark.sql import Window

    f = _features(spark, sf_dir)
    tf = f.select("block_key", "conv_id", F.explode("term_freq").alias("term", "w"))
    bs = tf.groupBy("block_key").agg(F.countDistinct("conv_id").alias("sz"))
    agg = tf.groupBy("block_key", "term").agg(
        F.sum("w").alias("w_raw"), F.count(F.lit(1)).alias("c")
    )
    scaled = agg.join(bs, "block_key").withColumn(
        "w_scaled",
        F.col("w_raw") / (F.sqrt("c") * F.greatest(F.lit(1.0), F.log("sz"))),
    )
    w = Window.partitionBy("block_key").orderBy(F.desc("w_scaled"), F.asc("term"))
    return (
        scaled.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 20)
        .select(
            "block_key", "term",
            F.col("c").cast("bigint").alias("n_convs"),
            F.round("w_scaled", 6).alias("w"),
            "rk",
        )
    )


def _duck_oe(col: str) -> str:
    """SQL replay of overestimate_ambig (NLPUtil.pm:4072-4093)."""
    return (
        f"greatest(CASE WHEN {col} > 200 THEN {col} "
        f"WHEN {col} > 50 THEN {col} * 1.5 ELSE {col} * 2.5 END, 1.0)"
    )


@q(
    "coauthor_evidence_errors",
    _DUCK_FEATURES
    + f""",
    hits AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS name
        FROM transcripts
    ),
    names AS (SELECT name, CAST(count(*) AS bigint) AS occurrence FROM hits GROUP BY 1),
    seed AS (
        SELECT focus_name AS name,
               greatest(1.0, round(0.9 * count(DISTINCT venue)
                                   - 1.3 * (CASE WHEN count(*) = 1 THEN 1.0 ELSE 0.0 END), 6))
                   AS seed
        FROM feats GROUP BY 1
    ),
    a0 AS (
        SELECT n.name, n.occurrence, coalesce(s.seed, 1.0) AS ambig,
               (string_split(n.name, ' '))[-1] AS surname,
               (string_split(n.name, ' '))[1] AS givenname
        FROM names n LEFT JOIN seed s USING (name)
    ),
    tot AS (SELECT sum(ambig) AS total FROM a0),
    sp AS (SELECT surname, sum(ambig) / (SELECT total FROM tot) AS p_s FROM a0 GROUP BY 1),
    gp AS (SELECT givenname, sum(ambig) / (SELECT total FROM tot) AS p_g FROM a0 GROUP BY 1),
    amb AS (
        SELECT a0.name,
               round(least(CAST(a0.occurrence AS double),
                           greatest(a0.ambig,
                                    round(sp.p_s * gp.p_g * 1.22
                                          * (SELECT total FROM tot), 6))), 6) AS ambig
        FROM a0 JOIN sp USING (surname) JOIN gp USING (givenname)
    ),
    ambtot AS (SELECT greatest(1.0, sum(ambig)) AS s FROM amb),
    cnts AS (
        SELECT a.name, CAST(count(*) AS bigint) AS n_coauthors FROM (
            SELECT x.name, y.name AS coauthor
            FROM hits x JOIN hits y USING (conv_id)
            WHERE x.name <> y.name GROUP BY 1, 2
        ) a GROUP BY 1
    ),
    pairs AS (
        SELECT DISTINCT f.focus_name, r.norm_role AS coauthor
        FROM roles r JOIN feats f USING (conv_id)
        WHERE r.norm_role <> f.focus_name
    )
    SELECT p.focus_name, p.coauthor,
           round(CASE
             WHEN af.ambig IS NULL OR cf.n_coauthors IS NULL OR cc.n_coauthors IS NULL
               THEN 0.0
             ELSE greatest(
               (cc.n_coauthors + 1) * {_duck_oe('af.ambig')} / (SELECT s FROM ambtot) / 2,
               (cf.n_coauthors + 1) * {_duck_oe('ac.ambig')} / (SELECT s FROM ambtot) / 2)
           END, 6) AS error
    FROM pairs p
    LEFT JOIN amb af ON af.name = p.focus_name
    LEFT JOIN amb ac ON ac.name = p.coauthor
    LEFT JOIN cnts cf ON cf.name = p.focus_name
    LEFT JOIN cnts cc ON cc.name = p.coauthor
    """,
)
def coauthor_evidence_errors(spark, sf_dir):
    """coauthor evidence error (coauthorEvidenceError, NLPUtil.pm:4096-4137;
    overestimateAmbig :4072-4093): P(two records sharing coauthor c belong
    to different persons), per (focus, coauthor) — the stage-1 merge
    predicate's arithmetic over the corpus side tables, as a DataFrame job
    vs full SQL replay."""
    from namedis_spark.operators import corpus

    f = _features(spark, sf_dir)
    amb = corpus.key_ambiguity(f, rounds=1)
    cnt = corpus.coauthor_stats(f)
    total = max(1.0, amb.agg(F.sum("ambig")).collect()[0][0] or 0.0)

    def oe(c):
        a = F.col(c)
        return F.greatest(
            F.when(a > 200, a).when(a > 50, a * 1.5).otherwise(a * 2.5), F.lit(1.0)
        )

    pairs = (
        f.select("focus_name", F.explode("coauthors").alias("coauthor"))
        .where(F.col("coauthor") != F.col("focus_name"))
        .distinct()
    )
    out = (
        pairs.join(amb.select(F.col("name").alias("focus_name"), F.col("ambig").alias("a_f")), "focus_name", "left")
        .join(amb.select(F.col("name").alias("coauthor"), F.col("ambig").alias("a_c")), "coauthor", "left")
        .join(cnt.select(F.col("name").alias("focus_name"), F.col("n_coauthors").alias("c_f")), "focus_name", "left")
        .join(cnt.select(F.col("name").alias("coauthor"), F.col("n_coauthors").alias("c_c")), "coauthor", "left")
    )
    e1 = (F.col("c_c") + 1) * oe("a_f") / F.lit(total) / 2
    e2 = (F.col("c_f") + 1) * oe("a_c") / F.lit(total) / 2
    return out.select(
        "focus_name", "coauthor",
        F.round(
            F.when(
                F.col("a_f").isNull() | F.col("c_f").isNull() | F.col("c_c").isNull(),
                F.lit(0.0),
            ).otherwise(F.greatest(e1, e2)),
            6,
        ).alias("error"),
    )


@q(
    "jaccard_type_pairs",
    _DUCK_TRANSCRIPTS
    + f""",
    rt AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS role
        FROM transcripts
    ),
    sz AS (SELECT conv_id, CAST(count(*) AS bigint) AS s FROM rt GROUP BY 1),
    blocks AS (
        SELECT conv_id,
               min(CASE WHEN turn_idx = 0 THEN {norm_name_expr('role', 'duckdb')} END) AS block_key
        FROM transcripts GROUP BY conv_id
    ),
    inter AS (
        SELECT a.conv_id AS conv_id1, b.conv_id AS conv_id2,
               CAST(count(*) AS bigint) AS i
        FROM rt a JOIN rt b ON a.role = b.role AND a.conv_id < b.conv_id
        GROUP BY 1, 2
    )
    SELECT ba.block_key, ba.conv_id AS conv_id1, bb.conv_id AS conv_id2,
           round(coalesce(i.i, 0)
                 / CAST(sa.s + sb.s - coalesce(i.i, 0) AS double), 6) AS jaccard_type
    FROM blocks ba
    JOIN blocks bb ON ba.block_key = bb.block_key AND ba.conv_id < bb.conv_id
    JOIN sz sa ON sa.conv_id = ba.conv_id
    JOIN sz sb ON sb.conv_id = bb.conv_id
    LEFT JOIN inter i ON i.conv_id1 = ba.conv_id AND i.conv_id2 = bb.conv_id
    """,
)
def jaccard_type_pairs(spark, sf_dir):
    """type-mode weighted Jaccard (|∩|/|∪| over role *types*; jaccard,
    NLPUtil.pm:3172-3252 use_freq=0 branch) per within-block pair — the
    python UDF (functions.core.weighted_jaccard) vs an independent SQL
    set-overlap replay."""
    from namedis_spark.functions.core import weighted_jaccard

    return _cslr_scored_pairs(
        spark,
        sf_dir,
        lambda v1, v2: weighted_jaccard(v1, v2, use_freq=False),
        out_col="jaccard_type",
    )


@q(
    "stage2_coauthor_boost",
    _DUCK_FEATURES
    + f""",
    hits AS (
        SELECT DISTINCT conv_id, {norm_name_expr('role', 'duckdb')} AS name
        FROM transcripts
    ),
    names AS (SELECT name, CAST(count(*) AS bigint) AS occurrence FROM hits GROUP BY 1),
    seed AS (
        SELECT focus_name AS name,
               greatest(1.0, round(0.9 * count(DISTINCT venue)
                                   - 1.3 * (CASE WHEN count(*) = 1 THEN 1.0 ELSE 0.0 END), 6))
                   AS seed
        FROM feats GROUP BY 1
    ),
    a0 AS (
        SELECT n.name, n.occurrence, coalesce(s.seed, 1.0) AS ambig,
               (string_split(n.name, ' '))[-1] AS surname,
               (string_split(n.name, ' '))[1] AS givenname
        FROM names n LEFT JOIN seed s USING (name)
    ),
    tot AS (SELECT sum(ambig) AS total FROM a0),
    sp AS (SELECT surname, sum(ambig) / (SELECT total FROM tot) AS p_s FROM a0 GROUP BY 1),
    gp AS (SELECT givenname, sum(ambig) / (SELECT total FROM tot) AS p_g FROM a0 GROUP BY 1),
    amb AS (
        SELECT a0.name,
               round(least(CAST(a0.occurrence AS double),
                           greatest(a0.ambig,
                                    round(sp.p_s * gp.p_g * 1.22
                                          * (SELECT total FROM tot), 6))), 6) AS ambig
        FROM a0 JOIN sp USING (surname) JOIN gp USING (givenname)
    ),
    ambtot AS (SELECT greatest(1.0, sum(ambig)) AS s FROM amb),
    cnts AS (
        SELECT a.name, CAST(count(*) AS bigint) AS n_coauthors FROM (
            SELECT x.name, y.name AS coauthor
            FROM hits x JOIN hits y USING (conv_id)
            WHERE x.name <> y.name GROUP BY 1, 2
        ) a GROUP BY 1
    ),
    co AS (
        SELECT f.conv_id, f.focus_name AS block_key, r.norm_role AS c
        FROM roles r JOIN feats f USING (conv_id)
        WHERE r.norm_role <> f.focus_name
    ),
    shared AS (
        SELECT a.block_key, a.conv_id AS conv_id1, b.conv_id AS conv_id2, a.c
        FROM co a JOIN co b ON a.block_key = b.block_key AND a.c = b.c
                           AND a.conv_id < b.conv_id
    )
    SELECT s.block_key, s.conv_id1, s.conv_id2,
           round(greatest(1.0, max(least(
               (SELECT x.s FROM ambtot x)
                   / (coalesce(cc.n_coauthors, 0) + 1) / {_duck_oe('af.ambig')},
               (SELECT x.s FROM ambtot x)
                   / (coalesce(cf.n_coauthors, 0) + 1) / {_duck_oe('ac.ambig')}))), 6)
               AS boost
    FROM shared s
    JOIN amb af ON af.name = s.block_key
    JOIN amb ac ON ac.name = s.c
    LEFT JOIN cnts cf ON cf.name = s.block_key
    LEFT JOIN cnts cc ON cc.name = s.c
    GROUP BY 1, 2, 3
    """,
)
def stage2_coauthor_boost_q(spark, sf_dir):
    """stage-2 shared-coauthor evidence boost (sharedCoauthorBoostStage2,
    ConceptNet.pm:6309-6358): per within-block pair sharing >= 1 coauthor,
    max over shared coauthors of min(S/((cnt(c)+1)·oe(focus)),
    S/((cnt(focus)+1)·oe(c))), floored at 1 — the broadcast-dict pandas UDF
    vs a full SQL replay (rounds=1 ambiguity, as key_ambiguity converges
    after one update at this scale)."""
    import pandas as pd
    import pyspark.sql.types as T

    from namedis_spark.functions.core import shared_coauthor_boost
    from namedis_spark.operators import corpus

    f = _features(spark, sf_dir)
    ambig = {
        r["name"]: float(r["ambig"])
        for r in corpus.key_ambiguity(f, rounds=1).collect()
    }
    cn = {
        r["name"]: float(r["n_coauthors"])
        for r in corpus.coauthor_stats(f).collect()
    }
    total = max(1.0, sum(ambig.values()))
    bc = spark.sparkContext.broadcast({"ambig": ambig, "cn": cn, "total": total})

    co = f.select("block_key", "conv_id", F.explode("coauthors").alias("c"))
    a = co.select("block_key", F.col("conv_id").alias("conv_id1"), "c")
    b = co.select("block_key", F.col("conv_id").alias("conv_id2"), "c")
    pairs = (
        a.join(b, ["block_key", "c"])
        .where(F.col("conv_id1") < F.col("conv_id2"))
        .groupBy("block_key", "conv_id1", "conv_id2")
        .agg(F.collect_set("c").alias("shared"))
    )

    schema = T.StructType(
        [
            T.StructField("block_key", T.StringType()),
            T.StructField("conv_id1", T.StringType()),
            T.StructField("conv_id2", T.StringType()),
            T.StructField("boost", T.DoubleType()),
        ]
    )

    def udf(batches):
        sv = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = [
                round(
                    shared_coauthor_boost(
                        focus, list(shared), sv["ambig"], sv["cn"], sv["total"]
                    ),
                    6,
                )
                for focus, shared in zip(pdf["block_key"], pdf["shared"])
            ]
            yield pd.DataFrame(
                {
                    "block_key": pdf["block_key"],
                    "conv_id1": pdf["conv_id1"],
                    "conv_id2": pdf["conv_id2"],
                    "boost": vals,
                }
            )

    return pairs.mapInPandas(udf, schema=schema)


# Queries the r1/r2 driver windows never (or least recently) verified go
# FIRST in the exported ordering — the driver checks a bounded prefix of
# the registry, and definition order had silently dropped the last five.
_VERIFY_FIRST = (
    # round-5 additions / verification-mode changes, never driver-verified
    # in their current form (the driver window holds 50 queries; the
    # registry is sized to exactly 50 — this ordering is belt-and-braces)
    "concept_match_exact",
    "external_alignment",
    "multimodal_features",
    "doc_restore_ops",
    "text_quality_stats",
)


def _ordered_names() -> list[str]:
    head = [n for n in _VERIFY_FIRST if n in REGISTRY]
    return head + [n for n in REGISTRY if n not in _VERIFY_FIRST]


def entries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: REGISTRY[n].spark_fn for n in _ordered_names()}


def oracles() -> dict[str, str]:
    return {
        n: REGISTRY[n].oracle
        for n in _ordered_names()
        if REGISTRY[n].oracle is not None
    }
