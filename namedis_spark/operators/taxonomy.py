"""Multi-level taxonomy DAG: ancestor closure, attenuated IC pass-up, LCS.

Re-expresses the reference's ConceptNet ancestor machinery Spark-first:

* ``enumAncestors`` / ``bfsExhaustAncestors`` (ConceptNet.pm:2852, 2497) —
  per-term ancestor lists with BFS depths — become an **iterative
  frontier-join closure**: each round joins the frontier against the edge
  list and anti-joins against the accumulated closure, so the first
  arrival fixes the minimum depth exactly as BFS does. Rounds = DAG
  height, data volume = |closure|, never |paths|.
* exclusion lists / blacklisted edges (``exclude``/``excludeX``,
  ConceptNet.pm:2662-2840) — excluded terms drop out of the node set
  (every edge through them is removed); excluded (child, parent) edges
  are anti-joined away before the closure runs.
* batch attenuation (``loadAncestors`` ConceptNet.pm:5253:
  ``attenuateByBatch = min(1, depth0/depth_b)``) — the reference tracks
  the BFS wave ("batch") in which each ancestor entered a term's list;
  an ancestor acquired in a later wave is attenuated by depth0/depth_b.
  The wave depth at which ancestor ``a`` reaches term ``t`` equals
  rootdepth(a) + depth(a→t), and batch 0 equals rootdepth(t), so the
  declarative closed form is::

      atten(t, a) = min(1, rootdepth(t) / (rootdepth(a) + depth(t, a)))

  = 1 exactly when ``a`` lies on a shortest root path of ``t`` (the
  triangle inequality gives rootdepth(a) + depth(t,a) >= rootdepth(t)),
  < 1 for ancestors only reachable via longer alternatives — the same
  quantity the sequential BFS records, without replaying its visit
  order.
* freq pass-up (``addFreqAndAuthors`` ConceptNet.pm:3483-3520:
  ``attenFreq = freq * atten^depth``) — one explode-join-aggregate over
  the closure; ``IC = log(MC) - log(freq)`` (``calcNetIC``
  ConceptNet.pm:4931-4970).
* ``leastCommonSubsumer`` (ConceptNet.pm:3283-3361) — self-join of the
  closure on the ancestor, gated at depth-sum <= D (=3,
  ``calcTermCloseness`` ConceptNet.pm:5630-5655), ranked by (depth sum,
  attenuated depth sum, ancestor) — the reference's primary key, its
  attenuated tie-break (``recAttenuateByBatch`` = 1/atten), plus a
  deterministic final tie-break the sequential hash-order loop lacks.

Attenuation powers are expanded as literal product chains (CASE on the
integer depth) instead of ``pow`` so Spark and the DuckDB oracle produce
bit-identical doubles (IEEE multiplication is exactly rounded; ``pow``
is not guaranteed to be).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from namedis_spark.functions.conceptsimi import IC_OFFSET
from namedis_spark.state import tracked_persist

ROOT = "CONCEPT_NET_ROOT"
LCS_MAX_DEPTH_SUM = 3  # calcTermCloseness depth gate (ConceptNet.pm:5630-5655)
MAX_DAG_HEIGHT = 12  # closure-iteration bound (sanity guard, not a tuning knob)


def apply_exclusions(
    edges: DataFrame,
    excluded_terms: tuple[str, ...] = (),
    excluded_edges: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Drop blacklisted (child, parent) edges and every edge touching an
    excluded term (exclude/excludeX, ConceptNet.pm:2662-2840). Terms left
    parentless become orphans with closure {self} — same as the
    reference's orphan handling."""
    out = edges
    if excluded_terms:
        # literal filters, not joins: exclusion lists are config-sized
        out = out.where(
            ~F.col("term").isin(*excluded_terms)
            & ~F.col("parent").isin(*excluded_terms)
        )
    if excluded_edges:
        blocked = F.lit(False)
        for t, p in excluded_edges:
            blocked = blocked | ((F.col("term") == t) & (F.col("parent") == p))
        out = out.where(~blocked)
    return out


# Driver fast-path bounds for ancestor_closure: real taxonomies are
# metadata-sized (csmathling ≈ 1.4e5 edges), and the attenuated closure is
# ALREADY driver-collected downstream for the broadcast ancestor dicts
# (ancestors_map_from_df / closeness_fn_from_df) — so a bounded in-driver
# BFS with a distributed fallback follows the same documented pattern as
# corpus.key_ambiguity_pdf_bounded. Past either bound the iterative
# frontier-join loop below runs unchanged.
CLOSURE_DRIVER_EDGE_BOUND = 200_000
# Driver memory at the cap (5M rows, 19-byte terms, measured): the BFS's
# three column lists hold ~130 MB (list slots; the strings are the DAG's
# own nodes) and the Arrow table built from them ~245 MB, a ~365 MB peak
# (a list of 3-tuples peaked at ~675 MB). The lists are dropped once the
# table exists.
CLOSURE_DRIVER_ROW_CAP = 5_000_000


def _closure_driver_bfs(
    edge_rows: list,
    extra: list | None,
    max_height: int,
    row_cap: int = CLOSURE_DRIVER_ROW_CAP,
):
    """Layered min-depth BFS over driver-resident edges. Returns
    ((terms, ancestors, depths), height) — three column lists — or None
    when the closure would exceed ``row_cap`` (caller falls back to the
    distributed loop)."""
    parents: dict[str, list[str]] = {}
    nodes: set[str] = set()
    for t, p in edge_rows:
        parents.setdefault(t, []).append(p)
        nodes.add(t)
        nodes.add(p)
    if extra:
        nodes.update(extra)
    terms = list(nodes)
    ancestors, depths = list(terms), [0] * len(terms)
    seen: dict[str, set[str]] = {n: {n} for n in nodes}
    frontier: list[tuple[str, str]] = [(n, n) for n in nodes]
    height = 0
    for depth in range(1, max_height + 1):
        nxt: list[tuple[str, str]] = []
        for t, a in frontier:
            for p in parents.get(a, ()):
                s = seen[t]
                if p not in s:
                    s.add(p)
                    nxt.append((t, p))
        if not nxt:
            break
        height = depth
        terms.extend(t for t, _ in nxt)
        ancestors.extend(p for _, p in nxt)
        depths.extend([depth] * len(nxt))
        if len(terms) > row_cap:
            return None
        frontier = nxt
    return (terms, ancestors, depths), height


def ancestor_closure(
    edges: DataFrame,
    max_height: int = MAX_DAG_HEIGHT,
    extra_nodes: DataFrame | None = None,
    stats: dict | None = None,
    driver_edge_bound: int = CLOSURE_DRIVER_EDGE_BOUND,
) -> DataFrame:
    """(term, ancestor, depth) with min-depth semantics over a DAG given
    as (term, parent[, depth]) edges — BFS as iterative frontier joins.

    Scale shape: each round is one equi-join of the current frontier
    against the edge table plus one anti-join against the accumulated
    closure (first arrival = min depth, so later, longer arrivals are
    discarded before they fan out). Rounds = DAG height (~5 for real
    taxonomies); every step is a shuffle on the node id, never an
    unbounded collect. The closure includes (term, term, 0) for every
    node, like the reference's self-entry (ancestorTree seeded with
    depth 0).

    Taxonomy-sized inputs (≤ ``driver_edge_bound`` distinct edges, with
    the resulting closure under ``CLOSURE_DRIVER_ROW_CAP`` rows) take a
    driver-side BFS instead: one bounded collect + an Arrow
    createDataFrame replaces ~height × (join + anti-join + checkpoint)
    barrier-latency rounds. Identical output (parity-tested both sides
    of the bound); oversized inputs fall through to the loop."""
    e_raw = edges.select("term", "parent").where(F.col("parent").isNotNull()).persist()
    n_edges = e_raw.count()  # narrow count — no extra shuffle
    if n_edges <= driver_edge_bound:
        extra = None
        ok = True
        if extra_nodes is not None:
            probe = extra_nodes.limit(driver_edge_bound + 1).collect()
            if len(probe) > driver_edge_bound:
                ok = False  # corpus-sized orphan set: stay distributed
            else:
                extra = [r[0] for r in probe]
        if ok:
            # raw (possibly duplicated) edges: the BFS seen-set dedups,
            # so the fast path skips the distinct shuffle entirely
            res = _closure_driver_bfs(
                [(r["term"], r["parent"]) for r in e_raw.collect()],
                extra,
                max_height,
            )
            if res is not None:
                (terms, ancestors, depths), height = res
                e_raw.unpersist()
                if stats is not None:
                    stats["rounds"] = height
                    stats["driver_path"] = True
                import pyarrow as pa

                spark = edges.sparkSession
                tbl = pa.table(
                    {
                        "term": pa.array(terms, pa.string()),
                        "ancestor": pa.array(ancestors, pa.string()),
                        "depth": pa.array(depths, pa.int32()),
                    }
                )
                del terms, ancestors, depths, res  # only the Arrow copy stays
                # arrow table in (skips the pandas conversion); checkpoint:
                # downstream plans reference the closure several times —
                # without it every scan re-ships the parallelized driver
                # rows to the executors
                return spark.createDataFrame(
                    tbl, schema="term string, ancestor string, depth int"
                ).localCheckpoint(eager=True)
    e = e_raw.distinct().persist()
    nodes = e.select(F.col("term").alias("n")).union(
        e.select(F.col("parent").alias("n"))
    )
    if extra_nodes is not None:
        # keep self-entries for terms whose every edge was excluded
        # (orphans carry closure {self}, like the reference's ancestorTree)
        nodes = nodes.union(extra_nodes.toDF("n"))
    nodes = nodes.distinct()
    # localCheckpoint per round TRUNCATES THE LOGICAL PLAN, not just the
    # computation: with persist() alone, Catalyst re-analyzes the whole
    # growing union tree every round and driver-side planning time blows
    # up exponentially (measured: 1s → 2.7s → 10s → 57s per round).
    # Lineage-cutting per iteration is the same discipline the CC loop in
    # operators/cluster.py applies via its checkpoint store; on a real
    # cluster swap localCheckpoint for a reliable checkpoint dir.
    #
    # Per-round job budget (guide §1.2/§2.4): exactly ONE action per
    # round — the LAZY localCheckpoint of the new layer is materialized by
    # the same count() that decides convergence. The accumulated closure
    # is kept as a LIST of checkpointed layers (each a LogicalRDD leaf, so
    # the anti-join target is a flat union of leaves — no re-analysis
    # blow-up) instead of being re-materialized by a third job per round,
    # which previously rewrote every closure row once per round. The new
    # layer's depth is the round counter, a constant per round: dropping
    # it from the distinct/anti-join keys makes both operations share one
    # (term, ancestor) shuffle key.
    base = nodes.select(
        F.col("n").alias("term"), F.col("n").alias("ancestor")
    ).localCheckpoint(eager=True)
    layers = [base.select("term", "ancestor", F.lit(0).alias("depth"))]
    anti_target = base
    frontier = base
    rounds = 0
    for depth in range(1, max_height + 1):
        # anti-join BEFORE the distinct: both key on (term, ancestor), so
        # the distinct reuses the anti-join's output partitioning — one
        # exchange per round instead of two (the within-round duplicate
        # factor is the multi-parent degree, small by construction)
        new = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.ancestor") == F.col("e.term"))
            .select(
                F.col("f.term").alias("term"),
                F.col("e.parent").alias("ancestor"),
            )
            .join(anti_target, ["term", "ancestor"], "left_anti")
            .distinct()
            .localCheckpoint(eager=False)
        )
        if new.count() == 0:  # materializes the lazy checkpoint too
            break
        rounds += 1
        layers.append(new.select("term", "ancestor", F.lit(depth).alias("depth")))
        anti_target = anti_target.unionByName(new)
        frontier = new
    e.unpersist()
    e_raw.unpersist()
    if stats is not None:
        stats["rounds"] = rounds  # == DAG height when it converged
    closure = layers[0]
    for layer in layers[1:]:
        closure = closure.unionByName(layer)
    return closure


def with_attenuation(closure: DataFrame) -> DataFrame:
    """Attach rootdepth(term), rootdepth(ancestor) and the batch
    attenuation closed form atten = min(1, rd_t / (rd_a + depth)).
    Orphans (no path to ROOT) get atten 1 on their self-entry."""
    rd = closure.where(F.col("ancestor") == ROOT).select(
        "term", F.col("depth").alias("rootdepth")
    )
    out = (
        closure.join(rd.withColumnRenamed("term", "t1"), F.col("term") == F.col("t1"), "left")
        .drop("t1")
        .withColumnRenamed("rootdepth", "rd_t")
        .join(
            rd.select(F.col("term").alias("a1"), F.col("rootdepth").alias("rd_a")),
            F.col("ancestor") == F.col("a1"),
            "left",
        )
        .drop("a1")
    )
    return out.withColumn(
        "atten",
        F.when(F.col("depth") == 0, F.lit(1.0)).otherwise(
            F.least(
                F.lit(1.0),
                F.coalesce(
                    F.col("rd_t").cast("double")
                    / (F.col("rd_a") + F.col("depth")).cast("double"),
                    F.lit(1.0),  # disconnected subgraphs: no batch info → 1
                ),
            )
        ),
    )


def _pow_chain(base: str, exp: str, max_exp: int = 6) -> str:
    """``base ** exp`` for small integer ``exp`` as an explicit product
    CASE — bit-identical across engines (see module docstring)."""
    cases = " ".join(
        f"WHEN {exp} = {k} THEN " + (" * ".join([base] * k) if k else "1.0")
        for k in range(max_exp + 1)
    )
    return f"(CASE {cases} ELSE power({base}, {exp}) END)"


def passup_freqs(term_freqs: DataFrame, closure_att: DataFrame) -> DataFrame:
    """Attenuated frequency pass-up (addFreqAndAuthors): every node's
    total = Σ over descendants t of freq(t) · atten(t, node)^depth.
    One equi-join + one map-side-combinable aggregation.

    Each addend is rounded to 1e-6 and summed as BIGINT micro-units:
    float addition is not associative, so a double sum would depend on
    partitioning/engine; the fixed-point sum is exact and order-free,
    which keeps the DuckDB oracle (and any two cluster runs)
    bit-identical."""
    w = F.expr(_pow_chain("atten", "depth"))
    return (
        term_freqs.join(closure_att, "term")
        .select(
            F.col("ancestor").alias("node"),
            F.round(F.col("freq") * w * 1e6, 0).cast("bigint").alias("f"),
        )
        .groupBy("node")
        .agg((F.sum("f") / 1e6).alias("freq"))
    )


def term_ic_dag(term_freqs: DataFrame, closure_att: DataFrame) -> DataFrame:
    """(node, freq, ic) over the whole DAG: IC = log(MC) − log(freq) with
    MC = max node freq after pass-up (calcNetIC).

    The pass-up table (one short row per DAG node) is persisted before the
    MC scalar is collected: the returned DataFrame reads the cached rows
    instead of re-running the corpus-sized explode-join-aggregate a second
    time (guide §5 — reuse beats recompute when the intermediate is tiny)."""
    freqs = tracked_persist(passup_freqs(term_freqs, closure_att))
    mc = freqs.agg(F.max("freq")).collect()[0][0]
    return freqs.select(
        F.col("node").alias("term"),
        F.round("freq", 6).alias("freq"),
        F.round(F.log(F.lit(float(mc))) - F.log("freq"), 6).alias("ic"),
    )


def lcs_closeness(
    term_freqs: DataFrame,
    closure_att: DataFrame,
    max_depth_sum: int = LCS_MAX_DEPTH_SUM,
    ic_offset: float = IC_OFFSET,
) -> DataFrame:
    """(term1, term2, lcs, depth_sum, attenuation, closeness) for corpus
    term pairs whose least common subsumer lies within the depth gate.

    LCS selection = reference ordering (min depth-sum, then min
    attenuated depth-sum where recAtten = 1/atten >= 1) with a final
    lexical tie-break for cross-engine determinism; closeness =
    max(IC(lcs) − ICOffset, 0) (calcTermCloseness)."""
    # Pre-filter both join sides to depth <= max_depth_sum BEFORE the
    # ancestor self-join: any surviving pair needs d1 + d2 <= D with both
    # non-negative, so each side's deeper closure rows can never
    # contribute. Without this, every near-root ancestor joins its FULL
    # descendant set against itself (deg² probe pairs — at a 10^5-node
    # taxonomy the root alone would be 10^10 probes); with it, an
    # ancestor's join degree is bounded by its <=D-depth cone.
    corpus_closure = (
        closure_att.where(F.col("depth") <= max_depth_sum)
        .join(term_freqs.select("term").distinct(), "term")
    )
    a = corpus_closure.select(
        F.col("term").alias("term1"),
        "ancestor",
        F.col("depth").alias("d1"),
        F.col("atten").alias("at1"),
    )
    b = corpus_closure.select(
        F.col("term").alias("term2"),
        "ancestor",
        F.col("depth").alias("d2"),
        F.col("atten").alias("at2"),
    )
    cand = (
        a.join(b, "ancestor")
        .where(F.col("term1") < F.col("term2"))
        .where(F.col("d1") + F.col("d2") <= max_depth_sum)
        .withColumn("depth_sum", F.col("d1") + F.col("d2"))
        .withColumn(
            "atten_depth_sum",
            F.col("d1") / F.col("at1") + F.col("d2") / F.col("at2"),
        )
    )
    # LCS pick = min over (depth_sum, atten_depth_sum, ancestor) — a
    # lexicographic struct-min aggregation instead of a row_number window:
    # the hash aggregate combines map-side (one candidate row per pair
    # crosses the shuffle) where the window sorted the FULL candidate
    # table (guide §2.3). (term1, term2, ancestor) is unique in `cand`,
    # so the first three struct fields are a total order and the payload
    # fields never influence the comparison.
    best = (
        cand.groupBy("term1", "term2")
        .agg(
            F.min(
                F.struct(
                    "depth_sum", "atten_depth_sum", "ancestor", "at1", "at2"
                )
            ).alias("_b")
        )
        .select(
            "term1",
            "term2",
            F.col("_b.ancestor").alias("ancestor"),
            F.col("_b.depth_sum").alias("depth_sum"),
            F.col("_b.at1").alias("at1"),
            F.col("_b.at2").alias("at2"),
        )
    )
    ics = term_ic_dag(term_freqs, closure_att).select(
        F.col("term").alias("ancestor"), "ic"
    )
    return best.join(ics, "ancestor").select(
        "term1",
        "term2",
        F.col("ancestor").alias("lcs"),
        "depth_sum",
        F.round(F.col("at1") * F.col("at2"), 6).alias("attenuation"),
        F.round(F.greatest(F.col("ic") - F.lit(ic_offset), F.lit(0.0)), 6).alias(
            "closeness"
        ),
    )


# ---------------------------------------------------------------------------
# Deterministic >=3-level synthetic DAG over the termNNNN vocabulary
# (stands in for the csmathling.txt Wikipedia graph; same edge schema
# `term \t parent \t depth`, multi-parent mid-level for DAG-ness, plus
# exclusion fixtures so the exclusion path is exercised end-to-end)
# ---------------------------------------------------------------------------

N_CATS = 40
N_MIDS = 24
N_XCATS = 7
N_SUPERS = 5
EXCLUDED_TERMS = ("mid_11",)
EXCLUDED_EDGES = (("mid_12", "xcat_5"),)


def upper_dag_edges() -> list[tuple[str, str, int]]:
    """The static levels above the vocabulary: mid → cat (primary) and
    mid → xcat (alternative parent for every 3rd mid — the multi-parent
    structure that makes attenuation non-trivial), cat/xcat → supercat,
    supercat → ROOT. Depth column follows the csmathling.txt convention
    (depth of the PARENT from the root)."""
    rows: list[tuple[str, str, int]] = []
    for m in range(N_MIDS):
        rows.append((f"mid_{m:02d}", f"cat_{m % N_CATS:02d}", 2))
        if m % 3 == 0:
            rows.append((f"mid_{m:02d}", f"xcat_{m % N_XCATS}", 2))
    for c in range(N_CATS):
        rows.append((f"cat_{c:02d}", f"supercat_{c % N_SUPERS:02d}", 1))
    for x in range(N_XCATS):
        rows.append((f"xcat_{x}", f"supercat_{(x + 2) % N_SUPERS:02d}", 1))
    for s in range(N_SUPERS):
        rows.append((f"supercat_{s:02d}", ROOT, 0))
    return rows


def vocab_parent_expr(dialect: str, term: str = "term") -> str:
    """Deterministic term → parent attachment usable on ANY vocabulary:
    a portable md5-derived hash routes even hashes to a mid (depth-4
    leaves) and odd ones straight to a cat (depth-3 leaves). Mixed leaf
    depth is what makes depth-sum-3 LCS pairs (mid-level subsumers)
    actually occur under the reference's ≤3 gate; identical SQL text
    semantics in both engines makes the edge list oracle-replayable."""
    if dialect == "spark":
        h = f"cast(conv(substring(md5({term}), 1, 7), 16, 10) as bigint)"
        k = f"({h} div 2)"
        s = "string"
    else:
        h = f"CAST(concat('0x', substring(md5({term}), 1, 7)) AS bigint)"
        k = f"({h} // 2)"
        s = "varchar"
    # route on the low bit, bucket on the REMAINING bits — using h for both
    # correlates parity with the modulus (even hashes → even mids → even
    # cats, odd hashes → odd cats: the two leaf depths would never share a
    # cat and no depth-sum-3 LCS pair could exist)
    return (
        f"CASE WHEN {h} % 2 = 0"
        f" THEN 'mid_' || lpad(CAST({k} % {N_MIDS} AS {s}), 2, '0')"
        f" ELSE 'cat_' || lpad(CAST({k} % {N_CATS} AS {s}), 2, '0')"
        f" END"
    )


def vocab_edges(term_freqs: DataFrame) -> DataFrame:
    """term → parent edges for the corpus vocabulary (see
    vocab_parent_expr)."""
    return (
        term_freqs.select("term")
        .distinct()
        .withColumn("parent", F.expr(vocab_parent_expr("spark")))
    )


def upper_edges_after_exclusions() -> list[tuple[str, str]]:
    """The static upper-level edges with the exclusion fixtures applied
    driver-side (single source of truth for Spark AND the SQL oracle)."""
    out = []
    for t, p, _ in upper_dag_edges():
        if t in EXCLUDED_TERMS or p in EXCLUDED_TERMS:
            continue
        if (t, p) in EXCLUDED_EDGES:
            continue
        out.append((t, p))
    return out


def closure_oracle_ctes(term_occ: str = "term_occ") -> str:
    """DuckDB CTE chain (appended after a `term_occ(term, freq)` CTE):
    edges → recursive min-depth closure → rootdepth → attenuation →
    fixed-point pass-up → MC. Replays the Spark machinery exactly:
    identical edge derivation, identical product-chain attenuation
    powers, exact bigint micro-unit sums."""
    upper_vals = ", ".join(f"('{t}', '{p}')" for t, p in upper_edges_after_exclusions())
    excluded_parents = ", ".join(f"'{t}'" for t in EXCLUDED_TERMS) or "''"
    w = _pow_chain("ca.atten", "ca.depth")
    return f"""
    vocab_edges AS MATERIALIZED (
        SELECT term, {vocab_parent_expr('duckdb')} AS parent FROM {term_occ}
        WHERE term NOT IN ({excluded_parents})
    ),
    upper_edges(term, parent) AS (VALUES {upper_vals}),
    edges AS MATERIALIZED (
        SELECT term, parent FROM vocab_edges
        WHERE parent NOT IN ({excluded_parents})
        UNION ALL SELECT term, parent FROM upper_edges
    ),
    nodes AS (SELECT term AS n FROM edges UNION SELECT parent FROM edges
              UNION SELECT term FROM {term_occ}),
    paths(term, ancestor, depth) AS (
        SELECT n, n, 0 FROM nodes
        UNION
        SELECT p.term, e.parent, p.depth + 1
        FROM paths p JOIN edges e ON p.ancestor = e.term
    ),
    closure AS MATERIALIZED (
        SELECT term, ancestor, CAST(min(depth) AS int) AS depth
        FROM paths GROUP BY 1, 2
    ),
    rd AS (
        SELECT term, depth AS rootdepth FROM closure WHERE ancestor = '{ROOT}'
    ),
    catt AS MATERIALIZED (
        SELECT c.term, c.ancestor, c.depth,
               CASE WHEN c.depth = 0 THEN 1.0
                    ELSE least(1.0, coalesce(
                        CAST(rt.rootdepth AS double) / (ra.rootdepth + c.depth),
                        1.0)) END AS atten
        FROM closure c
        LEFT JOIN rd rt ON rt.term = c.term
        LEFT JOIN rd ra ON ra.term = c.ancestor
    ),
    pf AS MATERIALIZED (
        SELECT ca.ancestor AS node,
               sum(CAST(round(t.freq * {w} * 1e6, 0) AS bigint)) / 1e6 AS freq
        FROM {term_occ} t JOIN catt ca ON ca.term = t.term
        GROUP BY 1
    ),
    mc AS (SELECT max(freq) AS m FROM pf)
    """


def synthetic_dag(term_freqs: DataFrame) -> DataFrame:
    """Full edge list (vocab + upper levels) with the exclusion fixtures
    applied — ≥3 levels, multi-parent, deterministic."""
    spark = term_freqs.sparkSession
    upper = spark.createDataFrame(
        [(t, p) for t, p, _ in upper_dag_edges()], "term string, parent string"
    )
    edges = vocab_edges(term_freqs).unionByName(upper)
    return apply_exclusions(edges, EXCLUDED_TERMS, EXCLUDED_EDGES)


# ---------------------------------------------------------------------------
# Reference-scale synthetic DAG (~10^5 nodes) — the csmathling.txt graph is
# ~100k terms over a category tree of height ~5 with multi-parent links
# (/root/reference/wikipedia/csmathling.txt schema `term \t parent \t
# depth`). Generated DISTRIBUTED via spark.range: no driver-side edge list.
# ---------------------------------------------------------------------------

LARGE_N_TERMS = 100_000
LARGE_N_MIDS = 12_000
LARGE_N_SUBCATS = 1_024
LARGE_N_CATS = 64
LARGE_N_SUPERS = 8


def large_dag_edges(
    spark: SparkSession,
    n_terms: int = LARGE_N_TERMS,
    n_mids: int = LARGE_N_MIDS,
    n_subcats: int = LARGE_N_SUBCATS,
    n_cats: int = LARGE_N_CATS,
    n_supers: int = LARGE_N_SUPERS,
    multi_parent_every: int = 3,
) -> DataFrame:
    """(term, parent) edges of a deterministic height-5 DAG:
    term → mid → subcat → cat → supercat → ROOT, with every
    ``multi_parent_every``-th term and mid acquiring a second
    (Knuth-scrambled) parent — the multi-parent structure that makes
    min-depth BFS and batch attenuation non-trivial at scale."""

    def lvl(n: int, pfx: str, np: int, ppfx: str) -> DataFrame:
        return spark.range(n).select(
            F.concat(F.lit(pfx), F.col("id")).alias("term"),
            F.concat(F.lit(ppfx), F.col("id") % np).alias("parent"),
        )

    def extra(n: int, pfx: str, np: int, ppfx: str) -> DataFrame:
        # second parent from a multiplicative scramble — decorrelated from
        # the primary (id % np) assignment
        return spark.range(0, n, multi_parent_every).select(
            F.concat(F.lit(pfx), F.col("id")).alias("term"),
            F.concat(
                F.lit(ppfx), (F.col("id") * F.lit(2654435761) % F.lit(np))
            ).alias("parent"),
        )

    supers = spark.range(n_supers).select(
        F.concat(F.lit("S"), F.col("id")).alias("term"), F.lit(ROOT).alias("parent")
    )
    # no trailing distinct: the rare lvl/extra collisions (scrambled
    # second parent landing on the primary) are legal duplicate edge rows
    # that every consumer already dedups (ancestor_closure's BFS/loop,
    # DuckDB's recursive UNION) — dropping it removes a full shuffle from
    # the generator that feeds the closure benchmarks
    return (
        lvl(n_terms, "t", n_mids, "m")
        .unionByName(extra(n_terms, "t", n_mids, "m"))
        .unionByName(lvl(n_mids, "m", n_subcats, "s"))
        .unionByName(extra(n_mids, "m", n_subcats, "s"))
        .unionByName(lvl(n_subcats, "s", n_cats, "c"))
        .unionByName(lvl(n_cats, "c", n_supers, "S"))
        .unionByName(supers)
    )


def large_dag_term_freqs(
    spark: SparkSession, n_terms: int = LARGE_N_TERMS
) -> DataFrame:
    """Deterministic corpus frequencies for the leaf terms: freq cycles
    1..100 — total mass is closed-form checkable after pass-up."""
    return spark.range(n_terms).select(
        F.concat(F.lit("t"), F.col("id")).alias("term"),
        (F.col("id") % 100 + 1).cast("double").alias("freq"),
    )


def closeness_fn_from_df(closeness_df: DataFrame):
    """Adapter: materialize an ``lcs_closeness`` result into the
    ``closeness_fn(c1, c2) → (lcs_simi, attenuation, lcs, least_depth)``
    callback ``functions.conceptsimi.calc_concept_vector_simi`` consumes
    (calcTermCloseness, ConceptNet.pm:5630-5655). The gated pair table is
    small by construction (only depth-sum ≤ 3 pairs survive), so the dict
    broadcasts like the reference's ancestor caches."""
    table = {
        (r["term1"], r["term2"]): (
            float(r["closeness"]),
            float(r["attenuation"]),
            r["lcs"],
            int(r["depth_sum"]),
        )
        for r in closeness_df.collect()
    }

    def fn(c1, c2):
        if c1 > c2:
            c1, c2 = c2, c1
        return table.get((c1, c2))

    return fn


def ancestors_map_from_df(closure_att: DataFrame) -> tuple[dict, dict]:
    """(ancestors, rootdepth) broadcastable dicts from the attenuated
    closure: term → {ancestor: (depth, atten)} and term → rootdepth —
    the per-term ancestor lists of the reference (ancestorTree +
    bfsDepth), sized by the taxonomy, not the corpus."""
    anc: dict = {}
    rd: dict = {}
    for r in closure_att.collect():
        anc.setdefault(r["term"], {})[r["ancestor"]] = (
            int(r["depth"]),
            float(r["atten"]),
        )
        if r["ancestor"] == ROOT:
            rd[r["term"]] = int(r["depth"])
    return anc, rd
