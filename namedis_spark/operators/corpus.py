"""Corpus-level side-table jobs (SURVEY.md §2.3/2.4, EP2 pipeline).

These produce the broadcast inputs of the scoring stage:

* ``term_weights``   — TF-IAF term weighting (exterm.pl:517-733)
* ``key_ambiguity``  — name-ambiguity fixed point (cnambig.pl:452-782)
* ``tool_simi``      — venue-similarity regression (venuesimi.pl:157-229)
* ``term_and_name_stats`` + ``idf_ic_from_stats`` — term idf, taxonomy
  category information content (ConceptNet.pm:4931-4970) and name-part
  log-probabilities

All pure DataFrame aggregation / joins — map-side combinable groupBys, no
Python rows. At 100 TB these are the one-time EP2 "statistics pipeline"
jobs; their outputs are small (≤ millions of rows) and broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from namedis_spark.state import tracked_persist

# exterm.pl constants
IAF_LEAST_VALUE = 0.5  # exterm.pl:17
SCALE_DOWN_PUBS = 3  # exterm.pl:27 SCALE_DOWN_AUTHOR_CONTRIB_WITH_LESS_PUB_THAN_IT
TOPIC_PUB_EXP = 0.666  # exterm.pl:507-515 estTopicPub

# cnambig.pl fixed-point constants (cnambig.pl:452-782)
AMBIG_SEED_CLUST_W = 0.9
AMBIG_SEED_SOLO_W = 1.3
AMBIG_ITER_SCALE = 1.22
AMBIG_MAX_ROUNDS = 20
AMBIG_CONVERGE_ABS = 500.0

# synthetic taxonomy: category freq pass-up attenuation (ConceptNet.pm:27)
TAXO_ATTENUATION = 0.8


def conv_author_hits(features: DataFrame) -> DataFrame:
    """(author, conv_id) participation pairs: every normalized role of a
    conversation (focus + coauthors) 'authors' it — the transcript analog of
    a pub's author list (exterm.pl:204-273)."""
    return (
        features.select(
            "conv_id",
            F.explode(
                F.array_union(F.array("focus_name"), "coauthors")
            ).alias("author"),
        )
        .where(F.col("author") != "")
        .distinct()
    )


def term_weights(features: DataFrame) -> DataFrame:
    """TF-IAF weighting (exterm.pl:517-733), conversations ≙ pubs.

    Per term: over the authors whose conversations contain it —
      scaledown(a)       = min(pubnum(a), 3) / 3            (:574-575)
      hitFreqSum         = Σ hitFreq(a)·scaledown(a)
      topicPubEstCount   = Σ max(hitFreq(a), pubnum(a)^0.666)·scaledown(a)
      authorNumNonForay  = Σ scaledown(a)
      tf    = hitFreqSum / topicPubEstCount                  (:664)
      iaf   = log(maxAuthorNum / authorNumNonForay) + 0.5    (:665)
      tfiaf = tf · iaf; all 0 when freq == 1                 (:655-666)

    Returns term, freq, author_count, tf, iaf, tfiaf.
    """
    # the feature scan feeds four aggregations + a collect — persist the
    # two small exploded projections so feature extraction runs once
    hits = conv_author_hits(features).persist()
    term_conv_freq = features.select(
        "conv_id", F.explode("term_freq").alias("term", "tfreq")
    ).persist()
    conv_terms = term_conv_freq.select("conv_id", "term")

    pubnum = hits.groupBy("author").agg(F.count(F.lit(1)).alias("pubnum"))

    # hitFreq(term, author) = # of the author's convs containing the term
    term_author = (
        conv_terms.join(hits, "conv_id")
        .groupBy("term", "author")
        .agg(F.count(F.lit(1)).alias("hit_freq"))
        .join(pubnum, "author")
        .withColumn(
            "scaledown",
            F.least(F.col("pubnum"), F.lit(SCALE_DOWN_PUBS)) / F.lit(float(SCALE_DOWN_PUBS)),
        )
    )

    per_term = term_author.groupBy("term").agg(
        F.count(F.lit(1)).alias("author_count"),
        F.sum(F.col("hit_freq") * F.col("scaledown")).alias("hit_freq_sum"),
        F.sum(
            F.greatest(
                F.col("hit_freq").cast("double"),
                F.pow(F.col("pubnum").cast("double"), F.lit(TOPIC_PUB_EXP)),
            )
            * F.col("scaledown")
        ).alias("topic_pub_est"),
        F.sum("scaledown").alias("author_num_nonforay"),
    )

    freq = term_conv_freq.groupBy("term").agg(F.sum("tfreq").alias("freq"))
    per_term = per_term.join(freq, "term")

    # vocab-sized; persisted so the scalar max below and the returned
    # projection share one evaluation of the hit-freq join chain instead
    # of running it twice (guide §5)
    per_term = tracked_persist(per_term)
    max_author_num = per_term.agg(F.max("author_num_nonforay")).collect()[0][0]

    return per_term.select(
        "term",
        "freq",
        "author_count",
        F.when(
            (F.col("freq") == 1) | (F.col("author_num_nonforay") <= 0), F.lit(0.0)
        )
        .otherwise(F.round(F.col("hit_freq_sum") / F.col("topic_pub_est"), 6))
        .alias("tf"),
        F.when(
            (F.col("freq") == 1) | (F.col("author_num_nonforay") <= 0), F.lit(0.0)
        )
        .otherwise(
            F.round(
                F.log(F.lit(float(max_author_num)) / F.col("author_num_nonforay"))
                + F.lit(IAF_LEAST_VALUE),
                6,
            )
        )
        .alias("iaf"),
    ).withColumn("tfiaf", F.round(F.col("tf") * F.col("iaf"), 6))


def term_and_name_stats(features: DataFrame):
    """Term statistics and name-part log-probability tables from ONE Spark
    job: the two aggregates (explode(term_freq) → per-term df/freq, and
    two-part focus-surface → (given, surname) occurrence counts) are
    unioned into a common tagged schema and collected together; sharing
    the job removes one scheduling barrier from the pipeline's side-table
    stage (both collects are vocab-/surface-sized).

    The name-part tables feed the name-order vote (the SURNAMES /
    GIVEN_NAMES sections of ambiguity.csv, cnambig.pl:534-576; loaded as
    logSurnameProb / logGivennameProb, NLPUtil.pm:1878-1949). Documented
    simplification vs ``name_part_probs``: weights are raw surface
    occurrence counts over two-part focus surfaces (forward convention:
    first part given, last part surname) instead of the ambiguity
    fixed-point mass — the vote only consumes likelihood RATIOS, and
    occurrence weighting preserves those without re-running the fixed
    point.

    Returns (term_rows, (surname_logprob_dict, given_logprob_dict)); each
    term row is {term, df, freq}."""
    import math as _math

    terms = (
        features.select("conv_id", F.explode("term_freq").alias("term", "tfreq"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tfreq").alias("freq"))
        .select(
            F.lit("t").alias("kind"),
            F.col("term").alias("k1"),
            F.lit("").alias("k2"),
            F.col("df").cast("double").alias("c1"),
            F.col("freq").cast("double").alias("c2"),
        )
    )
    surf = (
        features.select(F.lower(F.col("focus_raw")).alias("s"))
        .withColumn("s", F.regexp_replace("s", "-", ""))
        .withColumn("parts", F.split("s", " +"))
        .where(F.size("parts") == 2)
        .groupBy(
            F.element_at("parts", 1).alias("given"),
            F.element_at("parts", 2).alias("surname"),
        )
        .agg(F.count(F.lit(1)).alias("occ"))
        .select(
            F.lit("n").alias("kind"),
            F.col("given").alias("k1"),
            F.col("surname").alias("k2"),
            F.col("occ").cast("double").alias("c1"),
            F.lit(0.0).alias("c2"),
        )
    )
    rows = terms.unionByName(surf).collect()
    term_rows = [
        {"term": r["k1"], "df": int(r["c1"]), "freq": r["c2"]}
        for r in rows
        if r["kind"] == "t"
    ]
    sur_cnt: dict[str, float] = {}
    giv_cnt: dict[str, float] = {}
    for r in rows:
        if r["kind"] == "n":
            giv_cnt[r["k1"]] = giv_cnt.get(r["k1"], 0.0) + r["c1"]
            sur_cnt[r["k2"]] = sur_cnt.get(r["k2"], 0.0) + r["c1"]
    s_tot = sum(sur_cnt.values()) or 1.0
    g_tot = sum(giv_cnt.values()) or 1.0
    sur_lp = {k: _math.log(v / s_tot) for k, v in sur_cnt.items()}
    giv_lp = {k: _math.log(v / g_tot) for k, v in giv_cnt.items()}
    return term_rows, (sur_lp, giv_lp)


def idf_ic_from_stats(term_rows: list, n_convs: int) -> tuple[dict, dict]:
    """Derive (idf dict, cat-IC dict) from ``term_and_name_stats``'s term
    rows: idf = log(N/df) over conversations, and category IC =
    log(MC) − log(freq) after the attenuated pass-up of term counts to
    their synthetic category (trainDBLPFile + calcNetIC,
    ConceptNet.pm:5315-5411, 4931-4970). Both rounded to 6 decimals."""
    import math

    idf = {
        r["term"]: round(math.log(float(n_convs) / r["df"]), 6) for r in term_rows
    }
    cat_freq: dict[str, float] = {}
    mc = 0.0
    for r in term_rows:
        f = float(r["freq"])
        mc = max(mc, f)
        t = r["term"]
        # synthetic taxonomy (scoring.category_of): termXXXX → cat_{XXXX mod 40}
        # isdecimal() accepts the digits category_of's \d+ accepts (Unicode
        # Nd); isdigit() would also accept superscripts that int() rejects.
        if t.startswith("term") and t[4:].isdecimal():
            c = f"cat_{int(t[4:]) % 40:02d}"
            cat_freq[c] = cat_freq.get(c, 0.0) + f
    cat_ic = {}
    if cat_freq:
        mc = max(mc, max(cat_freq.values()) * TAXO_ATTENUATION)
        log_mc = math.log(mc)
        cat_ic = {
            c: round(log_mc - math.log(f * TAXO_ATTENUATION), 6)
            for c, f in cat_freq.items()
        }
    return idf, cat_ic


def _ambiguity_seed(features: DataFrame, hits: DataFrame | None = None) -> DataFrame:
    """(name, occurrence, ambig, surname, givenname) seed table shared by
    the distributed and driver-side ambiguity fixed points: per-name conv
    counts, the ambiguityPredict seed heuristic (cnambig.pl:306-327), and
    the surname/givenname decomposition (two-token names decompose; others
    iterate on themselves)."""
    # every normalized person name in the corpus with its conv count
    names = (
        (hits if hits is not None else conv_author_hits(features))
        .groupBy("author")
        .agg(F.count(F.lit(1)).alias("occurrence"))
        .withColumnRenamed("author", "name")
    )
    # seed heuristics: distinct focus blocks where the name is focus give a
    # cluster estimate; names never focal seed at 1.
    clust_est = (
        features.groupBy("focus_name")
        .agg(F.countDistinct("venue").alias("clust_est"), F.count(F.lit(1)).alias("cnt"))
        .withColumnRenamed("focus_name", "name")
        .select(
            "name",
            F.greatest(
                F.lit(1.0),
                F.round(
                    AMBIG_SEED_CLUST_W * F.col("clust_est")
                    - AMBIG_SEED_SOLO_W * F.when(F.col("cnt") == 1, 1.0).otherwise(0.0),
                    6,
                ),
            ).alias("seed"),
        )
    )
    return (
        names.join(clust_est, "name", "left")
        .withColumn("ambig", F.coalesce(F.col("seed"), F.lit(1.0)))
        .withColumn("surname", F.element_at(F.split("name", " "), -1))
        .withColumn("givenname", F.element_at(F.split("name", " "), 1))
        .select("name", "occurrence", "ambig", "surname", "givenname")
    )


def key_ambiguity(
    features: DataFrame,
    rounds: int = AMBIG_MAX_ROUNDS,
    hits: DataFrame | None = None,
) -> DataFrame:
    """Name-ambiguity fixed point (cnambig.pl:452-782), as an iterative
    DataFrame job (driver-controlled loop, like ALS/PageRank).

    Seed: per name, CC over its conversations' coauthor sets sharing >= 2
    members approximates distinct persons (cnambig.pl:373-414); we seed with
    the cheaper distinct-coauthor-set heuristic
    ``max(1, 0.9*clust_est - 1.3*solo_est)`` (ambiguityPredict,
    cnambig.pl:306-327), then iterate the surname/givenname decomposition:

      P(s) = Σ_{name: surname=s} ambig / Σ ambig ;  P(g) likewise
      ambig'(name) = max(ambig(name), P(s)·P(g)·1.22·Σ ambig)   (monotone)

    until Σ|Δ| < 500 or 20 rounds (cnambig.pl:674-693 sanity bounds).

    Returns (name, occurrence, ambig).
    """
    ambig = _ambiguity_seed(features, hits)

    # The iteration refines per-name ambiguity by the surname/givenname
    # product decomposition (cnambig.pl:713-758: ambig = P(s)·P(g)·1.22·
    # nameCount, monotone max against the previous estimate), with one
    # sanity bound the reference gets implicitly from its integer person
    # bookkeeping (rationalRound + the count cross-checks,
    # cnambig.pl:674-693): a name observed k times cannot denote more than
    # k persons, so each refined value is capped at the name's occurrence.
    # Without the cap, dense name grids (hundreds of distinct names sharing
    # BOTH surname and givenname cells) make the product term diverge —
    # and ambig_sum_total must stay at person-count scale because
    # coauthorEvidenceError divides by it (NLPUtil.pm:4096-4137:
    # oe(name)/ambigSumTotal ≈ fraction of all persons bearing the name).
    prev_total = None
    for _ in range(rounds):
        # lazy localCheckpoint: the total-sum action below materializes it,
        # so each round costs one Spark job instead of two
        ambig = ambig.localCheckpoint(eager=False)
        total = ambig.agg(F.sum("ambig")).collect()[0][0]
        if prev_total is not None and abs(total - prev_total) < AMBIG_CONVERGE_ABS:
            break
        prev_total = total
        # groupBy + join back, NOT window sums: surnames are hot keys
        # (hundreds of distinct values over millions of names), and a
        # partitionBy window shuffles every row to its surname's task with
        # no map-side combine — measured 4-executor regression when tried.
        # The hash aggregate pre-combines per input partition, so the
        # probability tables shuffle only (#part values × #partitions)
        # rows. No broadcast hint: the part tables can approach the name
        # table in size (near-unique given names) — AQE picks broadcast
        # itself when a side is actually small.
        s_prob = ambig.groupBy("surname").agg((F.sum("ambig") / total).alias("p_s"))
        g_prob = ambig.groupBy("givenname").agg((F.sum("ambig") / total).alias("p_g"))
        ambig = (
            ambig.join(s_prob, "surname")
            .join(g_prob, "givenname")
            .withColumn(
                "ambig",
                F.least(
                    F.col("occurrence").cast("double"),
                    F.greatest(
                        F.col("ambig"),
                        F.round(
                            F.col("p_s") * F.col("p_g") * AMBIG_ITER_SCALE * total, 6
                        ),
                    ),
                ),
            )
            .select("name", "occurrence", "ambig", "surname", "givenname")
        )
    return ambig.select("name", "occurrence", F.round("ambig", 6).alias("ambig"))


def _iterate_ambiguity_frame(df, rounds: int):
    """The numpy fixed point over a pulled seed frame (name, occurrence,
    ambig, surname, givenname) — same seed, update rule, occurrence cap,
    rounding and convergence test as the distributed loop (parity-asserted
    by tests/test_features.py)."""
    import numpy as np
    import pandas as pd

    s_code = pd.factorize(df["surname"])[0]
    g_code = pd.factorize(df["givenname"])[0]
    ambig = df["ambig"].to_numpy(dtype=np.float64).copy()
    occ = df["occurrence"].to_numpy(dtype=np.float64)

    prev_total = None
    for _ in range(rounds):
        total = float(ambig.sum())
        if prev_total is not None and abs(total - prev_total) < AMBIG_CONVERGE_ABS:
            break
        prev_total = total
        s_sum = np.bincount(s_code, weights=ambig)
        g_sum = np.bincount(g_code, weights=ambig)
        refined = np.round(
            (s_sum[s_code] / total) * (g_sum[g_code] / total)
            * AMBIG_ITER_SCALE * total,
            6,
        )
        ambig = np.minimum(np.maximum(ambig, refined), occ)
    df = df[["name", "occurrence"]].copy()
    df["ambig"] = np.round(ambig, 6)
    return df


# Documented driver bound for the ambiguity pull (VERDICT r4): the name
# universe of a 10^12-turn corpus can reach 10^7-10^8 distinct surfaces.
# 10M rows x (2 short strings + 2 name parts + 2 numerics) is ~1 GB of
# pandas — safe for the constant driver allotment; past it the driver-side
# fast path must NOT be attempted. Callers may pass a lower ``max_rows``.
AMBIG_MAX_DRIVER_NAMES = 10_000_000


def key_ambiguity_pdf_bounded(
    features: DataFrame,
    rounds: int = AMBIG_MAX_ROUNDS,
    hits: DataFrame | None = None,
    max_rows: int = AMBIG_MAX_DRIVER_NAMES,
):
    """Bounded driver-side fixed point: pull the seed table only if the
    name universe fits the documented driver bound, else return ``None``
    (caller falls back to the distributed ``key_ambiguity`` loop).

    The bound is enforced with a LIMIT probe (max_rows+1) — the seed job
    runs once either way, and an over-bound universe costs one truncated
    pull, never an unbounded one. Driver-side iteration replaces ~4
    barrier-latency Spark jobs per round with sub-millisecond numpy — on
    the scaling harness those serial barriers were the side-table stage's
    dominant non-scaling cost.
    """
    df = _ambiguity_seed(features, hits).limit(max_rows + 1).toPandas()
    if len(df) > max_rows:
        return None
    return _iterate_ambiguity_frame(df, rounds)


def prune_evidence_tables_df(
    amb: DataFrame,
    cn: DataFrame,
    focus_keys: DataFrame,
    error_tolerance: float,
    safety: float = 0.5,
) -> tuple[dict, dict, float]:
    """Distributed twin of ``prune_evidence_tables``: the significance
    filter runs as DataFrame expressions and ONLY the surviving entries are
    collected. At corpus scale the raw name/coauthor tables are millions of
    rows; shipping them through the 2-core driver for a numpy pass is a
    constant serial cost that caps scaling (Amdahl) — here the driver
    receives exactly the dict that will be broadcast. Same keep-predicates,
    same safety margin, same absent-default semantics.

    ``amb``: (name, occurrence, ambig); ``cn``: (name, n_coauthors);
    ``focus_keys``: one column ``block_key`` of focus names.
    """
    from namedis_spark.functions.core import (
        BIG_AMBIG_EST_BOOST,
        SMALL_AMBIG_EST_BOOST,
    )

    oe = F.greatest(
        F.when(F.col("ambig") > 200.0, F.col("ambig"))
        .when(F.col("ambig") > 50.0, F.col("ambig") * BIG_AMBIG_EST_BOOST)
        .otherwise(F.col("ambig") * SMALL_AMBIG_EST_BOOST),
        F.lit(1.0),
    )
    focus = F.broadcast(
        focus_keys.select(F.col("block_key").alias("name")).distinct()
        .withColumn("_focus", F.lit(True))
    )
    amb2 = amb.join(focus, "name", "left").withColumn("_oe", oe).persist()

    # persisted: the coauthor aggregation (a corpus-sized pair explode)
    # feeds two actions — the m_f aggregate and the survivor collect —
    # and must run once
    cn2 = (
        cn.join(focus, "name", "left")
        .join(amb2.select("name", "_oe"), "name", "left")
        .persist()
    )

    # The four driver actions here are a FIXED serial cost per run (they
    # do not shrink with more executors — measured ~16s of the Amdahl
    # floor at 16 cores): run the two independent aggregates, then the two
    # independent survivor collects, concurrently from driver threads.
    # amb2 is materialized FIRST: cn2's lineage joins amb2, so submitting
    # both aggregates against a cold cache makes the concurrent jobs each
    # compute amb2's partitions before any are cached — duplicating the
    # corpus-sized work the persist exists to share.
    amb2.count()

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_amb = ex.submit(
            lambda: amb2.agg(
                F.sum("ambig").alias("total"),
                F.max(F.when(F.col("_focus"), F.col("_oe"))).alias("oe_f"),
            ).collect()[0]
        )
        f_mf = ex.submit(
            lambda: cn2.agg(
                F.max(F.when(F.col("_focus"), F.col("n_coauthors"))).alias("m_f")
            ).collect()[0]
        )
        row, m_f_row = f_amb.result(), f_mf.result()
    total = float(row["total"] or 0.0)
    oe_f = row["oe_f"]

    if oe_f is None:  # degenerate corpus: keep everything
        amb_sig = cnt_sig = 0.0
        m_f = None
    else:
        m_f = float(m_f_row["m_f"]) if m_f_row["m_f"] is not None else 0.0
        oe_f = float(oe_f)
        eps2total = 2.0 * error_tolerance * total
        amb_sig = safety * eps2total / (m_f + 1.0)
        cnt_sig = safety * eps2total / oe_f if oe_f else 0.0

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_ar = ex.submit(
            lambda: amb2.where(
                F.coalesce(F.col("_focus"), F.lit(False)) | (F.col("_oe") > amb_sig)
            )
            .select("name", "ambig")
            .collect()
        )
        f_cr = ex.submit(
            lambda: cn2.where(
                F.coalesce(F.col("_focus"), F.lit(False))
                | (F.col("n_coauthors") + 1.0 > cnt_sig)
                | (F.coalesce(F.col("_oe"), F.lit(0.0)) > amb_sig)
            )
            .select("name", "n_coauthors")
            .collect()
        )
        amb_rows, cn_rows = f_ar.result(), f_cr.result()
    amb2.unpersist()
    cn2.unpersist()
    ambig = {r["name"]: float(r["ambig"]) for r in amb_rows}
    cn_counts = {r["name"]: float(r["n_coauthors"]) for r in cn_rows}
    return ambig, cn_counts, max(1.0, total)


def name_part_probs(features: DataFrame, rounds: int = 1) -> DataFrame:
    """Surname/givenname frequency + probability tables
    (cnambig.pl:420-439,583-782: the SURNAMES / GIVEN_NAMES sections of
    ambiguity.csv): per name part, the summed ambiguity mass and its
    probability P(part) = Σ ambig / Σ_total ambig after ``rounds`` rounds of
    the fixed point. Returns (kind, part, n_names, ambig_sum, prob)."""
    amb = key_ambiguity(features, rounds=rounds)
    amb = amb.withColumn(
        "surname", F.element_at(F.split("name", " "), -1)
    ).withColumn("givenname", F.element_at(F.split("name", " "), 1))
    total = amb.agg(F.sum("ambig")).collect()[0][0] or 1.0
    out = None
    for kind, col in (("surname", "surname"), ("givenname", "givenname")):
        part = amb.groupBy(F.col(col).alias("part")).agg(
            F.count(F.lit(1)).alias("n_names"),
            F.round(F.sum("ambig"), 6).alias("ambig_sum"),
        ).select(
            F.lit(kind).alias("kind"),
            "part",
            "n_names",
            "ambig_sum",
            F.round(F.col("ambig_sum") / F.lit(float(total)), 6).alias("prob"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def prune_evidence_tables(
    amb_pdf,
    cn_pdf,
    focus_names: set,
    error_tolerance: float,
    safety: float = 0.5,
) -> tuple[dict, dict, float]:
    """Significance-prune the ambiguity / coauthor-count broadcast dicts.

    The reference's side tables are bounded by the real-world *name
    vocabulary* (88k Chinese names, 193k coauthor rows — trythres.txt:14-20),
    so it can hold them in RAM. A corpus-derived table over 10^12 turns is
    NOT bounded: synthetic/long-tail participant names grow linearly with
    the corpus, and collecting + broadcasting millions of entries serializes
    on the driver — the single biggest Amdahl term in the pipeline.

    Pruning is *decision-lossless* (up to the ``safety`` margin): an entry
    is dropped only when NO downstream predicate can observe the difference
    between its true value and the absent-default, for ANY focus name in the
    corpus. The predicates (functions/core.py) and their flip thresholds,
    with oe(x) = overestimate_ambig(x), total = Σ ambig, ε = tolerance,
    M_f = max coauthor-count over focus names, oe_f = max oe over focus:

    * strong-evidence filter ``keep(c)`` (NLPUtil.pm:4207-4217):
      flips only if  cnt(c)+1 > 2ε·total/oe_f   or  oe(c) > 2ε·total/(M_f+1)
    * coauthor evidence error ≤ ε (NLPUtil.pm:4096-4137):
      e1 flips only if cnt(c)+1 > 2ε·total/oe_f ; e2 only if
      oe(c) > 2ε·total/(M_f+1)
    * stage-2 boost vs its 2.0 cap (ConceptNet.pm:6309-6358):
      flips only if cnt(c)+1 > total/(2·oe_f)  or  oe(c) > total/(2(M_f+1))
      — both weaker than the ε-bounds at ε ≤ 0.25.

    So: drop from ambig iff non-focus and oe(c) ≤ safety·2ε·total/(M_f+1);
    drop from cn_counts iff non-focus and additionally
    cnt(c)+1 ≤ safety·2ε·total/oe_f. Focus names are always kept (they feed
    ``is_ambiguous``, the gate threshold and per-block evidence thresholds).
    At fixture scale the thresholds are below every entry and nothing is
    dropped — parity tests see byte-identical behavior.

    Returns (ambig_dict, cn_counts_dict, ambig_sum_total) where the total is
    over the FULL table (it is a person-count scale factor, not a dict).
    """
    from namedis_spark.functions.core import overestimate_ambig_values

    total = float(amb_pdf["ambig"].sum())
    oe = overestimate_ambig_values(amb_pdf["ambig"].to_numpy())
    is_focus = amb_pdf["name"].isin(focus_names).to_numpy()

    merged_cn = cn_pdf.merge(
        amb_pdf[["name"]].assign(
            _oe=oe, _focus=is_focus
        ),
        on="name",
        how="left",
    )
    cn_oe = merged_cn["_oe"].fillna(0.0).to_numpy()
    cn_focus = merged_cn["_focus"].fillna(False).to_numpy(dtype=bool)
    cnt = merged_cn["n_coauthors"].to_numpy(dtype=float)

    if is_focus.any():
        focus_cn = merged_cn.loc[cn_focus, "n_coauthors"]
        m_f = float(focus_cn.max()) if len(focus_cn) else 0.0
        oe_f = float(oe[is_focus].max())
    else:  # degenerate corpus: keep everything
        m_f = float("inf")
        oe_f = float("inf")

    eps2total = 2.0 * error_tolerance * total
    amb_sig = safety * eps2total / (m_f + 1.0) if m_f != float("inf") else 0.0
    cnt_sig = safety * eps2total / oe_f if oe_f not in (0.0, float("inf")) else 0.0

    keep_amb = is_focus | (oe > amb_sig)
    ambig = dict(
        zip(amb_pdf["name"].to_numpy()[keep_amb], amb_pdf["ambig"].to_numpy()[keep_amb])
    )
    keep_cn = cn_focus | (cnt + 1.0 > cnt_sig) | (cn_oe > amb_sig)
    cn_counts = dict(
        zip(
            merged_cn["name"].to_numpy()[keep_cn],
            cnt[keep_cn],
        )
    )
    return ambig, cn_counts, max(1.0, total)


def coauthor_stats(features: DataFrame, hits: DataFrame | None = None) -> DataFrame:
    """Per-name coauthor counts (cnambig.pl:239-271; loader
    NLPUtil.pm:1951-2001): (name, n_coauthors). Feeds the evidence-error
    machinery (cn_coauthor_count).

    Join-free: each conversation's author set is already a row-local array,
    so (name, coauthor) pairs come from a double explode — no shuffle until
    the countDistinct (which Spark plans as partial-dedup + count, one
    exchange on name) — instead of a hits⋈hits self-join that shuffles the
    participation table twice. ``hits`` is accepted for API compatibility
    but no longer needed."""
    authors = F.array_union(F.array("focus_name"), "coauthors")
    pairs = (
        features.select(F.explode(authors).alias("name"), authors.alias("_authors"))
        .select("name", F.explode("_authors").alias("coauthor"))
        .where(
            (F.col("name") != F.col("coauthor"))
            & (F.col("name") != "")
            & (F.col("coauthor") != "")
        )
    )
    return pairs.groupBy("name").agg(
        F.countDistinct("coauthor").alias("n_coauthors")
    )


def tool_simi(features: DataFrame, min_shared: int = 1) -> DataFrame:
    """Venue-similarity regression (venuesimi.pl:43-74, 157-229), tools ≙
    venues, focus names ≙ authors (first-3-author cap is moot — one focus
    per conversation).

    For each ordered tool pair (t1, t2): xs = per-author conv counts in t1,
    ys = the same author's count in t2 (0 if absent);
      relative_freq      = Σys / count1
      linreg_simi        = Σxy / Σx²           (least squares through origin)
      linreg_residue_dev = sqrt( Σ(y - x·slope)² / Σx² / slope² )
    Rows with relative_freq == 0 are dropped (venuesimi.pl:188-190).
    """
    av = (
        features.where(F.col("venue") != "UNKNOWN")
        .groupBy("focus_name", "venue")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tool_count = av.groupBy("venue").agg(F.sum("cnt").alias("count1"))

    a1 = av.select(
        F.col("focus_name").alias("author"),
        F.col("venue").alias("tool1"),
        F.col("cnt").alias("x"),
    )
    a2 = av.select(
        F.col("focus_name").alias("author"),
        F.col("venue").alias("tool2"),
        F.col("cnt").alias("y"),
    )
    # left join: every author of tool1, with its count in tool2 (0 if absent)
    xy = (
        a1.join(a2, "author", "left")
        .where(F.col("tool2").isNotNull() & (F.col("tool1") != F.col("tool2")))
        .groupBy("tool1", "tool2")
        .agg(
            F.sum("y").alias("count2"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    sxx = a1.groupBy("tool1").agg(F.sum(F.col("x") * F.col("x")).alias("sxx"))

    # residue needs Σ(y - x·slope)² = Σy² - 2·slope·Σxy + slope²·Σx² over
    # ALL authors of tool1 (ys=0 contribute x² terms). Σy² over shared only.
    syy = (
        a1.join(a2, "author")
        .where(F.col("tool1") != F.col("tool2"))
        .groupBy("tool1", "tool2")
        .agg(F.sum(F.col("y") * F.col("y")).alias("syy"))
    )

    out = (
        xy.join(syy, ["tool1", "tool2"])
        .join(sxx, "tool1")
        .join(tool_count.withColumnRenamed("venue", "tool1"), "tool1")
        .where(F.col("n_shared") >= min_shared)
        .withColumn("linreg_simi", F.col("sxy") / F.col("sxx"))
        .withColumn("relative_freq", F.col("count2") / F.col("count1"))
        .where(F.col("relative_freq") > 0)
        .withColumn(
            "linreg_residue_dev",
            F.sqrt(
                (
                    F.col("syy")
                    - 2 * F.col("linreg_simi") * F.col("sxy")
                    + F.col("linreg_simi") * F.col("linreg_simi") * F.col("sxx")
                )
                / F.col("sxx")
                / (F.col("linreg_simi") * F.col("linreg_simi"))
            ),
        )
    )
    return out.select(
        "tool1",
        "tool2",
        F.round("relative_freq", 6).alias("relative_freq"),
        F.round("linreg_simi", 6).alias("linreg_simi"),
        F.round("linreg_residue_dev", 6).alias("linreg_residue_dev"),
        F.col("count1").cast("long").alias("count1"),
        F.col("count2").cast("long").alias("count2"),
    )
