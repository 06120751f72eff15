"""Batched pandas-UDF pairwise scoring (SURVEY.md §7 M3).

One Arrow-batched pandas UDF over the candidate-pair DataFrame computes, per
pair, every similarity channel of the reference plus the north-star's
string/vector terms:

* stage-1 coauthor merge predicates (probMergeSharingCoauthor,
  NLPUtil.pm:4173-4342; mergeSharingCoauthor, :3904-3941)
* CSLR v2 over coauthor and tool frequency vectors with tool expansion
  (isSameCategorical2, NLPUtil.pm:3486-3712; expandSimilarVenues,
  :3011-3102)
* Jaro-Winkler on raw focus-name surfaces, TF-IDF cosine over turn text,
  taxonomy category-overlap cosine with IC weights (north star)
* year-range discount (ConceptNet.pm:5442-5473), coauthor evidence
  error/boost (NLPUtil.pm:4096-4137; ConceptNet.pm:6309-6358)
* evidence gate: idf mass of shared terms vs log(ambiguity)
  (ICSum >= ICSumThres, NLPUtil.pm:3822-3825, ConceptNet.pm:5842)

Side tables travel as SparkContext broadcasts of plain dicts — small by
construction, exactly like the reference's in-memory hashes, but replicated
once per executor instead of loaded per process.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from namedis_spark.functions.core import (
    coauthor_evidence_error,
    cslr_v2,
    evidence_thresholds,
    jaro_winkler,
    make_tool_expander,
    overestimate_ambig,
    shared_coauthor_boost,
    term_freq_thres_by_ambig,
    tfidf_cosine,
    year_diff_discount,
    year_range_diff,
)
from namedis_spark.operators.blocking import _replicate_to_grid, block_pair_grid
from namedis_spark.operators.corpus import idf_ic_from_stats

_TERM_CAT_RE = re.compile(r"^term(\d+)$")


def category_of(term: str) -> str | None:
    """Deterministic synthetic-taxonomy mapping (the same one
    corpus.idf_ic_from_stats passes term counts up by): termXXXX →
    cat_{XXXX mod 40}."""
    m = _TERM_CAT_RE.match(term)
    if not m:
        return None
    return f"cat_{int(m.group(1)) % 40:02d}"


@dataclass
class ScoringParams:
    # stage-1 (clust.pl:11-12)
    error_tolerance: float = 0.05
    same_mn_odds_thres: float = 1.0
    plain_min_shared: int = 2  # mergeSharingCoauthor >= 2 shared
    # stage-2 combination weights (north-star channels). jw is kept as a
    # channel (north star) but deliberately light: within a block every
    # conversation shares the focus name modulo surface variants, so
    # within-block jw is near-constant and non-discriminative — weighting
    # it like evidence admits coincidence edges.
    w_content: float = 0.6
    w_taxonomy: float = 0.3
    w_jw: float = 0.1
    venue_boost_floor: float = 0.6
    venue_boost_cap: float = 1.5
    coauthor_boost_cap: float = 2.0
    # evidence gate: shared idf mass must reach log(overestimated ambiguity)
    ic_gate_scale: float = 1.0
    threshold: float = 0.65
    # blocking routing: blocks <= small_block_size score all pairs in-worker
    # (score_blocks_exhaustive); larger blocks go through evidence joins
    # with the per-key document-frequency cap (the skew guard).
    small_block_size: int = 256
    max_evidence_df: int = 50
    # --- precision guards (calcConceptVectorSimi, ConceptNet.pm) ---------
    # empty-vector prior: a pair where either side has NO content terms
    # scores min(threshold, cap) with the gate auto-passed — empty titles
    # get a chance to merge on venue/coauthor evidence alone
    # (:6038-6053; MAX_EMPTY_CONCEPT_VEC_SIMI_PRIOR :5804)
    empty_vec_prior_cap: float = 0.5
    # similarity floor (USE_VEC_SIMI_LOWER_BOUND, :6084-6089): raise a
    # positive-but-below-prior base to the prior for non-empty vectors.
    # DEFAULT OFF — documented deviation: in the reference's IC-sum score
    # space the prior sits at/below the merge threshold, so the floor
    # barely promotes pairs; in this scorer's normalized [0,1] channel mix
    # (threshold 0.65, multiplicative venue x coauthor boosts up to 3x) a
    # 0.5 floor promotes coincidence pairs wholesale — measured on the
    # labeled fixture it costs 14 points of precision (P 1.00 -> 0.86).
    # The mechanism is kept for parity experiments.
    use_simi_lower_bound: bool = False
    # single-shared-term frequency veto (:6059-6066): a pair whose ONLY
    # shared content term is corpus-frequent (df above the ambiguity-scaled
    # getTermFreqThresByAmbig threshold) carries no term evidence
    single_term_veto: bool = True
    max_single_shared_ambig: float = 0.5  # MAX_AMBIGUITY_OF_SHARED_SINGLE_CONCEPT
    share_randomness_boost: float = 3.0  # BOOST_SHARE_TERM_CHANCE_FROM_RANDOMNESS


SCORE_SCHEMA = T.StructType(
    [
        T.StructField("stage1_mergeable", T.BooleanType(), False),
        T.StructField("stage1_reason", T.StringType(), True),
        T.StructField("cslr_coauthor", T.DoubleType(), False),
        T.StructField("cslr_tool", T.DoubleType(), False),
        T.StructField("jw", T.DoubleType(), False),
        T.StructField("content_cos", T.DoubleType(), False),
        T.StructField("taxonomy_cos", T.DoubleType(), False),
        T.StructField("year_discount", T.DoubleType(), False),
        T.StructField("coauthor_boost", T.DoubleType(), False),
        T.StructField("ic_sum", T.DoubleType(), False),
        T.StructField("gate_passed", T.BooleanType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _as_dict(x) -> dict:
    if x is None:
        return {}
    if isinstance(x, dict):
        return dict(x)
    return dict(x)


def _freq_map(names) -> dict[str, int]:
    d: dict[str, int] = {}
    if names is None:
        return d
    for n in names:
        d[n] = d.get(n, 0) + 1
    return d


def score_one_pair(
    f1: dict,
    f2: dict,
    *,
    ambig: dict[str, float],
    cn_counts: dict[str, float],
    ambig_sum_total: float,
    idf: dict[str, float],
    tool_simi_map: dict[str, list[tuple[str, float]]],
    cat_ic: dict[str, float],
    params: ScoringParams,
    n_docs: float = 0.0,
    max_df: float = 0.0,
    surname_lp: dict[str, float] | None = None,
    given_lp: dict[str, float] | None = None,
) -> dict:
    """Score a single conversation pair. Pure Python — the oracle the
    production kernels (``score_pairs_grouped``, ``score_blocks_exhaustive``)
    are parity-tested against."""
    focus = f1["focus_name"]
    co1 = _freq_map(f1["coauthors"])
    co2 = _freq_map(f2["coauthors"])
    shared = [c for c in co1 if c in co2]

    is_ambiguous = focus in ambig

    # ---- stage 1: coauthor-evidence merge predicates -------------------
    mergeable = False
    reason = None
    keep = None
    if is_ambiguous:
        cnt_thres, amb_thres = evidence_thresholds(
            focus, params.error_tolerance, ambig, cn_counts, ambig_sum_total
        )

        def keep(c: str) -> bool:
            if c not in cn_counts:
                return True
            return cn_counts[c] <= cnt_thres and overestimate_ambig(c, ambig) <= amb_thres

    if not is_ambiguous:
        # western focus name: >= 2 shared coauthors merge
        # (mergeSharingCoauthor, NLPUtil.pm:3904-3941)
        if len(shared) >= params.plain_min_shared:
            mergeable, reason = True, "shared>=2"
    elif shared:
        # subset rule (NLPUtil.pm:4231-4238), hardened: tested on the
        # strong-evidence-filtered vectors (the reference's pre-CSLR hub
        # filter, NLPUtil.pm:4207-4217) with NO small-set fallback — a
        # subset consisting solely of hub coauthors is weak evidence, and
        # the raw-vector rule over-merges exactly in hub-dense hot blocks.
        s1 = {c: f for c, f in co1.items() if keep(c)}
        s2 = {c: f for c, f in co2.items() if keep(c)}
        shared_strong = [c for c in s1 if c in s2]
        if shared_strong and (
            len(shared_strong) == len(s1) or len(shared_strong) == len(s2)
        ):
            mergeable, reason = True, "subset"
        else:
            errors = {
                c: coauthor_evidence_error(focus, c, ambig, cn_counts, ambig_sum_total)
                for c in shared
            }
            if min(errors.values()) <= params.error_tolerance:
                mergeable, reason = True, "evidence-error"

    cslr_co = 0.0
    if not mergeable and is_ambiguous and shared:
        # CSLR odds on strong-evidence-filtered coauthor vectors
        # (NLPUtil.pm:4259-4297; filter :4207-4217)
        k1 = {c: f for c, f in co1.items() if keep(c)}
        k2 = {c: f for c, f in co2.items() if keep(c)}
        if len(k1) <= 2:
            k1 = co1
        if len(k2) <= 2:
            k2 = co2
        if len(k1) > 1 and len(k2) > 1:
            _, cslr_co = cslr_v2(k1, k2, min_odds=0.0, max_counted_freq=4)
            if cslr_co >= params.same_mn_odds_thres:
                mergeable, reason = True, "cslr-odds"
    elif shared:
        _, cslr_co = cslr_v2(co1, co2, min_odds=0.0, max_counted_freq=4)

    # ---- stage 2 channels ----------------------------------------------
    tools1 = _as_dict(f1.get("tool_freq")) or {f1["venue"]: 1}
    tools2 = _as_dict(f2.get("tool_freq")) or {f2["venue"]: 1}
    expander = make_tool_expander(tool_simi_map) if tool_simi_map else None
    _, cslr_tool_plain = cslr_v2(tools1, tools2, min_odds=0.0, max_counted_freq=4)
    cslr_tool = cslr_tool_plain
    if expander is not None:
        _, cslr_tool_exp = cslr_v2(
            tools1, tools2, outcome_expander=expander, min_odds=0.0, max_counted_freq=4
        )
        # venue boost = max(expanded, plain) (ConceptNet.pm:5888-5907)
        cslr_tool = max(cslr_tool_plain, cslr_tool_exp)

    # name-order vote feeds the JW channel: reversed surfaces are
    # re-oriented to given-name-first before comparison, so
    # "Wang Wei" vs "Wei Wang" carries signal instead of a low JW
    from namedis_spark.functions.nameorder import name_reverse_vote, orient_name

    r1 = f1.get("focus_raw") or focus
    r2 = f2.get("focus_raw") or focus
    if surname_lp or given_lp:
        r1 = orient_name(r1, name_reverse_vote([r1], surname_lp or {}, given_lp or {}))
        r2 = orient_name(r2, name_reverse_vote([r2], surname_lp or {}, given_lp or {}))
    jw = jaro_winkler(r1, r2)

    tf1 = _as_dict(f1["term_freq"])
    tf2 = _as_dict(f2["term_freq"])
    v1 = {t: f * idf.get(t, 0.0) for t, f in tf1.items()}
    v2 = {t: f * idf.get(t, 0.0) for t, f in tf2.items()}
    content = tfidf_cosine(v1, v2)

    # taxonomy category-overlap: IC-weighted cosine of category vectors
    def cat_vec(tf: dict[str, int]) -> dict[str, float]:
        cv: dict[str, float] = {}
        for t, f in tf.items():
            c = category_of(t)
            if c is not None:
                cv[c] = cv.get(c, 0.0) + f * cat_ic.get(c, 0.0)
        return cv

    taxonomy = tfidf_cosine(cat_vec(tf1), cat_vec(tf2))

    ydiff = year_range_diff(
        f1["year_from"], f1["year_to"], f2["year_from"], f2["year_to"]
    )
    ydisc = year_diff_discount(ydiff)

    boost = shared_coauthor_boost(focus, shared, ambig, cn_counts, ambig_sum_total)
    boost = min(boost, params.coauthor_boost_cap)

    shared_terms = [t for t in tf1 if t in tf2]
    ic_sum = sum(idf.get(t, 0.0) for t in shared_terms)

    # single-shared-term frequency veto (ConceptNet.pm:6059-6066 +
    # getTermFreqThresByAmbig :5475-5497, freqSumThres :5837-5838)
    if (
        params.single_term_veto
        and len(shared_terms) == 1
        and max_df > 0
        and n_docs > 0
    ):
        amb_f = overestimate_ambig(focus, ambig)
        fst = max_df * params.max_single_shared_ambig / (
            amb_f * params.share_randomness_boost
        )
        df = lambda t: n_docs * math.exp(-idf.get(t, 0.0))  # noqa: E731
        fthres = min(
            term_freq_thres_by_ambig([df(t) for t in tf1], fst),
            term_freq_thres_by_ambig([df(t) for t in tf2], fst),
        )
        if df(shared_terms[0]) > fthres:
            content = 0.0
            ic_sum = 0.0

    gate_thres = params.ic_gate_scale * math.log(max(overestimate_ambig(focus, ambig), math.e))
    venue_boost = min(max(cslr_tool, params.venue_boost_floor), params.venue_boost_cap)
    prior = min(params.threshold, params.empty_vec_prior_cap)
    if not tf1 or not tf2:
        # empty-vector prior (ConceptNet.pm:6038-6053): no term evidence
        # is not negative evidence — the gate auto-passes and the pair can
        # merge on venue/coauthor boosts
        base = prior
        gate = True
    else:
        base = params.w_content * content + params.w_taxonomy * taxonomy + params.w_jw * jw
        if params.use_simi_lower_bound and 0.0 < base < prior:
            # similarity floor (:6084-6089) — gate still decides below
            base = prior
        gate = ic_sum >= gate_thres
    score = base * venue_boost * boost * ydisc if gate else 0.0

    return {
        "stage1_mergeable": bool(mergeable),
        "stage1_reason": reason,
        "cslr_coauthor": float(cslr_co),
        "cslr_tool": float(cslr_tool),
        "jw": float(jw),
        "content_cos": float(content),
        "taxonomy_cos": float(taxonomy),
        "year_discount": float(ydisc),
        "coauthor_boost": float(boost),
        "ic_sum": float(ic_sum),
        "gate_passed": bool(gate),
        "score": float(score),
    }


@dataclass
class SideTables:
    """Broadcastable side inputs for the scorer."""

    ambig: dict[str, float] = field(default_factory=dict)
    cn_counts: dict[str, float] = field(default_factory=dict)
    ambig_sum_total: float = 1.0
    idf: dict[str, float] = field(default_factory=dict)
    tool_simi_map: dict[str, list[tuple[str, float]]] = field(default_factory=dict)
    cat_ic: dict[str, float] = field(default_factory=dict)
    # corpus size + max term document-frequency, for the single-shared-term
    # veto: df(t) = n_docs * exp(-idf(t)) inverts idf = ln(n/df), so the
    # veto needs no extra broadcast table beyond these two scalars
    n_docs: float = 0.0
    max_df: float = 0.0
    # surname/givenname log-probability tables for the name-order vote
    # (testChnNameReverse, NLPUtil.pm:1750-1851; built by
    # corpus.term_and_name_stats)
    surname_lp: dict[str, float] = field(default_factory=dict)
    given_lp: dict[str, float] = field(default_factory=dict)

    @classmethod
    def from_stats(
        cls,
        pruned: tuple[dict, dict, float],
        term_rows: list,
        n_convs: int,
        tool_rows: list,
        name_part_lps: tuple[dict, dict],
    ) -> SideTables:
        """Assemble the side tables from the corpus jobs' driver-side
        outputs: ``pruned`` = (ambig, cn_counts, ambig_sum_total) from
        ``corpus.prune_evidence_tables`` or its ``_df`` twin; ``term_rows``
        and ``name_part_lps`` from ``corpus.term_and_name_stats``;
        ``tool_rows`` the collected ``corpus.tool_simi`` rows."""
        ambig, cn_counts, ambig_sum_total = pruned
        idf, cat_ic = idf_ic_from_stats(term_rows, n_convs)
        n_docs = float(n_convs)
        tool_map: dict[str, list[tuple[str, float]]] = {}
        for r in tool_rows:
            tool_map.setdefault(r["tool1"], []).append((r["tool2"], float(r["linreg_simi"])))
        for v in tool_map.values():
            v.sort(key=lambda kv: (-kv[1], kv[0]))
        surname_lp, given_lp = name_part_lps
        return cls(
            ambig=ambig,
            cn_counts=cn_counts,
            ambig_sum_total=ambig_sum_total,
            idf=idf,
            tool_simi_map=tool_map,
            cat_ic=cat_ic,
            n_docs=n_docs,
            max_df=n_docs * math.exp(-min(idf.values())) if idf else 0.0,
            surname_lp=surname_lp,
            given_lp=given_lp,
        )


PREP_SCHEMA = T.StructType(
    [
        T.StructField("block_key", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("focus_name", T.StringType()),
        T.StructField("focus_raw", T.StringType()),
        T.StructField("focus_oriented", T.StringType()),
        T.StructField("co_k", T.ArrayType(T.StringType())),
        T.StructField("co_f", T.ArrayType(T.DoubleType())),
        T.StructField("tool_k", T.ArrayType(T.StringType())),
        T.StructField("tool_f", T.ArrayType(T.DoubleType())),
        T.StructField("t_ids", T.ArrayType(T.LongType())),
        T.StructField("t_w", T.ArrayType(T.DoubleType())),
        T.StructField("t_idf", T.ArrayType(T.DoubleType())),
        T.StructField("t_norm", T.DoubleType()),
        T.StructField("cat", T.ArrayType(T.DoubleType())),
        T.StructField("cat_norm", T.DoubleType()),
        T.StructField("year_from", T.IntegerType()),
        T.StructField("year_to", T.IntegerType()),
    ]
)

_N_CATS = 40


def _term_id(term: str) -> int:
    """Deterministic 63-bit term id (stable across processes, unlike
    builtin hash). Collision odds over a corpus vocabulary are ~|V|²/2⁶³."""
    import hashlib

    return int.from_bytes(hashlib.blake2b(term.encode(), digest_size=8).digest(), "big") >> 1


def prepare_scoring(
    spark: SparkSession, features: DataFrame, side: SideTables
) -> DataFrame:
    """One Arrow-batched pass over the *conversation* table producing the
    lean numeric scoring representation. Every per-conversation transform
    the pairwise scorer needs (coauthor/tool frequency maps, idf-weighted
    term vectors as sorted id/weight arrays + norm, dense taxonomy-category
    vectors) is computed once per conversation here instead of once per
    candidate pair (a conversation participates in ~tens of pairs), and the
    fat string maps never ride the pair shuffle."""
    import numpy as np

    bc = spark.sparkContext.broadcast(
        {
            "idf": side.idf,
            "cat_ic": side.cat_ic,
            "surname_lp": side.surname_lp,
            "given_lp": side.given_lp,
        }
    )

    def prep(batches):
        from namedis_spark.functions.nameorder import name_reverse_vote, orient_name

        sv = bc.value
        idf = sv["idf"]
        cat_ic = sv["cat_ic"]
        sur_lp = sv["surname_lp"]
        giv_lp = sv["given_lp"]
        orient_cache: dict[str, str] = {}

        def oriented(raw: str) -> str:
            # name-order vote (testChnNameReverse) per surface, memoized —
            # reversed surfaces re-oriented given-name-first so the JW
            # channel compares like with like
            o = orient_cache.get(raw)
            if o is None:
                if sur_lp or giv_lp:
                    o = orient_name(raw, name_reverse_vote([raw], sur_lp, giv_lp))
                else:
                    o = raw
                orient_cache[raw] = o
            return o

        cat_idx_cache: dict[str, int] = {}

        def cat_idx(t: str) -> int:
            ci = cat_idx_cache.get(t)
            if ci is None:
                c = category_of(t)
                ci = -1 if c is None else int(c[4:])
                cat_idx_cache[t] = ci
            return ci

        tid_cache: dict[str, int] = {}

        def tid(t: str) -> int:
            i = tid_cache.get(t)
            if i is None:
                i = _term_id(t)
                tid_cache[t] = i
            return i

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            out = {
                "block_key": pdf["block_key"],
                "conv_id": pdf["conv_id"],
                "focus_name": pdf["focus_name"],
                "focus_raw": pdf["focus_raw"],
                "focus_oriented": [
                    oriented(r or f)
                    for r, f in zip(pdf["focus_raw"], pdf["focus_name"])
                ],
            }
            co_k, co_f, tool_k, tool_f = [], [], [], []
            t_ids, t_w, t_idf, t_norm = [], [], [], []
            cats, cat_norms = [], []
            for co, tools, venue, tf in zip(
                pdf["coauthors"], pdf["tool_freq"], pdf["venue"], pdf["term_freq"]
            ):
                cm = _freq_map(co)
                co_k.append(list(cm.keys()))
                co_f.append([float(v) for v in cm.values()])
                td = _as_dict(tools) or {venue: 1}
                tool_k.append(list(td.keys()))
                tool_f.append([float(v) for v in td.values()])
                tfd = _as_dict(tf)
                ids = np.fromiter((tid(t) for t in tfd), dtype=np.int64, count=len(tfd))
                order = np.argsort(ids, kind="stable")
                w = np.fromiter(
                    (f * idf.get(t, 0.0) for t, f in tfd.items()),
                    dtype=np.float64,
                    count=len(tfd),
                )
                iv = np.fromiter(
                    (idf.get(t, 0.0) for t in tfd), dtype=np.float64, count=len(tfd)
                )
                t_ids.append(ids[order])
                t_w.append(w[order])
                t_idf.append(iv[order])
                t_norm.append(float(math.sqrt(float(np.dot(w, w)))))
                cv = np.zeros(_N_CATS)
                for t, f in tfd.items():
                    ci = cat_idx(t)
                    if ci >= 0:
                        cv[ci] += f * cat_ic.get(f"cat_{ci:02d}", 0.0)
                cats.append(cv)
                cat_norms.append(float(math.sqrt(float(np.dot(cv, cv)))))
            out.update(
                co_k=co_k, co_f=co_f, tool_k=tool_k, tool_f=tool_f,
                t_ids=t_ids, t_w=t_w, t_idf=t_idf, t_norm=t_norm,
                cat=cats, cat_norm=cat_norms,
                year_from=pdf["year_from"], year_to=pdf["year_to"],
            )
            yield pd.DataFrame(out)

    cols = [
        "block_key", "conv_id", "focus_name", "focus_raw", "coauthors",
        "tool_freq", "venue", "term_freq", "year_from", "year_to",
    ]
    return features.select(*cols).mapInPandas(prep, schema=PREP_SCHEMA)


def _lgamma1_u(a):
    """Elementwise ``lgamma(x + 1)`` via a unique-value memo of
    ``math.lgamma`` — frequencies are small integers repeated across pairs,
    so uniques are few, and using the SAME libm call as the per-pair oracle
    keeps every table entry bit-identical to ``log_factorial``."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    uv, inv = np.unique(a, return_inverse=True)
    tab = np.fromiter((math.lgamma(float(v) + 1.0) for v in uv), np.float64,
                      count=uv.size)
    return tab[inv].reshape(a.shape)


def _coauthor_channel_batched(
    I,
    J,
    co_dicts,
    strong_dicts,
    focus_arr,
    focus_state,
    p,
    ambig: dict,
    cn_counts: dict,
    ambig_sum_total: float,
):
    """Stage-1 coauthor merge logic + coauthor CSLR + shared-coauthor boost
    for every candidate pair, batched (no per-pair Python).

    Replays, channel-for-channel, the per-pair sequence of
    ``score_one_pair`` (NLPUtil.pm:3904-3941, 4173-4342 semantics):

    * plain ≥2-shared merge for unambiguous focus names;
    * strong-subset merge (shared strong coauthors == one side's full
      strong set);
    * evidence-error merge (min over shared coauthors of
      ``coauthor_evidence_error`` ≤ tolerance, NLPUtil.pm:4096-4137);
    * CSLR v2 odds on the strong-or-full vectors (``isSameCategorical2``,
      NLPUtil.pm:3486-3712) with the >2-strong selection and the
      (len>1, len>1) guard;
    * the stage-2 shared-coauthor boost (ConceptNet.pm:6309-6358).

    Mechanics: pairs × coauthor entries are hash-joined (pandas merges) to
    enumerate every (pair, shared-key) once; min/max channels
    (evidence-error, boost) aggregate per pair by groupby; the CSLR
    likelihood ratio is evaluated in closed form from per-row sums and
    per-pair shared sums — for sample s / multinomial m (bigger freq sum,
    key-count tie-break):

        log P = Σ_sh f_s·log(cap(f_m)+π) + f_s^unk·log(f_m^unk)
              + u'·log(π) − n·log(S_m) + lgamma(n+1)
              − Σ_sh lgamma(f_s+1) − lgamma(f_s^unk+1) − lgamma(u'+1)
        log LR = log P + log C(m+n−1, n)

    where S_m = Σ_known (cap(f_m)+π) + f_m^unk + π (the UNSEEN slot),
    u' is the pooled-unseen freq after the ⌊n·0.3334⌋ reduction, and the
    UNKNOWN slot follows cslr_v2's prior rules with unknown_prior = 0
    (an UNKNOWN-bearing sample against an UNKNOWN-less multinomial has
    probability 0). All lgamma values come from the same ``math.lgamma``
    as the oracle (unique-value memo), so the only divergence from
    ``cslr_v2`` is float summation order (≪1e-12 rel).

    Returns ``(mergeable, reason, cslr_co, boost)`` arrays of length
    ``len(I)``; non-sharing pairs keep the defaults (False, None, 0, 1).
    """
    import numpy as np

    from namedis_spark.functions.core import (
        CAT_PRIOR,
        UNSEEN_REDUCTION_FRAC,
        overestimate_ambig,
    )

    n = len(co_dicts)
    P = len(I)
    mergeable = np.zeros(P, dtype=bool)
    reason = np.full(P, None, dtype=object)
    cslr_co = np.zeros(P)
    boost = np.ones(P)
    if P == 0 or n == 0:
        return mergeable, reason, cslr_co, boost

    MAXF = 4.0
    pr = CAT_PRIOR

    # ---- entry tables (row, key-id, freq) over the group's vocab --------
    key_ids: dict[str, int] = {}
    ent_r: list[int] = []
    ent_k: list[int] = []
    ent_f: list[float] = []
    sent_r: list[int] = []
    sent_k: list[int] = []
    kent_r: list[int] = []
    kent_k: list[int] = []
    kent_f: list[float] = []
    for r, (co, st) in enumerate(zip(co_dicts, strong_dicts)):
        for c, f in co.items():
            v = key_ids.get(c)
            if v is None:
                v = len(key_ids)
                key_ids[c] = v
            ent_r.append(r)
            ent_k.append(v)
            ent_f.append(float(f))
        for c in st:
            sent_r.append(r)
            sent_k.append(key_ids[c])
        kd = st if len(st) > 2 else co
        for c, f in kd.items():
            kent_r.append(r)
            kent_k.append(key_ids[c])
            kent_f.append(float(f))
    unk_id = key_ids.get("UNKNOWN", -1)

    def row_stats(rows, keys, fs):
        rows = np.asarray(rows, dtype=np.int64)
        keys = np.asarray(keys, dtype=np.int64)
        fs = np.asarray(fs, dtype=np.float64)
        fsum = np.bincount(rows, weights=fs, minlength=n)
        cnt = np.bincount(rows, minlength=n)
        nun = keys != unk_id
        funk = np.bincount(rows[~nun], weights=fs[~nun], minlength=n)
        capped = np.bincount(rows[nun], weights=np.minimum(fs[nun], MAXF),
                             minlength=n)
        kcnt = np.bincount(rows[nun], minlength=n)
        return fsum, cnt, funk, capped, kcnt, rows, keys, fs

    full_stats = row_stats(ent_r, ent_k, ent_f)
    k_stats = row_stats(kent_r, kent_k, kent_f)
    scnt = np.bincount(np.asarray(sent_r, dtype=np.int64), minlength=n)

    # ---- enumerate (pair, shared key) via hash joins --------------------
    pairs_t = pd.DataFrame({"q": np.arange(P, dtype=np.int64), "i": I, "j": J})

    def shared_table(rows, keys, fs, sub=None):
        e = pd.DataFrame({"row": rows, "k": keys, "f": fs})
        base = pairs_t if sub is None else pairs_t.iloc[sub]
        m1 = base.merge(e, left_on="i", right_on="row")
        m2 = m1.merge(e, left_on=["j", "k"], right_on=["row", "k"],
                      suffixes=("1", "2"))
        return (
            m2["q"].to_numpy(),
            m2["i"].to_numpy(),
            m2["k"].to_numpy(),
            m2["f1"].to_numpy(dtype=np.float64),
            m2["f2"].to_numpy(dtype=np.float64),
        )

    qq, qi, qk, _, _ = shared_table(*full_stats[5:8])
    shared_cnt = np.bincount(qq, minlength=P)
    has_shared = shared_cnt > 0

    # strong-shared counts (subset test)
    se = pd.DataFrame({"row": sent_r, "k": sent_k})
    ssc = np.zeros(P, dtype=np.int64)
    if len(se):
        ms = pairs_t.merge(se, left_on="i", right_on="row").merge(
            se, left_on=["j", "k"], right_on=["row", "k"], suffixes=("1", "2")
        )
        ssc = np.bincount(ms["q"].to_numpy(), minlength=P)

    # ---- per-key / per-row evidence scalars -----------------------------
    keys_list = list(key_ids)
    cntk = np.array([float(cn_counts.get(c, 0)) for c in keys_list])
    kin_cnt = np.array([c in cn_counts for c in keys_list])
    oek = np.array([overestimate_ambig(c, ambig) for c in keys_list])

    _fmemo: dict[str, tuple] = {}

    def fattrs(f):
        a = _fmemo.get(f)
        if a is None:
            a = (
                f in ambig,
                f in cn_counts,
                overestimate_ambig(f, ambig),
                float(cn_counts.get(f, 0)),
            )
            _fmemo[f] = a
        return a

    rowf = [fattrs(f) for f in focus_arr]
    foc_in_amb = np.array([a[0] for a in rowf])
    foc_in_cnt = np.array([a[1] for a in rowf])
    oef = np.array([a[2] for a in rowf])
    cntf = np.array([a[3] for a in rowf])
    is_amb_row = np.array([focus_state(f)[0] for f in focus_arr])

    # evidence error, identical op order to coauthor_evidence_error
    e1 = (cntk[qk] + 1) * oef[qi] / ambig_sum_total / 2
    e2 = (cntf[qi] + 1) * oek[qk] / ambig_sum_total / 2
    errv = np.where(
        foc_in_amb[qi] & foc_in_cnt[qi] & kin_cnt[qk], np.maximum(e1, e2), 0.0
    )
    err_min = np.full(P, np.inf)
    if qq.size:
        g = pd.Series(errv).groupby(qq).min()
        err_min[g.index.to_numpy()] = g.to_numpy()

    # shared-coauthor boost, identical op order to shared_coauthor_boost
    oef_safe = np.where(oef > 0, oef, 1.0)
    oek_safe = np.where(oek > 0, oek, 1.0)
    b1 = ambig_sum_total / (cntk[qk] + 1) / oef_safe[qi]
    b2 = ambig_sum_total / (cntf[qi] + 1) / oek_safe[qk]
    bv = np.where(oek[qk] > 0, np.minimum(b1, b2), b1)
    bv = np.where(foc_in_amb[qi], bv, 1.0)
    if qq.size:
        g = pd.Series(bv).groupby(qq).max()
        boost[g.index.to_numpy()] = np.maximum(g.to_numpy(), 1.0)

    # ---- stage-1 decisions ----------------------------------------------
    is_amb_pair = is_amb_row[I]
    plain = ~is_amb_pair & (shared_cnt >= p.plain_min_shared)
    subset = (
        is_amb_pair
        & has_shared
        & (ssc > 0)
        & ((ssc == scnt[I]) | (ssc == scnt[J]))
    )
    evid = is_amb_pair & has_shared & ~subset & (err_min <= p.error_tolerance)
    mg_pre = plain | subset | evid
    reason[plain] = "shared>=2"
    reason[subset] = "subset"
    reason[evid] = "evidence-error"

    # ---- batched CSLR v2 ------------------------------------------------
    def batched_cslr(mask, stats):
        fsum, cnt, funk, capped, kcnt, rows, keys, fs = stats
        qsel = np.nonzero(mask)[0]
        out = np.zeros(P)
        if qsel.size == 0:
            return out
        q2, _, k2, f1, f2 = shared_table(rows, keys, fs, sub=qsel)
        if unk_id >= 0 and q2.size:
            nun = k2 != unk_id
            q2, f1, f2 = q2[nun], f1[nun], f2[nun]
        t12 = f1 * np.log(np.minimum(f2, MAXF) + pr)
        t21 = f2 * np.log(np.minimum(f1, MAXF) + pr)
        lg1 = _lgamma1_u(f1)
        lg2 = _lgamma1_u(f2)

        def bc(w):
            return np.bincount(q2, weights=w, minlength=P)[qsel]

        T12, T21, L1, L2, S1, S2 = bc(t12), bc(t21), bc(lg1), bc(lg2), bc(f1), bc(f2)
        i_, j_ = I[qsel], J[qsel]
        m_is_j = (fsum[i_] < fsum[j_]) | (
            (fsum[i_] == fsum[j_]) & (cnt[i_] < cnt[j_])
        )
        s_idx = np.where(m_is_j, i_, j_)
        m_idx = np.where(m_is_j, j_, i_)
        T = np.where(m_is_j, T12, T21)
        Lsh = np.where(m_is_j, L1, L2)
        SFs = np.where(m_is_j, S1, S2)
        funk_s, funk_m = funk[s_idx], funk[m_idx]
        n0 = fsum[s_idx]
        u = np.maximum(n0 - funk_s - SFs, 0.0)
        red = np.trunc(n0 * UNSEEN_REDUCTION_FRAC)
        ucl = np.minimum(red, u)
        u_after = u - ucl
        nn = n0 - ucl
        s_sum = capped[m_idx] + funk_m + pr * (kcnt[m_idx] + 1.0)
        m_cnt = kcnt[m_idx] + 1.0 + ((funk_m > 0) | (funk_s > 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            unk_term = np.where(
                funk_s > 0,
                np.where(funk_m > 0, funk_s * np.log(np.maximum(funk_m, 1e-300)),
                         -np.inf),
                0.0,
            )
        log_prob = (
            T
            + unk_term
            + u_after * np.log(pr)
            - nn * np.log(s_sum)
            + _lgamma1_u(nn)
            - Lsh
            - _lgamma1_u(funk_s)
            - _lgamma1_u(u_after)
        )
        log_support = _lgamma1_u(m_cnt + nn - 1.0) - _lgamma1_u(nn) - _lgamma1_u(
            m_cnt - 1.0
        )
        log_lr = log_prob + log_support
        with np.errstate(over="ignore"):
            vals = np.exp(log_lr)
        out[qsel] = np.where(np.isneginf(log_lr), 0.0, vals)
        return out

    cntK = k_stats[1]
    maskA = (
        ~mg_pre & is_amb_pair & has_shared & (cntK[I] > 1) & (cntK[J] > 1)
    )
    ccA = batched_cslr(maskA, k_stats)
    cslr_merge = maskA & (ccA >= p.same_mn_odds_thres)
    reason[cslr_merge] = "cslr-odds"
    maskB = has_shared & (mg_pre | ~is_amb_pair)
    ccB = batched_cslr(maskB, full_stats)
    cslr_co = np.where(maskA, ccA, np.where(maskB, ccB, 0.0))
    mergeable = mg_pre | cslr_merge
    return mergeable, reason, cslr_co, boost


def _score_group_vectorized(
    pairs_pdf: pd.DataFrame,
    prep_pdf: pd.DataFrame,
    sv: dict,
    needed_only: bool = False,
) -> pd.DataFrame:
    """Score one cogroup's pairs, vectorized. ``sv`` is the broadcast
    value of ``_broadcast_side``.

    With ``needed_only=True`` the per-unique-pair channels (tool CSLR,
    Jaro-Winkler) are computed only for pairs where they can be observed
    downstream — evidence-gate passers (score ≠ 0 requires the gate) and
    stage-1 mergeable pairs. Callers that emit every row
    (``score_pairs_grouped``) keep the default and get all channels
    everywhere.

    Channel-for-channel identical to ``score_one_pair`` (the unit-test
    oracle); the bulk channels run as numpy/BLAS matrix products instead of
    per-pair Python:

    * content / ic-sum / taxonomy cosines: group-local gram matrices
      (``X @ X.T`` over the group's term/category matrices) — every product
      term is non-negative, so a gram entry is zero exactly when the oracle's
      per-pair dot is zero, and otherwise differs only in float summation
      order (≪1e-12 rel);
    * year discount, evidence gate, score combination: elementwise numpy;
    * Jaro-Winkler and tool-CSLR: computed once per *unique* (surface,
      surface) / (tool-signature, tool-signature) pair — the exact memo
      domains of the per-pair path — then gathered;
    * stage-1 coauthor logic (subset / evidence-error / cslr-odds,
      NLPUtil.pm:3904-3941, 4173-4342) + shared-coauthor boost + coauthor
      CSLR: batched over shared-key joins (``_coauthor_channel_batched``);
      pairs sharing no coauthor have mergeable=False, cslr_co=0, boost=1
      by definition.
    """
    import numpy as np

    p: ScoringParams = sv["params"]
    ambig = sv["ambig"]
    cn_counts = sv["cn_counts"]
    ambig_sum_total = sv["ambig_sum_total"]
    tool_simi_map = sv["tool_simi_map"]
    n_docs = sv["n_docs"]
    max_df = sv["max_df"]
    n = len(prep_pdf)
    P = len(pairs_pdf)
    expander = None
    if tool_simi_map:
        # expandSimilarVenues (NLPUtil.pm:3011-3102) is a function of the
        # vector being expanded and the similarity floor ALONE (the `other`
        # side never participates), so its result is memoizable per
        # (vector, floor). cslr_v2 mutates the dicts it receives (priors,
        # UNSEEN pooling) — hand it a copy, never the memoized object.
        _raw_expand = make_tool_expander(tool_simi_map)
        _exp_memo: dict[tuple, dict] = {}

        def expander(vec: dict, other: dict, least_simi: float) -> dict:
            key = (tuple(sorted(vec.items())), least_simi)
            r = _exp_memo.get(key)
            if r is None:
                r = _raw_expand(vec, other, least_simi)
                _exp_memo[key] = r
            return dict(r)

    focus_memo: dict[str, tuple] = {}

    def focus_state(focus: str) -> tuple:
        st = focus_memo.get(focus)
        if st is None:
            is_amb = focus in ambig
            if is_amb:
                cnt_thres, amb_thres = evidence_thresholds(
                    focus, p.error_tolerance, ambig, cn_counts, ambig_sum_total
                )
            else:
                cnt_thres = amb_thres = 0.0
            oe = overestimate_ambig(focus, ambig)
            gate_thres = p.ic_gate_scale * math.log(max(oe, math.e))
            fst = (
                max_df * p.max_single_shared_ambig / (oe * p.share_randomness_boost)
                if max_df > 0
                else 0.0
            )
            st = (is_amb, cnt_thres, amb_thres, gate_thres, fst)
            focus_memo[focus] = st
        return st

    # ---- per-conversation decode (once per group) -----------------------
    cid_arr = prep_pdf["conv_id"].to_numpy()
    idx = {c: i for i, c in enumerate(cid_arr)}
    focus_arr = prep_pdf["focus_name"].to_numpy()
    raw_arr = (
        prep_pdf["focus_oriented"].fillna(prep_pdf["focus_raw"]).to_numpy()
        if "focus_oriented" in prep_pdf.columns
        else prep_pdf["focus_raw"].to_numpy()
    )
    yf = prep_pdf["year_from"].to_numpy(dtype=np.int64)
    yt = prep_pdf["year_to"].to_numpy(dtype=np.int64)
    tnorm = prep_pdf["t_norm"].to_numpy(dtype=np.float64)
    cnorm = prep_pdf["cat_norm"].to_numpy(dtype=np.float64)

    co_dicts: list[dict] = []
    strong_dicts: list[dict] = []
    tool_sig_ids: dict[tuple, int] = {}
    sig_dicts: list[dict] = []
    sig_of = np.empty(n, dtype=np.int64)
    for i, (co_k, co_f, tool_k, tool_f, focus) in enumerate(
        zip(prep_pdf["co_k"], prep_pdf["co_f"], prep_pdf["tool_k"],
            prep_pdf["tool_f"], focus_arr)
    ):
        co = dict(zip(co_k, co_f))
        co_dicts.append(co)
        is_amb, cnt_thres, amb_thres, _, _ = focus_state(focus)
        if is_amb:
            strong = {
                c: v
                for c, v in co.items()
                if c not in cn_counts
                or (
                    cn_counts[c] <= cnt_thres
                    and overestimate_ambig(c, ambig) <= amb_thres
                )
            }
        else:
            strong = co
        strong_dicts.append(strong)
        td = dict(zip(tool_k, tool_f))
        key = tuple(sorted(td.items()))
        sid = tool_sig_ids.get(key)
        if sid is None:
            sid = len(tool_sig_ids)
            tool_sig_ids[key] = sid
            sig_dicts.append(td)
        sig_of[i] = sid

    # ---- group-local term / category / coauthor matrices ----------------
    ids_list = [np.asarray(a, dtype=np.int64) for a in prep_pdf["t_ids"]]
    lens = np.fromiter((a.size for a in ids_list), dtype=np.int64, count=n)
    all_ids = np.concatenate(ids_list) if n else np.empty(0, np.int64)
    uniq, inv = np.unique(all_ids, return_inverse=True)
    V = uniq.size
    rows = np.repeat(np.arange(n), lens)
    X = np.zeros((n, V))
    Widf = np.zeros((n, V))
    B = np.zeros((n, V))
    if all_ids.size:
        X[rows, inv] = np.concatenate(
            [np.asarray(a, dtype=np.float64) for a in prep_pdf["t_w"]]
        )
        Widf[rows, inv] = np.concatenate(
            [np.asarray(a, dtype=np.float64) for a in prep_pdf["t_idf"]]
        )
        B[rows, inv] = 1.0
    G = X @ X.T
    Gic = Widf @ B.T

    C = np.array([np.asarray(a, dtype=np.float64) for a in prep_pdf["cat"]])
    Gc = C @ C.T

    I = pairs_pdf["conv_id1"].map(idx).to_numpy(dtype=np.int64)
    J = pairs_pdf["conv_id2"].map(idx).to_numpy(dtype=np.int64)

    # ---- vectorized stage-2 channels -------------------------------------
    D = G[I, J]
    denom = tnorm[I] * tnorm[J]
    content = np.zeros(P)
    np.divide(D, denom, out=content, where=D != 0.0)
    ic_sum = Gic[I, J]
    Dc = Gc[I, J]
    cden = cnorm[I] * cnorm[J]
    taxonomy = np.zeros(P)
    np.divide(Dc, cden, out=taxonomy, where=Dc != 0.0)

    # single-shared-term veto, vectorized: shared-count gram over the
    # binary matrix; the df gram equals the lone shared term's df exactly
    # when the count is 1 (identical to score_one_pair's branch)
    if p.single_term_veto and max_df > 0 and n_docs > 0:
        Dm = np.where(B > 0, n_docs * np.exp(-Widf), 0.0)
        shared_cnt = (B @ B.T)[I, J]
        shared_df = (Dm @ B.T)[I, J]
        vth = np.fromiter(
            (
                term_freq_thres_by_ambig(
                    (n_docs * np.exp(-np.asarray(iv, dtype=np.float64))).tolist(),
                    focus_state(f)[4],
                )
                for iv, f in zip(prep_pdf["t_idf"], focus_arr)
            ),
            np.float64,
            count=n,
        )
        veto = (np.rint(shared_cnt) == 1) & (shared_df > np.minimum(vth[I], vth[J]))
        content[veto] = 0.0
        ic_sum = np.where(veto, 0.0, ic_sum)

    d = np.where(
        yt[I] < yf[J], yf[J] - yt[I], np.where(yt[J] < yf[I], yf[I] - yt[J], 0)
    ).astype(np.float64)
    from namedis_spark.functions.core import (
        MAX_YEAR_DIFF,
        YEAR_TOLERANCE,
        YEARLY_ATTENUATE,
    )

    extra = np.maximum(d - YEAR_TOLERANCE, 0.0)
    ydisc = np.where(
        d > MAX_YEAR_DIFF, 0.0, np.where(extra <= 0.0, 1.0, YEARLY_ATTENUATE**extra)
    )

    gth = np.fromiter((focus_state(f)[3] for f in focus_arr), np.float64, count=n)
    # empty-vector prior: gate auto-passes when either side has no terms
    emptyp = (lens[I] == 0) | (lens[J] == 0)
    gate = emptyp | (ic_sum >= gth[I])

    # ---- stage 1 + coauthor channels: batched over shared-key joins ------
    # (plain/subset/evidence-error/cslr-odds merges, coauthor CSLR, shared-
    # coauthor boost — no per-pair Python; see _coauthor_channel_batched)
    mergeable, reason, cslr_co, boost = _coauthor_channel_batched(
        I, J, co_dicts, strong_dicts, focus_arr, focus_state, p,
        ambig, cn_counts, ambig_sum_total,
    )

    # ---- unique-pair channels (jw, tool cslr) ----------------------------
    # Restricted to observable pairs when needed_only: for a gated-out,
    # non-mergeable pair the score is 0 by construction and the row is never
    # emitted, so its tool/jw channels are dead values.
    if needed_only:
        live = np.nonzero(gate | mergeable)[0]
    else:
        live = np.arange(P)
    Il, Jl = I[live], J[live]

    name_ids: dict[str, int] = {}
    rid = np.empty(n, dtype=np.int64)
    for i, (r, f) in enumerate(zip(raw_arr, focus_arr)):
        rr = r or f
        nid = name_ids.get(rr)
        if nid is None:
            nid = len(name_ids)
            name_ids[rr] = nid
        rid[i] = nid
    names = list(name_ids)
    pk = rid[Il] * len(names) + rid[Jl]
    upk, pinv = np.unique(pk, return_inverse=True)
    jw_u = np.empty(upk.size)
    for t, key in enumerate(upk):
        a, b = divmod(int(key), len(names))
        jw_u[t] = jaro_winkler(names[a], names[b])
    jw = np.zeros(P)
    jw[live] = jw_u[pinv]

    spk = sig_of[Il] * len(sig_dicts) + sig_of[Jl]
    usk, sinv = np.unique(spk, return_inverse=True)
    ct_u = np.empty(usk.size)
    for t, key in enumerate(usk):
        a, b = divmod(int(key), len(sig_dicts))
        t1, t2 = sig_dicts[a], sig_dicts[b]
        _, v = cslr_v2(t1, t2, min_odds=0.0, max_counted_freq=4)
        if expander is not None:
            _, ve = cslr_v2(
                t1, t2, outcome_expander=expander, min_odds=0.0, max_counted_freq=4
            )
            v = max(v, ve)
        ct_u[t] = v
    cslr_tool = np.zeros(P)
    cslr_tool[live] = ct_u[sinv]

    boost = np.minimum(boost, p.coauthor_boost_cap)
    venue_boost = np.minimum(
        np.maximum(cslr_tool, p.venue_boost_floor), p.venue_boost_cap
    )
    base = p.w_content * content + p.w_taxonomy * taxonomy + p.w_jw * jw
    prior = min(p.threshold, p.empty_vec_prior_cap)
    if p.use_simi_lower_bound:
        base = np.where(~emptyp & (base > 0.0) & (base < prior), prior, base)
    base = np.where(emptyp, prior, base)
    score = np.where(gate, base * venue_boost * boost * ydisc, 0.0)

    return pd.DataFrame(
        {
            "stage1_mergeable": mergeable,
            "stage1_reason": reason,
            "cslr_coauthor": cslr_co,
            "cslr_tool": cslr_tool,
            "jw": jw,
            "content_cos": content,
            "taxonomy_cos": taxonomy,
            "year_discount": ydisc,
            "coauthor_boost": boost,
            "ic_sum": ic_sum,
            "gate_passed": gate,
            "score": score,
        }
    )[SCORE_NAMES]


# Grid geometry of score_pairs_grouped (module constants, not options:
# tests shrink them to force salting): a block of P candidate pairs splits
# into ceil(sqrt(2·P / TARGET_PAIRS_PER_GROUP)) buckets, at most MAX_BUCKETS.
TARGET_PAIRS_PER_GROUP = 10_000
MAX_BUCKETS = 32
# score_blocks_exhaustive (and the pipeline, on the big-block route) keeps
# only rows that are stage-1 mergeable or score ≥ EMIT_FLOOR_FRAC ×
# threshold: CC uses the full threshold, so edges are unchanged; the
# margin rides along for diagnostics.
EMIT_FLOOR_FRAC = 0.8

SCORE_NAMES = [f.name for f in SCORE_SCHEMA.fields]


def _broadcast_side(spark: SparkSession, side: SideTables, params: ScoringParams):
    """Broadcast what ``_score_group_vectorized`` reads in the Python
    worker. idf, cat_ic and the name-part tables are not in it:
    ``prepare_scoring`` already folded them into the prepared rows."""
    return spark.sparkContext.broadcast(
        {
            "ambig": side.ambig,
            "cn_counts": side.cn_counts,
            "ambig_sum_total": side.ambig_sum_total,
            "tool_simi_map": side.tool_simi_map,
            "n_docs": side.n_docs,
            "max_df": side.max_df,
            "params": params,
        }
    )


def score_pairs_grouped(
    spark: SparkSession,
    pairs: DataFrame,
    prep: DataFrame,
    side: SideTables,
    params: ScoringParams | None = None,
) -> DataFrame:
    """Cogrouped scorer: pairs and prepared features are cogrouped on a
    salted bucket grid and scored with ``applyInPandas``.

    Pairs carry only their keys. A conversation takes part in ~tens of
    candidate pairs, so joining its prepared struct onto every pair would
    Arrow-ship (and decode to Python) its vectors once PER PAIR — measured
    ~3x the actual scoring compute.

    Grid salting (the 'wei wang' skew duty, SURVEY.md §4): per block,
    conversations hash into ``nb = ceil(sqrt(2·pairs/TARGET_PAIRS_PER_GROUP))``
    buckets; a pair lands in grid cell (min(b1,b2), max(b1,b2)) and a
    conversation's features ship to the nb cells its bucket touches
    (``_replicate_to_grid``). A hot block's O(n²) pair workload spreads over
    nb(nb+1)/2 ≈ pairs/target tasks while its features replicate only
    nb ≈ sqrt(pairs/target) times — versus pairs/target times under naive
    per-cell replication — and each cell decodes only its two buckets'
    features, not the whole block. Cold blocks (nb=1) ship exactly one
    copy. Every input pair comes back once, with all SCORE_SCHEMA
    channels."""
    params = params or ScoringParams()
    bc = _broadcast_side(spark, side, params)

    # `pairs` feeds two consumers (the per-block bucket counts and the
    # salted scoring shuffle); without a persist the whole blocking DAG —
    # explode, df-cap join, self-join, aggregate — runs twice per action.
    pairs = pairs.persist()
    counts = pairs.groupBy("block_key").agg(F.count(F.lit(1)).alias("n_pairs"))
    counts = counts.select(
        "block_key",
        F.least(
            F.lit(MAX_BUCKETS),
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.sqrt(2.0 * F.col("n_pairs") / F.lit(TARGET_PAIRS_PER_GROUP))
                ),
            ),
        )
        .cast("int")
        .alias("nb"),
    )
    b1 = F.pmod(F.xxhash64("conv_id1"), F.col("nb")).cast("int")
    b2 = F.pmod(F.xxhash64("conv_id2"), F.col("nb")).cast("int")
    p2 = (
        pairs.join(F.broadcast(counts), "block_key")
        .withColumn("bi", F.least(b1, b2))
        .withColumn("bj", F.greatest(b1, b2))
        .drop("nb")
    )
    pr2 = _replicate_to_grid(
        prep.join(F.broadcast(counts), "block_key"), F.col("nb"), "conv_id"
    ).drop("nb", "b")

    pair_cols = pairs.columns
    out_schema = T.StructType(pairs.schema.fields + SCORE_SCHEMA.fields)

    def fn(pairs_pdf: pd.DataFrame, prep_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pairs_pdf) == 0:
            return pd.DataFrame(columns=pair_cols + SCORE_NAMES)
        res = _score_group_vectorized(pairs_pdf, prep_pdf, bc.value)
        return pd.concat(
            [pairs_pdf[pair_cols].reset_index(drop=True), res], axis=1
        )

    grouped = p2.groupBy("block_key", "bi", "bj").cogroup(
        pr2.groupBy("block_key", "bi", "bj")
    )
    return grouped.applyInPandas(fn, schema=out_schema)


def score_blocks_exhaustive(
    spark: SparkSession,
    prep: DataFrame,
    side: SideTables,
    params: ScoringParams | None = None,
    small_block_size: int = 256,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """All-pairs scoring for small blocks WITHOUT materializing a pair table.

    The reference's stage-2 scores every cluster pair within a name
    (agglomerative, NLPUtil.pm:3810-3833); for blocks of ≤
    ``small_block_size`` conversations that is O(cap²) bounded work. Shipping
    an explicit pair row per candidate through a JVM join + Arrow round-trip
    costs more than the scoring itself, so the *prepared feature rows* go
    through ``blocking.block_pair_grid``, which salts them into a bucket
    grid (the same 'wei wang' skew geometry as ``score_pairs_grouped``) and
    hands each cell's canonical pairs to ``_score_group_vectorized``.

    Only rows that can matter downstream are emitted: stage-1 mergeable or
    score ≥ EMIT_FLOOR_FRAC × threshold. Output schema: (block_key,
    conv_id1, conv_id2) + SCORE_SCHEMA, with conv_id1 < conv_id2.
    """
    params = params or ScoringParams()
    bc = _broadcast_side(spark, side, params)
    if sizes is None:
        sizes = prep.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))
    out_schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in ("block_key", "conv_id1", "conv_id2")]
        + SCORE_SCHEMA.fields
    )
    emit_floor = EMIT_FLOOR_FRAC * params.threshold

    def kernel(rows: pd.DataFrame, i1, i2) -> pd.DataFrame:
        cids = rows["conv_id"].to_numpy()
        pairs_pdf = pd.DataFrame({"conv_id1": cids[i1], "conv_id2": cids[i2]})
        res = _score_group_vectorized(pairs_pdf, rows, bc.value, needed_only=True)
        keep = res["stage1_mergeable"].to_numpy() | (
            res["score"].to_numpy() >= emit_floor
        )
        return pd.concat([pairs_pdf, res], axis=1).loc[keep]

    return block_pair_grid(
        prep,
        sizes.where(F.col("n") <= small_block_size),
        "conv_id",
        kernel,
        out_schema,
    )


def edges_above_threshold(scored: DataFrame, params: ScoringParams | None = None) -> DataFrame:
    """Edge list for transitive closure: stage-1 mergeable OR stage-2 score
    above threshold (the gate filter is already inside the score)."""
    params = params or ScoringParams()
    return scored.where(
        F.col("stage1_mergeable") | (F.col("score") >= params.threshold)
    ).select("block_key", "conv_id1", "conv_id2")
