"""Per-conversation feature extraction (SURVEY.md §7 M1).

transcripts (conv_id, turn_idx, role, text, tool, ts) → one feature row per
conversation:

  conv_id, block_key, focus_name, coauthors:array<string>,
  venue:string, term_freq:map<string,int>, year_from:int, year_to:int,
  n_turns:int

Mapping to the reference (SURVEY.md §1.4): the role of ``turn_idx == 0`` is
the focus speaker (≙ ambiguous author name; its normalized form is the
blocking key); other distinct normalized roles are the coauthor set
(`NLPUtil.pm:4182`); the dominant tool is the venue (UNKNOWN slot per
`NLPUtil.pm:3196-3204`); the concatenated turn texts under stable turn_idx
ordering are the title; min/max ts years drive the year-range discount
(`ConceptNet.pm:5442-5473`).

Everything here is JVM-side (whole-stage-codegen'able builtin functions) —
no Python in this path. The text rules are the SQL twins of
functions/text.py via functions/sqlexpr.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from namedis_spark.functions.sqlexpr import (
    lemma_rules_case,
    norm_name_expr,
)
from namedis_spark.state import state

import pyspark.sql.types as T

# Output schema of conversation_features — pinned for streaming readers
# (schema inference is unavailable on readStream sources).
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("block_key", T.StringType()),
        T.StructField("focus_name", T.StringType()),
        T.StructField("focus_raw", T.StringType()),
        T.StructField("coauthors", T.ArrayType(T.StringType())),
        T.StructField("venue", T.StringType()),
        T.StructField("tool_freq", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("term_freq", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("year_from", T.IntegerType()),
        T.StructField("year_to", T.IntegerType()),
        T.StructField("n_turns", T.LongType()),
    ]
)


def conversation_features(transcripts: DataFrame) -> DataFrame:
    t = transcripts

    norm_role = F.expr(norm_name_expr("role", "spark"))

    # One shuffle on conv_id produces focus role, participant set, ordered
    # text, ts range and turn count together. min_by gives the turn_idx==0
    # role (stable turn ordering).
    per_conv = (
        t.withColumn("norm_role", norm_role)
        .groupBy("conv_id")
        .agg(
            F.min_by("norm_role", "turn_idx").alias("focus_name"),
            F.min_by("role", "turn_idx").alias("focus_raw"),
            F.collect_set("norm_role").alias("all_roles"),
            F.collect_list("tool").alias("tools_arr"),
            F.year(F.min("ts")).alias("year_from"),
            F.year(F.max("ts")).alias("year_to"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )

    # venue = dominant tool (mode, ties broken lexicographically ascending;
    # no tools → 'UNKNOWN'), derived from the already-collected tools_arr —
    # min over struct(-count, tool) — instead of a separate scan + groupBy +
    # join of the full turn table: one fewer input pass and one fewer
    # 10^12-row shuffle.
    dominant = F.expr(
        """array_min(transform(array_distinct(tools_arr),
               t -> struct(-size(filter(tools_arr, x -> x = t)) as neg,
                           t as tool))).tool"""
    )

    feats = (
        per_conv.withColumn("venue", F.coalesce(dominant, F.lit("UNKNOWN")))
        .withColumn("block_key", F.col("focus_name"))
        .withColumn(
            "coauthors",
            F.array_sort(F.array_remove(F.col("all_roles"), F.col("focus_name"))),
        )
        .drop("all_roles")
    )

    # term_freq: content tokens (stopword-filtered, lemmatized) → frequency
    # map, via explode → hash-aggregate → map_from_entries. Token multiset
    # of the per-turn texts equals that of the turn-ordered concatenation
    # (the tokenizer splits on non-alphanumerics), so no full-text concat is
    # needed. The hash aggregate is whole-stage-codegen'd and map-side
    # combinable — unlike a per-row counting lambda, which is
    # O(distinct × tokens) per conversation and memory-bandwidth-bound.
    tf = (
        exploded_terms(t)
        .groupBy("conv_id")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct("term", F.col("freq").cast("int")))
                )
            ).alias("term_freq")
        )
    )
    feats = feats.join(tf, "conv_id", "left").withColumn(
        "term_freq",
        F.coalesce(F.col("term_freq"), F.expr("map()").cast("map<string,int>")),
    )

    # tool_freq: per-conversation tool usage counts (the reference's
    # per-cluster venue vector, NLPUtil.pm:3196-3204, at conv granularity)
    feats = feats.withColumn(
        "tool_freq",
        F.expr(
            """map_from_arrays(
                   array_sort(array_distinct(tools_arr)),
                   transform(array_sort(array_distinct(tools_arr)),
                             t -> cast(size(filter(tools_arr, x -> x = t)) as int))
               )"""
        ),
    ).drop("tools_arr")

    return feats.select(
        "conv_id", "block_key", "focus_name", "focus_raw", "coauthors",
        "venue", "tool_freq", "term_freq", "year_from", "year_to", "n_turns",
    )


def _irregulars_df(spark) -> DataFrame:
    """The irregular-lemma lookup table, memoized in the session's state:
    the table is a constant, and re-running createDataFrame per query call
    re-paid the driver-side conversion on every term-exploding query. An
    entry is only returned to the session it was built on."""
    from namedis_spark.functions.text import IRREGULAR_LEMMAS

    st = state(spark)
    if st.irregulars is None or st.irregulars.sparkSession is not spark:
        st.irregulars = spark.createDataFrame(
            sorted(IRREGULAR_LEMMAS.items()), "_tok string, _irr_lemma string"
        )
    return st.irregulars


def exploded_content_terms(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ("conv_id",)
) -> DataFrame:
    """(keep..., term) long table: tokenize → drop stopwords → explode →
    lemmatize. The lemma's irregular table is applied as a BROADCAST JOIN on
    the exploded tokens (hash lookup, constant codegen size) instead of a
    generated WHEN chain inside an array lambda — measured 2.5× faster at
    sf0.1 and, unlike the inline chain, survives a many-hundred-entry
    irregular table (the chain's codegen grows linearly per token). The
    rule-only suffix CASE (fixed size) stays inline. DuckDB oracles keep the
    equivalent full CASE chain (sqlexpr.lemma_case) — both are generated
    from the same tables in functions.text, so the engines cannot drift."""
    spark = df.sparkSession
    from namedis_spark.functions.sqlexpr import tokens_expr
    from namedis_spark.functions.text import IRREGULAR_LEMMAS, STOPWORDS

    irr = _irregulars_df(spark)
    # stopwords dropped AFTER the explode with a scalar NOT IN: that
    # compiles to a hashed InSet lookup per token, where the in-array
    # filter lambda re-scanned the ~100-literal stopword array per token
    # (same rows out — filter-then-explode == explode-then-filter)
    ex = df.select(
        *keep, F.explode(F.expr(tokens_expr(text_col, "spark"))).alias("_tok")
    ).where(~F.col("_tok").isin(*sorted(STOPWORDS)))
    return ex.join(F.broadcast(irr), "_tok", "left").select(
        *keep,
        F.coalesce("_irr_lemma", F.expr(lemma_rules_case("_tok"))).alias("term"),
    )


def exploded_terms(transcripts: DataFrame) -> DataFrame:
    """(conv_id, term, freq) long table — the explode-normalized twin of the
    term_freq map, used by corpus-level weighting jobs (TF-IAF) where a long
    table shuffles better than per-row maps."""
    return (
        exploded_content_terms(transcripts)
        .groupBy("conv_id", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
