"""Feature-extraction tests: per-turn text equality invariant, determinism
across parallelism, blocking-key collapse, and a pandas oracle for the
per-conversation signature vectors (FIXTURES.md §5)."""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pytest

from namedis_spark.datagen import generate_local, generate_transcripts
from namedis_spark.functions.text import lemma, normalize_name_key, tokenize_content


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    t, l = generate_transcripts(spark, n_blocks=3, seed=42, hot_blocks=0)
    path = str(tmp_path_factory.mktemp("warehouse") / "transcripts")
    t.write.mode("overwrite").parquet(path)
    t2 = spark.read.parquet(path)
    return t2, l, path


@pytest.fixture(scope="module")
def feats(spark, data):
    from namedis_spark.operators.features import conversation_features

    t, _, _ = data
    f = conversation_features(t).cache()
    f.count()
    return f


def test_per_turn_text_equality_roundtrip(spark, data):
    """Invariant 1: every (conv_id, turn_idx) text survives write/read
    byte-for-byte under stable turn ordering."""
    t, _, path = data
    src = generate_local(n_blocks=3, seed=42, hot_blocks=0)[0]
    got = (
        t.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    exp = (
        src.sort_values(["conv_id", "turn_idx"])[["conv_id", "turn_idx", "text"]]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp)


def test_determinism_across_parallelism(spark):
    """Invariant 2: generation is independent of partitioning/parallelism —
    distributed output equals the driver-side single-threaded output."""
    t, _ = generate_transcripts(spark, n_blocks=2, seed=7, hot_blocks=0)
    got = t.orderBy("conv_id", "turn_idx").toPandas()
    exp = (
        generate_local(n_blocks=2, seed=7, hot_blocks=0)[0]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got["ts"] = pd.to_datetime(got["ts"])
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp)


def test_blocking_key_collapses_variants(feats, data):
    """All focus-name surface variants (reversed order, case, punctuation)
    in one block map to one blocking key, equal to the labels' block_key."""
    _, labels, _ = data
    f = feats.select("conv_id", "block_key").toPandas()
    l = labels.toPandas()
    merged = f.merge(l, on="conv_id")
    assert (merged["block_key_x"] == merged["block_key_y"]).all()
    # each block has exactly one key
    assert merged.groupby(merged["conv_id"].str[:6])["block_key_x"].nunique().eq(1).all()


def test_feature_vectors_match_pandas_oracle(feats):
    """coauthors / venue / term_freq / years equal a pure-pandas oracle."""
    src, _ = generate_local(n_blocks=3, seed=42, hot_blocks=0)
    got = feats.toPandas().set_index("conv_id")
    sample_ids = sorted(src["conv_id"].unique())[::17]
    for cid in sample_ids:
        conv = src[src["conv_id"] == cid].sort_values("turn_idx")
        focus = normalize_name_key(conv.iloc[0]["role"])
        roles = {normalize_name_key(r) for r in conv["role"]}
        coauthors = sorted(roles - {focus})
        tools = conv["tool"].dropna()
        if len(tools):
            cnt = Counter(tools)
            venue = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        else:
            venue = "UNKNOWN"
        full_text = " ".join(conv["text"])
        tf = Counter(lemma(t) for t in tokenize_content(full_text))
        row = got.loc[cid]
        assert row["focus_name"] == focus, cid
        assert list(row["coauthors"]) == coauthors, cid
        assert row["venue"] == venue, cid
        assert dict(row["term_freq"]) == dict(tf), cid
        assert row["year_from"] == conv["ts"].min().year
        assert row["year_to"] == conv["ts"].max().year
        assert row["n_turns"] == len(conv)


def test_key_ambiguity_pdf_bounded(spark, data):
    """The bounded driver-side path must match the distributed loop under
    the bound and decline gracefully (None -> distributed fallback) above
    it — the documented 10^12-scale driver-memory guard (pipeline side
    stage)."""
    from namedis_spark.operators import corpus
    from namedis_spark.operators.features import conversation_features

    t, _, _ = data
    f = conversation_features(t)
    want = {
        r["name"]: (r["occurrence"], r["ambig"])
        for r in corpus.key_ambiguity(f, rounds=3).collect()
    }
    got_pdf = corpus.key_ambiguity_pdf_bounded(f, rounds=3, max_rows=10_000_000)
    assert got_pdf is not None
    got = {
        r.name: (r.occurrence, r.ambig) for r in got_pdf.itertuples(index=False)
    }
    assert set(want) == set(got)
    for k, (occ, amb) in want.items():
        assert got[k][0] == occ, k
        assert abs(got[k][1] - amb) <= 2e-6, (k, got[k][1], amb)
    # over-bound universes must refuse the pull, not truncate it
    assert corpus.key_ambiguity_pdf_bounded(f, rounds=3, max_rows=1) is None


def test_chinese_name_chars_classifier():
    # isChineseName semantics (NLPUtil.pm:1680-1710): 2-part pinyin names
    # count 2-3 chars; two-char surnames count one; others 0
    from namedis_spark.functions.text import chinese_name_chars

    assert chinese_name_chars("wei wang") == 2
    assert chinese_name_chars("wang xiaoming") == 3
    assert chinese_name_chars("mei-ling chen") == 3
    assert chinese_name_chars("ouyang feng") == 2
    assert chinese_name_chars("john smith") == 0
    assert chinese_name_chars("wei") == 0
    assert chinese_name_chars("") == 0
    # char count must stay within 2..3: two 2-syllable parts = 4 → 0
    assert chinese_name_chars("xiaoming meiling") == 0


def test_prune_evidence_tables_df_matches_numpy(spark, data):
    """The distributed significance pruner must produce the same dicts and
    total as the numpy pruner (same keep-predicates and safety margin)."""
    import pyspark.sql.functions as F

    from namedis_spark.operators import corpus
    from namedis_spark.operators.features import conversation_features

    t, _, _ = data
    f = conversation_features(t)
    amb_df = corpus.key_ambiguity(f, rounds=3)
    cn_df = corpus.coauthor_stats(f)
    sizes = f.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))

    got = corpus.prune_evidence_tables_df(
        amb_df, cn_df, sizes.select("block_key"), error_tolerance=0.05
    )
    amb_pdf = amb_df.toPandas()
    cn_pdf = cn_df.toPandas()
    focus = {r["block_key"] for r in sizes.select("block_key").collect()}
    want = corpus.prune_evidence_tables(amb_pdf, cn_pdf, focus, 0.05)

    assert set(got[0]) == set(want[0])
    for k, v in want[0].items():
        assert abs(got[0][k] - v) <= 2e-6, k
    assert set(got[1]) == set(want[1])
    for k, v in want[1].items():
        assert got[1][k] == v, k
    assert abs(got[2] - want[2]) <= 1e-4


def test_cantonese_name_classifier():
    # isCantoneseName (NLPUtil.pm:1712-1748): Cantonese-reading two-part
    # names flag 1 unless they also read as standard pinyin
    from namedis_spark.functions.text import is_cantonese_name

    assert is_cantonese_name("kwok chan") == 1
    assert is_cantonese_name("ka-ming wong") == 1
    assert is_cantonese_name("wei wang") == 0     # valid pinyin → excluded
    assert is_cantonese_name("john smith") == 0
    assert is_cantonese_name("wong") == 0


def test_syllabary_inventories_match_reference_counts():
    # pinyin: canonical 407-entry Hanyu Pinyin inventory (pinyin.txt);
    # cantonese: 325 HK-conventional romanizations (cantonpinyin.txt) —
    # NOT an initial×final product, so it is embedded explicitly
    from namedis_spark.functions.text import (
        TWOCHAR_SURNAMES,
        cantonese_syllables,
        pinyin_syllables,
    )

    pin = set(pinyin_syllables())
    assert len(pin) == 407
    # the ü-romanizations appear in real surnames (Lü/Lv, Nü)
    assert {"lv", "nv", "lue", "nue", "lo", "yo"} <= pin
    assert not ({"cei", "chei", "den", "dia", "rua", "sei"} & pin)

    can = set(cantonese_syllables())
    assert len(can) == 325
    # common HK romanizations that a product generator misses
    assert {"lee", "chow", "woo", "yee", "yuen", "young", "sum", "law",
            "suen"} <= can

    # reference two-char surname list, NLPUtil.pm:289
    assert TWOCHAR_SURNAMES == (
        "ouyang", "shangguan", "duanmu", "sima", "situ", "zhuge", "huangpu",
        "linghu", "murong",
    )


def test_twochar_surname_classifications():
    # 'duanmu X' counts 2 chars (surname=1 + given=1); 'dongfang xiaoming'
    # is NOT in the reference list → dongfang reads as dong+fang (2 syl)
    # so 2+2=4 chars > 3 → 0
    from namedis_spark.functions.text import chinese_name_chars

    assert chinese_name_chars("duanmu hong") == 2
    assert chinese_name_chars("dongfang xiaoming") == 0


def test_lemma_irregulars_and_destem_goldens():
    from namedis_spark.functions.text import lemma, lemma_with_suffix

    # irregular table
    assert lemma("matrices") == "matrix"
    assert lemma("analyses") == "analysis"
    assert lemma("children") == "child"
    assert lemma("written") == "write"
    # -es after sibilants (the plain s-strip would leave 'classe'/'boxe')
    assert lemma("classes") == "class"
    assert lemma("boxes") == "box"
    assert lemma("matches") == "match"
    # consonant undoubling, list-gated
    assert lemma("mapping") == "map"
    assert lemma("planned") == "plan"
    assert lemma("falling") == "fall"   # NOT in the doubling list
    # silent-e restore
    assert lemma("computing") == "compute"
    assert lemma("encoded") == "encode"
    assert lemma("learning") == "learn"  # no e-restore
    # suffix classes for the persisted cache
    assert lemma_with_suffix("mapping") == ("map", 1)
    assert lemma_with_suffix("planned") == ("plan", 2)
    assert lemma_with_suffix("classes") == ("class", 3)
    assert lemma_with_suffix("matrix") == ("matrix", 0)


def test_lemma_cache_roundtrip(tmp_path):
    from namedis_spark.functions.text import (
        lemma_with_suffix,
        load_lemma_cache,
        save_lemma_cache,
    )

    cache = {w: lemma_with_suffix(w) for w in ["mapping", "classes", "matrices"]}
    p = str(tmp_path / "lemma-cache.txt")
    save_lemma_cache(p, cache)
    assert load_lemma_cache(p) == cache
    assert load_lemma_cache(str(tmp_path / "missing.txt")) == {}


def test_lemma_sql_twins_match_python(spark):
    """The generated CASE chain must agree with functions.text.lemma in
    BOTH engines across regulars, irregulars, doubling and e-restore."""
    import duckdb

    from namedis_spark.functions.sqlexpr import lemma_case
    from namedis_spark.functions.text import IRREGULAR_LEMMAS, lemma

    words = sorted(
        set(IRREGULAR_LEMMAS)
        | {
            "classes", "boxes", "matches", "studies", "mapping", "planned",
            "falling", "computing", "encoded", "learning", "networks",
            "process", "press", "using", "queries", "caches", "dropped",
            "s", "es", "ing", "a", "model",
        }
    )
    expected = {w: lemma(w) for w in words}

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got_spark = {
        r["w"]: r["l"]
        for r in df.selectExpr("w", lemma_case("w") + " AS l").collect()
    }
    assert got_spark == expected

    con = duckdb.connect()
    vals = ", ".join(f"('{w}')" for w in words)
    got_duck = dict(
        con.sql(f"SELECT w, {lemma_case('w')} AS l FROM (VALUES {vals}) t(w)").fetchall()
    )
    assert got_duck == expected


def test_irregulars_memo_never_crosses_sessions(spark):
    """The irregular-lemma memo lives on its session: another session (or
    a stopped one a new session replaced, which is a different object)
    never gets a DataFrame bound to it, even when an entry planted on the
    session says otherwise — the id(spark)-keyed memo could hand a reused
    id a dead session's DataFrame."""
    from namedis_spark.operators.features import _irregulars_df
    from namedis_spark.state import state

    other = spark.newSession()
    mine = _irregulars_df(spark)
    assert mine.sparkSession is spark
    assert _irregulars_df(spark) is mine  # memoized per session

    theirs = _irregulars_df(other)
    assert theirs is not mine and theirs.sparkSession is other

    # an entry bound to another session is rebuilt, never returned
    state(other).irregulars = mine
    rebuilt = _irregulars_df(other)
    assert rebuilt is not mine and rebuilt.sparkSession is other
    assert rebuilt.count() == mine.count()
