"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (its dedup is exact title/pubkey lookup,
Distinct.pm:207-258) — these are the standard corpus-dedup family, each
built Spark-first:

* exact dedup          — fingerprint groupBy (one shuffle, map-side combine)
* MinHash + LSH        — shingle → portable md5-derived minhash → band
                         buckets → bucket equi-join (pair count bounded by
                         bucket sizes, never O(n²))
* SimHash              — 64-bit weighted bit votes via xxhash64, Hamming
                         buckets
* n-gram Jaccard       — exact verification on candidate pairs
* embedding cosine     — near-dup pairs above a cosine threshold

Hashes are *portable*: md5-hex → bigint, so a SQL engine (the DuckDB
oracle) reproduces them bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from namedis_spark.functions.sqlexpr import fingerprint_expr, tokens_expr

from namedis_spark.state import tracked_persist

# MinHash parameters: h_i(x) = (a_i * x + b_i) mod P over the md5-derived
# 60-bit shingle key. P is a Mersenne-ish prime below 2^61 so products fit
# in int128 (DuckDB) / Python int; Spark-side we stay in bigint via pmod on
# the decomposed multiply. Simpler and portable: h_i = pmod(a_i * x + b_i, P)
# with x < 2^31 (first 7 hex chars plus sign-safety) keeps a_i * x < 2^62.
MINHASH_PRIME = 2305843009213693951  # 2^61 - 1
# 32 hashes in 4 bands of 8 rows: the banding S-curve threshold is
# s* = (1/b)^(1/r) = (1/4)^(1/8) ≈ 0.84 — candidates concentrate on truly
# similar pairs instead of the 4-row/band round-1 tuning whose s* ≈ 0.5
# admitted most of the corpus.
N_HASHES = 32
N_BANDS = 4  # 8 rows per band
# Buckets larger than this are dropped from candidate generation (skew
# guard): one degenerate bucket (e.g. many near-empty texts sharing a tiny
# shingle set) makes Σ bucket² quadratic. Mirrors max_evidence_df in
# operators/blocking.py. Pairs lost this way share a signature band with
# >cap other docs — they re-enter via any *non*-degenerate band, and truly
# degenerate content is better handled by exact dedup first.
MAX_BUCKET_SIZE = 64
# a_i < 2^31 and x < 2^28 keep a_i * x + b_i < 2^60 — no bigint overflow in
# either engine (DuckDB raises on overflow; Spark would silently wrap).
_A = [(i * 2654435761 + 1) % 2147483647 for i in range(1, N_HASHES + 1)]
_B = [(i * 40503 + 7) % 2147483647 for i in range(1, N_HASHES + 1)]


def shingle_keys(text_col: str, n: int = 3, dialect: str = "spark") -> str:
    """SQL expression: distinct character-n-gram shingles of the normalized
    text, each mapped to a 31-bit int via md5 (portable across engines)."""
    toks = tokens_expr(text_col, dialect)
    if dialect == "spark":
        norm = f"array_join({toks}, ' ')"
        grams = (
            f"transform(filter(sequence(1, greatest(length({norm}) - {n - 1}, 1)),"
            f" i -> i + {n - 1} <= length({norm})),"
            f" i -> substring({norm}, i, {n}))"
        )
        return (
            f"array_distinct(transform({grams},"
            f" g -> cast(conv(substring(md5(g), 1, 7), 16, 10) as bigint)))"
        )
    norm = f"array_to_string({toks}, ' ')"
    grams = (
        f"list_transform(range(1, greatest(len({norm}) - {n - 1}, 0) + 1),"
        f" i -> substring({norm}, i, {n}))"
    )
    return (
        f"list_distinct(list_transform({grams},"
        f" g -> CAST(concat('0x', substring(md5(g), 1, 7)) AS bigint)))"
    )


def _shingles_df(docs: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """(doc_id, shingles) over the normalized text.

    Tokenization/normalization stays a JVM expression; the per-gram
    md5→bigint mapping runs as an Arrow-batched Python function. The
    interpreted SQL chain (substring + md5 + conv per gram, ~len(text)
    grams per document) was the dominant cost of the whole minhash family
    — measured ~8s at sf0.1 vs <1s for the same loop over Arrow batches
    (guide §4.2: hand whole batches to native code instead of evaluating
    an expression tree per element). Output is bit-identical: same
    character grams, same md5 prefix, same first-occurrence dedup of the
    hashes (dict.fromkeys) as array_distinct. The Python node is also the
    materialization barrier the old groupBy(doc_id) stood in for —
    Catalyst cannot inline the normalization into downstream lambdas."""
    import hashlib

    import pandas as pd
    import pyspark.sql.types as T

    toks = tokens_expr(text_col, "spark")
    norm = docs.select("doc_id", F.expr(f"array_join({toks}, ' ')").alias("_norm"))
    id_field = norm.schema["doc_id"]
    out_schema = T.StructType(
        [id_field, T.StructField("shingles", T.ArrayType(T.LongType()))]
    )

    def gen(batches):
        md5 = hashlib.md5
        for pdf in batches:
            out = []
            for s in pdf["_norm"]:
                if s is None:
                    # the SQL chain yields [] for null text (greatest()
                    # skips nulls, the i+2<=length(null) filter drops all)
                    out.append([])
                    continue
                # hash, then dedup the ints (array_distinct over the hashes,
                # as in the SQL chain): two grams whose 28-bit md5 prefixes
                # collide count once. Deduping the grams first only skips
                # repeat md5 calls; it keeps each hash's first occurrence.
                grams = dict.fromkeys(
                    s[i : i + n] for i in range(len(s) - n + 1)
                )
                out.append(
                    list(
                        dict.fromkeys(
                            int(md5(g.encode("utf-8")).hexdigest()[:7], 16)
                            for g in grams
                        )
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "shingles": out})

    return norm.mapInPandas(gen, out_schema)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content fingerprint: groups with >1 doc, keeper =
    min doc_id. One map-side-combinable shuffle on the fingerprint."""
    fp = F.expr(fingerprint_expr(text_col, "spark"))
    return (
        docs.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, h0..h{N-1}) minhash signature via portable affine hashes
    over md5 shingle keys. The shingle array is materialized once per doc
    behind `_shingles_df`'s aggregation barrier; each signature column is
    then a pure per-row array_min projection — no explode, no second
    shuffle (the round-1 explode+groupBy formulation shuffled Σ|shingles|
    rows; this shuffles one short row per doc)."""
    sets = _shingles_df(docs, text_col).where(F.expr("size(shingles) > 0"))
    cols = [
        F.expr(
            f"array_min(transform(shingles,"
            f" x -> pmod({_A[i]}L * x + {_B[i]}L, {MINHASH_PRIME}L)))"
        ).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return sets.select("doc_id", *cols)


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH banding: signature split into bands; docs agreeing on a whole
    band hash into the same bucket; bucket equi-join yields candidates.

    Scale path: pair generation is Σ bucket², and buckets are capped at
    `max_bucket_size` docs (degenerate buckets are dropped entirely, never
    joined — the cap is enforced BEFORE the self-join, so a hot bucket
    costs one count row, not bucket² pairs). Single-doc buckets are also
    dropped (they cannot pair).

    The signature table is persisted: the plan references it five times
    (band explode → bucket-size filter → both join sides), and without a
    materialization barrier Catalyst re-inlines the md5/array_min chain
    into every reference (measured 105s → 13s at sf0.1). One short row
    per doc; in a long-lived session the block is evicted LRU or freed
    with the DataFrame."""
    sig = tracked_persist(minhash_signatures(docs, text_col))
    rows_per_band = N_HASHES // N_BANDS
    bands = []
    for bnd in range(N_BANDS):
        cols = [f"h{bnd * rows_per_band + j}" for j in range(rows_per_band)]
        bands.append(
            sig.select(
                "doc_id",
                F.lit(bnd).alias("band"),
                F.concat_ws("_", *[F.col(c) for c in cols]).alias("bucket"),
            )
        )
    exploded = bands[0]
    for bdf in bands[1:]:
        exploded = exploded.unionAll(bdf)
    kept = (
        exploded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= 2) & (F.col("n") <= max_bucket_size))
        .select("band", "bucket")
    )
    pairable = exploded.join(kept, ["band", "bucket"])
    a = pairable.select("band", "bucket", F.col("doc_id").alias("doc_id1"))
    b = pairable.select("band", "bucket", F.col("doc_id").alias("doc_id2"))
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_id1") < F.col("doc_id2"))
        .select("doc_id1", "doc_id2")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    candidates: DataFrame | None = None,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact shingle-set Jaccard: |∩|/|∪| per pair, filtered at threshold.

    Pair GENERATION and VERIFICATION are separate stages:
    * with `candidates` (the production path — feed `lsh_candidate_pairs`
      output), no shingle self-join happens at all;
    * without, pairs sharing ≥1 shingle are generated by a shingle
      equi-join with a document-frequency cap: shingles occurring in more
      than `max_shingle_df` docs are excluded from *generation* (a common
      3-gram is a hot key → O(n²) pairs). Pairs sharing ONLY ultra-common
      shingles are missed by design — at threshold ≥ 0.5 such pairs are
      overwhelmingly true negatives.
    Verification is exact either way: the full (uncapped) shingle arrays
    of both sides are joined per candidate pair and intersected —
    per-pair work is O(|s1|+|s2|), linear in the candidate count."""
    sets = _shingles_df(docs, text_col).withColumn("sz", F.size("shingles"))
    if candidates is None:
        ex = sets.select("doc_id", F.explode("shingles").alias("k"))
        rare = (
            ex.groupBy("k")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("k")
        )
        gen = ex.join(rare, "k")
        candidates = (
            gen.select("k", F.col("doc_id").alias("doc_id1"))
            .join(gen.select("k", F.col("doc_id").alias("doc_id2")), "k")
            .where(F.col("doc_id1") < F.col("doc_id2"))
            .select("doc_id1", "doc_id2")
            .distinct()
        )
    s1 = sets.select(
        F.col("doc_id").alias("doc_id1"),
        F.col("shingles").alias("s1"),
        F.col("sz").alias("sz1"),
    )
    s2 = sets.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("shingles").alias("s2"),
        F.col("sz").alias("sz2"),
    )
    return (
        candidates.join(s1, "doc_id1")
        .join(s2, "doc_id2")
        .withColumn("inter", F.expr("size(array_intersect(s1, s2))"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_id1", "doc_id2", "jaccard")
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash: per-token md5-derived bit pattern, weighted bit votes, sign
    → fingerprint. Near-dups share fingerprints (or low Hamming distance).
    Pure JVM expressions; portable hash (md5 first 8 hex = 32 bits)."""
    # Single extra shuffle past the (doc, tok) term count: the per-bit
    # vote sums are 32 conditional-sum aggregate columns of ONE
    # groupBy(doc_id) instead of a 32-way explode feeding two more
    # shuffles (guide §2.4 — the exploded rows carried (doc_id, bit,
    # vote) triples whose only purpose was to be re-grouped). Integer
    # sums are exact, so the fingerprint is unchanged.
    toks = tokens_expr(text_col, "spark")
    tf = (
        docs.select("doc_id", F.explode(F.expr(toks)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn(
            "h", F.expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)")
        )
    )
    vote_cols = [
        F.sum(
            F.expr(f"case when (h div {1 << j}L) % 2 = 1 then w else -w end")
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    per_doc = tf.groupBy("doc_id").agg(*vote_cols)
    fingerprint = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return per_doc.select("doc_id", fingerprint.alias("simhash"))


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_tables: int | None = None,
    n_planes: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold.

    Candidates come from multi-table hyperplane LSH (equi-join on
    (table, bucket) — no cross join, no corpus broadcast); exact cosine is
    verified only on candidates. With the default 6 planes × 12 tables the
    per-pair miss probability at cosine = 0.95 is ≈ 1.3e-4 (and falls
    rapidly above the threshold); see operators/similarity.py."""
    from namedis_spark.operators.similarity import (
        ANN_N_TABLES,
        exact_cosine,
        lsh_candidates,
    )

    cand = lsh_candidates(
        embeddings,
        n_tables=n_tables or ANN_N_TABLES,
        # None -> adaptive plane count (bounded log2 of the corpus size,
        # keeping expected bucket sizes flat as the corpus grows)
        n_planes=n_planes,
    )
    return exact_cosine(cand, embeddings).where(F.col("cosine") >= threshold)
