"""Seeded benchmark inputs, written to parquet before anything is timed.

The program under test only ever sees these parquet files:

* the transcript workload (``skewed``) comes from the package's
  own generator (``datagen.generate_local``, the driver-side twin of
  ``generate_transcripts`` with the same per-block output, so generation
  runs no Spark job) and is cut at a fixed conversation budget, so every
  seed links about the same work;
* the ``registry`` workload reads the three tables the query registry
  scans (``events``, ``documents``, ``embeddings``), generated here with
  the shapes of the driver-contract test data: uniform users and event
  types, exponential values, a 30-word document vocabulary with 5%
  near-duplicates, and unit-norm 64-d embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The skewed workload's shape: one hot block of 100-140 entities, cut to its
# first 700 conversations (over small_block_size=256, so it takes the
# big-block evidence-pair route, ~25k candidate pairs), then whole ordinary
# blocks of 2-30 entities (small-block route), each taken in id order if its
# pairs still fit within ``small_pairs``. The pair budget keeps the
# big-block route doing most of the scoring on every seed (a conversation
# budget does not: a few 130-conv blocks hold more pairs than the hot
# block's candidates), and the input stays at 900-1050 conversations.
SKEWED_SHAPE = dict(n_blocks=12, hot_blocks=1, hot_convs=700, small_pairs=12000)

# Registry tables: rows per table (the test-data shape at sf0.005).
REGISTRY_ROWS = dict(events=5000, users=75, documents=250, embeddings=400)

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def write_transcripts(seed: int, out_dir: str) -> dict:
    """Generate the skewed workload's transcripts, keep the hot block's head
    and whole ordinary blocks up to the pair budget, and write
    ``transcripts`` (four files, blocks dealt round-robin) and ``labels``
    parquet. Returns the input's size facts."""
    from namedis_spark.datagen import generate_local

    shape = SKEWED_SHAPE
    t, labels = generate_local(
        n_blocks=shape["n_blocks"], seed=seed, hot_blocks=shape["hot_blocks"]
    )
    # conv ids are "b<block:05d>-<entity>-<conv>": the hot blocks come
    # first and keep their first hot_convs conversations; then each whole
    # block, in id order, whose pairs still fit the budget
    block = labels["conv_id"].str.slice(0, 6)
    hot = block < f"b{shape['hot_blocks']:05d}"
    hot_ids = labels[hot].groupby(block[hot]).head(shape["hot_convs"])["conv_id"]
    keep_ids, total, small_pairs = set(hot_ids), len(hot_ids), 0
    for _b, ids in labels[~hot].groupby(block[~hot])["conv_id"]:
        n = len(ids)
        if small_pairs + n * (n - 1) // 2 > shape["small_pairs"]:
            continue
        keep_ids.update(ids)
        total += n
        small_pairs += n * (n - 1) // 2
    t = t[t["conv_id"].isin(keep_ids)]
    labels = labels[labels["conv_id"].isin(keep_ids)]
    block = t["conv_id"].str.slice(0, 6)
    keep = sorted(set(block))
    t_path = os.path.join(out_dir, "transcripts")
    l_path = os.path.join(out_dir, "labels")
    os.makedirs(t_path)
    os.makedirs(l_path)
    t_schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    t = t.assign(ts=t["ts"].dt.tz_localize("UTC"))
    part = block.map({b: i % 4 for i, b in enumerate(keep)})
    for i in range(4):
        pq.write_table(
            pa.Table.from_pandas(t[part == i], schema=t_schema, preserve_index=False),
            os.path.join(t_path, f"part-{i:05d}.parquet"),
        )
    pq.write_table(
        pa.Table.from_pandas(labels, preserve_index=False),
        os.path.join(l_path, "part-00000.parquet"),
    )
    return {
        "transcripts": t_path,
        "labels": l_path,
        "blocks": len(keep),
        "convs": total,
        "turns": len(t),
        "bytes": dir_bytes(t_path),
    }


def write_registry_tables(seed: int, out_dir: str) -> dict:
    """Write events/documents/embeddings parquet files for the query
    registry (``<out_dir>/<table>.parquet``)."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    n_ev, n_users = REGISTRY_ROWS["events"], REGISTRY_ROWS["users"]
    start = pd.Timestamp("2024-01-01").value // 1000  # microseconds
    span = 30 * 86400 * 10**6
    ts = np.sort(rng.randint(0, span, size=n_ev)) + start
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pd.to_datetime(ts, unit="us").astype("datetime64[us]"),
            "user_id": rng.randint(0, n_users, size=n_ev).astype("int64"),
            "event_type": np.array(_EVENT_TYPES)[rng.randint(0, 5, size=n_ev)],
            "value": np.round(rng.exponential(50.0, size=n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, size=n_ev)],
        }
    )

    n_docs = REGISTRY_ROWS["documents"]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.rand() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.randint(0, i))] + " dup")
        else:
            n_words = int(rng.randint(10, 100))
            texts.append(
                " ".join(np.array(_DOC_VOCAB)[rng.randint(0, len(_DOC_VOCAB), n_words)])
            )
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )

    n_vec = REGISTRY_ROWS["embeddings"]
    vecs = rng.normal(size=(n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, size=n_vec).astype("int32")),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": pa.Table.from_pandas(events, preserve_index=False),
        "documents": pa.Table.from_pandas(documents, preserve_index=False),
        "embeddings": embeddings,
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "dir": out_dir,
        "rows": sum(t.num_rows for t in tables.values()),
        "bytes": dir_bytes(out_dir),
    }


def dir_bytes(path: str) -> int:
    """Total bytes of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def dir_files(path: str) -> int:
    """Number of data files under ``path`` (hidden/marker files excluded)."""
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for fn in files
        if not fn.startswith((".", "_"))
    )
