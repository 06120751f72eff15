"""Per-session state: every memo the package keeps, held on the
SparkSession it belongs to, so it dies with that session and a new session
starts empty (module globals keyed on ``id(spark)`` outlived theirs and
could hand a reused id a dead session's objects). ``release()``, called by
``session.close_session``, frees it all. Memos built from input data
follow ``file_identity``, so a file rewritten in place misses.

Held: ``warmed`` (engine warm-up ran); ``views``, the sf_dir the registry's
temp views read, and ``files``, each registered sf_dir's file identity;
``features``, the registry's feature tables, an LRU per sf_dir, and
``feature_rows``, their row counts; ``probes``
(``similarity._corpus_probe``); ``tracked`` (``tracked_persist``'s FIFO);
``irregulars``, the irregular-lemma table.
"""

from __future__ import annotations

import logging
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

FEATURE_CACHE_MAX = 4  # a session iterating many sf_dirs keeps only these
TRACKED_MAX = 16


def file_identity(spark: SparkSession, paths) -> tuple:
    """Sorted (path, size, mtime) of the files at ``paths``, through the
    Hadoop filesystem client (no Spark job). A file stands for itself under
    the path given, a directory for what ``listStatus`` returns, so a part
    file rewritten inside it is seen."""
    sc = spark.sparkContext
    conf = sc._jsc.hadoopConfiguration()
    Path = sc._jvm.org.apache.hadoop.fs.Path  # one class lookup, not per path
    out = []
    for p in paths:
        path = Path(p)
        fs = path.getFileSystem(conf)
        st = fs.getFileStatus(path)
        if st.isFile():
            out.append((p, st.getLen(), st.getModificationTime()))
        else:
            out.extend(
                (c.getPath().toString(), c.getLen(), c.getModificationTime())
                for c in fs.listStatus(path)
            )
    return tuple(sorted(out))


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session may already be stopped


@dataclass
class SessionState:
    warmed: bool = False
    views: str | None = None
    files: dict = field(default_factory=dict)
    features: OrderedDict = field(default_factory=OrderedDict)
    feature_rows: dict = field(default_factory=dict)
    probes: dict = field(default_factory=dict)
    tracked: list = field(default_factory=list)
    irregulars: DataFrame | None = None

    def feature_table(self, key: str, build) -> DataFrame:
        """The table under ``key``, built and persisted on a miss; past
        ``FEATURE_CACHE_MAX`` the least recently used is unpersisted."""
        if key in self.features:
            self.features.move_to_end(key)
        else:
            while len(self.features) >= FEATURE_CACHE_MAX:
                self.drop_feature_table(next(iter(self.features)))
            self.features[key] = build().persist()
        return self.features[key]

    def feature_count(self, key: str) -> int:
        """Row count of the table under ``key``, counted once per build."""
        if key not in self.feature_rows:
            self.feature_rows[key] = self.features[key].count()
        return self.feature_rows[key]

    def drop_feature_table(self, key: str) -> None:
        if key in self.features:
            _unpersist(self.features.pop(key))
        self.feature_rows.pop(key, None)

    def release(self) -> None:
        """Unpersist and forget every memo; ``warmed`` stays."""
        for df in [*self.features.values(), *self.tracked]:
            _unpersist(df)
        self.features.clear()
        self.feature_rows.clear()
        self.tracked.clear()
        self.probes.clear()
        self.files.clear()
        self.views = self.irregulars = None


def state(spark: SparkSession) -> SessionState:
    """The session's state, created on first use (``setdefault`` is atomic:
    driver threads racing on a new session share one)."""
    st = spark.__dict__.get("_namedis_state")
    if st is None:
        st = spark.__dict__.setdefault("_namedis_state", SessionState())
    return st


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() a mid-plan table the caller's lazy plan reads several times
    and track it for ``release()``. Past ``TRACKED_MAX`` the oldest entry is
    unpersisted and logged: if its consumers have not run yet, its stage
    recomputes (an LSH signature table: 105 s recomputed vs 13 s cached)."""
    tracked = state(df.sparkSession).tracked
    while len(tracked) >= TRACKED_MAX:
        log.warning(
            "tracked_persist cap (%d) hit: evicting the oldest cached "
            "intermediate; if its consumers have not run yet that stage "
            "will recompute",
            TRACKED_MAX,
        )
        _unpersist(tracked.pop(0))
    tracked.append(df.persist())
    return df
