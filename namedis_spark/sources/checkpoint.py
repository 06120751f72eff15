"""Round-checkpoint store with per-partition lineage + metrics.

The north rule requires the clustering loop to be resumable from checkpoint
with per-partition lineage and metrics. This store keeps each round's edge
set as a parquet snapshot (parquet's ``_SUCCESS`` marker is the commit
point — a killed write leaves no marker and the round is re-run), plus a
``metrics`` table recording, per round and per partition, the row count and
lineage (which round produced it, from which path, wall time).

On a cluster this maps 1:1 onto an Iceberg table with ``round`` snapshots
(`df.writeTo(...).append()` + snapshot ids); the sandbox has no Iceberg
runtime jar, so the same commit semantics are provided with parquet
directories. The interface is storage-agnostic on purpose.

Reference analog: the pair-similarity memo cache emptied per name
(ConceptNet.pm:5788,5862-5879) becomes a *persisted* pair-score/edge
snapshot; `loadCache`/`saveCache` (NLPUtil.pm:4419-4470) become round
snapshots.

Besides the snapshots, the store root holds a ``manifest.json`` (what the
snapshots were computed from; the pipeline refuses to resume a store whose
manifest differs) and a round may carry a ``_CONVERGED`` marker (the CC
loop reached its fixpoint at that round, so resume has nothing to rerun).
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import Future, ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


# Snapshot compression: zstd halves round-snapshot bytes vs snappy on the
# string-heavy edge/feature tables (measured ~2.1x on CC round files) at a
# small CPU cost that is paid per-core at every cluster size — while the
# disk-write bytes it saves come out of the one resource all executors on a
# box SHARE. On the scaling harness the per-run shuffle+checkpoint traffic
# was 7.5-9.4 GB; shrinking the checkpoint half directly lifts the
# bandwidth ceiling that capped 4-executor efficiency.
SNAPSHOT_CODEC = "zstd"

MANIFEST = "manifest.json"
CONVERGED_MARKER = "_CONVERGED"
# the row schema Spark stores in every parquet footer it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # lineage/metrics bookkeeping and async snapshot writes run off the
        # critical path: write_round schedules them on this pool; flush()
        # joins them. Spark job submission is thread-safe; four workers keep
        # a burst of round writes from convoying behind one another.
        self._metrics_pool = ThreadPoolExecutor(max_workers=4)
        self._pending: list[Future] = []
        # name -> persisted round DataFrames, oldest first; all but the
        # latest are released at flush()
        self._cached: dict[str, list[DataFrame]] = {}

    def flush(self) -> None:
        """Block until all async snapshot/metrics writes have landed, then
        release superseded round caches (keeping each name's latest)."""
        for f in self._pending:
            f.result()
        self._pending.clear()
        for name, dfs in self._cached.items():
            for df in dfs[:-1]:
                df.unpersist()
            self._cached[name] = dfs[-1:]

    def _round_path(self, name: str, k: int) -> str:
        return os.path.join(self.root, name, f"round={k:05d}")

    def write_round(
        self,
        name: str,
        k: int,
        df: DataFrame,
        lineage: dict | None = None,
        stat_cols: list[str] | None = None,
        blocking: bool = True,
    ) -> DataFrame | tuple[DataFrame, tuple[int, int]]:
        """Write round k, record per-partition lineage + metrics, return the
        lineage-truncated DataFrame.

        With ``stat_cols`` a (row_count, xor-of-xxhash64) content checksum
        is returned alongside — the CC loop's convergence signal. It is
        collected with ``Observation`` *inside the materialization job*, so a
        checkpointed round costs exactly one Spark action. The per-partition
        lineage/metrics rows are always produced by an asynchronous job
        (flush() joins them): bookkeeping never blocks the next round.
        Output file count follows AQE's size-based coalescing, so small
        rounds produce few files without capping write parallelism for
        large ones.

        ``blocking=False`` takes the parquet write itself off the critical
        path: the round is persisted and materialized in one Spark action
        and the snapshot file write is submitted to the background pool
        (``flush()`` joins it). Commit semantics are unchanged — a round
        only *exists* for resume once its ``_SUCCESS`` marker lands, so a
        kill mid-write simply re-enters one round earlier. Downstream
        stages read the in-memory data instead of waiting for (then
        re-reading) parquet. When the same ``name`` is written again, the
        previous round's cache is released once its background jobs finish.
        """
        from pyspark.sql import Observation

        t0 = time.time()
        path = self._round_path(name, k)
        stats: tuple[int, int] | None = None
        snap_fut: Future | None = None
        stat_aggs = (
            [
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.expr(f"bit_xor(xxhash64({', '.join(stat_cols)}))"), F.lit(0)
                ).alias("h"),
            ]
            if stat_cols
            else None
        )
        if blocking:
            obs = None
            if stat_aggs:
                # piggyback the checksum on the write job itself
                obs = Observation(f"{name}-r{k}")
                df = df.observe(obs, *stat_aggs)
            df.write.mode("overwrite").option(
                "compression", SNAPSHOT_CODEC
            ).parquet(path)
            out = self.spark.read.parquet(path)
            if obs is not None:
                got = obs.get
                stats = (int(got["n"]), int(got["h"]))
        else:
            # EAGER localCheckpoint: (a) truncates the logical plan — the CC
            # loop feeds each round's output back through large/small-star,
            # which references its input ~a dozen times, so without
            # truncation the analyzed plan grows exponentially with rounds
            # and Catalyst hangs; (b) being eager, the checkpoint is
            # finalized before the async metrics/snapshot jobs below start —
            # a LAZY localCheckpoint races them ("Block ... does not
            # exist"), and plain persist() fixes the race but re-opens (a).
            # The convergence checksum rides the SAME materialization job as
            # an Observation (CollectMetrics fires during the checkpoint
            # scan), so a non-blocking checkpointed round costs exactly ONE
            # blocking Spark action — on latency-bound CC rounds the extra
            # stats job was ~half the round's critical path.
            obs = None
            if stat_aggs:
                obs = Observation(f"{name}-r{k}")
                df = df.observe(obs, *stat_aggs)
            out = df.localCheckpoint(eager=True)
            if obs is not None:
                got = obs.get
                stats = (int(got["n"]), int(got["h"]))
            snap_fut = self._metrics_pool.submit(
                lambda: out.write.mode("overwrite")
                .option("compression", SNAPSHOT_CODEC)
                .parquet(path)
            )
            self._pending.append(snap_fut)
            # superseded rounds stay cached until the store is flushed —
            # round edge-sets are small, and a checkpointed round's blocks
            # must outlive every dependent job (its lineage is truncated, so
            # evicted blocks are unrecoverable): only flush(), which first
            # joins all background jobs, releases all but the latest per
            # name.
            self._cached.setdefault(name, []).append(out)

        snap_dep = snap_fut if not blocking else None

        def _metrics_job() -> list:
            # Per-partition lineage/metrics come from the snapshot's OWN
            # parquet footers (one output file per write partition, row
            # count in the file metadata): a driver-side footer read
            # replaces what used to be a full scan of the cached round
            # per round — at 10^7-edge rounds that scan was duplicated
            # cluster work riding the metrics pool. The metrics table
            # itself is written driver-side too (pyarrow), so bookkeeping
            # costs zero Spark jobs.
            if snap_dep is not None:
                snap_dep.result()  # submitted before us on the FIFO pool
            import glob

            import pyarrow as pa
            import pyarrow.parquet as pq

            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            per_part = [
                (i, pq.ParquetFile(f).metadata.num_rows)
                for i, f in enumerate(files)
            ] or [(-1, 0)]
            wall = round(time.time() - t0, 3)
            lin = json.dumps(lineage or {})
            table = pa.table(
                {
                    "partition_id": pa.array(
                        [p for p, _ in per_part], pa.int32()
                    ),
                    "n_rows": pa.array([n for _, n in per_part], pa.int64()),
                    "name": pa.array([name] * len(per_part), pa.string()),
                    "round": pa.array([k] * len(per_part), pa.int32()),
                    "path": pa.array([path] * len(per_part), pa.string()),
                    "wall_sec": pa.array(
                        [wall] * len(per_part), pa.float64()
                    ),
                    "lineage": pa.array([lin] * len(per_part), pa.string()),
                }
            )
            # one subdirectory per (name, round): concurrent metrics jobs
            # never collide
            mdir = os.path.join(self.root, "metrics", f"{name}_r{k:05d}")
            os.makedirs(mdir, exist_ok=True)
            pq.write_table(table, os.path.join(mdir, "part-00000.parquet"))
            return per_part

        metrics_fut = self._metrics_pool.submit(_metrics_job)
        self._pending.append(metrics_fut)
        if stats is not None:
            return out, stats
        return out

    def round_row_count(self, name: str, k: int) -> int:
        """Row count of a committed round from its parquet footers —
        driver-side metadata reads, zero Spark jobs. Only valid for rounds
        whose ``_SUCCESS`` marker exists (i.e. anything ``latest_round``
        returns): non-blocking snapshots are joined by flush() before the
        marker lands."""
        import glob

        import pyarrow.parquet as pq

        path = self._round_path(name, k)
        files = glob.glob(os.path.join(path, "*.parquet"))
        if not files:
            # The footer read only works on a local filesystem root (the
            # sandbox mapping; an Iceberg/object-store deployment swaps this
            # store for snapshot metadata). A remote URI or empty round must
            # fail loudly here — silently returning 0 would propagate
            # n_convs=0 into idf/n_docs on resume.
            raise FileNotFoundError(
                f"round_row_count: no parquet files under {path!r} — "
                "non-local checkpoint root or incomplete round"
            )
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def complete_rounds(self, name: str) -> list[int]:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return []
        rounds = []
        for d in sorted(os.listdir(base)):
            if d.startswith("round=") and os.path.exists(os.path.join(base, d, "_SUCCESS")):
                rounds.append(int(d.split("=")[1]))
        return rounds

    def latest_round(self, name: str) -> int | None:
        rounds = self.complete_rounds(name)
        return rounds[-1] if rounds else None

    def read_round(self, name: str, k: int) -> DataFrame:
        """Round k as a lazy DataFrame. The schema comes from a snapshot
        footer (driver-side), so no schema-inference job runs before the
        DataFrame is used."""
        path = self._round_path(name, k)
        schema = self._footer_schema(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    @staticmethod
    def _footer_schema(path: str):
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return None
        raw = (pq.read_schema(files[0]).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return StructType.fromJson(json.loads(raw)) if raw else None

    def has_rounds(self, names) -> bool:
        """True if any of ``names`` has a round directory, committed or
        torn."""
        for n in names:
            base = os.path.join(self.root, n)
            if os.path.isdir(base) and any(d.startswith("round=") for d in os.listdir(base)):
                return True
        return False

    def clear(self, names) -> None:
        """Delete every round of ``names`` (metrics rows stay)."""
        import shutil

        for n in names:
            shutil.rmtree(os.path.join(self.root, n), ignore_errors=True)

    def mark_converged(self, name: str, k: int) -> None:
        """Record that committed round k is a fixpoint of ``name``'s loop."""
        open(os.path.join(self._round_path(name, k), CONVERGED_MARKER), "w").close()

    def is_converged(self, name: str, k: int) -> bool:
        return os.path.exists(os.path.join(self._round_path(name, k), CONVERGED_MARKER))

    def read_manifest(self) -> dict | None:
        path = os.path.join(self.root, MANIFEST)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def write_manifest(self, manifest: dict) -> None:
        """Write ``manifest.json`` atomically (temp file + rename)."""
        path = os.path.join(self.root, MANIFEST)
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)

    def metrics(self) -> DataFrame:
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(self.root, "metrics")
        )
