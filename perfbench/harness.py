"""Session, environment record and memory sampling for the benchmark.

Everything a run writes lives under its own work directory inside the
checkout (Spark local dirs, JVM and Python temp files, the shipped package
zip, event logs, checkpoints). The driver process changes into that
directory before Spark starts, so Python workers cannot import
``namedis_spark`` from the current directory: they must get it from the
zip shipped with ``addPyFile``, as ``spark-submit --py-files`` would.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def steal_ticks() -> int:
    """Aggregate CPU steal ticks from /proc/stat (8th value of the cpu line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def tree_digest(pkg_dir: str) -> str:
    """sha256 over the package sources: identifies the tree under test when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def environment(root: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_bytes() / 2**30, 1),
        "pyspark": pyspark.__version__,
        "commit": git_commit(root),
        "tree_sha256": tree_digest(os.path.join(root, "namedis_spark")),
    }


def driver_memory_gb() -> int:
    """Driver heap well below physical RAM: a quarter of it, 1-4 GB. In
    local mode the driver JVM also runs every executor thread."""
    return max(1, min(4, ram_bytes() // 2**30 // 4))


def start_session(work: str, trace: bool):
    """Start a local[nproc] session sized for this host, ship the package
    zip to the workers and check that they import from it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata file under /tmp, from spark-submit's launcher JVM or the
    # driver JVM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    tempfile.tempdir = tmp  # the gateway's connection-info dir
    os.chdir(work)

    from namedis_spark.session import get_spark, package_zip

    cores = nproc()
    conf = {
        "spark.driver.memory": f"{driver_memory_gb()}g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    zip_path = package_zip(os.path.join(work, "namedis_spark.zip"))
    spark.sparkContext.addPyFile(zip_path)
    check_worker_import(spark, os.path.basename(zip_path))
    return spark


def check_worker_import(spark, zip_name: str) -> None:
    """Raise unless a Python worker imports namedis_spark from the zip."""

    def where(batches):
        import namedis_spark
        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"path": [namedis_spark.__file__]})

    paths = {
        r["path"]
        for r in spark.range(0, 1, 1, 1).mapInPandas(where, "path string").collect()
    }
    wrong = [p for p in paths if f"{zip_name}{os.sep}namedis_spark" not in p]
    if wrong:
        raise RuntimeError(f"workers import namedis_spark from {wrong}, not {zip_name}")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class RssSampler:
    """Samples resident memory of the driver JVM and its descendant
    processes (the Python workers) every ``period`` seconds. Memory is the
    proportional set size, so pages the forked workers share are counted
    once.

    ``window()`` starts a new peak window; ``peak()`` returns the peaks
    (JVM+workers, workers only) in bytes sampled since the last
    ``window()``. Neither samples itself, so both are cheap inside spans.
    """

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self._lock = threading.Lock()
        self._peak = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def window(self) -> None:
        with self._lock:
            self._peak = (0, 0)

    def peak(self) -> tuple[int, int]:
        with self._lock:
            return self._peak

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        jvm = _pss(self.jvm_pid)
        workers = 0
        stack = list(children.get(self.jvm_pid, ()))
        while stack:
            pid = stack.pop()
            workers += _pss(pid)
            stack.extend(children.get(pid, ()))
        with self._lock:
            self._peak = (
                max(self._peak[0], jvm + workers),
                max(self._peak[1], workers),
            )


def _pss(pid: int) -> int:
    """Proportional set size of one process in bytes (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0
