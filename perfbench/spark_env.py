"""Spark side of the benchmark: session lifetime, the stale-code guard and
the worker-memory sampler.

Every session gets its own JVM, private ``TMPDIR`` and local dirs under the
run's work directory, and the JVM's working directory is that work
directory, so Python workers import the package from the shipped zip, as
under ``spark-submit --py-files``, never from the checkout by accident.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import subprocess
import sys
import tempfile
import threading
import zipfile

PKG = "readability_php_spark"

#: a small driver heap: the benchmark targets a 4-vCPU, 15 GB machine
DRIVER_MEMORY = "2g"


class StaleCodeError(RuntimeError):
    """Python workers imported different package sources than the checkout's."""


def use_private_tmpdir(path: str) -> None:
    """Point ``TMPDIR`` at ``path`` for this process and every child it starts.

    ``tempfile`` caches its directory on first use, so the cache is reset:
    ``deploy.package_zip_path`` then builds its zip in ``path``."""
    os.makedirs(path, exist_ok=True)
    os.environ["TMPDIR"] = path
    tempfile.tempdir = None


def build_session(work_dir: str, cores: int, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    tmp = os.environ["TMPDIR"]
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores * 2))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small splits: each corpus file is its own scan task, so the
        # scheduler, not the layout, balances the page-size skew
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # plain JSON lines in one file, so eventlog.py reads it with json alone
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    cwd = os.getcwd()
    os.chdir(work_dir)  # the JVM, and so every Python worker, starts here
    try:
        return b.getOrCreate()
    finally:
        os.chdir(cwd)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop the context and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def source_digest(files: dict[str, bytes]) -> str:
    h = hashlib.sha256()
    for rel in sorted(files):
        h.update(rel.encode() + b"\x00" + files[rel] + b"\x00")
    return h.hexdigest()[:16]


def dir_sources(pkg_dir: str) -> dict[str, bytes]:
    files = {}
    for root, _dirs, names in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for n in names:
            if n.endswith(".py"):
                full = os.path.join(root, n)
                with open(full, "rb") as f:
                    files[os.path.relpath(full, pkg_dir).replace(os.sep, "/")] = f.read()
    return files


def imported_sources() -> tuple[dict[str, bytes], str]:
    """Sources of the package this process imports, and where they came from."""
    pkg = importlib.import_module(PKG)
    archive = getattr(pkg.__spec__.loader, "archive", None)
    if archive is None:
        return dir_sources(os.path.dirname(pkg.__file__)), os.path.dirname(pkg.__file__)
    prefix = PKG + "/"
    with zipfile.ZipFile(archive) as z:
        files = {
            n[len(prefix):]: z.read(n)
            for n in z.namelist()
            if n.startswith(prefix) and n.endswith(".py")
        }
    return files, archive


def stale_guard(spark, checkout_pkg_dir: str) -> dict:
    """Compare the package a Python worker imports with the checkout's.

    One row through ``mapInPandas`` runs the digest inside a worker; any
    mismatch raises :class:`StaleCodeError`."""
    import pandas as pd
    from pyspark import cloudpickle

    # the probe runs this module's helpers on the worker, which cannot
    # import the benchmark's files
    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def probe(batches):
        for _ in batches:
            pass
        files, origin = imported_sources()
        yield pd.DataFrame({"digest": [source_digest(files)], "origin": [origin]})

    row = spark.range(1).mapInPandas(probe, "digest string, origin string").collect()[0]
    want = source_digest(dir_sources(checkout_pkg_dir))
    if row.digest != want:
        raise StaleCodeError(
            f"workers imported {PKG} from {row.origin} (digest {row.digest}); "
            f"the checkout's sources digest to {want}"
        )
    return {"digest": want, "worker_origin": os.path.basename(row.origin)}


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        for c in children.get(p, ()):
            out.append(c)
            stack.append(c)
    return out


def _python_pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size of the pyspark processes in ``pids``:
    resident pages, each shared page split between the processes sharing
    it, so what forked workers share with their daemon counts once."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # the worker exited between listing and reading
    return total


class WorkerRssSampler:
    """Polls ``/proc`` from a driver thread for the summed resident memory
    (PSS) of the Python worker processes under the JVM; read ``peak_mb``
    after the ``with`` block."""

    def __init__(self, root_pid: int, interval_s: float = 0.05) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, _python_pss_bytes(_descendants(self.root_pid)))
            self._halt.wait(self.interval_s)

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._halt.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
