"""Process hygiene for the benchmark: a scratch directory inside the
checkout, the Spark session the engine builds, and clean teardown.

Every file the run writes — generated inputs, Spark's local dirs,
the warehouse, JVM and Python temp files, job outputs — lives under
``<checkout>/.perfbench_tmp/<run>``, which is removed when the run
ends. Spark's Python workers import ``cc_pyspark_spark`` from the
checkout through ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_BASE = os.path.join(ROOT, ".perfbench_tmp")


def require_engine() -> None:
    """Fail loudly when the checkout does not hold the engine."""
    if not os.path.isfile(os.path.join(ROOT, "cc_pyspark_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no cc_pyspark_spark package under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Sandbox:
    """Scratch root for one run; sets the environment Spark inherits."""

    def __init__(self):
        os.makedirs(TMP_BASE, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix="run-", dir=TMP_BASE)
        self._n = 0

    def __enter__(self) -> Sandbox:
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        require_engine()
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(TMP_BASE)
        except OSError:
            pass  # another run still owns a sibling directory

    def path(self, name: str) -> str:
        p = os.path.join(self.root, name)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, name: str) -> str:
        """A new, not yet existing output path."""
        self._n += 1
        return os.path.join(self.path("out"), f"{name}-{self._n}")


def bench_conf(box: Sandbox) -> dict[str, str]:
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": box.path("warehouse"),
        "spark.local.dir": box.path("spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={box.path('tmp')}",
        "spark.executor.processTreeMetrics.enabled": "true",
        "spark.executor.metrics.pollingInterval": "100ms",
        # Spans read their jobs and stages when they end; the limits
        # only have to hold one pass of the loop workload.
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
    }


def start_spark(box: Sandbox, cpus: int):
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from cc_pyspark_spark.session import build_session  # noqa: PLC0415

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=bench_conf(box),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure to exit: kill
            proc.kill()
            proc.wait(timeout=30)


class StoragePeak:
    """The largest storage the cached and checkpointed RDD blocks hold
    while an operation runs, in MB.

    A side thread reads ``getRDDStorageInfo`` every ``interval`` seconds
    from entering the block until leaving it, so the caches an operation
    builds and frees itself (a CLI job releases its operator caches
    before it returns) are seen while they are alive. Broadcast blocks
    are left out: when they are freed depends on JVM garbage collection,
    not on the engine.
    """

    def __init__(self, spark, interval: float = 0.02):
        self.sc = spark.sparkContext
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def held_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def _poll(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, self.held_mb())

    def __enter__(self) -> StoragePeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self.held_mb())


def release(spark) -> tuple[int, int]:
    """Back to released state: tracked operator caches, then every
    persistent RDD still alive, then a full GC so Spark's cleaner drops
    the broadcasts and shuffle files whose handles died. Returns
    (released, leftover)."""
    from cc_pyspark_spark.caching import release_caches  # noqa: PLC0415

    released = release_caches()
    leftover = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for jrdd in leftover:
        jrdd.unpersist()
    spark._jvm.System.gc()
    return released, len(leftover)


def build(spark, name: str, sf_dir: str):
    """The DataFrame of one registered query, construction included."""
    from cc_pyspark_spark.plans import QUERIES  # noqa: PLC0415

    return QUERIES[name].spark(spark, sf_dir)
