"""SparkSession factory with a tuned configuration profile.

Replaces the reference's ad-hoc session build (sparkcc.py:174-193) and
its cluster submit-script tuning (run_ccpyspark_job_hadoop.sh:63-79)
with one profile: AQE on (runtime re-plan supersedes the reference's
hand-set partition counts), Arrow on (kills the pickle tax on every
Python boundary), UTC session time, Kryo + zstd for the cluster path.

On a real cluster none of the local[·] settings apply; the profile is
written so the same code runs unmodified under spark-submit.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Sized for the local[32] test harness; on a cluster these are
# per-job knobs (see jobs/base.py CLI args).
DEFAULT_SHUFFLE_PARTITIONS = 32

#: A JVM memory string (`8g`, `2048m`, `512mb`): a positive count and
#: an optional byte-unit suffix, as `spark.driver.memory` parses it.
_JVM_MEM = re.compile(r"[1-9][0-9]*([kmgtp]b?|b)?")


def _env_settings() -> tuple[str, str]:
    """SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM, validated.

    A bad value raises ValueError naming the variable and the value,
    instead of reaching the builder as a malformed master URL or JVM
    option."""
    raw_cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw_cpus)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be an integer >= 1, got {raw_cpus!r}"
        )
    raw_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    mem = raw_mem.strip().lower()
    if not _JVM_MEM.fullmatch(mem):
        raise ValueError(
            "SPARK_GRAFT_DRIVER_MEM must be a JVM memory string such as "
            f"8g or 2048m, got {raw_mem!r}"
        )
    return str(cpus), mem


def build_session(
    app_name: str = "cc-pyspark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's conf profile.

    The profile applies only when this call starts the session. A
    session that is already running is returned with its conf as it
    is, except for what the caller passes: ``shuffle_partitions`` and
    ``extra_conf`` are set on it when given, and the profile's defaults
    never are — a CLI job run inside a live session (a test suite, a
    benchmark harness) keeps that session's shuffle width.
    """
    cpus, driver_mem = _env_settings()
    # The same test getOrCreate uses to reuse a session: the instantiated
    # one, in any thread, while its context runs. getActiveSession() is
    # thread-local and misses a session started in another thread.
    running = SparkSession._instantiatedSession
    live = running is not None and running._sc._jsc is not None
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not live:
        builder = builder.master(f"local[{cpus}]")

    profile = {
        # Driver heap: in local mode driver == all executors, and the
        # JVM otherwise launches with Spark's 1g default — under which
        # broadcast builds start failing once a long session (500-test
        # pytest run, 45-query bench) accumulates heap pressure
        # (notEnoughMemoryToBuildAndBroadcastTableError, observed r9).
        # Only effective at first JVM launch; a no-op on reuse, and on
        # a real cluster spark-submit's --driver-memory supersedes it.
        "spark.driver.memory": driver_mem,
        # Catalyst / AQE: let the optimizer re-plan shuffles, coalesce
        # small partitions, and split skewed ones at runtime.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        # Arrow everywhere Python touches rows (pandas UDFs, toPandas).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Determinism: timestamps are wall-clock-free and UTC.
        "spark.sql.session.timeZone": "UTC",
        # Parquet: push filters into the scan, millis timestamps on
        # write (parity with run_ccpyspark_job_hadoop.sh:79).
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MILLIS",
        # Serializer/codec profile from the reference submit script
        # (run_ccpyspark_job_hadoop.sh:63-79); harmless in local mode,
        # material on a cluster.
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.io.compression.codec": "zstd",
        "spark.ui.enabled": "false",
    }
    conf = {} if live else profile
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
