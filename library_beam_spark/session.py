"""SparkSession factory.

One place to encode the engine's scale profile. Tests and the bench use
``get_spark()``; the driver passes its own session into
``__spark_entry__.entry`` so every config here is also safe to apply lazily
via ``spark.conf.set`` where dynamic.

Scale rationale (targets a 1000-executor cluster even though CI is
local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion are exactly the knobs a 100 TB run
  needs and they cost nothing at small SF.
- Arrow on: every NLP kernel crosses the JVM/Python boundary in columnar
  batches; ``maxRecordsPerBatch`` bounds kernel memory (the reference's
  spaCy workers needed 3.75-7.5 GB/process, README.md:41 — batch sizing is
  our equivalent control).
- shuffle.partitions is a default, not a law: AQE coalesces down; big
  jobs override up. local runs keep it = cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """The local JVM heap: 32g, capped at half of physical memory so the
    driver plus its Python workers fit on a smaller host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 << 10, phys // 2 >> 20)}m"


# Applied at build time (static) — session-level tuning.
_STATIC_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark has no
    # native type for; read as long and convert (tables.table handles it).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # = local cores. Measured both ways in the r5 sweep: 4x-cores with
    # AQE-coalesce looked canonical but regressed every iterative
    # operator 3-4x at sf0.1 (AQE does not coalesce user
    # repartition()/repartitionByRange shuffles, and per-round task
    # launch overhead quadruples); at the sizes where wide-row
    # partitions mattered (the sf5 triangle SMJ) the real fix was the
    # broadcast-adjacency path, not partition count. Clusters override
    # up (2-4x total cores) via spark-submit.
    "spark.sql.shuffle.partitions": "32",
    "spark.python.worker.reuse": "true",
    # Quieter local runs; harmless on a cluster.
    "spark.ui.enabled": "false",
    # 1 GiB per local core (local mode = one JVM for driver AND all 32
    # executor threads; 8g total was 250 MB/core — a quarter of the
    # leanest realistic executor, and the sf5 sweep's OOM source), but
    # never more than half the host's RAM: a heap past physical memory
    # gets the JVM killed mid-run. Ignored when a cluster's
    # spark-submit provides its own sizing.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
    ),
}


def get_spark(app_name: str = "library_beam_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller's spark-submit settings win (we never override an
    already-running session's master).
    """
    builder = SparkSession.builder.appName(app_name)
    active = SparkSession.getActiveSession()
    if active is not None:
        _apply_runtime_conf(active)
        return active
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    for k, v in _STATIC_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _apply_runtime_conf(spark: SparkSession) -> None:
    """Apply the runtime-settable subset of the profile to a session we did
    not build (e.g. the driver's). Static configs are skipped silently."""
    for k, v in _STATIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep the session's value
