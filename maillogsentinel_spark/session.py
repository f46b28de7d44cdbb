"""SparkSession factory tuned for the engine.

Defaults are chosen for the 100 TB design target and merely *scaled down*
for local testing:

- **AQE on**: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned plans.
- **Arrow on**: any pandas interchange (Pandas UDFs, ``applyInPandas``)
  moves columnar batches, never rows.
- **shuffle partitions**: sized from the available parallelism; AQE
  coalesces down after filters, so over-provisioning is safe.
- **broadcast threshold** left at default (10 MB) — dims we *know* are
  small (geo ranges, rDNS cache table) are broadcast explicitly with
  ``F.broadcast`` so the plan does not depend on stats being present.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "maillogsentinel-spark"


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _local_scratch_dir() -> str | None:
    """Shuffle/spill scratch (``spark.local.dir``) for LOCAL-master runs.

    Returns ``$SPARK_GRAFT_LOCAL_DIR`` when set. Otherwise returns
    ``/dev/shm`` only when that directory exists and ``os.statvfs``
    reports at least 16 GiB free (``f_bavail * f_frsize >= 16 << 30``);
    in every other case it returns ``None`` and ``spark.local.dir`` is
    left alone.

    Local-mode shuffle files are pure intra-run scratch — written,
    fetched, and deleted inside one session — so on a box with roomy
    tmpfs they belong there, not on a (possibly externally contended)
    data disk. Measured effect: the stream/tx micro-batch queries' wall
    tracked the host's disk-load canary (io_ratio 3-4x => 2x query wall)
    purely through blockmgr writes under /tmp; with shuffle scratch on
    tmpfs they decouple.

    On a real cluster (non-local master) this is never applied —
    executors get their local dirs from the cluster manager (YARN/k8s),
    where tmpfs sizing is an ops decision, not a library default.
    """
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    # Capacity gate (round-11 advice): tmpfs is typically capped at half
    # of RAM and shuffle spill that previously succeeded on disk could
    # die with ENOSPC there — and filling /dev/shm pressures the whole
    # box. Only adopt it when it currently has generous headroom
    # (≥ 16 GiB free); otherwise leave spark.local.dir alone.
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            free = st.f_bavail * st.f_frsize
        except OSError:
            return None
        if free >= 16 << 30:
            import logging

            logging.getLogger(__name__).info(
                "spark.local.dir -> /dev/shm (%.1f GiB free); override "
                "with $SPARK_GRAFT_LOCAL_DIR", free / (1 << 30),
            )
            return "/dev/shm"
    return None


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we run
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Files: 128 MB splits keep scan tasks memory-bounded at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long and convert at the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is None:
        master = f"local[{cpus}]"
    if master.startswith("local"):
        scratch = _local_scratch_dir()
        if scratch:
            builder = builder.config("spark.local.dir", scratch)
    builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
