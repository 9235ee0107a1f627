"""SparkSession factory with scale-minded defaults.

All knobs that matter for the BSP loop at cluster scale are set here so
tests, bench, and the driver contract share one configuration story:

- AQE on (runtime coalescing + skew-join splitting),
- shuffle partitions sized to cores locally (on a real cluster this
  would be ~2-3x total executor cores; AQE coalesces down),
- Arrow enabled for the pandas-UDF extraction tier,
- UTC session timezone so DuckDB oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# defaults come from the host: every core, and physical RAM (rounded up
# to whole GiB) as the driver heap cap. Local mode runs the executors
# inside the driver JVM, which commits heap lazily, so the cap is an
# upper bound, not a reservation; a session holding many cached
# superstep tables needs the room. SPARK_GRAFT_CPUS /
# SPARK_GRAFT_DRIVER_MEM override them.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
    f"{-(-os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**30)}g"
)


def get_spark(
    app_name: str = "pregel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; pass e.g.
    ``local[8]`` for the scaling-efficiency protocol (BASELINE.md). On a
    real cluster this function is a no-op passthrough to spark-submit's
    session (master/em already set), because ``getOrCreate`` reuses it.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    elif master.startswith("local[") and master != "local[*]":
        cpus = int(master[len("local[") : -1])
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pregel_spark_warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # SPARK_GRAFT_LOCAL_DIR: where shuffle/spill blocks land. The
    # single-host scaling proxy can point this at tmpfs (/dev/shm) to
    # model a cluster where every added executor brings its own
    # disk/network bandwidth — on one box all cores share one block
    # device, which caps shuffle-bound loops regardless of cores.
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        b = b.config("spark.local.dir", os.environ["SPARK_GRAFT_LOCAL_DIR"])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
