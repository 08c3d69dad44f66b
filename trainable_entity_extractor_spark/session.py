"""SparkSession factory tuned for this engine, plus the driver-side
helpers for partitioning derived from input size and for scratch
directories.

Local mode is a stand-in for a multi-executor cluster: shuffle partitions,
Arrow batching and AQE are configured the same way they would be on a
1000-executor deployment (values scaled by cluster size via env vars).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "tee-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this is
        # set to 2-3x total cores (or left to AQE coalescing).
        cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)

    # Scan-split packing floor (guide §6.1): Spark sizes scan splits as
    # max(openCostInBytes, bytes/minPartitionNum) capped by
    # maxPartitionBytes. The 4 MB default means any table under
    # ~4MB*cores scans in a handful of tasks — a 6 MB single-file table
    # on 32 cores runs as TWO tasks, serializing every interpreted
    # projection over it. 128 KB keeps small inputs fully parallel; at
    # cluster scale (files >= 128 MB) bytes/minPartitionNum dominates and
    # this floor is inert, so the setting is scale-neutral, not a
    # local-only tune. Parameterised for deployments with real per-file
    # open latency (object stores want the default or higher).
    open_cost = os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", str(128 * 1024))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.openCostInBytes", open_cost)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def repartition_if_big(df: DataFrame, key: str, min_bytes: int = 4 << 20) -> DataFrame:
    """Scale-adaptive early exchange (guide §2.5: derive partitioning from
    input size, don't tune a constant to one scale). The small tables are
    single parquet row groups at every SF, so a heavy interpreted
    projection fused into the scan runs on ONE core — an early keyed
    repartition fixes that, but below a few MB of input the exchange
    costs more than the serialization it removes (measured at sf0.1:
    exact_dedup 0.35→0.64 WITH a forced repartition; at sf1.0 the same
    exchange is a 2x win). Decide from the scanned bytes, driver-side
    (inputFiles + stat — no Spark job). At crawl scale inputs pass the
    threshold trivially and arrive pre-split, making the exchange a
    cheap no-op re-key."""
    try:
        size = 0
        for f in df.inputFiles():
            p = f[len("file:"):] if f.startswith("file:") else f
            size += os.path.getsize(p)
    except OSError:
        size = min_bytes  # not on the local filesystem: keep the scale-safe branch
    if size >= min_bytes:
        width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        return df.repartition(width, key)
    return df


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh driver-local directory, removed when the block exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def scratch_dir_until_exit(prefix: str, root: str | None = None) -> str:
    """A fresh directory under `root` (default: the driver's tempdir) that
    outlives the call, for files a lazily evaluated DataFrame still reads;
    removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix, dir=root)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
