"""SparkSession factory tuned for this engine.

Pins UTC (the reference parses timestamps through ``mktime`` which is
localtime-dependent, /root/reference/src/utils/TimeUtils.cpp:73-112; we pin
UTC everywhere and generate fixtures in UTC so semantics are reproducible),
enables AQE + skew-join handling (hot conversations are a first-class skew
concern at scale), and Arrow batches for the Python stages (the mapInArrow
parse stage, the detector-description pandas UDFs).

AQE also right-sizes persisted frames: it coalesces the shuffle partitions
of a cached plan by size, as it does for uncached ones. Spark's default
keeps a cache at the full shuffle width, and every Python operator over
such a cache then runs one task per shuffle partition, each paying a fixed
Python worker setup that at small inputs is most of a pass.
Coalescing keeps at least ``defaultParallelism`` partitions once each would
hold ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` (1 MB), so
large inputs keep their width: at local[4] the DAG's cached online union
drops from 28 partitions to 7 on 10k rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MIB = 1024 * 1024
# derive_max_partition_bytes: scan waves per core, and the split-size floor
_SCAN_WAVES = 4
_SCAN_FLOOR = 24 * _MIB


def dir_bytes(path: str) -> int:
    """Total size of the data files under a (parquet) directory."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def derive_max_partition_bytes(
    input_bytes: int,
    parallelism: int,
    cap: int = 128 * _MIB,
) -> int:
    """Per-job input-split size: target ~_SCAN_WAVES scan waves at the given
    parallelism, clamped to [_SCAN_FLOOR, cap].

    Round-3/4 findings (BENCH.md): a CONSTANT split size cannot serve both
    ends of the scale — Spark's 128 MB default leaves a ~1 GB input as ~7
    one-minute straggler tasks on 8 cores (2->8 efficiency 0.595) — but
    small scan tasks are actively harmful on this engine: sub-~20 MB splits
    multiply the Arrow-parse per-task fixed cost and were measured
    catastrophic on the concurrent DAG at local[32] (61 s -> 137-139 s at
    both 4 MB and 8 MB splits, round 3 and round 4 independently). Hence:
    At LOW parallelism (< 16 cores) ``input_bytes / (4 x parallelism)``
    gives every core ~4 tasks to level stragglers, with a 24 MB
    floor above the per-task-overhead knee: at 27.9M rows / 8 cores the
    round-4 matrix reads 310 s (derived 25.6 MB) vs ~395 s (128 MB
    stragglers) vs 572 s (4 MB shatter). At HIGH parallelism (>= 16 cores)
    the derivation returns the stock 128 MB cap unchanged: concurrency
    there comes from parallel DAG branches, not intra-stage scan width, and
    every sub-stock split size measured WORSE on the local[32] concurrent
    DAG (58 s at 128 MB vs 66-137 s at 96/24/8 MB — round-4 matrix), so
    any real multi-executor cluster sees Spark's stock scan behavior."""
    if input_bytes <= 0 or parallelism <= 0:
        return cap
    if parallelism >= 16:
        return cap
    return int(
        min(cap, max(_SCAN_FLOOR, input_bytes // (_SCAN_WAVES * parallelism)))
    )


def get_spark(
    master: str | None = None,
    app_name: str = "log-transcript-pipeline",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    input_path: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit supply the master. On a
    1000-executor cluster the same conf applies; only shuffle_partitions
    should scale with total cores (AQE coalesces the excess at runtime).
    """
    os.environ.setdefault("TZ", "UTC")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, int(cpus) if cpus.isdigit() else 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the shuffle partitions of persisted plans too.
        # Spark keeps a cached plan at its full shuffle width by default, so
        # every Python operator over a cache (the DAG's online union) ran
        # one task per shuffle partition, and each Python task costs
        # ~0.25-0.3 s of worker setup even with no rows. On the 10k-row
        # dag_mixed input at local[4] the cached online union drops from 28
        # to 7 partitions.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for toPandas/createDataFrame; maxRecordsPerBatch sizes the
        # batches every Python stage receives (the mapInArrow parse stage,
        # the description pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # Generous driver memory for local[32] runs on the 128 GiB box.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Per-job derived split sizing (round 4): when the caller names its
        # input, the split size targets ~4 scan waves per core instead of a
        # constant — see derive_max_partition_bytes for the full rationale
        # (constant 128 MB starves 8 cores on GB-scale inputs; constant 4 MB
        # shatters local[32]). Without an input, Spark's 128 MB default
        # stands (the 100 TB-correct value).
        split = "128m"
        if input_path is not None:
            n_cores = int(cpus) if cpus.isdigit() else 32
            if master.startswith("local["):
                inner = master[6:-1]
                if inner.isdigit():
                    n_cores = int(inner)
            split = str(
                derive_max_partition_bytes(dir_bytes(input_path), n_cores)
            )
        builder = builder.config("spark.sql.files.maxPartitionBytes", split)
    # shuffle scratch on tmpfs when available: local-mode shuffles otherwise
    # contend on the (virtual) disk and cap multi-core scaling
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
