"""SparkSession factory tuned for the CDC-apply workload.

Local-mode settings mirror what we would set on a real multi-executor
cluster; partition counts are sized by ``parallelism`` so the same code
scales from ``local[8]`` to 1000 executors by changing one knob.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dps-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local core count (default: $SPARK_GRAFT_CPUS or 32).
    shuffle_partitions: default = parallelism (small-scale); at cluster
    scale this should be ~2-3x total cores — callers pass it explicitly.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = parallelism

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        # AQE: runtime coalescing + skew-join splitting. Free wins at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        # Arrow everywhere: pandas UDFs and toPandas ride Arrow batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep timestamps sane across engines.
        .config("spark.sql.session.timeZone", "UTC")
        # In-memory-ish local shuffle behavior; silence UI for CI.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # LakeTable reads name their files from the manifest. Above the
        # default 32 paths, spark.read.parquet(*files) first runs a
        # listing job with one task per path: reading and counting 64
        # files took 0.52-0.62 s, and 0.18-0.28 s with this threshold
        # (4 vCPU). MoR compaction reads and mirror delta polls name
        # 60-70 files.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # Broadcast threshold: the tracker/commit-log tables are tiny and
        # must broadcast, never shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("DPS_DRIVER_MEM", "8g"))
        # Never sort-merge-join wide token-array rows; hash joins keep
        # the hot path sort-free (the merge plan relies on this).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.io.compression.codec", "lz4")
    )
    # DPS_OFFHEAP=<size>: Tungsten off-heap memory + off-heap parquet
    # column vectors — the round-3 memory-bandwidth experiment (GC was
    # 70x at local[32]; off-heap removes allocation/GC pressure from the
    # scan+shuffle path). Off by default; BENCH/BASELINE.md records the
    # measured verdict.
    offheap = os.environ.get("DPS_OFFHEAP")
    if offheap and offheap.lower() not in ("0", "off", "false", "none"):
        builder = (
            builder.config("spark.memory.offHeap.enabled", "true")
            .config("spark.memory.offHeap.size", offheap)
            .config("spark.sql.columnVector.offheap.enabled", "true")
        )
    # shuffle/spill on tmpfs when available (single-node harness);
    # cluster managers override via SPARK_LOCAL_DIRS.
    # Each session's dirs live under a pid-scoped subdir so the leak
    # sweep can key liveness on process existence, not mtime: a live
    # session that has been shuffle-idle for hours (long pure-compute
    # stage) must never have its shuffle dirs deleted out from under it.
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        shared_root = "/dev/shm/dps-spark-local"
        _sweep_stale_local_dirs(shared_root)
        local_root = os.path.join(shared_root, f"pid-{os.getpid()}")
        builder = builder.config("spark.local.dir", local_root)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _pid_alive(pid: int) -> bool:
    """True if a process with this pid exists (PermissionError means it
    exists but belongs to someone else — still alive)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True  # unknown — err on the side of "alive"
    return True


def _sweep_stale_local_dirs(root: str, max_age_sec: int = 5400) -> None:
    """Best-effort purge of leaked shuffle dirs. Spark removes its
    blockmgr-*/spark-* dirs on clean shutdown, but a killed JVM leaks
    them — and on tmpfs that is RAM held hostage (observed 17 GB of
    stale dirs from dead sessions shrinking the page cache and
    inflating later benchmark runs).

    Liveness is keyed on PROCESS EXISTENCE, not mtime: each session's
    ``spark.local.dir`` is ``<root>/pid-<pid>``, and only ``pid-*``
    entries whose owning process is dead are removed. An mtime rule
    (the previous design) could delete a live-but-shuffle-idle
    session's dirs mid-run — a later shuffle write then fails with a
    mkdir-under-removed-parent error and earlier shuffle files vanish
    (FetchFailed). PID reuse can at worst *retain* a dead session's
    dir until the recycled pid exits — safe direction.

    Legacy entries from the pre-pid layout (blockmgr-*/spark-* directly
    under root) have no owner to probe and are swept by the old
    newest-depth-2-mtime rule; no current code writes that layout."""
    import shutil
    import time

    try:
        entries = os.listdir(root)
    except OSError:
        return
    cutoff = time.time() - max_age_sec
    for name in entries:
        p = os.path.join(root, name)
        if name.startswith("pid-"):
            try:
                pid = int(name[4:])
            except ValueError:
                continue
            if pid != os.getpid() and not _pid_alive(pid):
                shutil.rmtree(p, ignore_errors=True)
            continue
        if not (name.startswith("blockmgr-") or name.startswith("spark-")):
            continue
        try:
            newest = os.path.getmtime(p)
            if os.path.isdir(p):
                for child in os.listdir(p):
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(p, child))
                        )
                    except OSError:
                        continue
            if newest < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
