"""SparkSession builder with the engine's standard configuration.

Arrow on (all geometry kernels are Arrow-batched pandas UDFs), AQE on
(runtime coalesce + skew-join for the equi-join paths; the broadcast PIP path
has no shuffle to skew), shuffle partitions sized to the local core count
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "aezspark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = os.cpu_count() or 8
    master = master or os.environ.get("AEZSPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # match parallelism: local[N] → N, local[*] → cores
        inner = master[master.find("[") + 1:master.find("]")] if "[" in master else str(cores)
        shuffle_partitions = cores if inner == "*" else int(inner)
    b = (SparkSession.builder
         .master(master)
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.default.parallelism", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.session.timeZone", "UTC")
         # local-mode shuffle spills to the driver host's disk; tmpfs keeps
         # the shuffle off the (slow, shared) block device. On a real
         # cluster this knob is set per-node by the resource manager.
         .config("spark.local.dir",
                 os.environ.get("AEZSPARK_LOCAL_DIR",
                                "/dev/shm/aezspark-local"
                                if os.path.isdir("/dev/shm") else "/tmp"))
         # NB: the default G1 collector stalls the Arrow-heavy kernels for
         # tens of seconds in this single-JVM setup (measured 45s → 6.5s on
         # the PIP assign stage at local[32] after switching); ParallelGC +
         # a moderate heap is stable
         .config("spark.driver.memory", os.environ.get("AEZSPARK_DRIVER_MEM", "16g"))
         .config("spark.driver.extraJavaOptions",
                 os.environ.get("AEZSPARK_JAVA_OPTS", "-XX:+UseParallelGC"))
         .config("spark.ui.enabled", "false"))
    # Scan split sizing: target ≈3 tasks per core via Spark's own
    # minPartitionNum (maxSplitBytes = min(maxPartitionBytes,
    # max(openCost, totalBytes/minPartitionNum))) instead of a fixed byte
    # size. Spark's default minPartitionNum = parallelism gives ~1 wave, so
    # a 1.4 GB corpus becomes 11×128 MB splits → a ragged 8+3 two-wave
    # schedule at 8 cores; and any FIXED byte size is core-count-blind (the
    # 64 MB that balances 20M docs at 8 cores makes 10M docs at 8 cores
    # ragged again). 3 waves bounds the quantization tail at ~1/3 wave while
    # keeping per-task kernel/Arrow setup amortized. Same-window A/B at 20M
    # docs / 8 cores with the int64-key fused kernel: ~58 MB splits = 23.0 s
    # vs 128 MB = 32.9 s (round 3 measured the opposite with the heavier
    # string-key kernel — superseded; BENCH/BASELINE.md). The same 2-3
    # tasks/core rule is the standard sizing on a real cluster, where
    # default.parallelism = total executor cores.
    b = b.config("spark.sql.files.minPartitionNum",
                 str(shuffle_partitions * 3))
    # openCostInBytes FLOORS the split size: maxSplitBytes =
    # min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum)).
    # The 4 MB default means any scan totalling under 4 MB × minPartitionNum
    # ignores the 3-waves rule above and degenerates to a handful of tasks —
    # measured: the 14 MB bench corpus scanned as 4 splits and a 2.4 MB cell
    # table as ONE split on a 32-core local master, serializing every
    # Arrow-kernel and decode stage above those scans. 256 KB keeps a floor
    # (tiny files still pack) while letting minPartitionNum size small scans;
    # at cluster scale totalBytes/minPartitionNum >> 4 MB, so this knob is
    # inert there — it is NOT a local-only tuning, it just stops the open-cost
    # heuristic from overriding the wave rule on small inputs. Not lower:
    # smaller splits made the fused docs kernel's Arrow batches small enough
    # that its per-batch fixed work (the shard-manifest tile lookup) showed —
    # measured 1.09 s at 64 KB vs 0.89 s at 256 KB on the flagship docs
    # query, other queries equal-or-better.
    b = b.config("spark.sql.files.openCostInBytes", str(256 << 10))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_worker_pools(spark, shuffle_partitions)
    return spark


_WARMED: set = set()


def _warm_worker_pools(spark, parallelism: int) -> None:
    """Pre-fork the Arrow Python worker pool and run the engine's kernel
    import chain in it, once per session (guide §4.5 — heavyweight init
    once): the first Arrow-kernel stage otherwise pays ~3.5 s PER WORKER
    importing aezspark/pyarrow/pandas inside the timed query (measured: med
    task init 3.7 s → 0.17 s with this warmup). ~3 s at session creation,
    outside any timed region.

    A failure here raises: a session whose workers cannot run the kernel
    imports would fail every kernel stage later, so it is not healthy."""
    key = id(spark)
    if key in _WARMED:
        return
    import pandas as _pd

    def _warm(it):
        from aezspark import joins as _j  # noqa: F401 — kernel imports
        import numpy as _np  # noqa: F401
        import pyarrow as _pa  # noqa: F401
        for b_ in it:
            yield _pd.DataFrame({"id": b_["id"]})

    n = max(parallelism * 2, 2)
    try:
        spark.range(0, n, 1, n).mapInPandas(_warm, "id long").count()
    except Exception as e:
        raise RuntimeError(
            "Python worker warm-up failed: the workers could not run the "
            "engine's kernel imports. Most likely they cannot import "
            "aezspark: start the driver from the repo root, or ship "
            "build/aezspark.zip with --py-files "
            "(python tools/make_pyfiles.py builds it).") from e
    _WARMED.add(key)
