"""SparkSession builder with the engine's standard configuration.

Arrow on (all geometry kernels are Arrow-batched pandas UDFs), AQE on
(runtime coalesce + skew-join for the equi-join paths; the broadcast PIP path
has no shuffle to skew), shuffle partitions sized to the local core count
rather than the 200 default.

On local masters the Python workers start through ``aezspark/worker-python``,
which keeps Spark's own archives off the workers' import path (see
``_create``).
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

WORKER_PYTHON = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "worker-python")


def get_spark(app: str = "aezspark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = os.cpu_count() or 8
    master = master or os.environ.get("AEZSPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = _master_cores(master, cores)
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
         .config("spark.driver.memory",
                 os.environ.get("AEZSPARK_DRIVER_MEM", _default_driver_memory()))
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
    # default.parallelism = total executor cores. The Python kernel stage
    # has its own rule for small inputs: the joins kernels coalesce an
    # input estimated below one maxPartitionBytes split to one task per
    # core (joins._one_wave), since there the per-task Python cost
    # outweighs the wave balance (BENCH/BASELINE.md "One kernel wave for
    # small inputs").
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
    # query, other queries equal-or-better. Both timings predate
    # WORKER_PYTHON, when every task also paid ~0.2 s re-reading Spark's
    # archives, so they overstate what an extra split costs now.
    b = b.config("spark.sql.files.openCostInBytes", str(256 << 10))
    spark = _create(b, master)
    spark.sparkContext.setLogLevel("WARN")
    _require_matching_pyspark(spark.version, pyspark.__version__, "driver")
    _warm_worker_pools(spark, shuffle_partitions)
    return spark


def _master_cores(master: str, cores: int) -> int:
    """Parallelism to match a master's task slots: local[N] and local[N,F]
    (F = max task failures) → N; local[*], local[*,F] and masters without
    a bracket → cores."""
    if "[" not in master:
        return cores
    slots = master[master.find("[") + 1:master.find("]")].split(",")[0]
    return cores if slots == "*" else int(slots)


def _default_driver_memory() -> str:
    """16g, or half the host's physical memory where that is less. The one
    local JVM holds the driver, every task and the broadcast dims, and a
    heap larger than the host can back fails by the OS killing a process,
    not by GC pressure showing first."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, physical // 2 >> 20)}m"


def _create(builder, master: str) -> SparkSession:
    """getOrCreate, with local-master Python workers started through
    WORKER_PYTHON, which saves each task ~0.2 s of re-reading Spark's
    archives (BENCH/BASELINE.md "Per-task Python floor").

    The in-process driver reads the worker interpreter only from
    PYSPARK_PYTHON (a builder spark.pyspark.python is ignored), so that
    points at the launcher while the session is created and is restored
    after; the user's interpreter reaches the launcher as the workers' own
    PYSPARK_PYTHON. Executors of other masters do not share this
    filesystem (README "Worker interpreter"), and an aezspark imported from
    a --py-files archive has no launcher file to exec: their workers start
    as Spark starts them."""
    if not (master.startswith("local") and os.access(WORKER_PYTHON, os.X_OK)):
        return builder.getOrCreate()
    configured = os.environ.get("PYSPARK_PYTHON")
    builder.config("spark.executorEnv.PYSPARK_PYTHON", configured or "python3")
    os.environ["PYSPARK_PYTHON"] = WORKER_PYTHON
    try:
        return builder.getOrCreate()
    finally:
        if configured is None:
            del os.environ["PYSPARK_PYTHON"]
        else:
            os.environ["PYSPARK_PYTHON"] = configured


def _require_matching_pyspark(spark_version: str, pyspark_version: str,
                             where: str) -> None:
    """Raise unless the pyspark a process imports is the JVM's version: the
    workers import the interpreter's installed pyspark, not the copy Spark
    ships, and a different version would speak a different worker
    protocol."""
    if pyspark_version != spark_version:
        raise RuntimeError(
            f"pyspark {pyspark_version} on the {where} does not match Spark "
            f"{spark_version} in the JVM: install pyspark=={spark_version} "
            f"for the {where}'s interpreter.")


_WARMED: set = set()


def _warm_worker_pools(spark, parallelism: int) -> None:
    """Pre-fork the Arrow Python worker pool and run the engine's kernel
    import chain in it, once per session (guide §4.5 — heavyweight init
    once): the first Arrow-kernel stage otherwise pays ~3.5 s PER WORKER
    importing aezspark/pyarrow/pandas inside the timed query (measured
    before WORKER_PYTHON: med task init 3.7 s → 0.17 s with this warmup;
    the launcher then removed ~0.2 s of per-task archive re-read). ~3 s at
    session creation, outside any timed region. Each warm-up task also
    reports the pyspark version its worker imported, which must match the
    JVM's.

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
        import pyspark as _ps
        for b_ in it:
            yield _pd.DataFrame({"v": [_ps.__version__] * len(b_)})

    n = max(parallelism * 2, 2)
    try:
        rows = spark.range(0, n, 1, n).mapInPandas(_warm, "v string").collect()
    except Exception as e:
        raise RuntimeError(
            "Python worker warm-up failed: the workers could not run the "
            "engine's kernel imports. Most likely they cannot import "
            "aezspark: start the driver from the repo root, or ship "
            "build/aezspark.zip with --py-files "
            "(python tools/make_pyfiles.py builds it). Local-master workers "
            "start through aezspark/worker-python and import the pyspark "
            "installed for the worker interpreter, so that interpreter "
            "needs one too.") from e
    for v in {r.v for r in rows}:
        _require_matching_pyspark(spark.version, v, "workers")
    _WARMED.add(key)
