"""SparkSession factory with the engine's scale-oriented defaults.

The session is sized from the box it starts on: ``local[N]`` over every core
this process may use (``os.sched_getaffinity``), and a driver heap of half of
``/proc/meminfo`` MemAvailable, rounded down to 256 MiB.  The whole heap is
committed at start (below), so the other half stays free for the OS, the
Python workers and shuffle files.  A request the box cannot hold fails fast:
an explicit ``driver_mem`` larger than MemAvailable (under a
``local-cluster`` master, the driver heap plus every executor heap) raises
``ValueError`` before any JVM is launched, as does a malformed size string.

Every other setting is the one you'd ship to a 1000-executor cluster: AQE on
(post-shuffle coalescing, dynamic broadcast selection, skew-join splitting),
Arrow enabled for the pandas-UDF stages, shuffle partitions sized to the
parallelism.

Two settings exist specifically because of how threaded JVMs behave under
concurrency (measured with tools/bench_scaling.py):

- ``-Xms == -Xmx`` + ``-XX:+AlwaysPreTouch``: a lazily-grown heap makes every
  young-gen allocation fault fresh kernel pages; page-zeroing serializes
  badly when many task threads allocate at once (observed 3-10x slowdowns
  and run-to-run variance).  Pre-touching moves that cost to startup, once.
- ``spark.sql.files.maxPartitionBytes=64m`` (vs the 128m default): at
  sandbox data sizes the default yields fewer scan tasks than cores; 64m
  keeps every core fed while staying a perfectly reasonable split size for a
  real cluster scan.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_UNIT_MIB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _mib(size: str) -> int:
    """A JVM/Spark memory size (``"512m"``, ``"4g"``, ``"4gb"``; a bare
    number is MiB, as for ``spark.driver.memory``) in whole MiB."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", str(size), re.IGNORECASE)
    mib = int(int(m.group(1)) * _UNIT_MIB[m.group(2).lower() or "m"]) if m else 0
    if mib < 1:
        raise ValueError(f"malformed memory size {size!r}: expected e.g. '512m' or '4g'")
    return mib


def mem_available_mib() -> int:
    """MemAvailable from ``/proc/meminfo``, in MiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemAvailable:"))
    return kib // 1024


def box_sizing(
    cpus: int | None = None,
    driver_mem: str | None = None,
    master: str | None = None,
    executor_mem: str | None = None,
) -> tuple[int, int]:
    """(cpus, driver heap MiB) for a session on this box; raises
    ``ValueError`` if the requested heaps exceed MemAvailable."""
    cpus = cpus or len(os.sched_getaffinity(0))
    avail = mem_available_mib()
    heap = _mib(driver_mem) if driver_mem is not None else avail // 2 // 256 * 256
    request, total = f"driver {heap} MiB", heap
    lc = re.fullmatch(r"local-cluster\[\s*(\d+)\s*,.*\]", master or "")
    if lc:
        # Spark's executor heap defaults to 1g
        n, each = int(lc.group(1)), _mib(executor_mem or "1g")
        request, total = f"{request} + {n} executors x {each} MiB", total + n * each
    if total > avail:
        raise ValueError(
            f"requested {total} MiB of JVM heap ({request}) but the box has "
            f"only {avail} MiB MemAvailable"
        )
    return cpus, heap


def get_spark(
    app_name: str = "schema_validator_spark",
    cpus: int | None = None,
    driver_mem: str | None = None,
    master: str | None = None,
    executor_mem: str | None = None,
) -> SparkSession:
    """``master`` defaults to ``local[cpus]``.  Pass e.g.
    ``local-cluster[4,1,1280]`` for separate-JVM executors (the scaling
    bench's stand-in for real multi-executor isolation); ``executor_mem``
    then sizes each executor heap (pre-touched, same reasoning as the
    driver heap)."""
    cpus, heap = box_sizing(cpus, driver_mem, master, executor_mem)
    shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Big shuffles must not be capped at shuffle.partitions: start AQE
        # at 8× and let it coalesce DOWN per-stage from runtime sizes.  A
        # 48M-row band join at 32 partitions sorts 1.5M rows/partition and
        # spills; at 256 it stays in memory, while sub-MB shuffles still
        # coalesce to a handful of partitions.  (On a real cluster this is
        # the same setting, just thousands instead of hundreds.)
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * shuffle_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.driver.memory", f"{heap}m")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap}m -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        # SimplifyCaseConversionExpressions rewrites upper(lower(x)) →
        # upper(x), which is NOT semantics-preserving under Unicode
        # SpecialCasing (upper(lower('İ')) is 'I'+U+0307, upper('İ') is 'İ')
        # — the reference applies transforms sequentially, so must we.
        # InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` above
        # every explode; predicate pushdown then SUBSTITUTES the aliased
        # array expression into those filters below our projection splits,
        # re-inlining the whole shingle chain (interpreted HOF → the
        # normalization regex re-runs per gram) TWICE per scanned row —
        # measured 2.3× on the simhash kernel.  Our dedup paths prune
        # degenerate docs explicitly, so the rule only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.SimplifyCaseConversionExpressions,"
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if executor_mem:
        executor_mem = f"{_mib(executor_mem)}m"
        b = b.config("spark.executor.memory", executor_mem).config(
            "spark.executor.extraJavaOptions",
            f"-Xms{executor_mem} -XX:+AlwaysPreTouch",
        )
    return b.getOrCreate()
