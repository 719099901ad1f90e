"""SparkSession factory.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` and a driver heap of
``$SPARK_GRAFT_DRIVER_MEM`` (a JVM size such as ``2g``, also passed as
``-Xms``); unset, they default to the CPUs this process
may run on and half the host's memory. Python workers get the package root
prepended to the ``PYTHONPATH`` they inherit, so callers need not set it.
Every other config choice is made for a real multi-executor cluster at
~100 TB:

- AQE on: runtime shuffle-partition coalescing, broadcast-join conversion and
  skew-join splitting replace hand-tuned partition counts at scale.
- ``spark.sql.shuffle.partitions`` is the CPU count and only the *initial*
  number; AQE coalesces.
- Arrow on: every Pandas-UDF boundary is Arrow-batched (the only Python code
  paths in this engine are the tier-3 fuzzy lookup and multimodal decode).
- UTC session timezone: deterministic timestamp semantics across engines
  (parity with the DuckDB oracle and with any downstream warehouse).
- A locally launched driver JVM sizes its G1 heap from the allocation,
  not the clock (whole heap committed, fixed young generation, fixed
  marking threshold), so its resident size does not swing with CPU steal.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable
from typing import Any

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory holding the package: Python workers import it from here
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# live py4j gateway → {key: value}: an entry goes away with its gateway,
# and with it every JVM reference its values hold
_PER_GATEWAY: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def per_gateway(key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``key`` under the live py4j gateway, built on
    its first use there and shared afterwards (from any thread: a race
    builds twice and keeps one). For driver-side objects that hold JVM
    references, such as Column expressions, which die with their JVM."""
    memo = _PER_GATEWAY.setdefault(SparkContext._gateway, {})
    if key not in memo:
        memo.setdefault(key, build())
    return memo[key]


def default_cpus() -> int:
    """The CPUs this process may run on (its affinity mask, which a
    container's cpuset narrows), not the host's count."""
    return len(os.sched_getaffinity(0))


def default_driver_mem() -> str:
    """Half of the host's ``MemTotal``, at least 1 GiB, as a JVM size."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1024, kb // 2048)}m"


def get_spark(
    app_name: str = "aldean-spark",
    cpus: int | str | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    worker_path = os.pathsep.join(
        [PACKAGE_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    # Shuffle/spill scratch: prefer tmpfs when present — the default /tmp
    # sits on a virtual disk whose latency varies with host neighbors, and
    # local-mode shuffle volumes here are MBs. tmpfs is RAM-backed and is
    # commonly tiny in containers (64 MB default), so only prefer it when it
    # reports enough free space for local-mode shuffle volume; otherwise
    # shuffle spill fails with no-space errors or pressures host memory. On
    # a real cluster point this at fast local SSDs instead (deployment
    # config, not engine semantics).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            free_bytes = st.f_bavail * st.f_frsize
        except OSError:
            free_bytes = 0
        # 4 GiB floor: comfortably above the largest shuffle this engine
        # produces in local mode at sf1 (sub-GB), far below the tmpfs of a
        # large-memory host (half of RAM by default).
        if free_bytes >= 4 * 1024**3:
            local_dir = "/dev/shm/spark-local"
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.local.dir", local_dir or "/tmp")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        # SparkContext hands spark.executorEnv.* to every Python worker it
        # starts
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-class cache defaults to 100 entries; a workload with
        # tens of distinct query shapes (this engine's surface) evicts and
        # janino-recompiles the biggest classes (the 64-aggregate MinHash /
        # SimHash combines take seconds to compile) on every re-plan.
        # Measured: dedup_minhash 22.8 s → 3.7 s at sf0.1 once the compile
        # is cached. Cheap in memory (generated classes are small), pure win
        # for a long-running cluster app.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Dozens of distinct query shapes × whole-stage codegen emit enough
        # janino classes to fill the JVM's default 240 MB code cache; when it
        # fills, the JIT disables itself and hot aggregate/join loops drop to
        # interpreted bytecode (measured here as a ~9x single-task slowdown
        # late in a 30-query session). 512m was the r3 fix; by r6 the
        # registry's 74 query shapes at sf1 saturate THAT too — reproduced:
        # docs_repetition (pure codegen expressions) ran 2.7 s in a fresh
        # session but 6.2 s after 15 assorted queries with 512m, and 3.4 s
        # with 1g. r9: the 54-query headline + two streaming replay configs
        # + the heavy-tail additions pushed a full bench session past 1g
        # again (median +11% vs a same-day 50-query session, concentrated
        # on pure-codegen relational plans — the JIT-sweep signature), so
        # 2g. Reserved (virtual) memory only — committed grows with
        # use; trivial on any real driver host.
        #
        # G1's heap sizing is made to follow the allocation, not the clock:
        # the heap is committed whole (-Xms = the driver memory; virtual
        # until touched), the young generation is a fixed quarter of it
        # (NewRatio=3) and marking starts at a fixed 15% old-generation
        # occupancy. By default G1 starts at 1/64 of the host's RAM, doubles
        # the heap whenever its recent pause share crosses a threshold, lets
        # eden grow into each expansion and starts marking when it predicts
        # it must; pause shares and predictions depend on the host's CPU
        # steal, so the same request stream on a 2g heap (4 vCPUs, 24 runs)
        # peaked anywhere from 840 to 1,430 MB resident. With these
        # settings eden cycles through the same regions and the resident
        # size follows the live data: 1,100-1,175 MB over 8 runs of it.
        #
        # All of these only take effect when this process launches the JVM
        # (driver-local mode); harmless otherwise.
        .config(
            "spark.driver.extraJavaOptions",
            (
                f"-XX:ReservedCodeCacheSize=2g -Xms{driver_mem} -XX:NewRatio=3 "
                "-XX:-G1UseAdaptiveIHOP -XX:InitiatingHeapOccupancyPercent=15 "
                + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
            ).strip(),
        )
        .getOrCreate()
    )
