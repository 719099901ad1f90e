"""Session defaults derive from the host they run on."""

from __future__ import annotations

import os

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.session import (
    PACKAGE_ROOT,
    default_cpus,
    default_driver_mem,
    per_gateway,
)


def test_defaults_follow_the_host():
    assert default_cpus() == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert 1024 <= int(mem[:-1]) <= max(1024, total_kb // 1024)


def test_python_workers_import_from_the_package_root(spark):
    """Python workers find the package without the caller setting
    PYTHONPATH: the session puts the package root first on theirs."""
    import sys

    assert spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)[0] == PACKAGE_ROOT
    on_path = spark.sparkContext.parallelize([0], 1).map(lambda _: PACKAGE_ROOT in sys.path)
    assert on_path.first()


def test_per_gateway_entries_go_with_their_gateway(spark, monkeypatch):
    """per_gateway keys its entries by the live py4j gateway, without a
    session restart: a new gateway (as after a JVM restart) gets entries of
    its own and leaves the real gateway's alone, and its entries go away
    with it."""
    import gc
    import weakref

    from pyspark import SparkContext

    class Obj:  # hashes by identity and takes weak references, as JavaGateway does
        pass

    key = ("test_per_gateway",)
    real = per_gateway(key, Obj)
    assert per_gateway(key, Obj) is real

    stand_in = Obj()
    monkeypatch.setattr(SparkContext, "_gateway", stand_in)
    other = per_gateway(key, Obj)
    assert other is not real and per_gateway(key, Obj) is other
    monkeypatch.undo()
    assert per_gateway(key, Obj) is real

    gateway_gone, entry_gone = weakref.ref(stand_in), weakref.ref(other)
    del stand_in, other
    gc.collect()
    assert gateway_gone() is None and entry_gone() is None
    assert per_gateway(key, Obj) is real
