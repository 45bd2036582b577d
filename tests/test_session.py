"""Session defaults that depend on the host."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import SparkSession

from feathr_spark.session import (CODEGEN_CACHE_ENTRIES, _driver_mem, _jvm_opts,
                                  codegen_counters, get_spark)

_UNIT = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _bytes(size: str) -> int:
    return int(size[:-1]) * _UNIT[size[-1].lower()]


def _mem_total_bytes(path: str = "/proc/meminfo") -> int:
    with open(path) as fh:
        return next(int(line.split()[1]) * 1024 for line in fh
                    if line.startswith("MemTotal:"))


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_default_driver_heap_fits_this_host(monkeypatch):
    monkeypatch.delenv("FEATHR_SPARK_DRIVER_MEM", raising=False)
    heap = _bytes(_driver_mem())
    assert 0 < heap <= _mem_total_bytes()
    monkeypatch.setenv("FEATHR_SPARK_PRETOUCH", "1")
    assert _jvm_opts() == f"-Xms{_driver_mem()} -XX:+AlwaysPreTouch"


@pytest.mark.parametrize("total_kb", [1 << 20, 15_728_640, 64 << 20, 1 << 30])
def test_default_driver_heap_never_exceeds_mem_total(monkeypatch, tmp_path, total_kb):
    monkeypatch.delenv("FEATHR_SPARK_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    heap = _bytes(_driver_mem(str(meminfo)))
    assert 0 < heap <= total_kb * 1024 // 2  # headroom for workers + tmpfs shuffle
    assert heap <= 48 * 2**30


def test_driver_heap_env_override(monkeypatch):
    monkeypatch.setenv("FEATHR_SPARK_DRIVER_MEM", "3g")
    assert _driver_mem() == "3g"


def test_codegen_cache_default_and_override(spark, monkeypatch):
    """The session keeps 1000 generated classes (Spark's default is 100),
    and ``extra_conf`` still wins over the default."""
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES) == "1000"
    built = {}

    def capture(builder):  # the static conf only applies to a first session
        built.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark(cpus=1, extra_conf={key: "50"})
    assert built[key] == "50"


def test_repeated_queries_compile_nothing(spark):
    """150 distinct queries generate ~300 classes, more than Spark's default
    100-entry cache holds: with it, the second pass recompiles them all."""
    def run_all():
        for i in range(150):
            spark.range(10).selectExpr(f"id * {i + 7} + {i} as x").collect()

    run_all()
    before = codegen_counters(spark)[0]
    run_all()
    assert codegen_counters(spark)[0] - before == 0


def _worker_probe(spark, n: int, module: str | None = None):
    """Per task of an ``n``-partition ``mapInPandas``: whether the worker
    has imported the engine, whether its zipimporters carry the directory
    cache, and ``VALUE`` of ``module`` imported in the task."""
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        value = importlib.import_module(module).VALUE if module else -1
        yield pd.DataFrame({"engine": ["feathr_spark.session" in sys.modules],
                            "cached": [fn.__module__ == "feathr_spark.session"],
                            "value": [value]})

    return spark.range(n).repartition(n).mapInPandas(
        probe, "engine boolean, cached boolean, value long").collect()


def test_engine_workers_cache_zip_directories(spark, tmp_path):
    """The SWA cogroup's workers import the engine and so install the zip
    directory cache; the driver keeps CPython's stock ``invalidate_caches``;
    a zip added with ``addPyFile`` mid-session imports in the next task."""
    import uuid
    import zipfile
    import zipimport

    from feathr_spark import SWAFeature, WindowSpec, join_window_agg_features

    fact = spark.createDataFrame([(f"u{i % 4}", 100 * i, float(i)) for i in range(16)],
                                 "k string, ts long, v double")
    obs = spark.createDataFrame([(f"u{i}", 2000) for i in range(4)], "k string, ts long")
    out = join_window_agg_features(obs, fact, ["k"], ["k"], "ts", "ts",
                                   [SWAFeature("s", "SUM", "v", WindowSpec(10**6))],
                                   strategy="cogroup")
    assert sorted(r["s"] for r in out.collect()) == [24.0, 28.0, 32.0, 36.0]
    cores = spark.sparkContext.defaultParallelism
    rows = _worker_probe(spark, cores)
    assert any(r["cached"] for r in rows), rows
    assert all(r["cached"] == r["engine"] for r in rows), rows
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

    module = f"zdc_added_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(str(path))
    rows = _worker_probe(spark, cores, module)
    assert all(r["value"] == 7 for r in rows), rows
    assert any(r["cached"] for r in rows), rows
