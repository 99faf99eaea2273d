"""Session defaults are derived from the machine they start on, not fixed
(no Spark session needed), and the session keeps generated classes across
repeated jobs."""

import os

from bela_spark import session


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:         1000 kB\n")
    return str(p)


def test_driver_memory_is_half_of_mem_total(tmp_path, monkeypatch):
    monkeypatch.delenv("BELA_SPARK_DRIVER_MEM", raising=False)
    # a 15.7 GiB box: half of 16093 MiB, never the old fixed 24g
    assert session.default_driver_memory(_meminfo(tmp_path, 16_479_424)) == "8046m"


def test_driver_memory_is_bounded(tmp_path, monkeypatch):
    monkeypatch.delenv("BELA_SPARK_DRIVER_MEM", raising=False)
    big = session.default_driver_memory(_meminfo(tmp_path, 512 * 1024 * 1024))
    assert big == f"{session.DRIVER_MEM_MAX_MB}m"
    small = session.default_driver_memory(_meminfo(tmp_path, 512 * 1024))
    assert small == f"{session.DRIVER_MEM_MIN_MB}m"
    missing = session.default_driver_memory(str(tmp_path / "absent"))
    assert missing == f"{session.DRIVER_MEM_MIN_MB}m"


def test_driver_memory_env_override_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("BELA_SPARK_DRIVER_MEM", "3g")
    assert session.default_driver_memory(_meminfo(tmp_path, 16_479_424)) == "3g"


def test_cpus_from_machine_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == (os.cpu_count() or 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session.default_cpus() == 6


def test_codegen_cache_holds_a_jobs_classes(spark):
    # the stock 100-entry cache is smaller than one micro-batch's classes
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
