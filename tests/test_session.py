"""Driver heap default for local-mode sessions: sized from the host's
physical RAM, overridable by ``$SPARK_DRIVER_MEMORY``. No Spark needed."""

import os

from hbasewd_spark.session import driver_memory


def test_driver_memory_is_a_share_of_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(15 * 2**30) == "9g"
    assert driver_memory(128 * 2**30) == "76g"
    assert driver_memory(int(15.6 * 2**30)) == "9g"  # whole GiB, rounded down
    assert driver_memory(2**30) == "1g"  # 0.6 GiB -> the 1g floor
    assert driver_memory(256 * 2**20) == "1g"
    # no argument: this host's RAM, never more heap than the host has
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    got = driver_memory()
    assert got.endswith("g") and 1 <= int(got[:-1]) <= max(1, phys_gib)


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory(15 * 2**30) == "3g"
    assert driver_memory() == "3g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    assert driver_memory(15 * 2**30) == "9g"  # empty means unset
