"""Host-derived session defaults — pure functions, no Spark session."""

import os

from mysteryann_spark.session import default_driver_memory, usable_cpus


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_host_ram(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"


def test_driver_memory_capped_at_24g_and_floored_at_1g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "24576m"
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "1024m"


def test_driver_memory_falls_back_to_24g_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "24576m"
    junk = tmp_path / "junk"
    junk.write_text("MemFree: 12 kB\n")
    assert default_driver_memory(str(junk)) == "24576m"


def test_usable_cpus_follows_the_affinity_mask(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 32)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5}, raising=False)
    assert usable_cpus() == 3


def test_usable_cpus_falls_back_to_cpu_count(monkeypatch):
    def unreadable(pid):
        raise OSError("no affinity mask")

    monkeypatch.setattr(os, "cpu_count", lambda: 32)
    monkeypatch.setattr(os, "sched_getaffinity", unreadable, raising=False)
    assert usable_cpus() == 32
    monkeypatch.delattr(os, "sched_getaffinity")
    assert usable_cpus() == 32
    monkeypatch.setattr(os, "cpu_count", lambda: None)
    assert usable_cpus() == 4
