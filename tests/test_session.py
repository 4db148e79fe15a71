"""Session defaults are sized from the host they run on."""

from __future__ import annotations

import os

from implementation_of_an_etl_process_spark import session


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_default_heap_stays_under_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session.default_driver_memory()
    assert heap.endswith("m"), heap
    heap_bytes = int(heap[:-1]) << 20
    assert 0 < heap_bytes < session.host_memory_bytes() <= _mem_total_bytes()
    assert heap_bytes <= session.HEAP_CAP_MB << 20
    # the explicit override still wins
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.default_driver_memory() == "3g"


def test_heap_follows_cgroup_limit(monkeypatch, tmp_path):
    limit = tmp_path / "memory.max"
    limit.write_text(f"{2 << 30}\n")
    unlimited = tmp_path / "memory.limit_in_bytes"
    unlimited.write_text("max\n")
    monkeypatch.setattr(
        session, "_CGROUP_MEMORY_LIMITS", (str(limit), str(unlimited))
    )
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.host_memory_bytes() == 2 << 30
    assert session.default_driver_memory() == f"{int(2048 * session.HEAP_SHARE)}m"


def test_default_cpus_follow_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3
