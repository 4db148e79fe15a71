"""Session defaults are sized from the host they run on, and Python
tasks run in workers forked from the engine's daemon."""

from __future__ import annotations

import io
import os
import sys

from implementation_of_an_etl_process_spark import session, worker_daemon


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


def test_python_tasks_run_the_engine_worker_setup(spark):
    """get_spark's workers come from the engine's daemon, so their
    per-task Spark-files setup is worker_daemon's, not PySpark's."""

    def setup_module(batches):
        import pyarrow as pa
        import pyspark.worker

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"m": [pyspark.worker.setup_spark_files.__module__]}
            )

    rows = spark.range(4, numPartitions=4).mapInArrow(setup_module, "m string")
    assert {r.m for r in rows.collect()} == {worker_daemon.__name__}


def _setup_stream(files_dir: str, includes: list[str]) -> io.BytesIO:
    from pyspark.serializers import write_int, write_with_length

    buf = io.BytesIO()
    write_with_length(files_dir.encode(), buf)
    write_int(len(includes), buf)
    for name in includes:
        write_with_length(name.encode(), buf)
    buf.seek(0)
    return buf


def test_worker_setup_flushes_import_caches_only_on_change(monkeypatch, tmp_path):
    """A worker flushes at its first task, then again only when the
    import path or the Spark files (names, mtimes) change."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", SparkFiles._root_directory)
    monkeypatch.setattr(
        SparkFiles, "_is_running_on_worker", SparkFiles._is_running_on_worker
    )
    monkeypatch.setattr(worker_daemon, "_seen", None)
    flushes = []
    monkeypatch.setattr(
        worker_daemon.importlib, "invalidate_caches", lambda: flushes.append(1)
    )

    def task(includes=()) -> int:
        before = len(flushes)
        worker_daemon.setup_spark_files(_setup_stream(str(tmp_path), list(includes)))
        return len(flushes) - before

    assert task() == 1  # first task
    assert sys.path[1] == str(tmp_path)
    assert SparkFiles._root_directory == str(tmp_path)
    assert task() == task() == 0
    mod = tmp_path / "late_mod.py"
    mod.write_text("VALUE = 1\n")
    assert task() == 1  # a new file
    assert task() == 0
    os.utime(mod, ns=(1, 1))
    assert task() == 1  # a rewritten file
    (tmp_path / "dep.zip").write_bytes(b"")
    assert task() == 1
    assert task(["dep.zip"]) == 1  # a new include on sys.path
    assert sys.path[1] == str(tmp_path / "dep.zip")
    assert task(["dep.zip"]) == 0


def test_py_file_added_after_tasks_is_importable(spark, tmp_path):
    """A module shipped with addPyFile after the workers have run tasks
    imports in the next task on every partition."""
    import uuid

    def probe(batches):
        import pyarrow as pa

        for _ in batches:
            yield pa.RecordBatch.from_pydict({"n": [1]})

    for _ in range(3):  # every worker has run a task
        spark.range(8, numPartitions=8).mapInArrow(probe, "n long").collect()
    name = f"late_{uuid.uuid4().hex}"
    (tmp_path / f"{name}.py").write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{name}.py"))

    def late_value(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"v": [value]})

    got = spark.range(8, numPartitions=8).mapInArrow(late_value, "v long").collect()
    assert [r.v for r in got] == [42] * 8
