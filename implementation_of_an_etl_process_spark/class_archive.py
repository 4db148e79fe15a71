"""A class-data-sharing archive for the local driver JVM.

A fresh driver JVM spends most of its start loading and verifying
Spark's classes. The JVM can dump the classes a run loaded into a
dynamic class-data-sharing archive when it exits
(``-XX:ArchiveClassesAtExit``, JDK 13+) and map that image in later
runs (``-XX:SharedArchiveFile``), which skips most of that work: on a
4-core host, session start fell from 7.7-8.3 s to 3.7-4.0 s.
``session.get_spark`` calls :func:`plan` before it launches a local
JVM and :func:`launch` around the launch.

The archive lives in one directory per key under the user cache dir
(``$XDG_CACHE_HOME``, else ``~/.cache``): ``CACHE_DIR/<key>/``. The key
is the ``java`` binary and the listing of Spark's ``jars/`` directory
(names, sizes, mtimes), so a JDK or Spark upgrade starts a new archive.
In a key's directory:

- ``classes.jsa``: the published archive, the only file a JVM maps;
- ``dump-<pid>.jsa``: what the JVM of process ``<pid>``'s session
  dumps when it exits;
- ``dump-<pid>.json``: that writer's JVM pid, ``java`` and class path;
- ``failures``: one byte per dump that failed its proof;
- ``conf/``: an empty directory, the JVM's ``SPARK_CONF_DIR``.

A JVM that maps a truncated archive whose header is intact dies of
SIGBUS (a garbage file or a class-path mismatch only turns sharing
off). So a dump is published, by ``os.replace`` to ``classes.jsa``,
only after its writer has exited and a probe JVM has mapped it with
``-Xshare:on -XX:+VerifySharedSpaces`` (every region's checksum read)
on the writer's class path. Each plan first settles the dumps of
writers that have exited: it publishes or deletes each one. After
``MAX_FAILURES`` deleted dumps a key gets no more dumps.

Spark puts its conf dir first on the class path, and the JVM refuses to
dump, or to map, an archive whose class path holds a non-empty
directory. The conf dir of a stock install holds only ``*.template``
files, which Spark never reads; then the JVM gets the key's empty
``conf/`` instead, and Spark reads exactly what it read before. Any
other file there turns the archive off.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
from dataclasses import dataclass
from typing import Callable

CACHE_DIR = os.path.join("implementation-of-an-etl-process-spark", "jvm-classes")
PUBLISHED = "classes.jsa"
MAX_FAILURES = 2
# without these the dump prints [warning][cds] lines at JVM exit
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
JAVA_OPTIONS = "spark.driver.extraJavaOptions"
_ARCHIVE_FLAG = re.compile(
    r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit|AutoCreateSharedArchive"
)
# environment the JVM reads its options from besides the Spark conf
_JAVA_OPTION_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
# environment Spark's launcher appends to the class path (directories)
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")

# What the launch of this process's driver JVM chose: "used <path>",
# "creating" or "off: <reason>". None until get_spark launched one.
_choice: str | None = None


@dataclass(frozen=True)
class Plan:
    """What one driver JVM launch does about the archive."""

    choice: str
    java_options: str = ""  # appended to the caller's extraJavaOptions
    conf_dir: str | None = None  # SPARK_CONF_DIR while the JVM starts
    writer: str | None = None  # dump path without suffix, when creating


def decision() -> str:
    """The archive choice of this process's driver JVM launch."""
    return _choice or "off: driver JVM not started by get_spark"


def java_binary() -> str | None:
    """The ``java`` Spark's launch scripts run: ``$JAVA_HOME/bin/java``,
    else the one on the ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def key(java: str, jars: str) -> str:
    """Cache key: the java binary and the jars/ listing, each with its
    size and mtime."""
    h = hashlib.sha256()
    for path in [java, *sorted(e.path for e in os.scandir(jars))]:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def plan(master: str, caller_options: str) -> Plan | None:
    """The archive plan for the next driver JVM launch; None when no
    launch will happen because this process's JVM is already up."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:  # noqa: SLF001
        return None
    if not master.startswith("local"):
        return Plan("off: master is not local")
    flags = " ".join([caller_options] + [os.environ.get(v, "") for v in _JAVA_OPTION_ENV])
    if _ARCHIVE_FLAG.search(flags):
        return Plan("off: the caller sets -Xshare or an archive flag")
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell":
        return Plan("off: PYSPARK_SUBMIT_ARGS drives spark-submit")
    for var in _CLASSPATH_ENV:
        if os.environ.get(var):
            return Plan(f"off: {var} adds to the class path")
    try:
        return _plan_local()
    except OSError as e:
        return Plan(f"off: {e}")


def _plan_local() -> Plan:
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf):
        for name in sorted(os.listdir(conf)):
            if not name.endswith(".template"):
                return Plan(f"off: conf file {os.path.join(conf, name)}")
    java = java_binary()
    jars = os.path.join(spark_home, "jars")
    if java is None or not os.path.isdir(jars):
        return Plan("off: no java binary or no Spark jars/ directory")
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    home = os.path.join(cache, CACHE_DIR, key(java, jars))
    try:
        os.makedirs(os.path.join(home, "conf"), exist_ok=True)
        settle(home)
        published = os.path.join(home, PUBLISHED)
        conf_dir = os.path.join(home, "conf")
        if os.path.isfile(published):
            options = f"-XX:SharedArchiveFile={published} {QUIET}"
            return Plan(f"used {published}", options, conf_dir)
        if failures(home) >= MAX_FAILURES:
            return Plan(f"off: {MAX_FAILURES} dumps failed their proof in {home}")
        writer = os.path.join(home, f"dump-{os.getpid()}")
        # the writer is this process until its JVM is up
        _write_record(writer, {"pid": os.getpid()})
    except OSError as e:
        return Plan(f"off: cache not writable ({e})")
    options = f"-XX:ArchiveClassesAtExit={writer}.jsa {QUIET}"
    return Plan("creating", options, conf_dir, writer)


def launch(p: Plan | None, start: Callable):
    """Run ``start`` (which launches the JVM) under the plan's
    ``SPARK_CONF_DIR``, restore the caller's environment, and record
    the decision. A creating launch then records its JVM as the
    dump's writer."""
    global _choice
    saved = os.environ.get("SPARK_CONF_DIR")
    if p is not None and p.conf_dir:
        os.environ["SPARK_CONF_DIR"] = p.conf_dir
    try:
        spark = start()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if p is None:
        return spark
    _choice = p.choice
    if p.writer:
        system = spark._jvm.java.lang.System  # noqa: SLF001
        with contextlib.suppress(OSError):
            _write_record(p.writer, {
                "pid": spark._jvm.java.lang.ProcessHandle.current().pid(),  # noqa: SLF001
                "java": os.path.join(system.getProperty("java.home"), "bin", "java"),
                "classpath": system.getProperty("java.class.path"),
            })
    return spark


def settle(home: str) -> None:
    """Publish or delete the dump of every writer that has exited."""
    published = os.path.join(home, PUBLISHED)
    for record in glob.glob(os.path.join(home, "dump-*.json")):
        try:
            with open(record) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        if _alive(rec.get("pid")):
            continue
        dump = record[: -len(".json")] + ".jsa"
        if not os.path.exists(published):
            if _whole(dump, rec):
                # another settler may have published it meanwhile
                with contextlib.suppress(FileNotFoundError):
                    os.replace(dump, published)
            elif not os.path.exists(published):
                with open(os.path.join(home, "failures"), "ab") as fh:
                    fh.write(b"x")
        for path in (dump, record):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)


def failures(home: str) -> int:
    try:
        return os.path.getsize(os.path.join(home, "failures"))
    except FileNotFoundError:
        return 0


def _whole(dump: str, rec: dict) -> bool:
    """True when a probe JVM maps ``dump`` on the writer's class path
    with every region's checksum verified."""
    if not os.path.isfile(dump) or not {"java", "classpath"} <= rec.keys():
        return False
    cmd = [
        rec["java"], "-Xshare:on", f"-XX:SharedArchiveFile={dump}",
        "-XX:+VerifySharedSpaces", "-XX:-CreateCoredumpOnCrash",
        f"-XX:ErrorFile={os.devnull}", *QUIET.split(),
        "-cp", rec["classpath"], "-version",
    ]
    try:
        done = subprocess.run(
            cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=120, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return done.returncode == 0


def _alive(pid) -> bool:
    if not isinstance(pid, int) or pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:  # a zombie has exited
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return True


def _write_record(writer: str, rec: dict) -> None:
    part = f"{writer}.json.part"
    with open(part, "w") as fh:
        json.dump(rec, fh)
    os.replace(part, f"{writer}.json")
