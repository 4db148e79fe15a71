"""The driver JVM's class-data-sharing archive: when a launch uses,
creates or skips it, and the publish protocol that keeps a partial dump
from ever being mapped. These run in this process against a stand-in
Spark home; only the publish proof starts small JVMs."""

from __future__ import annotations

import os
import subprocess
from types import SimpleNamespace

import pytest
from pyspark import SparkContext

from implementation_of_an_etl_process_spark import class_archive as CA
from implementation_of_an_etl_process_spark import session


@pytest.fixture
def fresh_launch(monkeypatch, tmp_path):
    """No driver JVM yet, a Spark home whose conf dir holds only
    templates, a stand-in java binary and an empty user cache."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(CA, "_choice", None)
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS",
                "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS",
                "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (home / "jars").mkdir()
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (tmp_path / "jdk" / "bin").mkdir(parents=True)
    (tmp_path / "jdk" / "bin" / "java").write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return home


def _fake_session(pid=123):
    """What ``launch`` reads from a session it started."""
    props = {"java.home": "/jdk", "java.class.path": "/conf/:/jars/a.jar"}
    lang = SimpleNamespace(
        System=SimpleNamespace(getProperty=props.get),
        ProcessHandle=SimpleNamespace(
            current=lambda: SimpleNamespace(pid=lambda: pid)
        ),
    )
    return SimpleNamespace(_jvm=SimpleNamespace(java=SimpleNamespace(lang=lang)))


def test_key_follows_jar_size_and_mtime(tmp_path):
    java = tmp_path / "java"
    java.write_bytes(b"java")
    jars = tmp_path / "jars"
    jars.mkdir()
    jar = jars / "a.jar"
    jar.write_bytes(b"1234")
    st = jar.stat()
    before = CA.key(str(java), str(jars))
    assert CA.key(str(java), str(jars)) == before
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert CA.key(str(java), str(jars)) != before
    jar.write_bytes(b"12345")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert CA.key(str(java), str(jars)) != before
    jar.write_bytes(b"1234")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert CA.key(str(java), str(jars)) == before


def test_conf_file_turns_archive_off_and_leaves_conf_dir(fresh_launch, monkeypatch):
    conf = fresh_launch / "conf"
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    p = CA.plan("local[2]", "-Dcaller=1")
    assert p.choice == f"off: conf file {conf / 'spark-defaults.conf'}"
    assert p.java_options == ""
    seen = []
    CA.launch(p, lambda: seen.append(os.environ.get("SPARK_CONF_DIR")))
    assert seen == [str(conf)]
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert CA.decision() == p.choice


@pytest.mark.parametrize("caller_conf_dir", [None, "templates"])
def test_environment_restored_after_launch(fresh_launch, monkeypatch, caller_conf_dir):
    if caller_conf_dir:
        monkeypatch.setenv("SPARK_CONF_DIR", str(fresh_launch / "conf"))
    before = os.environ.get("SPARK_CONF_DIR")
    p = CA.plan("local[2]", "")
    assert p.choice == "creating"
    assert os.listdir(p.conf_dir) == []
    seen = []

    def start():
        seen.append(os.environ.get("SPARK_CONF_DIR"))
        return _fake_session(pid=4321)

    CA.launch(p, start)
    assert seen == [p.conf_dir]
    assert os.environ.get("SPARK_CONF_DIR") == before
    assert CA.decision() == "creating"
    # the record names the JVM, its java and its class path
    with open(p.writer + ".json") as fh:
        assert '"pid": 4321' in fh.read()

    def fail():
        raise RuntimeError("JVM did not start")

    with pytest.raises(RuntimeError):
        CA.launch(CA.plan("local[2]", ""), fail)
    assert os.environ.get("SPARK_CONF_DIR") == before


def test_get_spark_keeps_the_callers_java_options(fresh_launch, monkeypatch):
    built = {}

    def launch(p, start):
        built.update(start.__self__._options)  # the builder's conf
        built["choice"] = p.choice
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(CA, "launch", launch)
    session.get_spark(
        "t", master="local[2]",
        extra_conf={CA.JAVA_OPTIONS: "-Dcaller=1 -Xss4m"},
    )
    assert built["choice"] == "creating"
    options = built[CA.JAVA_OPTIONS]
    assert options.startswith("-Dcaller=1 -Xss4m -XX:ArchiveClassesAtExit=")
    assert options.endswith(CA.QUIET)


@pytest.mark.parametrize(
    "master, caller, env, reason",
    [
        ("spark://host:7077", "", {}, "off: master is not local"),
        ("local[2]", "-Xshare:off", {},
         "off: the caller sets -Xshare or an archive flag"),
        ("local[2]", "", {"JAVA_TOOL_OPTIONS": "-XX:SharedArchiveFile=/a.jsa"},
         "off: the caller sets -Xshare or an archive flag"),
        ("local[2]", "", {"HADOOP_CONF_DIR": "/etc/hadoop"},
         "off: HADOOP_CONF_DIR adds to the class path"),
    ],
)
def test_off_gates_add_nothing(fresh_launch, monkeypatch, master, caller, env, reason):
    for var, value in env.items():
        monkeypatch.setenv(var, value)
    p = CA.plan(master, caller)
    assert p.choice == reason
    assert p.java_options == ""
    assert p.conf_dir is None


def test_unwritable_cache_turns_archive_off(fresh_launch, monkeypatch, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    p = CA.plan("local[2]", "")
    assert p.choice.startswith("off: cache not writable")
    assert p.java_options == ""


def _record(home, name, pid, java="java", classpath=None):
    rec = {"pid": pid, "java": java}
    if classpath is not None:
        rec["classpath"] = classpath
    CA._write_record(str(home / name), rec)  # noqa: SLF001


def _dead_pid():
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_dump_of_a_live_writer_is_not_published(tmp_path):
    (tmp_path / "dump-7.jsa").write_bytes(b"still being written")
    _record(tmp_path, "dump-7", os.getpid(), classpath="")
    CA.settle(str(tmp_path))
    assert not (tmp_path / CA.PUBLISHED).exists()
    assert (tmp_path / "dump-7.jsa").exists()
    assert (tmp_path / "dump-7.json").exists()


def test_truncated_dump_of_a_dead_writer_is_deleted_never_published(tmp_path):
    """A real archive cut in half keeps its header; a JVM that mapped it
    would die of SIGBUS. The proof rejects it and deletes it; the whole
    archive passes and is published."""
    java = CA.java_binary()
    if java is None:
        pytest.skip("no java binary")
    classpath = tmp_path / "classes"
    classpath.mkdir()
    whole = tmp_path / "whole.jsa"
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={whole}", *CA.QUIET.split(),
         "-cp", str(classpath), "-version"],
        check=True, capture_output=True, timeout=120,
    )
    data = whole.read_bytes()
    home = tmp_path / "key"
    home.mkdir()
    for n in (1, 2):
        (home / f"dump-{n}.jsa").write_bytes(data[: len(data) // 2])
        _record(home, f"dump-{n}", _dead_pid(), java, str(classpath))
        CA.settle(str(home))
        assert not (home / CA.PUBLISHED).exists()
        assert sorted(os.listdir(home)) == ["failures"]
        assert CA.failures(str(home)) == n

    (home / "dump-3.jsa").write_bytes(data)
    _record(home, "dump-3", _dead_pid(), java, str(classpath))
    CA.settle(str(home))
    assert (home / CA.PUBLISHED).read_bytes() == data
    assert sorted(os.listdir(home)) == [CA.PUBLISHED, "failures"]


def test_failed_dumps_stop_after_one_retry(fresh_launch):
    first = CA.plan("local[2]", "")
    assert first.choice == "creating"
    home = os.path.dirname(first.writer)
    with open(os.path.join(home, "failures"), "wb") as fh:
        fh.write(b"x" * CA.MAX_FAILURES)
    os.remove(first.writer + ".json")
    assert CA.plan("local[2]", "").choice.startswith(
        f"off: {CA.MAX_FAILURES} dumps failed their proof"
    )
