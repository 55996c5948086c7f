"""The driver JVM's class-data-sharing archive (``session.py``): its key,
where ``get_spark`` puts the flag, when it stays out, and how a dump is
published; and the driver heap and shuffle partitions it defaults to.  No Spark session starts here: ``get_spark`` runs against a
recording builder, and the archive checks run the real ``java``."""

from __future__ import annotations

import io
import os
import subprocess
from types import SimpleNamespace

import pytest

from etl_excel_to_hyper_tableau_spark import session

JAVA = session.java_binary()
pytestmark = pytest.mark.skipif(JAVA is None, reason="no java binary")
OPTS = "spark.driver.extraJavaOptions"


class RecordingBuilder:
    """Stands in for ``SparkSession.builder``: keeps the conf and the
    ``SPARK_CONF_DIR`` the JVM would have been launched with."""

    def __init__(self):
        self.conf, self.launch_conf_dir = {}, "unset"

    def appName(self, name):
        return self

    def master(self, master):
        return self.config("master", master)

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.launch_conf_dir = os.environ.get("SPARK_CONF_DIR")
        lang = SimpleNamespace(
            ProcessHandle=SimpleNamespace(current=lambda: SimpleNamespace(pid=lambda: 1)),
            System=SimpleNamespace(getProperty=lambda name: "/cp"))
        return SimpleNamespace(sparkContext=SimpleNamespace(
            setLogLevel=lambda level: None,
            _jvm=SimpleNamespace(java=SimpleNamespace(lang=lang))))


@pytest.fixture
def env(monkeypatch, tmp_path):
    """A fresh cache, a Spark home whose conf dir holds only a template,
    no running gateway, and a recording builder."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "core.jar").write_bytes(b"x" * 10)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    builder = RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    return SimpleNamespace(home=home, builder=builder, tmp=tmp_path)


def _key(env, conf=None) -> str:
    return session.cds_key(JAVA, session.java_version(JAVA), str(env.home), conf or {})


def _dump(tmp_path) -> tuple[bytes, str]:
    """A small real dynamic archive, and the classpath it was dumped on."""
    cp, path = tmp_path / "cp", tmp_path / "real.jsa"
    cp.mkdir()
    subprocess.run([JAVA, f"-XX:ArchiveClassesAtExit={path}", "-Xlog:cds*=off",
                    "-cp", str(cp), "-m", "jdk.jartool/sun.tools.jar.Main", "--version"],
                   capture_output=True, timeout=120)
    if not path.exists():
        pytest.skip("this JDK cannot dump a dynamic archive")
    return path.read_bytes(), str(cp)


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _pending(env, key: str, data: bytes, pid: int, classpath: str) -> str:
    """A dump of ``key`` left by JVM ``pid``, as ``get_spark`` leaves it."""
    directory = session.cds_dir()
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f"{key}.9-test.jsa.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    with open(tmp + ".pid", "w") as f:
        f.write(f"{pid}\n{classpath}")
    return tmp


def test_key_ignores_jvm_flags_and_tracks_jars_and_java(env):
    a = session.cds_key(JAVA, "17.0.1", str(env.home),
                        {OPTS: "-Djava.io.tmpdir=/tmp/a -XX:+UseSerialGC"})
    assert a == session.cds_key(JAVA, "17.0.1", str(env.home),
                                {OPTS: "-Djava.io.tmpdir=/tmp/b", "spark.driver.memory": "2g"})
    assert a != session.cds_key(JAVA, "17.0.2", str(env.home), {})
    assert a != session.cds_key(JAVA, "17.0.1", str(env.home), {"spark.jars": "/x.jar"})
    assert a != session.cds_key(JAVA, "17.0.1", str(env.home),
                                {"spark.driver.extraClassPath": "/x.jar"})
    (env.home / "jars" / "core.jar").write_bytes(b"x" * 11)
    b = session.cds_key(JAVA, "17.0.1", str(env.home), {})
    assert b != a
    (env.home / "jars" / "extra.jar").write_bytes(b"")
    assert session.cds_key(JAVA, "17.0.1", str(env.home), {}) not in (a, b)


def test_flag_is_appended_to_the_callers_java_options(env):
    session.get_spark(master="local[2]", extra_conf={OPTS: "-Dcaller=1 -XX:+UseSerialGC"})
    opts = env.builder.conf[OPTS]
    assert opts.startswith("-Dcaller=1 -XX:+UseSerialGC -XX:ArchiveClassesAtExit=")
    assert "SharedArchiveFile" not in opts
    # the JVM launched with the cache's empty conf dir; the caller's
    # environment is back as it was
    assert env.builder.launch_conf_dir == os.path.join(session.cds_dir(), "conf")
    assert os.listdir(env.builder.launch_conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ


def test_spark_conf_dir_is_restored_after_launch(env, monkeypatch):
    conf_dir = env.tmp / "myconf"
    conf_dir.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    session.get_spark(master="local[2]")
    assert env.builder.launch_conf_dir == os.path.join(session.cds_dir(), "conf")
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)


@pytest.mark.parametrize("case", ["cluster", "gateway", "gateway_port"])
def test_cluster_master_or_running_jvm_is_left_untouched(env, monkeypatch, case):
    master = "spark://head:7077" if case == "cluster" else "local[2]"
    if case == "gateway":
        monkeypatch.setattr(session.SparkContext, "_gateway", object())
    if case == "gateway_port":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    before = dict(os.environ)
    session.get_spark(master=master, extra_conf={OPTS: "-Dcaller=1"})
    assert env.builder.conf[OPTS] == "-Dcaller=1"
    assert env.builder.launch_conf_dir is None
    assert dict(os.environ) == before
    assert not os.path.exists(session.cds_dir())


def test_a_conf_dir_spark_would_read_disables_the_archive(env, monkeypatch):
    (env.home / "conf" / "log4j2.properties").write_text("rootLogger.level = info\n")
    assert session.cds_launch("local[2]", {}) is None
    session.get_spark(master="local[2]")
    assert OPTS not in env.builder.conf
    assert env.builder.launch_conf_dir is None

    (env.home / "conf" / "log4j2.properties").unlink()
    assert session.cds_launch("local[2]", {}) is not None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(env.tmp))
    assert session.cds_launch("local[2]", {}) is None


def test_an_unwritable_cache_means_no_archive(env, monkeypatch):
    blocker = env.tmp / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    session.get_spark(master="local[2]", extra_conf={OPTS: "-Dcaller=1"})
    assert env.builder.conf[OPTS] == "-Dcaller=1"


def test_truncated_dump_of_a_dead_jvm_is_deleted_not_published(env):
    data, classpath = _dump(env.tmp)
    key = _key(env)
    tmp = _pending(env, key, data[:len(data) // 2], _dead_pid(), classpath)
    launch = session.cds_launch("local[2]", {})
    assert not os.path.exists(tmp) and not os.path.exists(tmp + ".pid")
    assert not os.path.exists(os.path.join(session.cds_dir(), key + ".jsa"))
    assert "SharedArchiveFile" not in launch.flag
    assert "-XX:ArchiveClassesAtExit=" in launch.flag


def test_finished_dump_is_published_and_replaces_other_keys(env):
    data, classpath = _dump(env.tmp)
    key = _key(env)
    stale = os.path.join(session.cds_dir(), "0" * 20 + ".jsa")
    tmp = _pending(env, key, data, _dead_pid(), classpath)
    with open(stale, "wb") as f:
        f.write(data)
    launch = session.cds_launch("local[2]", {})
    archive = os.path.join(session.cds_dir(), key + ".jsa")
    assert launch.flag.startswith(f"-XX:SharedArchiveFile={archive} ")
    assert launch.dump is None
    with open(archive, "rb") as f:
        assert f.read() == data
    assert not os.path.exists(tmp) and not os.path.exists(stale)


def test_dump_of_a_running_jvm_is_left_alone(env):
    data, classpath = _dump(env.tmp)
    key = _key(env)
    tmp = _pending(env, key, data, os.getpid(), classpath)
    orphan = os.path.join(session.cds_dir(), f"{key}.8-orphan.jsa.tmp")
    with open(orphan, "wb") as f:
        f.write(data)
    launch = session.cds_launch("local[2]", {})
    assert os.path.exists(tmp) and "-XX:ArchiveClassesAtExit=" in launch.flag
    assert not os.path.exists(os.path.join(session.cds_dir(), key + ".jsa"))
    # a dump no .pid file accounts for is deleted
    assert not os.path.exists(orphan)


def test_driver_heap_is_a_quarter_of_the_usable_memory(monkeypatch):
    v2, v1 = session._CGROUP_LIMITS
    files = {v2: "max\n", v1: str(8 << 30)}

    def fake_open(path, *args, **kwargs):
        if path not in files:
            raise FileNotFoundError(path)
        return io.StringIO(files[path])

    monkeypatch.setattr(session, "open", fake_open, raising=False)
    monkeypatch.setattr(session.os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (16 << 30) // 4096}[name])
    assert session.driver_memory() == "2048m"  # the v1 limit, under physical memory
    files[v1] = str(2 << 30)
    assert session.driver_memory() == "1024m"  # the floor
    files[v2] = str(6 << 30)
    del files[v1]
    assert session.driver_memory() == "1536m"
    files.clear()
    assert session.driver_memory() == "4096m"  # no cgroup: physical memory


def test_local_defaults_follow_the_master_and_yield_to_extra_conf(env):
    session.get_spark(master="local[3]")
    assert env.builder.conf["spark.driver.memory"] == session.driver_memory()
    assert env.builder.conf["spark.sql.shuffle.partitions"] == "3"
    session.get_spark(master="local[3]", extra_conf={
        "spark.driver.memory": "2g", "spark.sql.shuffle.partitions": "8"})
    assert env.builder.conf["spark.driver.memory"] == "2g"
    assert env.builder.conf["spark.sql.shuffle.partitions"] == "8"
