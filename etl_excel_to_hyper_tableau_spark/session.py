"""SparkSession bootstrap tuned for both local testing and cluster scale.

The knobs below are the scale-relevant defaults (SURVEY.md §4.2): AQE on
(runtime join re-planning + skew splitting), Arrow on (every
pandas/toPandas boundary is a columnar batch, never row-wise), shuffle
partitions sized to the local core count rather than the 200 default,
and a ``local`` driver heap sized to the memory the process may use.
On a real cluster the caller overrides ``spark.sql.shuffle.partitions``
to ~2-3x total cores through ``get_spark(extra_conf=...)``.

Cold start.  A one-shot batch run pays the driver JVM's start-up, most of
it loading and verifying Spark's classes.  For ``local`` masters the
session keeps one dynamic class-data-sharing archive (JDK 13+ AppCDS,
JEP 350) of the classes Spark loaded, in
``$XDG_CACHE_HOME/etl_excel_to_hyper_tableau_spark/cds/`` (default
``~/.cache``), and maps it into every later driver JVM.  There is one
archive, 140–175 MB, for the current Java binary and version, pyspark
version, ``$SPARK_HOME/jars`` listing and classpath confs; publishing a
new one deletes the others.  The first session without an archive starts
a few seconds slower and dumps one when its JVM exits, which takes
several seconds more; a later ``get_spark`` checks that dump and
publishes it.  Only a conf dir with nothing but ``*.template`` files
allows an archive (see ``get_spark``).  Clear the cache with
``rm -rf ~/.cache/etl_excel_to_hyper_tableau_spark``.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable, NamedTuple

from pyspark import SparkContext, __version__ as _PYSPARK_VERSION
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

_DEFAULTS = {
    # AQE: coalesce small shuffle partitions, split skewed ones, re-plan
    # sort-merge joins into broadcast joins at runtime when a side turns
    # out small.  Free wins at 100 TB where skewed keys are the norm.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for every Python<->JVM pandas interchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic session timezone: testdata timestamps are naive UTC.
    "spark.sql.session.timeZone": "UTC",
    # Non-ANSI for SQLite-affinity parity (SURVEY §7.4-2): loose string/
    # numeric comparisons cast instead of erroring.
    "spark.sql.ansi.enabled": "false",
    # 128 MB input split target — at 100 TB this yields ~800k tasks, the
    # right granularity for dynamic allocation; local runs never notice.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
}

_JAVA_OPTS = "spark.driver.extraJavaOptions"
_CGROUP_LIMITS = ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes")
# Environment variables whose directories the launcher puts on the driver
# classpath besides the conf dir and $SPARK_HOME/jars.
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
# The JVM logs CDS warnings to stdout: hundreds of "Skipping ...: Signed
# JAR" lines when it dumps at exit, after the Python process printed its
# last line.
_QUIET = "-Xlog:cds*=off"


def get_spark(app_name: str = "etl_excel_to_hyper_tableau_spark",
              master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured; on a real deployment the master
    comes from spark-submit and this argument stays ``None``.
    A ``local`` master gets :func:`driver_memory` as its driver heap;
    ``extra_conf`` overrides it and every other default.

    When this call starts a new ``local`` driver JVM, it appends a class-
    data-sharing flag to ``spark.driver.extraJavaOptions`` (after
    ``extra_conf``, never in its place): ``-XX:SharedArchiveFile`` when
    the cached archive (see the module docstring) exists, else
    ``-XX:ArchiveClassesAtExit`` to a temp file in the cache.  The archive
    records the launch classpath, which holds the Spark conf dir, and the
    JVM refuses to dump a non-empty directory; so the archive is used only
    while the effective conf dir (``$SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files and no
    other classpath directory is set, and ``SPARK_CONF_DIR`` points at an
    empty directory in the cache only while the JVM launches.  Cluster
    masters, a JVM that already runs (``spark-submit``, or a stopped
    session's gateway) and an unwritable cache get no flag.  The archive
    (140–175 MB) is cleared with
    ``rm -rf ~/.cache/etl_excel_to_hyper_tableau_spark``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    cpus_str = master[master.find("[") + 1:master.find("]")] if "[" in master else "32"
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = "32" if cpus_str == "*" else str(int(cpus_str or 32))
    if master.startswith("local"):
        # In local mode every executor thread shares the driver JVM, whose
        # default 1g heap starves 32 threads (~30 MB each) long before the
        # box does — sf1 shuffles OOM at the default.
        conf["spark.driver.memory"] = driver_memory()
    if extra_conf:
        conf.update(extra_conf)
    cds = cds_launch(master, conf)
    if cds is not None:
        conf[_JAVA_OPTS] = f"{conf.get(_JAVA_OPTS, '')} {cds.flag}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    with launch_env(cds):
        spark = builder.getOrCreate()
    if cds is not None and cds.dump is not None:
        record_writer(spark, cds.dump)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_memory() -> str:
    """A quarter of the smaller of physical memory and the limit of the
    cgroup mounted at ``/sys/fs/cgroup`` (v2 or v1), at least ``1g``: a
    larger heap lets side-by-side local JVMs outgrow the host."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for limit in _CGROUP_LIMITS:
        with contextlib.suppress(OSError, ValueError), open(limit) as f:
            total = min(total, int(f.read()))  # "max" (no limit) is skipped
    return f"{max(1024, total // 4 >> 20)}m"


def run_concurrently(spark: SparkSession, fn: Callable, items: Iterable) -> list:
    """``[fn(item) for item in items]``, run on driver threads.

    Meant for independent Spark actions whose cost is mostly driver-side
    per-job overhead (analysis, planning, scheduling, result transfer):
    run one after another they leave the task slots idle.  One worker
    per item, at most one per CPU this process may run on.  Each call
    starts with the caller's local properties as they are now (job
    group, description, scheduler pool) and ``spark``'s job tags
    (``inheritable_thread_target``), so every job a worker starts is
    labelled like the caller's own.

    Returns the results in input order.  Every item runs to the end
    before this returns or raises; then the first failure in input
    order is raised.  No worker thread outlives the call.
    """
    items = list(items)
    if not items:
        return []
    target = inheritable_thread_target(spark)(fn)
    with ThreadPoolExecutor(max_workers=min(len(items), len(os.sched_getaffinity(0)))) as pool:
        futures = [pool.submit(target, item) for item in items]
    return [f.result() for f in futures]


# -- class-data-sharing archive ------------------------------------------------

def cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "etl_excel_to_hyper_tableau_spark", "cds")


def java_binary() -> str | None:
    """The ``java`` that ``bin/spark-class`` runs."""
    java_home = os.environ.get("JAVA_HOME")
    return os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")


def java_version(java: str) -> str:
    return subprocess.run([java, "-version"], capture_output=True, text=True,
                          timeout=60, check=True).stderr


def cds_key(java: str, version: str, spark_home: str, conf: dict) -> str:
    """What the archive depends on: the Java binary and version, pyspark's
    version and the classpath (the jar listing and the classpath confs).
    JVM flags are left out, so a per-run ``-Djava.io.tmpdir`` or another
    GC still maps the same archive."""
    jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns)
                  for e in os.scandir(os.path.join(spark_home, "jars")))
    parts = (os.path.realpath(java), version, _PYSPARK_VERSION, repr(jars),
             conf.get("spark.jars", ""), conf.get("spark.driver.extraClassPath", ""))
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:20]


def conf_dir_is_empty(spark_home: str) -> bool:
    """True when the conf dir Spark would read holds only ``*.template``
    files (or does not exist) and no other classpath directory is set."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return False
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def archive_loads(java: str, path: str, classpath: str) -> bool:
    """Whether ``java`` starts on ``classpath`` (the writer's) with
    ``path`` mapped and every region's checksum verified.  A truncated
    dump kills that JVM (its crash report goes next to the dump, not into
    the working directory); a corrupt one fails the checksum."""
    try:
        proc = subprocess.run(
            [java, "-Xshare:on", "-XX:+VerifySharedSpaces", f"-XX:SharedArchiveFile={path}",
             f"-XX:ErrorFile={path}.err", "-cp", classpath, "-version"],
            capture_output=True, timeout=120)
    finally:
        _remove(path + ".err")
    return proc.returncode == 0


def publish_dumps(directory: str, java: str, key: str) -> None:
    """Publish the first finished dump of ``key`` as ``<key>.jsa`` and
    delete every other dump whose writer is gone.

    A dump ``<key>.<token>.jsa.tmp`` is finished once the JVM whose pid
    its ``.pid`` file names has exited; only then, and only if
    ``archive_loads`` accepts it on the classpath that file records, is
    it renamed into place.  Publishing deletes the other keys' archives."""
    archive = os.path.join(directory, key + ".jsa")
    for marker in glob.glob(os.path.join(directory, "*.jsa.tmp.pid")):
        try:
            with open(marker) as f:
                pid, _, classpath = f.read().partition("\n")
            pid = int(pid)
        except (OSError, ValueError):
            pid, classpath = 0, ""
        if pid and _alive(pid):
            continue
        tmp = marker[:-len(".pid")]
        if (os.path.basename(tmp).startswith(key + ".") and classpath
                and os.path.exists(tmp) and not os.path.exists(archive)
                and archive_loads(java, tmp, classpath)):
            os.replace(tmp, archive)
            for old in glob.glob(os.path.join(directory, "*.jsa")):
                if old != archive:
                    _remove(old)
        _remove(tmp)
        _remove(marker)
    # a dump with no .pid file lost its writer's record: its state is unknown
    for tmp in glob.glob(os.path.join(directory, "*.jsa.tmp")):
        if not os.path.exists(tmp + ".pid"):
            _remove(tmp)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


class CdsLaunch(NamedTuple):
    """The class-data-sharing flag for one driver-JVM launch, the conf dir
    to launch it with and, when it dumps, the dump's path."""
    flag: str
    conf_dir: str
    dump: str | None = None


@contextlib.contextmanager
def launch_env(cds: CdsLaunch | None):
    """Point ``SPARK_CONF_DIR`` at ``cds``'s empty conf dir for the
    ``with`` block (the JVM launch), then restore it."""
    old = os.environ.get("SPARK_CONF_DIR")
    if cds is not None:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def record_writer(spark, dump: str) -> None:
    """Record the JVM that writes ``dump`` when it exits, and its
    classpath, which the archive must be checked against."""
    lang = spark.sparkContext._jvm.java.lang
    try:
        with open(dump + ".pid", "w") as f:
            f.write(f"{lang.ProcessHandle.current().pid()}\n"
                    f"{lang.System.getProperty('java.class.path')}")
    except OSError:
        pass


def cds_launch(master: str, conf: dict) -> CdsLaunch | None:
    """The class-data-sharing flag for a new ``local`` driver JVM, or None
    (cluster master, a JVM already running, conf on the classpath, no
    ``java``, or an unwritable cache)."""
    if (not master.startswith("local") or SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ):
        return None
    try:
        spark_home = _find_spark_home()
        java = java_binary()
        if java is None or not conf_dir_is_empty(spark_home):
            return None
        directory = cds_dir()
        conf_dir = os.path.join(directory, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        key = cds_key(java, java_version(java), spark_home, conf)
        publish_dumps(directory, java, key)
        archive = os.path.join(directory, key + ".jsa")
        if os.path.exists(archive):
            return CdsLaunch(f"-XX:SharedArchiveFile={archive} {_QUIET}", conf_dir)
        dump = os.path.join(directory, f"{key}.{os.getpid()}-{uuid.uuid4().hex[:8]}.jsa.tmp")
        with open(dump + ".pid", "w") as f:  # this process, until the JVM's pid is known
            f.write(str(os.getpid()))
        return CdsLaunch(f"-XX:ArchiveClassesAtExit={dump} {_QUIET}", conf_dir, dump)
    except (OSError, subprocess.SubprocessError):
        return None
