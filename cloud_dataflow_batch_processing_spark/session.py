"""SparkSession factory with scale-oriented defaults.

The reference engine's DirectRunner executes bundles on a daemon thread
pool in one process (reference: beam/runners/direct/executor.py:39-110).
Spark's equivalent deployment knob is the master URL; everything else
here is configuration we want identical between tests, bench, and a real
cluster submit:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  replaces Beam's dynamic work rebalancing (beam/io/iobase.py:206-576).
- ``spark.sql.shuffle.partitions`` sized to cores for local runs; on a
  real cluster this should be ~2-3x total cores (AQE coalesces down).
- UTC session timezone so event-time semantics are stable across
  environments (and match the DuckDB oracle).
- Arrow enabled for the pandas-UDF exchange paths.

Cold start. The reference job is a one-shot submission, so every run
pays a fresh driver JVM, and loading Spark's classes is most of that
JVM's start-up. When ``get_spark`` launches a new JVM it starts it from
a JDK class-data-sharing (AppCDS) archive of the classes an earlier
launch loaded: ``$XDG_CACHE_HOME/spark-graft/cds/driver.jsa``
(``~/.cache`` when the variable is unset). The archive has no key: the
JVM itself refuses an archive whose JDK build, classpath or jars
(size, mtime) differ from its own, and such a launch reports
``off:mismatch`` and deletes it. With no archive, the launch's JVM
lists the classes it loads in ``driver.<pid>.classlist``, which adds
~0.3 s to its start-up. Once that JVM has exited (at the process's next
launch, or in an ``atexit`` hook that waits for it), a JVM with the
same options and classpath dumps the listed classes to
``driver.<pid>.tmp`` (35-45 s of one core on a 4-CPU box), and the file
is renamed into place. CDS refuses a classpath that holds a non-empty
directory, so the launch points ``SPARK_CONF_DIR`` at an empty
directory, and only when the caller adds nothing to the classpath and
``$SPARK_HOME/conf`` holds only ``*.template`` files. The JVM also
refuses the archive when compressed pointers or the GC differ from the
dumping JVM's, so a caller's heap, GC or pointer flags, a driver heap
over 31 GiB, or java options in ``PYSPARK_SUBMIT_ARGS`` keep CDS off
too. Then, and when the caller passes its own ``-Xshare`` or archive
flag, the JVM starts exactly as without the archive. ``cds_state``
reports which happened.

Python workers. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``
first on every Python worker's ``PYTHONPATH`` and starts each task with
``importlib.invalidate_caches()``, which on CPython 3.10-3.12 re-reads
the zip's directory (1,328 entries) once for each of its 14-16
importers: 75-190 ms per task. So on a local master, where the workers
run where this package's path exists, ``get_spark`` sets
``spark.python.daemon.module`` to ``worker_daemon``, which re-reads a
zip only when it changed, and appends the package's parent directory to
the workers' ``PYTHONPATH`` (after the caller's
``spark.executorEnv.PYTHONPATH``), so package UDFs import whatever the
driver's working directory. A caller's own daemon module wins; other
masters keep Spark's daemon. CPython 3.13 reads zip directories lazily.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import subprocess
import sys
import threading
from contextlib import contextmanager
from dataclasses import dataclass, replace

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Environment the Spark launcher puts on the driver classpath. A live
# directory breaks CDS, and a changed classpath invalidates the archive.
_CLASSPATH_ENV = (
    "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
)
# Environment that adds options to the driver JVM.
_JVM_OPTIONS_ENV = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
# JVM flags by which a caller chooses its own class-data sharing.
_CALLER_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "DumpLoadedClassList",
                     "SharedClassListFile")
# JVM flags that change the GC or the compressed-pointer mode, which the
# archive records.
_JVM_SHAPE_FLAGS = re.compile(r"-XX:[+-]?Use\w*(GC|Compressed\w*)\b|ObjectAlignmentInBytes|MaxHeapSize")
# spark-submit arguments that pyspark places after the builder's conf,
# so they override the launch's java options or classpath.
_SUBMIT_JVM_ARGS = (
    "--driver-java-options", "spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions",
    "--driver-memory", "spark.driver.memory", "--properties-file",
)
_SUBMIT_CLASSPATH_ARGS = ("--driver-class-path", "spark.driver.extraClassPath")
# Compressed oops go off just under a 32 GiB heap.
_COMPRESSED_OOPS_MAX_MIB = 31 * 1024
_ARCHIVE = "driver.jsa"
# Dumping the archive takes 35-45 s of one core on a 4-CPU box.
_DUMP_WAIT_S = 300

# Python workers on a local master run this daemon; the package's parent
# directory goes on their PYTHONPATH.
_WORKER_DAEMON = "cloud_dataflow_batch_processing_spark.worker_daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_launch_lock = threading.Lock()
_launched: tuple[object, ColdStart] | None = None  # (gateway, how it started) of the JVM get_spark launched
_dumps: list[tuple[subprocess.Popen, list[str], ColdStart]] = []  # (JVM, dump command, plan) not yet run


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def cds_cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft", "cds")


@dataclass(frozen=True)
class ColdStart:
    """How ``get_spark`` launches a new driver JVM. ``state`` is
    ``mapped`` (start from ``archive``), ``dumping`` (list the classes
    it loads in ``class_list``, dumped to ``dump_to`` after the JVM
    exits) or ``off:<reason>``; ``java_options`` replaces the
    caller's ``spark.driver.extraJavaOptions`` (the caller's value with
    the CDS flags appended) and ``conf_dir`` is the launch's
    ``SPARK_CONF_DIR``."""

    state: str
    java_options: str | None = None
    conf_dir: str | None = None
    archive: str | None = None
    dump_to: str | None = None
    class_list: str | None = None


def plan_cold_start(conf: dict[str, str], spark_home: str, java_home: str | None) -> ColdStart:
    """Plan the launch of a new driver JVM for the caller's ``conf``
    (the builder's, ``spark.driver.memory`` included)."""
    caller_options = conf.get("spark.driver.extraJavaOptions", "")
    jvm_options = " ".join(
        [caller_options, conf.get("spark.driver.defaultJavaOptions", "")]
        + [os.environ.get(v, "") for v in _JVM_OPTIONS_ENV]
    )
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if any(f in jvm_options or f in submit_args for f in _CALLER_CDS_FLAGS):
        return ColdStart("off:caller-xshare")
    if (
        any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or conf.get("spark.driver.extraClassPath")
        or any(a in submit_args for a in _SUBMIT_CLASSPATH_ARGS)
        or any(not name.endswith(".template") for name in _listdir(os.path.join(spark_home, "conf")))
    ):
        return ColdStart("off:conf-dir")
    if (
        _JVM_SHAPE_FLAGS.search(jvm_options)
        or any(a in submit_args for a in _SUBMIT_JVM_ARGS)
        or _mib(conf.get("spark.driver.memory", "1g")) > _COMPRESSED_OOPS_MAX_MIB
    ):
        return ColdStart("off:caller-jvm")
    release = _read(os.path.join(java_home, "release")) if java_home else None
    version = re.search(rb'^JAVA_VERSION="(\d+)', release or b"", re.M)
    if version is None or int(version.group(1)) < 17:
        return ColdStart("off:jdk")
    cache = cds_cache_dir()
    conf_dir = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
    except OSError:
        return ColdStart("off:cache-unwritable")
    if not os.access(cache, os.W_OK | os.X_OK):
        return ColdStart("off:cache-unwritable")
    archive = os.path.join(cache, _ARCHIVE)
    if os.path.isfile(archive):
        # CDS logs to stdout, whose last line is the CLI's and the
        # benchmark's result.
        flags = f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off -Xlog:cds*=warning:stderr"
        return ColdStart("mapped", f"{caller_options} {flags}".strip(), conf_dir, archive)
    _remove_dead_dumps(cache)
    writer = os.path.join(cache, f"driver.{os.getpid()}")
    # Only list the classes: dumping from this JVM at its exit
    # (-XX:ArchiveClassesAtExit) slows its start-up by ~2.5-4.5 s and its
    # jobs by ~5 %; writing a class list adds ~0.3 s to the start-up.
    return ColdStart(
        "dumping",
        f"{caller_options} -XX:DumpLoadedClassList={writer}.classlist".strip(),
        conf_dir,
        archive,
        f"{writer}.tmp",
        f"{writer}.classlist",
    )


def install_archive(tmp: str, archive: str) -> None:
    """Move a finished dump into place. ``os.replace`` is atomic, so a
    racing install or a concurrent launch sees no archive or a whole
    one."""
    try:
        os.replace(tmp, archive)
    except FileNotFoundError:
        print(f"class-data-sharing archive {tmp} was not written; the next launch dumps again",
              file=sys.stderr)


def cds_state(spark: SparkSession) -> str:
    """How this session's driver JVM started: ``mapped`` from the
    class-data-sharing archive, ``dumping`` it at exit, or
    ``off:<reason>`` (``external`` when ``get_spark`` did not launch
    the JVM)."""
    if _launched is not None and _launched[0] is spark.sparkContext._gateway:
        return _launched[1].state
    return "off:external"


def use_shared_spaces(spark: SparkSession) -> bool:
    """The JVM's ``UseSharedSpaces`` flag: true when any CDS archive,
    the JDK's own base archive included, is mapped."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption("UseSharedSpaces").getValue() == "true"


def _mib(size: str) -> float:
    """A Spark memory size (``8g``, ``512m``, bare MiB) in MiB."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", size.strip().lower())
    if m is None:
        return float("inf")
    return int(m.group(1)) * 1024.0 ** ("kmgtp".index(m.group(2) or "m") - 1)


def _remove_dead_dumps(cache: str) -> None:
    """Remove the ``driver.<pid>.*`` files of writers that died."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) == 3 and parts[0] == "driver" and parts[1].isdigit() and not _alive(int(parts[1])):
            _remove(os.path.join(cache, name))


def _archive_mapped(spark: SparkSession, archive: str) -> bool:
    """Whether the JVM mapped ``archive``: it is among the JVM's file
    mappings. Without ``/proc``, fall back to ``UseSharedSpaces``, which
    the JDK's base archive alone also sets."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as fh:
            return os.path.realpath(archive) in fh.read()
    except OSError:
        return use_shared_spaces(spark)


@atexit.register
def _finish_dumps() -> None:
    """Dump and install the archives of this process's dumping JVMs.
    A JVM completes its class list as it exits, so end each one still
    running (EOF on its stdin, which it takes as its Python driver
    exiting) and wait; then a JVM of the same shape dumps the listed
    classes."""
    while _dumps:
        proc, command, launch = _dumps.pop()
        if proc.poll() is None:
            if getattr(SparkContext._gateway, "proc", None) is proc:
                SparkContext._gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                continue  # a later dump removes the orphaned files
        if proc.returncode == 0:
            print(f"writing class-data-sharing archive {launch.archive}", file=sys.stderr)
            try:
                dumped = subprocess.run(command, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                                        stderr=subprocess.DEVNULL, timeout=_DUMP_WAIT_S).returncode == 0
            except subprocess.TimeoutExpired:
                dumped = False
            if dumped:
                install_archive(launch.dump_to, launch.archive)
            else:
                print("class-data-sharing dump failed; the next launch dumps again", file=sys.stderr)
        _remove(launch.dump_to)
        _remove(launch.class_list)


def _record_launch(spark: SparkSession, launch: ColdStart) -> None:
    global _launched
    if launch.state == "mapped" and not _archive_mapped(spark, launch.archive):
        launch = replace(launch, state="off:mismatch")
        _remove(launch.archive)  # so the next launch dumps a fresh one
    elif launch.state == "dumping":
        _dumps.append((spark.sparkContext._gateway.proc, _dump_command(spark, launch), launch))
    _launched = (spark.sparkContext._gateway, launch)


def _dump_command(spark: SparkSession, launch: ColdStart) -> list[str]:
    """The command that dumps ``launch.class_list`` into an archive this
    JVM's launches can map: the same ``java``, options (heap, GC and
    module flags) and classpath."""
    jvm = spark.sparkContext._jvm
    options = [
        o for o in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        if not o.startswith("-XX:DumpLoadedClassList=")
    ]
    return [
        os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
        *options,
        "-Xshare:dump",
        f"-XX:SharedClassListFile={launch.class_list}",
        f"-XX:SharedArchiveFile={launch.dump_to}",
        "-cp",
        jvm.System.getProperty("java.class.path"),
    ]


@contextmanager
def _spark_conf_dir(path: str | None):
    """Set ``SPARK_CONF_DIR`` (unset by the caller) for one launch."""
    if path is None:
        yield
        return
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        del os.environ["SPARK_CONF_DIR"]


def _java_home() -> str | None:
    """The JDK the Spark launcher runs: ``$JAVA_HOME``, else ``java`` on
    the PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return None


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def worker_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The Python-worker conf ``get_spark`` sets on a local master: the
    daemon module (the caller's, if it passes one) and the workers'
    ``PYTHONPATH``, the caller's value with the package's parent
    directory appended. Other masters get none."""
    if master != "local" and not master.startswith("local["):
        return {}
    paths = [extra_conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_PARENT]
    return {
        "spark.python.daemon.module": extra_conf.get("spark.python.daemon.module", _WORKER_DAEMON),
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(filter(None, paths)),
    }


def get_spark(
    app_name: str = "cloud-dataflow-batch-processing-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master=None`` → ``local[$SPARK_GRAFT_CPUS]`` (the driver's bench
    environment); on a cluster, pass the real master or rely on
    spark-submit.
    """
    cpus = default_parallelism()
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # Library citizenship: if a session already exists (a host
    # application, spark-submit, or a test harness owns it), do NOT
    # silently rewrite its conf with OUR defaults — builder.config on
    # an existing session mutates shared runtime SQL conf (measured:
    # cli.run() inside the local[8]/8-shuffle test session reset
    # spark.sql.shuffle.partitions to 32 for every later test,
    # shifting downstream partial-aggregate work profiles). Only
    # settings the caller EXPLICITLY asked for are applied.
    active = SparkSession.getActiveSession()
    if active is not None and active.sparkContext._jsc is None:
        # getActiveSession can hand back a STOPPED session, whose
        # conf.set raises; treat it as no session.
        active = None
    if active is not None:
        # Builder-only args cannot be applied to a live session; raise
        # rather than silently ignoring an explicit request (ADVICE r7).
        if master is not None and active.sparkContext.master != master:
            raise RuntimeError(
                f"get_spark(master={master!r}) conflicts with the active "
                f"session's master {active.sparkContext.master!r}; stop it "
                "first or omit master to adopt the active session"
            )
        if shuffle_partitions is not None:
            active.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        for k, v in (extra_conf or {}).items():
            active.conf.set(k, v)
        return active
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver-generated test parquet uses TIMESTAMP(NANOS), which
        # vanilla Spark rejects (PARQUET_TYPE_ILLEGAL); read as int64
        # nanos and convert in the loader (sources/testdata.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**(extra_conf or {}), **worker_conf(master, extra_conf or {})}.items():
        builder = builder.config(k, v)
    with _launch_lock:
        launch = None
        if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
            _finish_dumps()  # a JVM this process dumped from earlier may leave an archive to map
            conf = {"spark.driver.memory": driver_memory, **(extra_conf or {})}
            launch = plan_cold_start(conf, _find_spark_home(), _java_home())
            if launch.java_options:
                builder = builder.config("spark.driver.extraJavaOptions", launch.java_options)
        with _spark_conf_dir(launch and launch.conf_dir):
            spark = builder.getOrCreate()
        if launch is not None:
            _record_launch(spark, launch)
    return spark
