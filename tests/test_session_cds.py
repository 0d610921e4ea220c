"""Cold start from a class-data-sharing archive: how ``get_spark`` plans
the launch of a new driver JVM (session.py). The default-tier tests
launch no JVM of their own; the one that starts two fresh drivers is in
the slowsweep tier."""

from __future__ import annotations

import multiprocessing
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from cloud_dataflow_batch_processing_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def homes(tmp_path, monkeypatch):
    """A Spark home with a template-only conf dir, a JDK 17 home, and an
    empty user cache."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "conf").mkdir(parents=True)
    java_home.mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in S._CLASSPATH_ENV + S._JVM_OPTIONS_ENV + ("PYSPARK_SUBMIT_ARGS",):
        monkeypatch.delenv(var, raising=False)
    return spark_home, java_home


def plan(homes, **conf) -> S.ColdStart:
    spark_home, java_home = homes
    return S.plan_cold_start({"spark.driver.memory": "8g", **conf}, str(spark_home), str(java_home))


def land(launch: S.ColdStart) -> None:
    """What a dumping launch leaves once its archive is dumped."""
    with open(launch.dump_to, "wb") as fh:
        fh.write(b"archive")
    S.install_archive(launch.dump_to, launch.archive)


def test_first_launch_dumps_and_the_next_maps(homes):
    first = plan(homes)
    assert first.state == "dumping"
    assert first.archive == os.path.join(S.cds_cache_dir(), "driver.jsa")
    assert S.cds_cache_dir().startswith(os.environ["XDG_CACHE_HOME"])
    writer = os.path.join(S.cds_cache_dir(), f"driver.{os.getpid()}")
    assert (first.dump_to, first.class_list) == (f"{writer}.tmp", f"{writer}.classlist")
    assert first.java_options == f"-XX:DumpLoadedClassList={first.class_list}"
    assert os.listdir(first.conf_dir) == []
    land(first)
    again = plan(homes)
    assert again.state == "mapped"
    assert again.archive == first.archive
    assert f"-XX:SharedArchiveFile={first.archive}" in again.java_options
    assert again.conf_dir == first.conf_dir


def test_refused_archive_is_deleted_and_the_next_launch_dumps(homes, monkeypatch):
    """A JDK or Spark reinstall changes what the JVM checks the archive
    against (JDK build, classpath, jar size and mtime); the JVM then
    maps only the JDK's base archive."""
    launch = plan(homes)
    land(launch)
    mapped = plan(homes)
    monkeypatch.setattr(S, "_archive_mapped", lambda spark, archive: False)
    monkeypatch.setattr(S, "_launched", None)
    gateway = object()
    S._record_launch(SimpleNamespace(sparkContext=SimpleNamespace(_gateway=gateway)), mapped)
    assert S.cds_state(SimpleNamespace(sparkContext=SimpleNamespace(_gateway=gateway))) == "off:mismatch"
    assert not os.path.exists(mapped.archive)
    assert plan(homes).state == "dumping"


@pytest.mark.parametrize(
    "live", ["SPARK_CONF_DIR", "HADOOP_CONF_DIR", "conf file", "extraClassPath", "PYSPARK_SUBMIT_ARGS"]
)
def test_classpath_addition_leaves_the_launch_unchanged(homes, monkeypatch, tmp_path, live):
    spark_home, _ = homes
    conf = {"spark.driver.extraJavaOptions": "-XX:-UsePerfData"}
    if live == "conf file":
        (spark_home / "conf" / "spark-defaults.conf").write_text("spark.master local[1]\n")
    elif live == "extraClassPath":
        conf["spark.driver.extraClassPath"] = "extra/classes.jar"
    elif live == "PYSPARK_SUBMIT_ARGS":
        monkeypatch.setenv(live, "--driver-class-path extra/classes.jar pyspark-shell")
    else:
        monkeypatch.setenv(live, str(tmp_path))
    assert plan(homes, **conf) == S.ColdStart("off:conf-dir")


@pytest.mark.parametrize(
    "caller",
    [
        {"spark.driver.memory": "48g"},
        {"spark.driver.memory": "32768m"},
        {"spark.driver.extraJavaOptions": "-XX:+UseParallelGC"},
        {"spark.driver.extraJavaOptions": "-XX:-UseCompressedOops"},
        {"spark.driver.defaultJavaOptions": "-XX:+UseSerialGC"},
        {"SPARK_SUBMIT_OPTS": "-XX:+UseZGC"},
        {"JAVA_TOOL_OPTIONS": "-XX:ObjectAlignmentInBytes=16"},
        {"PYSPARK_SUBMIT_ARGS": "--driver-java-options -Dx=1 pyspark-shell"},
        {"PYSPARK_SUBMIT_ARGS": "--conf spark.driver.extraJavaOptions=-Dx=1 pyspark-shell"},
        {"PYSPARK_SUBMIT_ARGS": "--driver-memory 2g pyspark-shell"},
    ],
)
def test_jvm_the_archive_does_not_fit_leaves_the_launch_unchanged(homes, monkeypatch, caller):
    """A heap of 32 GiB or more, another GC or other pointer flags make
    the JVM refuse the archive, and java options in
    PYSPARK_SUBMIT_ARGS replace the launch's; CDS stays off rather than
    deleting the archive the default launch maps."""
    land(plan(homes))
    conf = {k: v for k, v in caller.items() if k.startswith("spark.")}
    for var, value in caller.items():
        if not var.startswith("spark."):
            monkeypatch.setenv(var, value)
    assert plan(homes, **conf) == S.ColdStart("off:caller-jvm")
    assert os.path.isfile(os.path.join(S.cds_cache_dir(), "driver.jsa"))


def test_default_jvm_shapes_use_the_archive(homes, monkeypatch):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.executor.extraJavaOptions=-XX:+UseZGC pyspark-shell")
    for conf in (
        {"spark.driver.memory": "31g"},
        {"spark.driver.memory": "2g", "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/t -XX:-UsePerfData"},
    ):
        assert plan(homes, **conf).state == "dumping"


def test_caller_java_options_are_kept_and_appended_to(homes):
    caller = "-Djava.io.tmpdir=/work/tmp -XX:-UsePerfData"
    dump = plan(homes, **{"spark.driver.extraJavaOptions": caller})
    assert dump.java_options == f"{caller} -XX:DumpLoadedClassList={dump.class_list}"
    land(dump)
    mapped = plan(homes, **{"spark.driver.extraJavaOptions": caller})
    assert mapped.java_options.startswith(caller + " -XX:SharedArchiveFile=")


@pytest.mark.parametrize("flag", ["-Xshare:off", "-XX:SharedArchiveFile=own.jsa", "-XX:DumpLoadedClassList=own.lst"])
@pytest.mark.parametrize("where", ["conf", "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS"])
def test_caller_sharing_flags_are_respected(homes, monkeypatch, flag, where):
    if where == "conf":
        launch = plan(homes, **{"spark.driver.extraJavaOptions": f"-Dx=1 {flag}"})
    else:
        monkeypatch.setenv(where, f"--driver-java-options {flag} pyspark-shell" if where.startswith("PY") else flag)
        launch = plan(homes)
    assert launch == S.ColdStart("off:caller-xshare")


def test_unwritable_cache_leaves_the_launch_unchanged(homes, monkeypatch, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert plan(homes) == S.ColdStart("off:cache-unwritable")


@pytest.mark.parametrize("release", [None, 'JAVA_VERSION="11.0.2"\n', 'JAVA_VERSION="1.8.0_392"\n'])
def test_jdk_without_dynamic_archives_leaves_the_launch_unchanged(homes, release):
    _, java_home = homes
    (java_home / "release").unlink()
    if release is not None:
        (java_home / "release").write_text(release)
    assert plan(homes) == S.ColdStart("off:jdk")


def _dump_and_install(spark_home, java_home, barrier):
    launch = S.plan_cold_start({}, spark_home, java_home)
    with open(launch.dump_to, "wb") as fh:
        fh.write(b"archive" * 1024)
    barrier.wait(timeout=30)
    S.install_archive(launch.dump_to, launch.archive)


def test_racing_installs_leave_one_archive_and_no_tmp(homes):
    spark_home, java_home = homes
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    procs = [
        ctx.Process(target=_dump_and_install, args=(str(spark_home), str(java_home), barrier))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    archive = plan(homes).archive
    assert sorted(os.listdir(S.cds_cache_dir())) == sorted(["empty-conf", os.path.basename(archive)])
    with open(archive, "rb") as fh:
        assert fh.read() == b"archive" * 1024


def test_dump_removes_only_dead_writers_files(homes):
    cache = S.cds_cache_dir()
    os.makedirs(cache)
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    orphans = [f"driver.{dead.pid}.tmp", f"driver.{dead.pid}.classlist"]
    in_flight = [f"driver.{os.getppid()}.tmp", f"driver.{os.getppid()}.classlist"]
    for name in orphans + in_flight:
        with open(os.path.join(cache, name), "wb") as fh:
            fh.write(b"partial")
    assert plan(homes).state == "dumping"
    assert sorted(os.listdir(cache)) == sorted(["empty-conf", *in_flight])


@pytest.mark.parametrize("jvm_exit,dump_exit", [(0, 0), (1, 0), (0, 1)])
def test_archive_is_dumped_after_the_jvm_exits_and_installed_on_success(homes, monkeypatch, jvm_exit, dump_exit):
    """Stand-ins for the launch's JVM, which completes its class list as
    it exits (here: when its stdin closes), and for the dumping JVM,
    which fails if the class list is not complete."""
    launch = plan(homes)
    jvm = (
        "import sys; sys.stdin.read(); open(sys.argv[1], 'w').write('java/lang/Object\\n'); "
        f"sys.exit({jvm_exit})"
    )
    dump = (
        "import sys; src, dst = sys.argv[1:]; "
        "assert open(src).read() == 'java/lang/Object\\n'; open(dst, 'wb').write(b'archive'); "
        f"sys.exit({dump_exit})"
    )
    proc = subprocess.Popen([sys.executable, "-c", jvm, launch.class_list], stdin=subprocess.PIPE)
    command = [sys.executable, "-c", dump, launch.class_list, launch.dump_to]
    monkeypatch.setattr(S, "_dumps", [(proc, command, launch)])
    S._finish_dumps()
    expected = ["driver.jsa"] if (jvm_exit, dump_exit) == (0, 0) else []
    assert sorted(os.listdir(S.cds_cache_dir())) == sorted(["empty-conf", *expected])


def test_session_reports_its_cold_start(spark):
    """The suite's session is launched by get_spark, so its state is the
    launch's, and ``mapped`` means our archive is among the JVM's file
    mappings (UseSharedSpaces alone is also set by the JDK's base
    archive)."""
    state = S.cds_state(spark)
    assert state in ("mapped", "dumping") or state.startswith("off:")
    assert state != "off:external"
    if state == "mapped":
        assert S._archive_mapped(spark, S._launched[1].archive)
        assert S.use_shared_spaces(spark)


@pytest.mark.slowsweep
def test_second_fresh_driver_maps_the_archive(tmp_path):
    """Two fresh drivers in sequence: the first lists its classes and
    dumps them after its JVM exits, keeping stdout to its own line; the
    second maps the archive."""
    env = {k: v for k, v in os.environ.items() if k not in S._CLASSPATH_ENV}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_GRAFT_DRIVER_MEM="1g")
    code = (
        "from cloud_dataflow_batch_processing_spark.session import cds_state, get_spark, use_shared_spaces\n"
        "s = get_spark(master='local[1]')\n"
        "assert s.range(10).count() == 10\n"
        "print(cds_state(s), 'UseSharedSpaces=%s' % use_shared_spaces(s))\n"
    )
    outs = [
        subprocess.run(
            [sys.executable, "-c", code], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=600, check=True,
        ).stdout
        for _ in range(2)
    ]
    assert outs[0].splitlines() == ["dumping UseSharedSpaces=True"]
    assert outs[1].splitlines() == ["mapped UseSharedSpaces=True"]
    cache = os.path.join(tmp_path, "cache", "spark-graft", "cds")
    assert sorted(os.listdir(cache)) == ["driver.jsa", "empty-conf"]
