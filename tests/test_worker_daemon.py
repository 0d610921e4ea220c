"""The Python worker daemon of local masters (cdbp_worker_daemon.py):
it imports the installed pyspark only when it holds the zips' sources,
a zip is re-read only when it changed, the suite's workers run the
daemon, and package UDFs run whatever the driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from cloud_dataflow_batch_processing_spark import session as S
from cloud_dataflow_batch_processing_spark.worker import cdbp_worker_daemon as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"mod_a.py": "A = 1\n"})
    monkeypatch.setattr(W, "_read_stamps", {})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_zip_is_not_reread_and_a_changed_one_is(zip_path, monkeypatch):
    importer, sub = zipimport.zipimporter(zip_path), zipimport.zipimporter(os.path.join(zip_path, "pkg"))
    W.invalidate_caches(importer)  # the first call reads: nothing is stamped yet
    files = importer._files
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or stock_read(path))
    for _ in range(3):
        W.invalidate_caches(importer)
        W.invalidate_caches(sub)
    assert reads == []
    assert importer._files is files and sub._files is files
    assert importer.find_spec("mod_b") is None

    _write_zip(zip_path, {"mod_a.py": "A = 1\n", "mod_b.py": "B = 2\n"})
    W.invalidate_caches(importer)
    W.invalidate_caches(sub)
    W.invalidate_caches(importer)
    assert reads == [zip_path]
    assert sub._files is importer._files
    assert importer.find_spec("mod_b") is not None


def test_missing_zip_leaves_the_importer_empty(zip_path):
    importer = zipimport.zipimporter(zip_path)
    os.remove(zip_path)
    W.invalidate_caches(importer)
    assert importer._files == {}
    assert zip_path not in zipimport._zip_directory_cache


@pytest.fixture
def spark_zip(tmp_path):
    """A fake ``pyspark.zip`` and, in ``site``, an installed twin of it
    without its ``tests`` package (as wheels ship pyspark)."""
    sources = {
        "pyspark/__init__.py": "V = 1\n",
        "pyspark/sql/types.py": "T = 2\n",
        "pyspark/tests/test_a.py": "A = 3\n",
    }
    archive = str(tmp_path / "pyspark.zip")
    _write_zip(archive, sources)
    site = tmp_path / "site"
    for name, text in sources.items():
        if "/tests/" not in name:
            (site / name).parent.mkdir(parents=True, exist_ok=True)
            (site / name).write_text(text)
    yield archive, str(site)
    zipimport._zip_directory_cache.pop(archive, None)


def test_installed_twin_of_the_zip_goes_first(spark_zip):
    archive, site = spark_zip
    assert W.worker_path([archive, "/no/such/dir", site]) == ("compiled", ["/no/such/dir", site, archive])


def test_one_changed_byte_keeps_the_zip_first(spark_zip):
    archive, site = spark_zip
    with open(os.path.join(site, "pyspark", "sql", "types.py"), "w") as fh:
        fh.write("T = 3\n")
    assert W.worker_path([archive, site]) == ("zip:pyspark-differs", [archive, site])


def test_a_module_missing_beside_installed_ones_keeps_the_zip_first(spark_zip):
    archive, site = spark_zip
    os.remove(os.path.join(site, "pyspark", "sql", "types.py"))
    assert W.worker_path([archive, site]) == ("zip:pyspark-differs", [archive, site])


def test_no_installed_package_keeps_the_zip_first(spark_zip, tmp_path):
    archive, _ = spark_zip
    empty = str(tmp_path / "empty")
    os.mkdir(empty)
    assert W.worker_path([archive, empty]) == ("zip:pyspark-not-installed", [archive, empty])


def test_worker_conf_only_on_local_masters_and_the_caller_wins():
    worker_dir = os.path.join(ROOT, "cloud_dataflow_batch_processing_spark", "worker")
    assert S.worker_conf("local[4]", {}) == {
        "spark.python.daemon.module": S._WORKER_DAEMON,
        "spark.executorEnv.PYTHONPATH": f"{ROOT}{os.pathsep}{worker_dir}",
    }
    assert S.worker_conf("local", {})["spark.python.daemon.module"] == S._WORKER_DAEMON
    caller = {"spark.python.daemon.module": "my.daemon", "spark.executorEnv.PYTHONPATH": "extra/libs"}
    assert S.worker_conf("local[*]", caller) == {
        "spark.python.daemon.module": "my.daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(["extra/libs", ROOT, worker_dir]),
    }
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://https://host:443"):
        assert S.worker_conf(master, caller) == {}


def test_suite_workers_run_the_daemon_and_keep_the_pyspark_zip_read(spark):
    """The suite's session comes from get_spark on a local master. In a
    worker, two invalidations leave every pyspark zip importer's
    directory the same object (the stock one re-reads it each time),
    and pyspark is the installed one whenever its sources match the
    zip's."""
    import pyspark
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(ids):
        import importlib
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        def importers():
            return [
                (imp, imp._files) for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter) and os.path.basename(imp.archive) == "pyspark.zip"
            ]

        importlib.invalidate_caches()
        before = importers()
        importlib.invalidate_caches()
        kept = bool(before) and all(imp._files is files for imp, files in before)
        report = f"{sys.modules['__main__'].__spec__.name} {len(before)} {kept} {pyspark.__file__}"
        return pd.Series([report] * len(ids))

    assert spark.conf.get("spark.python.daemon.module") == S._WORKER_DAEMON
    reports = {r[0] for r in spark.range(4).repartition(2).select(probe(F.col("id"))).collect()}
    compiled = S.worker_pyspark(spark) == "compiled"
    for report in reports:
        main, importers, kept, pyspark_file = report.split(maxsplit=3)
        assert main == S._WORKER_DAEMON
        assert int(importers) >= 1 if compiled else int(importers) > 1  # one per package imported from the zip
        assert kept == "True"
        assert (pyspark_file == pyspark.__file__) is compiled
        assert ("pyspark.zip" in pyspark_file) is not compiled


@pytest.mark.slowsweep
def test_package_udf_runs_when_the_driver_is_started_elsewhere(tmp_path):
    """The driver runs in ``tmp_path`` with the repository only on its
    own ``sys.path``; the workers find the package through the
    PYTHONPATH get_spark gives them. ``-Xshare:auto`` keeps the child's
    class-data sharing off, so it dumps no archive at exit."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", *S._CLASSPATH_ENV)}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g")
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from cloud_dataflow_batch_processing_spark.session import cds_state, get_spark\n"
        "from cloud_dataflow_batch_processing_spark.extensions.similarity import semantic_dedup_stats\n"
        "s = get_spark(master='local[1]', extra_conf={'spark.driver.extraJavaOptions': '-Xshare:auto'})\n"
        "rows = [(i, [float(i % 2), 1.0, float(i % 3 == 0)]) for i in range(24)]\n"
        "df = s.createDataFrame(rows, 'vec_id long, embedding array<double>')\n"
        "out = semantic_dedup_stats(df, k=2, iters=1).collect()\n"
        "print(cds_state(s), sum(r['n_members'] for r in out))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.splitlines()[-1] == "off:caller-xshare 24"
