"""Imports that PySpark makes lazily on the main thread after the JVM is
up run while ``get_spark`` launches the JVM (session.py): no import
thread outlives ``get_spark``, a first DataFrame job imports none of
them, and launching the JVM while the thread runs never hangs."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from cloud_dataflow_batch_processing_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A fresh driver: ``-Xshare:auto`` keeps its class-data sharing off, so
# it dumps no archive at exit. It prints the import threads alive when
# get_spark returns and the watched modules its first job imports.
_CHILD = (
    f"import sys, threading; sys.path.insert(0, {ROOT!r})\n"
    "from cloud_dataflow_batch_processing_spark.session import get_spark\n"
    "from pyspark.sql import functions as F\n"
    "s = get_spark(master='local[1]', extra_conf={'spark.driver.extraJavaOptions': '-Xshare:auto'})\n"
    "alive = [t.name for t in threading.enumerate() if t.name == 'get_spark-imports']\n"
    "before = set(sys.modules)\n"
    "n = s.range(3).select(F.col('id') + 1).count()\n"
    "added = sorted(m for m in ('pandas', 'pyarrow', 'IPython') if m in set(sys.modules) - before)\n"
    "print(n, alive, added)\n"
)


def _run_child() -> str:
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", *S._CLASSPATH_ENV)}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD], cwd=ROOT, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.splitlines()[-1]


def test_lazy_imports_finish_inside_get_spark():
    assert _run_child() == "3 [] []"


@pytest.mark.slowsweep
def test_ten_launches_in_a_row_never_hang():
    """PySpark forks the JVM with a ``preexec_fn`` while the import
    thread runs; each launch runs under the child's timeout."""
    for _ in range(10):
        assert _run_child() == "3 [] []"
