"""Benchmark driver: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (see README.md); with
``--trace 1`` they are the per-layer ones, read from Spark's event log.

A run is a closed loop: one client submits jobs back to back on a
``local[<cores>]`` session (a cold first job, untimed warm-up jobs,
then timed jobs) and checks every job's output against the expected
output cached beside the generated inputs. A job that raises or
returns a wrong output counts as failed and the loop goes on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, ".out")

DRIVER_MEMORY = "2g"


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cores() -> int:
    """Task slots: half the CPUs the process may use, so the task
    threads, the Python workers they feed and the JVM's own GC and JIT
    threads all fit on the CPUs at once."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(work_dir: str):
    """Build the program's session; return it and the seconds it took.
    Its scratch files (shuffle, spill, temporary files of the JVM and of
    the Python workers) go under ``work_dir``."""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    from cloud_dataflow_batch_processing_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def warm_workers(spark) -> float:
    """Start the Python worker on every core with one Arrow UDF job."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    t0 = time.perf_counter()
    touch = pandas_udf(lambda s: s, "long")
    spark.range(10_000).repartition(cores()).select(touch(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run_jobs(wl, seconds: float, around=None) -> list[dict]:
    """Closed loop, one job at a time: the first job, ``wl.warmup_jobs``
    untimed warm-up jobs, then timed jobs until ``seconds`` have passed
    and at least ``wl.min_jobs`` have run. ``around(k)`` gives a context
    manager to run the ``k``-th timed job in."""
    jobs: list[dict] = []
    deadline = None
    timed = 0
    while True:
        i = len(jobs)
        phase = "first" if i == 0 else "warmup" if i <= wl.warmup_jobs else "timed"
        if phase == "timed" and deadline is None:
            deadline = time.perf_counter() + seconds
        ctx = around(timed) if around and phase == "timed" else nullcontext()
        rec = {"index": i, "phase": phase, "lazy_entry": wl.lazy_entry, "ok": False}
        with ctx:
            rec["start"] = time.time()
            try:
                handle = wl.entry(i)
                rec["entry_end"] = time.time()
                out = wl.action(handle, i)
                rec["end"] = time.time()
                rec["ok"] = wl.check(out, i)
                if not rec["ok"]:
                    print(f"job {i}: output does not match the reference", file=sys.stderr)
            except Exception:  # noqa: BLE001 - a failed job is counted, the loop goes on
                rec.setdefault("entry_end", time.time())
                rec.setdefault("end", time.time())
                traceback.print_exc(file=sys.stderr)
        jobs.append(rec)
        timed += phase == "timed"
        if timed >= wl.min_jobs and time.perf_counter() >= deadline:
            return jobs


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def result_line(jobs: list[dict], metrics: dict[str, tuple[float, str]]) -> str:
    failed = sum(not j["ok"] for j in jobs)
    return json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cloud_dataflow_batch_processing_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    input_dir = inputs.prepare(args.workload, args.seed)
    work_dir = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        if args.trace:
            line = traced_run(args, input_dir, work_dir, WORKLOADS[args.workload])
        else:
            line = untraced_run(args, input_dir, work_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(line)
    return 0


def _timed(jobs: list[dict]) -> list[dict]:
    return [j for j in jobs if j["phase"] == "timed"]


def untraced_run(args, input_dir: str, work_dir: str, workload_cls) -> str:
    spark, session_s = start_session(work_dir)
    try:
        warm_s = warm_workers(spark) if workload_cls.uses_python else 0.0
        wl = workload_cls(spark, input_dir, work_dir)
        jobs = run_jobs(wl, args.seconds)
    finally:
        stop_session(spark)
    timed = [_dur(j) for j in _timed(jobs)]
    setup_s = session_s + warm_s
    job_s = statistics.median(timed)
    print(
        f"{args.workload} seed={args.seed}: setup {setup_s:.3f}s "
        f"(session {session_s:.3f}s, warm {warm_s:.3f}s), "
        f"first {_dur(jobs[0]):.3f}s, warm-up {[round(_dur(j), 3) for j in jobs if j['phase'] == 'warmup']}, "
        f"job_s median of {len(timed)}: {job_s:.3f}s {[round(t, 3) for t in timed]}",
        file=sys.stderr,
    )
    values = {"setup_s": setup_s, "job_s": job_s, "rows_per_s": wl.input_rows() / job_s}
    return result_line(jobs, {m["name"]: (values[m["name"]], m["unit"]) for m in benchmark_spec()["end_to_end"]})


def _traced(k: int) -> bool:
    """Timed jobs are traced in the order T U U T T U U T ..., so a
    warm-up trend cancels out of the overhead."""
    return k % 4 in (0, 3)


def traced_run(args, input_dir: str, work_dir: str, workload_cls) -> str:
    from perfbench import trace

    spark, session_s = start_session(work_dir)
    try:
        warm_s = warm_workers(spark) if workload_cls.uses_python else 0.0
        wl = workload_cls(spark, input_dir, work_dir)
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        log = trace.EventLog(spark, os.path.join(OUT_DIR, "eventlogs"), run_id)
        try:
            jobs = run_jobs(
                wl, args.seconds,
                around=lambda k: log.attached() if _traced(k) else nullcontext(),
            )
        finally:
            log_path = log.close()
    finally:
        stop_session(spark)
    timed = _timed(jobs)
    layers, spans = trace.per_layer(
        trace.read_events(log_path),
        traced=[j for k, j in enumerate(timed) if _traced(k)],
        untraced=[j for k, j in enumerate(timed) if not _traced(k)],
        session={"jvm_start_s": session_s, "worker_warm_s": warm_s, "first_job_s": _dur(jobs[0])},
        cores=cores(), warehouse=getattr(wl, "warehouse", None), run_id=run_id,
    )
    with open(os.path.join(OUT_DIR, f"spans-{run_id}.json"), "w") as fh:
        json.dump(spans, fh)
    units = {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}
    return result_line(jobs, {k: (layers[k], u) for k, u in units.items()})


if __name__ == "__main__":
    sys.exit(main())
