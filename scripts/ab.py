"""Interleaved A/B of two trees with a verdict per metric against the
bounds in BENCHMARK.json (README "Measuring a change").

    python scripts/ab.py --parent REF[:CPUS] [--change REF[:CPUS]] \\
        (--workload NAME... | --query NAME... [--sf-dir DIR]) --pairs N --out FILE
    python scripts/ab.py --summarize FILE

A REF runs from ``.ab_worktrees/<sha>``; ``--change`` defaults to the
working tree. ``:CPUS`` pins that side to the first CPUS allowed CPUs.
Pair ``i`` runs the parent first when ``i`` is even; seeds cycle 1-4.
Each side is a fresh process: ``perfbench/run.py --trace 0`` per
workload, or one ``query_child`` for all the queries. A query is a
registry name, run on ``--sf-dir`` (default ``$SPARK_GRAFT_SF_DIR`` or
sf0.1), or a ``bench.HEAVY_QUERIES`` name, run on ``--sf-dir`` (default
the generated heavy-bench inputs); its ``cold`` and ``warm`` seconds
take ``job_s``'s direction and bound. A log line is ``{pair,
workload|query, seed, cpus, side, first, archive_before, result}``.

Verdicts, the first that applies: ``regressed`` (change median worse
by more than the bound), ``unresolved`` (parent IQR/median over the
bound and not every change run better than every parent run), ``gain``
(the change wins >= 9/10 of the pairs, ties counting for neither, and
its median is better by more than the parent IQR), else ``parity``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SIDES = ("parent", "change")


def benchmark_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True, text=True).stdout.strip()


def checkout(ref: str) -> str:
    """The tree of ``ref``: a detached worktree, reused while at that sha."""
    sha = _git("rev-parse", "--verify", f"{ref}^{{commit}}")
    path = os.path.join(REPO, ".ab_worktrees", sha)
    if os.path.isdir(path):
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=path, capture_output=True, text=True)
        if head.stdout.strip() == sha:
            return path
        _git("worktree", "remove", "--force", path)
    _git("worktree", "add", "--detach", path, sha)
    return path


def side(spec: str) -> tuple[str, list[int]]:
    """``REF[:CPUS]`` -> (tree, CPUs to run on); an empty REF is the working tree."""
    ref, _, cpus = spec.partition(":")
    allowed = sorted(os.sched_getaffinity(0))
    n = int(cpus) if cpus else len(allowed)
    if not 1 <= n <= len(allowed):
        raise SystemExit(f"asked for {n} CPUs; {len(allowed)} are allowed")
    return (checkout(ref) if ref else REPO), allowed[:n]


def archive_exists() -> bool:
    """Whether the driver JVM's class-data-sharing archive exists: a run
    without it starts ~3 s slower (README "Cold start")."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from cloud_dataflow_batch_processing_spark.session import cds_cache_dir

    return os.path.isfile(os.path.join(cds_cache_dir(), "driver.jsa"))


def run_child(cmd: list[str], tree: str, cpus: list[int]) -> dict:
    """Run ``cmd`` in ``tree`` on ``cpus``; its last stdout line is its
    result. A child that fails is one failed run."""
    p = subprocess.run(
        cmd, cwd=tree, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"), capture_output=True,
        text=True, timeout=3600, preexec_fn=lambda: os.sched_setaffinity(0, cpus),
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode == 0 and lines and lines[-1].startswith("{"):
        return json.loads(lines[-1])
    tail = (p.stdout[-1000:] + p.stderr[-3000:]).strip()
    print(f"child failed (rc={p.returncode}) in {tree}:\n{tail}", file=sys.stderr)
    return {"failed": 1, "error": tail[-500:]}


def query_child(tree: str, names: list[str], sf_dir: str | None) -> None:
    """``bench.py``'s protocol in the side's tree: table and Python-worker
    warm-up, 3 noop-sink runs per query (cold is run 1, warm the best of
    runs 2-3), managed caches released after each query. ``local[n]``
    spans the CPUs the process may use."""
    sys.path.insert(0, tree)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries
    from cloud_dataflow_batch_processing_spark.session import get_spark
    from cloud_dataflow_batch_processing_spark.sources.testdata import DEFAULT_SF_DIR, load_tables, table_path

    spark = get_spark(app_name="cdbp-ab")
    spark.sparkContext.setLogLevel("ERROR")
    queries()
    fns = {}
    for name in names:
        if name in REGISTRY:
            fns[name] = (REGISTRY[name].fn, sf_dir or DEFAULT_SF_DIR)
            continue
        # This harness's bench.py, run over the side's package (imported above).
        spec = importlib.util.spec_from_file_location("ab_bench", os.path.join(REPO, "bench.py"))
        bench = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(bench)
        if name not in bench.HEAVY_QUERIES:
            raise SystemExit(f"{name} is neither a registry nor a heavy-bench query")
        fns[name] = (bench.HEAVY_QUERIES[name], sf_dir or bench.ensure_heavy_inputs())
    for d in {d for _, d in fns.values()}:
        tables = load_tables(spark, d)
        for t in tables:
            if os.path.exists(table_path(d, t)):
                tables[t].count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    _touch = pandas_udf(lambda s: s, "long")
    spark.range(10_000).repartition(
        int(spark.sparkContext.defaultParallelism)
    ).select(_touch(F.col("id"))).write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for name, (fn, d) in fns.items():
        spark.sparkContext.setJobDescription(f"ab: {name}")
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        release_managed_caches()
        out[name] = {"cold": round(runs[0], 4), "warm": round(min(runs[1:]), 4),
                     "runs": [round(r, 4) for r in runs]}
    print(json.dumps(out), flush=True)


def run_pairs(args) -> None:
    spec = benchmark_spec()
    sides = {"parent": side(args.parent), "change": side(args.change or "")}
    with open(args.out, "w") as log:
        for i in range(args.pairs):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            seed = 1 + i % 4
            for s in order:
                tree, cpus = sides[s]
                if args.workload:
                    children = [("workload", [wl], seed, [
                        *spec["command"], "--workload", wl, "--seed", str(seed),
                        "--seconds", str(spec["run_seconds"]), "--trace", "0",
                    ]) for wl in args.workload]
                else:
                    code = (f"import sys; sys.path.insert(0, {HERE!r}); import ab; "
                            f"ab.query_child({tree!r}, {args.query!r}, {args.sf_dir!r})")
                    children = [("query", args.query, None, [sys.executable, "-c", code])]
                for key, names, child_seed, cmd in children:
                    archive = archive_exists()
                    t0 = time.time()
                    result = run_child(cmd, tree, cpus)
                    for name in names:
                        rec = {"pair": i, key: name, "seed": child_seed, "cpus": len(cpus), "side": s,
                               "first": order[0], "archive_before": archive,
                               "result": result.get(name, result) if key == "query" else result}
                        log.write(json.dumps(rec) + "\n")
                        log.flush()
                        print(f"pair {i} {s} {name} cpus={len(cpus)} archive={archive} "
                              f"{time.time() - t0:.0f}s: {json.dumps(rec['result'])[:160]}",
                              file=sys.stderr, flush=True)
    print_summary(summarize(read_log(args.out), spec))


def read_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def metric_value(result: dict, metric: str) -> float | None:
    if metric in ("cold", "warm"):
        return result.get(metric)
    m = result.get("metrics", {}).get(metric)
    return m["value"] if m else None


def quartiles(xs: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
    return q1, q3


def verdict(parent: list[float], change: list[float], wins: int, better: str, bound: float) -> str:
    sign = 1 if better == "higher" else -1
    p_med, c_med = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    if sign * (p_med - c_med) / p_med > bound:
        return "regressed"
    beats_all = min(change) > max(parent) if sign > 0 else max(change) < min(parent)
    if (q3 - q1) / p_med > bound and not beats_all:
        return "unresolved"
    if wins >= 0.9 * len(parent) and sign * (c_med - p_med) > q3 - q1:
        return "gain"
    return "parity"


def summarize(lines: list[dict], spec: dict) -> dict:
    """Rows per (workload or query, metric) over the complete pairs; per
    name the pairs whose sides differ in ``archive_before``; and the
    failed runs of names with no values to compare."""
    job_s = next(m for m in spec["end_to_end"] if m["name"] == "job_s")
    query_metrics = [dict(job_s, name="cold"), dict(job_s, name="warm")]
    runs: dict[tuple[str, int], dict[str, dict]] = {}
    for rec in lines:
        runs.setdefault((rec.get("workload") or rec.get("query"), rec["pair"]), {})[rec["side"]] = rec
    rows, archive_differs, no_values = [], {}, {}
    for name in dict.fromkeys(n for n, _ in runs):
        pairs = [(p, s) for (n, p), s in runs.items() if n == name and len(s) == 2]
        failed = [sum(s[side]["result"].get("failed", 0) for _, s in pairs) for side in SIDES]
        n_rows = len(rows)
        for p, s in pairs:
            if s["parent"].get("archive_before", True) != s["change"].get("archive_before", True):
                archive_differs.setdefault(name, []).append(p)
        for m in query_metrics if pairs and "query" in pairs[0][1]["parent"] else spec["end_to_end"]:
            vals = [(metric_value(s["parent"]["result"], m["name"]), metric_value(s["change"]["result"], m["name"]))
                    for _, s in pairs]
            vals = [(p, c) for p, c in vals if p is not None and c is not None]
            if not vals:
                continue
            parent, change = [p for p, _ in vals], [c for _, c in vals]
            sign = 1 if m["better"] == "higher" else -1
            wins = sum(sign * (c - p) > 0 for p, c in vals)
            rows.append({
                "name": name, "metric": m["name"], "unit": m["unit"], "pairs": len(vals),
                "parent_median": statistics.median(parent), "parent_q": quartiles(parent),
                "change_median": statistics.median(change), "wins": wins,
                "failed": failed, "verdict": verdict(parent, change, wins, m["better"], m["bound"]),
            })
        if len(rows) == n_rows:
            no_values[name] = failed
    return {"rows": rows, "archive_differs": archive_differs, "no_values": no_values}


def fmt(v: float, unit: str) -> str:
    num = f"{v:,.0f}" if abs(v) >= 1000 else f"{v:.3f}"
    return f"{num} s" if unit == "s" else num


def print_summary(summary: dict) -> None:
    print(f"{'workload/query':<28} {'metric':<11} {'parent median [Q1-Q3]':<30} "
          f"{'change':<12} {'wins':<7} {'failed p/c':<11} verdict")
    for r in summary["rows"]:
        u, (q1, q3) = r["unit"], r["parent_q"]
        parent = f"{fmt(r['parent_median'], u)} [{fmt(q1, u)}-{fmt(q3, u)}]"
        print(f"{r['name']:<28} {r['metric']:<11} {parent:<30} {fmt(r['change_median'], u):<12} "
              f"{r['wins']}/{r['pairs']:<5} {'/'.join(map(str, r['failed'])):<11} {r['verdict']}")
    for name, (p, c) in summary["no_values"].items():
        print(f"{name}: no pair has values on both sides; failed p/c {p}/{c}")
    for name, pairs in summary["archive_differs"].items():
        print(f"archive_before differs between the sides: {name} pairs {', '.join(map(str, pairs))}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--summarize", metavar="FILE")
    ap.add_argument("--parent", metavar="REF[:CPUS]")
    ap.add_argument("--change", metavar="REF[:CPUS]")
    what = ap.add_mutually_exclusive_group()
    what.add_argument("--workload", nargs="+")
    what.add_argument("--query", nargs="+")
    ap.add_argument("--sf-dir")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    if args.summarize:
        print_summary(summarize(read_log(args.summarize), benchmark_spec()))
    elif not (args.parent and (args.workload or args.query) and args.pairs and args.out):
        ap.error("give --parent, --workload or --query, --pairs and --out (or --summarize FILE)")
    elif args.sf_dir and not args.query:
        ap.error("--sf-dir goes with --query")
    else:
        run_pairs(args)


if __name__ == "__main__":
    main()
