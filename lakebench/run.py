#!/usr/bin/env python3
"""Benchmark entry point.

    python3 lakebench/run.py --workload <lake-batch|sql-interactive|llm-curation>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints a human-readable summary line and,
as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
Everything the run generates (inputs, lake, event logs, spans, Spark
scratch) goes under ``lakebench/.work``; the at-rest artifacts the
engine itself keeps stay in its gitignored ``.scratch``. The run fails
if it changed any file outside those.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "op_geomean_s": "s",
    "throughput_per_s": "1/s",
    "pass_s": "s",
}
# what each end-to-end metric means on each workload. op_geomean_s is the
# geometric mean over rows of each row's median wall (lake-batch has one
# row, the hour batch): the median of all walls would sit on whichever
# row ranks in the middle. The p90 over all walls (and on lake-batch the
# day rollup alone) is printed in the summary line only: a run has too
# few samples of either to gate on it
E2E_NAMES = {
    "lake-batch": {
        "op_geomean_s": "hour_batch_p50_s", "op_p90_s": "hour_batch_p90_s",
        "throughput_per_s": "events_per_s", "pass_s": "day_batch_p50_s",
    },
    "llm-curation": {
        "op_geomean_s": "job_geomean_p50_s", "op_p90_s": "job_p90_s",
        "throughput_per_s": "jobs_per_s", "pass_s": "curation_pass_s",
    },
    "sql-interactive": {
        "op_geomean_s": "query_geomean_p50_s", "op_p90_s": "query_p90_s",
        "throughput_per_s": "queries_per_s", "pass_s": "query_pass_s",
    },
}
_ALWAYS_SKIP = {".git", ".bench_build"}


def _snapshot() -> object:
    """What a run must leave unchanged: ``git status --porcelain`` in a
    git checkout, else (size, mtime) of every file .gitignore does not
    name."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        return subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=all"],
            capture_output=True, text=True, check=True,
        ).stdout
    patterns = []
    try:
        with open(os.path.join(ROOT, ".gitignore")) as fh:
            patterns = [
                ln.strip().rstrip("/") for ln in fh if ln.strip() and not ln.startswith("#")
            ]
    except OSError:
        pass

    def ignored(rel: str) -> bool:
        parts = rel.split(os.sep)
        return any(
            fnmatch.fnmatch(p, pat) or fnmatch.fnmatch(rel, pat.lstrip("/"))
            for pat in patterns
            for p in parts
        )

    state = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel_dir = os.path.relpath(dirpath, ROOT)
        dirnames[:] = [
            d for d in dirnames
            if d not in _ALWAYS_SKIP and not ignored(os.path.normpath(os.path.join(rel_dir, d)))
        ]
        for f in filenames:
            rel = os.path.normpath(os.path.join(rel_dir, f))
            if not ignored(rel):
                st = os.stat(os.path.join(dirpath, f))
                state[rel] = (st.st_size, st.st_mtime_ns)
    return state


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _preflight() -> str | None:
    for need in ("duckdb_pipeline_spark/__init__.py", "tests/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return f"missing {need}: run from a full checkout of the repository"
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        return f"missing dependency: {exc}"
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(E2E_NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    problem = _preflight()
    if problem:
        print(f"lakebench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from lakebench import workloads as wl
    from lakebench.trace import LAYER_UNITS

    for d in ("tmp", "eventlog"):  # nothing carries over between runs
        shutil.rmtree(os.path.join(wl.WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(wl.WORK, d))
    # Python-side temp files (Arrow batches, staging) stay in the checkout,
    # and the JVM that spark-submit starts to build the driver command
    # writes no /tmp/hsperfdata file (the driver JVM is told so in
    # Harness.spark_conf)
    os.environ["TMPDIR"] = os.path.join(wl.WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    wl.mark_run()  # before the first child process
    before = _snapshot()

    cpu0 = _cpu_jiffies()
    h = wl.Harness(args.workload, args.seed, args.seconds, bool(args.trace))
    mem = wl.MemSampler()
    mem.start()
    try:
        if args.workload == "lake-batch":
            res = wl.run_lake(h)
        elif args.workload == "sql-interactive":
            res = wl.run_queries(h, wl.SQL_ROWS, cold_ivf=False)
        else:
            res = wl.run_queries(h, wl.CURATION_ROWS, cold_ivf=True)
        layers = h.finish_trace(res["traced"], res["untraced"]) if args.trace else None
    finally:
        try:
            if h.spark is not None:
                h.spark.stop()
        finally:
            peak = mem.stop()
            try:
                wl.stop_jvm()
            finally:
                killed = wl.end_marked()
    if killed:
        print(f"lakebench: killed processes still running at the end: {killed}", file=sys.stderr)

    if not res["samples"] or not res["passes"]:
        print("lakebench: no operation completed", file=sys.stderr)
        return 1
    samples = res["samples"]
    e2e = {
        "setup_s": statistics.median(h.setup_walls),
        "peak_pss_mb": peak / (1024.0 * 1024.0),
        "op_geomean_s": math.exp(statistics.fmean(
            math.log(statistics.median(w)) for w in res["by_row"].values()
        )),
        "throughput_per_s": res["throughput"],
        "pass_s": statistics.median(res["passes"]),
    }
    p90 = statistics.quantiles(samples, n=10, method="inclusive")[-1] if len(samples) > 1 else samples[0]
    error_rate = h.failed / max(1, h.attempted)
    names = E2E_NAMES[args.workload]
    summary = " ".join(f"{names.get(k, k)}={v:.4f}{E2E_UNITS[k]}" for k, v in e2e.items())
    if res.get("rollups"):
        summary += f" day_rollup_p50_s={statistics.median(res['rollups']):.4f}s"
    print(
        f"{args.workload} seed={args.seed} {summary} {names['op_p90_s']}={p90:.4f}s "
        f"(interpolated, {len(samples)} samples) error_rate={error_rate:.4f} "
        f"(ops={h.attempted}, failed={h.failed}, passes={len(res['passes'])})"
    )
    # host CPU mix over the run (user nice system idle iowait irq softirq
    # steal): a slow run on a busy or overcommitted host explains itself
    d = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    h.details["host_busy_frac"] = round((sum(d) - d[3] - d[4]) / max(1, sum(d)), 3)
    h.details["host_steal_frac"] = round(d[7] / max(1, sum(d)), 3) if len(d) > 7 else None
    print("lakebench detail: " + json.dumps(h.details), file=sys.stderr)

    after = _snapshot()
    hygiene_ok = before == after
    if not hygiene_ok:
        if isinstance(before, dict):
            changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
        else:
            changed = sorted(set(before.splitlines()) ^ set(after.splitlines()))
        print(f"lakebench: the run changed files outside its scratch directories: {changed[:10]}",
              file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        print("lakebench layers: " + " ".join(f"{k}={v:.4f}" for k, v in layers.items()))
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": h.failed == 0 and hygiene_ok,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }))
    return 0 if hygiene_ok else 1


if __name__ == "__main__":
    sys.exit(main())
