"""The benchmark's workloads and the harness they share.

Load model: one Python process, one Spark session on ``local[4]``, one
closed-loop client (each operation starts after the previous returns).

- ``lake-batch``: seeded gharchive bronze hours go to silver through
  ``DataLakeTransformer.serialise_raw_data`` (one operation per hour)
  and each day's silver is rolled up to gold by
  ``aggregate_silver_data`` (one operation per day); a pass is one day,
  its hours and its rollup.
- ``llm-curation``: dedup, similarity and text rows of the query
  inventory over a seeded corpus. One operation is plan build
  (``spec.fn``), a noop write, then ``clearCache``.
- ``sql-interactive``: relational, window and stream-like rows in the
  same operation shape over a seeded star schema. Runnable by hand; the
  benchmark's time budget leaves it out of ``BENCHMARK.json``.

Every workload times its set-up (session start plus cold builds of the
at-rest artifacts its rows read) several times and reports the median
(five times where set-up is only a session start, three where it also
builds), runs an untimed warm-up whose outputs are checked, then
measures whole passes until ``seconds`` have elapsed.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from datetime import timedelta

from . import gen
from .trace import SpanRecorder, layer_metrics, parse_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "lakebench", ".work")
CORES = 4
SF = 0.02

# Rows are a subset of the bench.py HEADLINE, sized so that runs of every
# workload fit the benchmark's time budget. Multimodal rows stay out:
# their plan build rewrites the tracked fixtures/ directory.
CURATION_ROWS = [
    "dedup_minhash_lsh", "dedup_simhash", "similarity_neardup_blocked",
    "knn_join_topk_ivf", "bpe_apply_tokenize", "dsir_importance", "text_scrub_pii",
]
SQL_ROWS = [
    "q1_pricing_summary", "q5_regional_revenue", "q10_returned_revenue",
    "asof_purchase_click", "range_join_next_10m", "window_running_total",
    "window_topk_per_group", "agg_rollup", "stream_session_30m",
    "stream_interval_join", "scd2_asof_enrich",
]

LAKE_WARMUP_HOURS = 4  # hour walls still fall ~15% over the first four
LAKE_HOURS_PER_DAY = 4
LAKE_DAYS = 4  # measured days, after the warm-up day
LAKE_EVENTS_PER_HOUR = 20_000

# tracing overhead is estimated from this many extra operations,
# alternating span hooks off and on
OVERHEAD_OPS = 6


def log(msg: str) -> None:
    print(f"lakebench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _tree(root_pid: int) -> dict[int, int]:
    """``root_pid`` and every process below it, each mapped to its
    parent, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    tree, todo = {root_pid: parent.get(root_pid, 0)}, [root_pid]
    while todo:
        p = todo.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree[c] = p
                todo.append(c)
    return tree


_LIBC = ctypes.CDLL(None, use_errno=True)
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1


def _in_parent_vm(pid: int, ppid: int) -> bool:
    """True while ``pid`` still runs in its parent's address space: the
    moment between vfork and exec (how the JVM and CPython start
    children), when /proc shows the parent's whole memory under the
    child as well."""
    return _SYS_KCMP is not None and _LIBC.syscall(_SYS_KCMP, pid, ppid, _KCMP_VM, 0, 0) == 0


def _tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and all its
    descendants (driver, JVM, Python workers), from /proc. PSS splits
    pages shared between the forked Python workers among them, so the
    sum is the tree's real footprint however many workers are alive;
    a child that shares its parent's address space is counted once."""
    total = 0
    for p, pp in _tree(root_pid).items():
        if p != root_pid and _in_parent_vm(p, pp):
            continue
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


RUN_MARK = "LAKEBENCH_RUN"


def mark_run() -> None:
    """Tag this process's environment so every process it starts, and
    every process those start (the JVM, its Python workers, the data
    generators), carries the tag; ``end_marked`` finds them by it even
    after they were re-parented."""
    os.environ[RUN_MARK] = f"{os.getpid()}-{time.time_ns()}"


def _marked() -> set[int]:
    tag = f"{RUN_MARK}={os.environ.get(RUN_MARK)}".encode()
    found = set()
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/environ", "rb") as fh:
                    if tag in fh.read().split(b"\0") and _running(int(d)):
                        found.add(int(d))
            except OSError:
                pass
    return found


def end_marked(timeout: float = 30.0) -> list[int]:
    """Wait until every process carrying this run's tag has ended; kill
    those still running after ``timeout`` seconds and wait for them too.
    Returns the pids that had to be killed."""
    if RUN_MARK not in os.environ:
        return []
    deadline = time.monotonic() + timeout
    while _marked() and time.monotonic() < deadline:
        time.sleep(0.1)
    killed = sorted(_marked())
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while _marked():
        time.sleep(0.1)
    return killed


def stop_jvm() -> None:
    """End the Spark gateway JVM (it exits when its stdin closes) and
    wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class MemSampler(threading.Thread):
    """Samples the process tree's PSS every ``period`` seconds; ``peak``
    is the largest sum seen."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------------------
# harness
# ---------------------------------------------------------------------------


class _NoSpans:
    """Span recorder stand-in for untraced runs."""

    op_id = None

    def span(self, name, **attrs):
        return nullcontext()


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = WORK
        self.tmp = os.path.join(self.work, "tmp")
        self.eventlog_dir = os.path.join(self.work, "eventlog")
        self.rec = SpanRecorder() if trace else _NoSpans()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setup_walls: list[float] = []
        self.session_walls: list[float] = []
        self.build_walls: list[float] = []
        self.measured_ops: list[int] = []
        self.details: dict = {}

    # -- session --------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap keeps peak memory a property of the
            # workload, not of when the collector last ran
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the bench.py session settings
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self, repeats: int, cold_build=None) -> None:
        """Session start plus the cold at-rest build, ``repeats`` times
        (the first also boots the JVM); the last session stays up for
        the run."""
        from duckdb_pipeline_spark.session import build_spark

        for _ in range(repeats):
            if self.spark is not None:
                self.rec.sc = None
                self.spark.stop()
            t0 = time.perf_counter()
            with self.rec.span("session.start"):
                self.spark = build_spark(
                    f"lakebench-{self.workload}",
                    master=f"local[{CORES}]",
                    shuffle_partitions=CORES,
                    extra_conf=self.spark_conf(),
                )
            self.session_walls.append(time.perf_counter() - t0)
            if self.trace:
                self.rec.sc = self.spark.sparkContext
            if cold_build is not None:
                t1 = time.perf_counter()
                with self.rec.span("queries.similarity.ivf_build"):
                    cold_build()
                self.build_walls.append(time.perf_counter() - t1)
            self.setup_walls.append(time.perf_counter() - t0)

    # -- tracing hooks ----------------------------------------------------

    @contextmanager
    def patched(self):
        """Record spans around the program's own module functions the
        benchmark's calls reach: every ``_ensure_*`` at-rest builder of
        the query modules, the bronze/silver readers and the silver/gold
        writer the transformer calls."""
        if not self.trace:
            yield
            return
        import importlib
        import pkgutil

        import duckdb_pipeline_spark.queries as qpkg
        from duckdb_pipeline_spark import transform

        saved = []

        def patch(mod, attr, span_name):
            fn = getattr(mod, attr)

            def call(*args, **kwargs):
                with self.rec.span(span_name):
                    return fn(*args, **kwargs)

            saved.append((mod, attr, fn))
            setattr(mod, attr, call)

        for info in pkgutil.iter_modules(qpkg.__path__):
            mod = importlib.import_module(f"{qpkg.__name__}.{info.name}")
            for attr in list(vars(mod)):
                if attr.startswith("_ensure_") and callable(getattr(mod, attr)):
                    patch(mod, attr, f"queries.atrest.{info.name}.{attr}")
        patch(transform, "read_json_auto", "sources.read")
        patch(transform, "resolve", "sources.read")
        patch(transform, "write_single_parquet", "sinks.write")
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def begin_op(self, measured: bool) -> None:
        self.attempted += 1
        if self.trace:
            self.rec.op_id = self.attempted
        if measured:
            self.measured_ops.append(self.attempted)

    def overhead(self, fn, items) -> tuple[list[float], list[float]]:
        """Walls of ``fn(item)`` with span hooks on and off, alternating
        per item (the event log stays on for both)."""
        on_walls, off_walls = [], []
        with self.patched():
            for item in items:
                for on in (False, True):
                    rec = self.rec
                    if not on:
                        self.rec = _NoSpans()
                    try:
                        w = fn(item)
                    finally:
                        self.rec = rec
                    if w is not None:
                        (on_walls if on else off_walls).append(w)
        return on_walls, off_walls

    def finish_trace(self, traced_walls: list[float], untraced_walls: list[float]) -> dict:
        """Stop the session (flushes the event log) and fold spans and
        the log into the per-layer metrics."""
        app_id = self.spark.sparkContext.applicationId
        self.rec.sc = None
        self.spark.stop()
        self.spark = None
        self.rec.dump(os.path.join(self.work, "spans.jsonl"))
        parsed = parse_event_log(os.path.join(self.eventlog_dir, app_id))
        m = layer_metrics(self.rec.spans, parsed, self.measured_ops, CORES)
        m["session.start_s"] = statistics.median(self.session_walls)
        m["queries.similarity.ivf_build_s"] = (
            statistics.median(self.build_walls) if self.build_walls else 0.0
        )
        m["trace.overhead_s"] = (
            statistics.mean(traced_walls) - statistics.mean(untraced_walls)
            if traced_walls and untraced_walls
            else 0.0
        )
        return m

    def fail(self, what: str) -> None:
        self.failed += 1
        self.details.setdefault("failures", []).append(what)
        log(f"FAILED {what}")


# ---------------------------------------------------------------------------
# query workloads (llm-curation, sql-interactive)
# ---------------------------------------------------------------------------


def _ivf_location(sf_dir: str) -> str:
    """Where ``queries.similarity._ensure_ivf_index`` keeps its index.
    That module has no ``cache_location`` helper, so the layout is
    restated here."""
    absd = os.path.abspath(sf_dir)
    label = (
        f"{os.path.basename(os.path.normpath(absd)) or 'sf'}-"
        f"{hashlib.sha256(absd.encode()).hexdigest()[:12]}"
    )
    return os.path.join(ROOT, ".scratch", "ivf", label)


def run_queries(h: Harness, rows: list[str], cold_ivf: bool) -> dict:
    from duckdb_pipeline_spark.queries import collect_all
    from duckdb_pipeline_spark.queries.similarity import _ensure_ivf_index
    from tests.oracle_check import compare, duck_connection

    sf_dir = os.path.join(h.work, "data", "sf")
    t0 = time.perf_counter()
    shutil.rmtree(sf_dir, ignore_errors=True)
    sizes = gen.write_tables(sf_dir, h.seed, SF)
    h.details["datagen_s"] = round(time.perf_counter() - t0, 3)
    h.details["input_bytes"] = sum(sizes.values())
    specs = collect_all()
    order = list(rows)
    random.Random(h.seed).shuffle(order)

    def ivf_cold_build():
        # only the engine's gitignored .scratch is ever wiped
        path = _ivf_location(sf_dir)
        if not path.startswith(os.path.join(ROOT, ".scratch") + os.sep):
            raise RuntimeError(f"refusing to wipe {path}: outside .scratch")
        shutil.rmtree(path, ignore_errors=True)
        if os.path.exists(path):
            raise RuntimeError(f"cold-build wipe failed to remove {path}")
        _ensure_ivf_index(h.spark, sf_dir, 8)

    t0 = time.perf_counter()
    h.setup(3 if cold_ivf else 5, ivf_cold_build if cold_ivf else None)
    h.details["setup_total_s"] = round(time.perf_counter() - t0, 3)
    spark = h.spark
    con = duck_connection(sf_dir)

    def op(name: str, measured: bool, check: bool = False) -> float | None:
        h.begin_op(measured)
        t0 = time.perf_counter()
        try:
            with h.rec.span("op", row=name):
                with h.rec.span("queries.plan_build"):
                    df = specs[name].fn(spark, sf_dir)
                with h.rec.span("exec.run"):
                    if check:
                        got = df.toPandas()
                    else:
                        df.write.mode("overwrite").format("noop").save()
                spark.catalog.clearCache()
        except Exception as exc:  # counted, reported, never fatal
            h.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        wall = time.perf_counter() - t0
        if check:
            problems = compare(name, got, con.execute(specs[name].oracle).df())
            if problems:
                h.fail(f"{name}: wrong output: {problems[:2]}")
                return None
        return wall

    samples: list[float] = []
    passes: list[float] = []
    by_row: dict[str, list[float]] = {}
    with h.patched():
        t0 = time.perf_counter()
        live = [name for name in order if op(name, measured=False, check=True) is not None]
        h.details["warmup_s"] = round(time.perf_counter() - t0, 3)
        start = time.perf_counter()
        while live and (not passes or time.perf_counter() - start < h.seconds):
            p0 = time.perf_counter()
            for name in live:
                w = op(name, measured=True)
                if w is not None:
                    samples.append(w)
                    by_row.setdefault(name, []).append(w)
            passes.append(time.perf_counter() - p0)
        measured_wall = time.perf_counter() - start
    con.close()

    traced, untraced = (
        h.overhead(lambda name: op(name, measured=False), live[:OVERHEAD_OPS])
        if h.trace
        else ([], [])
    )
    h.details.update(rows=order, row_walls={k: [round(w, 3) for w in v] for k, v in by_row.items()})
    return {
        "samples": samples,
        "by_row": by_row,
        "passes": passes,
        "throughput": len(samples) / measured_wall,
        "traced": traced,
        "untraced": untraced,
    }


# ---------------------------------------------------------------------------
# lake-batch
# ---------------------------------------------------------------------------

GOLD_SQL = """
SELECT event_type, repo_id, repo_name, repo_url,
       CAST(DATE_TRUNC('day', CAST(event_date AS TIMESTAMP)) AS DATE) AS event_date,
       count(*) AS event_count
FROM (
  SELECT id AS event_id, actor.id AS user_id, actor.login AS user_name,
         actor.display_login AS user_display_name, type AS event_type,
         repo.id AS repo_id, repo.name AS repo_name, repo.url AS repo_url,
         created_at AS event_date
  FROM read_json_auto('{glob}', ignore_errors=true)
)
GROUP BY ALL
"""


def run_lake(h: Harness) -> dict:
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    from duckdb_pipeline_spark.config import EngineConfig
    from duckdb_pipeline_spark.transform import DataLakeTransformer
    from tests.oracle_check import compare

    lake = os.path.join(h.work, "lake")
    shutil.rmtree(lake, ignore_errors=True)
    base = "gharchive"
    bronze_root = os.path.join(lake, "bronze", base)
    start = gen.day_start(h.seed)
    day_hours = [LAKE_WARMUP_HOURS] + [LAKE_HOURS_PER_DAY] * LAKE_DAYS
    stamps = [
        start + timedelta(days=d, hours=hr)
        for d, n in enumerate(day_hours)
        for hr in range(n)
    ]
    t0 = time.perf_counter()
    manifest = gen.write_bronze_hours(
        bronze_root, h.seed, stamps, LAKE_EVENTS_PER_HOUR, workers=CORES
    )
    h.details["datagen_s"] = round(time.perf_counter() - t0, 3)
    h.details["bronze_bytes_per_hour"] = manifest[0]["bytes"]
    days, i = [], 0
    for d, n in enumerate(day_hours):
        days.append((start + timedelta(days=d), manifest[i:i + n]))
        i += n

    t0 = time.perf_counter()
    h.setup(5)
    h.details["setup_total_s"] = round(time.perf_counter() - t0, 3)
    cfg = EngineConfig(
        bronze_bucket=os.path.join(lake, "bronze"),
        silver_bucket=os.path.join(lake, "silver"),
        gold_bucket=os.path.join(lake, "gold"),
        scheme="",
    )
    tr = DataLakeTransformer(base, h.spark, cfg)
    con = duckdb.connect()
    gold: dict = {}
    malformed = {day: sum(x["malformed"] for x in hrs) for day, hrs in days}

    def hour_op(hour: dict, measured: bool) -> float | None:
        h.begin_op(measured)
        t0 = time.perf_counter()
        try:
            with h.rec.span("op", kind="hour"):
                with h.rec.span("transform.serialise"):
                    path = tr.serialise_raw_data(hour["hour"])
        except Exception as exc:
            h.fail(f"hour {hour['hour']}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        wall = time.perf_counter() - t0
        got = pq.ParquetFile(path).metadata.num_rows
        if got != hour["valid"]:
            h.fail(f"silver {hour['hour']}: {got} rows, expected {hour['valid']}")
            return None
        return wall

    def day_op(day, measured: bool) -> float | None:
        h.begin_op(measured)
        t0 = time.perf_counter()
        try:
            with h.rec.span("op", kind="day"):
                with h.rec.span("transform.aggregate"):
                    gold[day] = tr.aggregate_silver_data(day)
        except Exception as exc:
            h.fail(f"day {day}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        return time.perf_counter() - t0

    def check_gold(day) -> None:
        """Gold must equal the reference SQL over the same bronze day.
        DuckDB's ``ignore_errors=true`` turns each unparseable line into
        an all-NULL record, which the reference then counts as one
        all-NULL gold group; the engine's DROPMALFORMED reader drops
        those lines. That one group must hold exactly the generator's
        malformed-line count, and every other group must match."""
        h.attempted += 1
        glob = os.path.join(bronze_root, day.strftime("%Y-%m-%d"), "*", "*.json.gz")
        con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS {GOLD_SQL.format(glob=glob)}")
        null_key = (
            "event_type IS NULL AND repo_id IS NULL AND repo_name IS NULL "
            "AND repo_url IS NULL AND event_date IS NULL"
        )
        nulls = con.execute(f"SELECT event_count FROM ref WHERE {null_key}").fetchall()
        null_count = nulls[0][0] if nulls else 0
        want = con.execute(f"SELECT * FROM ref WHERE NOT ({null_key})").df()
        problems = compare("gold", pd.read_parquet(gold[day]), want)
        if null_count != malformed[day]:
            problems.append(
                f"reference all-NULL group {null_count} != malformed lines {malformed[day]}"
            )
        if problems:
            h.fail(f"gold {day:%Y-%m-%d}: {problems[:2]}")
        h.details["reference_null_group_rows"] = (
            h.details.get("reference_null_group_rows", 0) + null_count
        )

    hours_s: list[float] = []
    rollups_s: list[float] = []
    days_s: list[float] = []
    events = 0
    measured_days = []
    with h.patched():
        t0 = time.perf_counter()
        warm_day, warm_hours = days[0]
        for hour in warm_hours:
            hour_op(hour, measured=False)
        # the rollup path needs two passes before its walls settle
        if day_op(warm_day, measured=False) is not None:
            check_gold(warm_day)
        day_op(warm_day, measured=False)
        h.details["warmup_s"] = round(time.perf_counter() - t0, 3)
        start_t = time.perf_counter()
        for day, hours in days[1:]:
            d0 = time.perf_counter()
            for hour in hours:
                w = hour_op(hour, measured=True)
                if w is not None:
                    hours_s.append(w)
                    events += LAKE_EVENTS_PER_HOUR
            w = day_op(day, measured=True)
            if w is not None:
                rollups_s.append(w)
                days_s.append(time.perf_counter() - d0)
                measured_days.append(day)
            if time.perf_counter() - start_t >= h.seconds:
                break
        measured_wall = time.perf_counter() - start_t
    # the first measured day's gold is checked after the timed window, as
    # the warm-up day's was; silver is checked for every hour
    for day in measured_days[:1]:
        check_gold(day)
    con.close()

    traced, untraced = (
        h.overhead(lambda hour: hour_op(hour, measured=False), days[-1][1][:OVERHEAD_OPS // 2])
        if h.trace
        else ([], [])
    )
    h.details.update(hour_walls=[round(w, 3) for w in hours_s],
                     rollup_walls=[round(w, 3) for w in rollups_s])
    return {
        "samples": hours_s,
        "by_row": {"hour": hours_s},
        "passes": days_s,
        "rollups": rollups_s,
        "throughput": events / measured_wall,
        "traced": traced,
        "untraced": untraced,
    }
