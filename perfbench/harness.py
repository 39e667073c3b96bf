"""Shared machinery of the engine benchmark.

- ``Run``: one isolated run -- fresh TMPDIR, lake, checkpoint and Spark
  scratch roots under ``.perfbench_runs/`` in the checkout, the Spark
  session pinned to ``local[<cores>]``, run facts, and clean shutdown of
  the JVM it launched.
- ``Tracer``: in-memory spans (name, start, end, parent, op id) recorded
  around every call the benchmark makes into a layer; written out when
  the run ends. Self time = duration minus the time child spans cover.
- ``SparkStats``: per-tag job/stage totals from Spark's status store.
- ``plan_counts``: scan, exchange and Python-boundary counts from an
  executed physical plan (through AQE stages).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(REPO, ".perfbench_runs")
# reserved for confirming a later claim on a seed no change was tuned on
HOLDOUT_SEED = 7919
MB = 1024.0 * 1024.0


def spec() -> dict:
    """The benchmark definition: metric names, units and bounds."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def zero_layers() -> dict[str, float]:
    """Every per-layer metric at 0: a layer a workload never calls does
    no work there, and its figures read 0."""
    return {m["name"]: 0.0 for m in spec()["per_layer"]}


def cores() -> int:
    """Cores this process may run on (``nproc`` without OMP overrides)."""
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, math.ceil(q / 100.0 * len(xs)) - 1))
    return xs[k]


def canon(v):
    """Order- and noise-insensitive form of one result cell: floats keep
    9 significant digits, so sums that differ only in the order Spark
    added them compare equal."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):
        return canon(v.item())
    return v


def canon_rows(columns, rows) -> list:
    """Rows as name-sorted canonical tuples, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


def digest(columns, rows) -> str:
    return hashlib.sha1(
        repr((sorted(columns), canon_rows(columns, rows))).encode()
    ).hexdigest()[:16]


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's hidden files excluded."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class Tracer:
    """Spans kept in memory. Disabled tracers record nothing, so one code
    path serves the untraced and the traced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """name -> summed self time (duration minus covered child time)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total(self, name: str, op: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        )


def plan_counts(df) -> dict:
    """Counts from a DataFrame's executed plan, after it ran: file scans
    (rows and files read), exchanges, and nodes at the Python/Arrow
    boundary with the rows they produced. AQE wraps the tree, so the walk
    descends into the materialized query stages."""
    acc = {"rows_read": 0, "files_read": 0, "exchanges": 0,
           "python_nodes": 0, "python_rows": 0}

    def metric(node, key):
        m = node.metrics()
        return int(m.apply(key).value()) if m.contains(key) else 0

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if "Exchange" in name and "Reused" not in name:
            acc["exchanges"] += 1
        if "Scan" in name and "LocalTableScan" not in name:
            acc["rows_read"] += metric(node, "numOutputRows")
            acc["files_read"] += metric(node, "numFiles")
        if "Python" in name or "Pandas" in name or "Arrow" in name:
            acc["python_nodes"] += 1
            acc["python_rows"] += metric(node, "numOutputRows")
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return acc


SPARK_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
              "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "input_mb", "output_mb")


class SparkStats:
    """Job and stage totals per job tag, read from Spark's status store
    after the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextmanager
    def tagged(self, tag: str):
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def totals(self, tag: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        for jid in self._jsc.statusTracker().getJobIdsForTag(tag):
            job = store.job(jid)
            out["jobs"] += 1
            out["failed_tasks"] += job.numFailedTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / MB
                out["input_mb"] += st.inputBytes() / MB
                out["output_mb"] += st.outputBytes() / MB
        return out


class Run:
    """One isolated benchmark run: its roots, session, facts and result."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.root = os.path.join(
            RUNS_DIR, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        )
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = os.path.join(self.root, "tmp")
        os.makedirs(self.tmp)
        # every temp path the library derives (bench_probes layout caches,
        # COW clones) lands under this run's root, so no state survives
        # from an earlier process
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        self.tracer = Tracer(trace)
        self.spark = None
        self._proc = None
        self.facts: dict = {
            "workload": workload,
            "seed": seed,
            "holdout_seed": HOLDOUT_SEED,
            "nproc": cores(),
            "python": sys.version.split()[0],
            "load_before": os.getloadavg(),
        }
        self.phases: dict[str, float] = {}
        self.detail: dict = {}  # per-operation figures, run record only
        self._t = time.perf_counter()
        self.checks: list[tuple[str, bool, str]] = []
        self.attempted = 0
        self.failed = 0

    def phase(self, name: str) -> None:
        """Close the current wall-clock phase under ``name`` (run facts)."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._t
        self._t = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def start_session(self) -> float:
        """Start Spark on local[<cores>]; returns seconds taken."""
        n = cores()
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # the JVM that spark-submit runs first, to build the driver command
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        t0 = time.perf_counter()
        from bigdata_storage_and_proccess_job_data_spark.session import get_spark

        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # no hsperfdata file under /tmp: the run writes only in its root
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "40000",
                "spark.sql.ui.retainedExecutions": "200",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = self.spark.sparkContext._gateway.proc
        self.facts["spark"] = self.spark.version
        return time.perf_counter() - t0

    def calibrate(self, reps: int = 3) -> float:
        """Fixed-work reference: min of ``reps`` timed spark.range sums.
        It should move with the box, never with the engine's code."""
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.spark.range(100_000).selectExpr("sum(id)").collect()
            times.append(time.perf_counter() - t0)
        return min(times)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return bool(ok)

    def peak_rss_mb(self) -> float:
        jvm = rss_mb(self._proc.pid) if self._proc is not None else 0.0
        return rss_mb(os.getpid()) + jvm

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc, self._proc = self._proc, None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def write_record(self, result: dict, report: dict) -> str:
        out_dir = os.path.join(RUNS_DIR, "records")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{self.workload}-s{self.seed}-t{int(self.trace)}.json"
        )
        self.facts["phases_s"] = self.phases
        rec = {
            "facts": self.facts,
            "result": result,
            "report": report,
            "checks": self.checks,
        }
        if self.trace:
            rec["detail"] = self.detail
            rec["spans"] = self.tracer.spans
            rec["self_time_s"] = self.tracer.self_times()
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1, default=str)
        return path

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
