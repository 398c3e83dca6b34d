"""Run scaffolding shared by the three workloads.

Everything here sits *outside* the engine: session start-up, box health,
the tracer that times layer calls by wrapping the engine's public
functions from the benchmark's side, the event-log reader that turns
Spark task metrics into per-operation numbers, and the statistics.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import tempfile
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A run is flagged unhealthy when either holds: the hypervisor stole
# more than this share of CPU time during the run, or the 1-minute load
# average at the start was above this multiple of the CPUs the process
# was given (before it pins itself to half of them). This is the one
# place the rule is written down.
MAX_STEAL_PCT = 2.0
MAX_START_LOAD_PER_CORE = 1.5


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_to_half_the_cores() -> None:
    """Run this process, and the JVM and Python workers it starts, on
    half the CPUs it may use (at least one).

    The benchmark runs on a few virtual CPUs of a shared host. On four
    of them, four copies of a fixed Python loop ran at half the speed of
    one or two copies, and with Spark on every CPU ten runs of the same
    code spread by 0.2-0.45 of their median; on half the CPUs, by
    0.04-0.16 (README.md, "Why half the CPUs"). Threads started after
    this call inherit the mask.
    """
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus[: max(1, len(cpus) // 2)])


# ------------------------------------------------------------------ health


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class Health:
    """CPU steal and load sampled around a run from ``/proc``."""

    def __init__(self) -> None:
        self.cores = n_cores()
        self.start_cpu = _cpu_times()
        self.start_load1 = _load1()

    def finish(self) -> dict:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self.start_cpu, end)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        steal_pct = 100.0 * delta[7] / total if len(delta) > 7 else 0.0
        busy_pct = 100.0 * (total - delta[3] - delta[4]) / total
        reasons = []
        if steal_pct > MAX_STEAL_PCT:
            reasons.append(f"steal {steal_pct:.1f}% > {MAX_STEAL_PCT}%")
        limit = MAX_START_LOAD_PER_CORE * self.cores
        if self.start_load1 > limit:
            reasons.append(f"start load1 {self.start_load1} > {limit}")
        return {
            "steal_pct": steal_pct,
            "busy_pct": busy_pct,
            "load1_start": self.start_load1,
            "load1_end": _load1(),
            "cores": self.cores,
            "healthy": not reasons,
            "reasons": reasons,
        }


# ----------------------------------------------------------------- session


class Session:
    """A fresh SparkSession, ``local[n]`` on the n CPUs this process may
    use, whose scratch files stay in ``work``; :meth:`close` stops the
    JVM and waits for it."""

    def __init__(self, work: str, event_log: bool) -> None:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cores = n_cores()
        # Python workers import the engine; temp files stay in the run dir
        os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # launcher JVM too
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
        self.event_dir = os.path.join(work, "eventlog")
        extra = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from pyspark import SparkContext

        from chapterhouseqe_spark import get_spark

        self.spark = get_spark("perfbench", shuffle_partitions=cores, extra_conf=extra)
        self.sc = self.spark.sparkContext
        self._proc = SparkContext._gateway.proc
        self.jvm_pid = self._proc.pid

    def warm_scans(self, sf_dir: str, tables: tuple[str, ...]) -> None:
        # a noop write reads every page; count() would stop at the footers
        for t in tables:
            self.spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format(
                "noop"
            ).mode("overwrite").save()

    def warm_python_workers(self) -> None:
        cores = n_cores()
        self.spark.range(0, cores, 1, cores).mapInPandas(
            _preload, "id long"
        ).write.format("noop").mode("overwrite").save()

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def jobs_for_tag(self, tag: str) -> int:
        return len(self.sc._jsc.sc().statusTracker().getJobIdsForTag(tag))

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc.stdin:
            self._proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self._proc.wait(timeout=30)
        except Exception:
            self._proc.kill()
            self._proc.wait(timeout=30)


def _preload(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    yield from batches


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# ------------------------------------------------------------------ tracer


class Tracer:
    """Spans and counters recorded at layer boundaries, from outside.

    A span is ``{name, op, start, end, parent, jobs, attrs}``; ``jobs``
    is the number of Spark jobs started inside it (a job tag plus the
    status tracker). Spans are only recorded while ``enabled`` is set,
    so one run can alternate traced and untraced passes. Nesting is per
    thread; a span inside a span of the same name is not counted twice.
    """

    def __init__(self, session: Session) -> None:
        self.session = session
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self.tag_op: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "op": self.op,
            "parent": stack[-1]["name"] if stack else None,
            "nested": any(s["name"] == name for s in stack),
            "attrs": attrs,
        }
        tag = None
        if jobs:
            tag = f"perfbench-{uuid.uuid4().hex[:12]}"
            self.session.sc.addJobTag(tag)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if tag is not None:
                self.session.sc.removeJobTag(tag)
                rec["jobs"] = self.session.jobs_for_tag(tag)
            with self._lock:
                self.spans.append(rec)
                if tag is not None:
                    self.tag_op[tag] = self.op

    def wrap(self, owner, attr: str, name: str, jobs: bool = False, after=None):
        """Replace ``owner.attr`` by a version timed as span ``name``;
        ``after(result, attrs)`` may add attributes or child spans."""
        inner = getattr(owner, attr)

        def timed(*a, **kw):
            with self.span(name, jobs=jobs) as attrs:
                out = inner(*a, **kw)
            if after is not None and self.enabled:
                after(out, attrs)
            return out

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, inner))

    def unwrap_all(self) -> None:
        for owner, attr, inner in reversed(self._undo):
            setattr(owner, attr, inner)
        self._undo.clear()

    def per_op(self, ops: list[int], name: str, field: str = "time", where=None) -> float:
        """Sum of ``field`` over outermost spans ``name`` in ``ops``,
        divided by the number of ops."""
        keep = set(ops)
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["nested"] or s["op"] not in keep:
                continue
            if where is not None and not where(s):
                continue
            if field == "time":
                total += s["end"] - s["start"]
            elif field == "count":
                total += 1
            elif field == "jobs":
                total += s.get("jobs", 0)
            else:
                total += s["attrs"].get(field, 0)
        return total / max(1, len(keep))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def force_plan(tracer: Tracer, df) -> None:
    """Catalyst planning, timed apart from the action that follows."""
    with tracer.span("spark.plan"):
        df._jdf.queryExecution().executedPlan()


def trace_engine(tracer: Tracer, engine) -> None:
    """Wrap the SQL front-end and the QueryEngine methods of one engine."""
    import chapterhouseqe_spark.engine as eng_mod
    import chapterhouseqe_spark.sql.compiler as compiler
    import chapterhouseqe_spark.sql.parser as parser
    import chapterhouseqe_spark.sql.read_files as read_files
    from pyspark.sql.readwriter import DataFrameWriter

    # the engine imports these by name, so wrap both bindings
    for mod in (eng_mod, parser):
        tracer.wrap(mod, "parse_select", "sql.parser")
    tracer.wrap(parser, "split_statements", "sql.parser")
    for mod in (eng_mod, read_files):
        tracer.wrap(mod, "rewrite_table_functions", "sql.read_files")
        tracer.wrap(mod, "load_glob", "sql.read_files")
    for mod in (eng_mod, compiler):
        tracer.wrap(mod, "compile_expression", "sql.compiler")
        tracer.wrap(mod, "project", "sql.compiler")
    tracer.wrap(eng_mod, "with_row_ids", "engine.rowid", jobs=True)
    tracer.wrap(
        engine,
        "dataframe_for",
        "engine.build",
        jobs=True,
        after=lambda df, _a: force_plan(tracer, df),
    )
    tracer.wrap(engine, "materialize", "engine.materialize", jobs=True)

    def _rows(out, attrs):
        attrs["rows"] = len(out)

    tracer.wrap(engine, "fetch", "engine.fetch", jobs=True, after=_rows)
    tracer.wrap(engine, "run_query", "engine.submit")
    for verb in ("status", "error", "num_rows"):
        tracer.wrap(engine, verb, "engine.status")
    results_root = engine.results_root
    inner_parquet = DataFrameWriter.parquet

    def parquet(writer, path, *a, **kw):
        result_write = str(path).startswith(results_root)
        with tracer.span("spark.exec", jobs=True, result_write=result_write):
            return inner_parquet(writer, path, *a, **kw)

    DataFrameWriter.parquet = parquet
    tracer._undo.append((DataFrameWriter, "parquet", inner_parquet))


# --------------------------------------------------------------- event log


def event_log_metrics(event_dir: str, tag_op: dict[str, int], ops: list[int]) -> dict:
    """Per-op means of stage metrics for jobs tagged by the tracer."""
    job_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    per = defaultdict(lambda: defaultdict(float))
    keep = set(ops)
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                    op = next((tag_op[t] for t in tags.split(",") if t in tag_op), None)
                    if op is None or op not in keep:
                        continue
                    job_op[ev["Job ID"]] = op
                    for sid in ev["Stage IDs"]:
                        stage_op[sid] = op
                    per[op]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(ev["Stage Info"]["Stage ID"])
                    if op is not None:
                        per[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if op is None or not tm:
                        continue
                    m = per[op]
                    m["task_s"] += tm["Executor Run Time"] / 1000.0
                    m["gc_s"] += tm["JVM GC Time"] / 1000.0
                    sr = tm["Shuffle Read Metrics"]
                    m["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 2**20
                    m["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    m["spill_mb"] += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / 2**20
                    m["peak_exec_mem_mb"] = max(
                        m["peak_exec_mem_mb"], tm["Peak Execution Memory"] / 2**20
                    )
    names = ("jobs", "stages", "task_s", "gc_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb")
    n = max(1, len(keep))
    return {f"spark.{k}": sum(per[op][k] for op in keep) / n for k in names}


# ------------------------------------------------------------------- stats


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]
