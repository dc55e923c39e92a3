"""Traced runs: spans around each layer's entry points, folded together
with the Spark event log into per-layer metrics.

Spans are recorded from the benchmark's own code: `Tracer.install`
replaces module attributes of the program (the functions the CLI and
the operators call) with wrappers, and `uninstall` puts the originals
back; nothing in the program is edited. Each wrapper opens a span (layer,
name, start, end, parent span, run) and sets the Spark local property
``perfbench.span`` to the span id in the calling thread, so every job
submitted inside the span carries it. (The job group is not used for
this: `Migrator` owns it for cancellation.)

`fold` reads the uncompressed event log, maps each job to its span and
each stage and task to its job, and sums per layer. A layer's self time
is its span time minus the union of its child spans; its driver time is
its span time minus the union of its jobs' run intervals.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from workloads import CURATE_CHAIN

PROPERTY = "perfbench.span"
OPERATOR_LAYERS = ("dedup", "text", "ranking", "similarity")

#: every per-layer metric, in output order, with its unit
UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "catalog.calls": "count",
    "catalog.driver_s": "s",
    "ddl.statements": "count",
    "ddl.driver_s": "s",
    "migrate.tables": "count",
    "migrate.table_s.p50": "s",
    "migrate.table_s.max": "s",
    "migrate.queue_wait_s": "s",
    "migrate.self_s": "s",
    "migrate.failed_tables": "count",
    "transforms.error_rows": "rows",
    "transforms.side_channel.wall_s": "s",
    "transforms.side_channel.exec_cpu_s": "s",
    "sources.jdbc.calls": "count",
    "sources.jdbc.partitions": "count",
    "sources.jdbc.rows": "rows",
    "sources.jdbc.task_s.max": "s",
    "sinks.jdbc.wall_s": "s",
    "sinks.jdbc.exec_cpu_s": "s",
    "sinks.jdbc.offcpu_s": "s",
    "sinks.jdbc.tasks": "count",
    "sinks.jdbc.task_s.max": "s",
    "sinks.jdbc.output_bytes": "bytes",
    "sinks.jdbc.gc_s": "s",
    "sources.copytext.wall_s": "s",
    "sources.copytext.exec_cpu_s": "s",
    "sources.copytext.offcpu_s": "s",
    "sources.copytext.tasks": "count",
    "validate.wall_s": "s",
    "validate.jobs": "count",
    "validate.src.wall_s": "s",
    "validate.driver_s": "s",
    **{
        f"operators.{layer}.{m}": u
        for layer in OPERATOR_LAYERS
        for m, u in (
            ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
            ("stages", "count"), ("exec_cpu_s", "s"),
            ("shuffle_write_bytes", "bytes"),
            ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
            ("gc_s", "s"),
        )
    },
    **{f"curate.{e}.wall_s": "s" for e in CURATE_CHAIN},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_overhead_s": "s",
    "spark.gc_s": "s",
    "phase.create_table_s": "s",
    "phase.only_data_s": "s",
    "phase.compare_s": "s",
    "phase.run_s": "s",
    "host.steal_jiffies": "jiffies",
    "host.load_1m": "load",
    "trace.overhead_s": "s",
}


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    run: int
    t0: float
    t1: float = 0.0
    result: object = None

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans from wrapped module attributes (see module doc)."""

    def __init__(self, spark, workload):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self.run = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def next_run(self) -> None:
        self.run += 1

    # -- spans ---------------------------------------------------------
    def span(self, layer: str, name: str, fn, *args, **kwargs):
        """Call fn(*args, **kwargs) inside a span."""
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        if stack:
            parent = stack[-1].sid
        else:  # a pool thread: adopt the main thread's open span
            main = self._stacks.get(self._main) or []
            parent = main[-1].sid if main else None
        with self._lock:
            s = Span(next(self._ids), parent, layer, name, self.run,
                     time.time())
            self.spans.append(s)
        prev = self.sc.getLocalProperty(PROPERTY)
        self.sc.setLocalProperty(PROPERTY, str(s.sid))
        stack.append(s)
        try:
            s.result = fn(*args, **kwargs)
            return s.result
        finally:
            s.t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(PROPERTY, prev)

    def wrap(self, layer: str, name: str, fn):
        def wrapper(*args, **kwargs):
            return self.span(layer, name, fn, *args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, obj, attr: str, layer: str, name: str, make=None):
        orig = getattr(obj, attr)
        self._patched.append((obj, attr, orig))
        setattr(obj, attr, make(orig) if make else
                self.wrap(layer, name, orig))

    def install(self) -> None:
        import importlib

        from gomysql2pg_spark import catalog, cli, ddl, migrate, validate
        from gomysql2pg_spark.sinks import jdbc as sinks_jdbc
        from gomysql2pg_spark.sources import jdbc as sources_jdbc

        # the root span of a migration run: every job of the run is under it
        self._patch(cli, "main", "cli", "main")
        self._patch(catalog, "list_tables", "catalog", "list_tables")
        self._patch(catalog, "load_table", "catalog", "load_table")
        self._patch(ddl, "create_table_sql", "ddl", "create_table_sql")
        self._patch(migrate.Migrator, "run", "migrate", "Migrator.run")
        self._patch(migrate.Migrator, "_run_table", "migrate.table",
                    "Migrator._run_table")
        self._patch(migrate.Migrator, "_write_error_rows",
                    "transforms.side_channel", "Migrator._write_error_rows")
        self._patch(sources_jdbc, "read", "sources.jdbc", "read")
        self._patch(validate, "compare_tables", "validate", "compare_tables")
        self._patch(
            sinks_jdbc, "copy_dump_sink", "sinks.jdbc", "copy_dump_sink",
            make=lambda orig: lambda *a, **kw: self.wrap(
                "sinks.jdbc", "sink", orig(*a, **kw)),
        )
        # operators bind load_table at import: wrap those names too
        for layer in OPERATOR_LAYERS:
            mod = importlib.import_module(f"gomysql2pg_spark.operators.{layer}")
            if hasattr(mod, "load_table"):
                self._patch(mod, "load_table", "catalog", "load_table")
        if hasattr(self.workload, "entries"):
            self.workload.wrap = self._entry_span

    def _entry_span(self, entry: str, thunk):
        fn = self.workload.entries[entry]
        layer = fn.__module__.replace("gomysql2pg_spark.", "")
        return self.span(layer, entry, thunk)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()
        if hasattr(self.workload, "entries"):
            self.workload.wrap = None


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def event_log(event_dir: Path, app_id: str) -> list[Path]:
    """The uncompressed event log files of application `app_id`: one
    file, or the parts of a rolling log directory, in order."""
    files = [p for p in event_dir.rglob("*") if p.is_file() and (
        p.name == app_id or p.name.startswith("events_")
        and p.name.endswith(f"_{app_id}"))]
    if not files:
        raise RuntimeError(f"no event log of {app_id} under {event_dir}")
    return sorted(files, key=lambda p: int(p.name.split("_")[1])
                  if p.name != app_id else 0)


@dataclass
class Job:
    span: int | None
    execution: int | None
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)


@dataclass
class Stage:
    tasks: list = field(default_factory=list)
    rdds: str = ""


@dataclass
class Task:
    seconds: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_rows: int
    output_bytes: int
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class Execution:
    plan: str
    start: float
    end: float = 0.0


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, paths: list[Path]):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.executions: dict[int, Execution] = {}
        self._stage_job: dict[int, int] = {}
        handlers = {
            "SparkListenerJobStart": self._job_start,
            "SparkListenerJobEnd": self._job_end,
            "SparkListenerStageCompleted": self._stage_end,
            "SparkListenerTaskEnd": self._task_end,
            "SparkListenerSQLExecutionStart": self._sql_start,
            "SparkListenerSQLExecutionEnd": self._sql_end,
        }
        for ev in _events(paths):
            handler = handlers.get(ev["Event"].rsplit(".", 1)[-1])
            if handler is not None:
                handler(ev)

    def _job_start(self, ev) -> None:
        props = ev.get("Properties") or {}
        sid = props.get(PROPERTY)
        ex = props.get("spark.sql.execution.id")
        self.jobs[ev["Job ID"]] = Job(int(sid) if sid else None,
                                      int(ex) if ex else None,
                                      ev["Submission Time"] / 1000)
        for st in ev["Stage IDs"]:
            self._stage_job.setdefault(st, ev["Job ID"])

    def _job_end(self, ev) -> None:
        self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000

    def _stage_end(self, ev) -> None:
        info = ev["Stage Info"]
        st = self.stages.setdefault(info["Stage ID"], Stage())
        st.rdds = " ".join(f"{r.get('Name', '')} {r.get('Scope', '')}"
                           for r in info.get("RDD Info", []))
        job = self._stage_job.get(info["Stage ID"])
        if job is not None:
            self.jobs[job].stages.append(info["Stage ID"])

    def _task_end(self, ev) -> None:
        m = ev.get("Task Metrics")
        if not m:
            return
        info = ev["Task Info"]
        read = m.get("Shuffle Read Metrics", {})
        self.stages.setdefault(ev["Stage ID"], Stage()).tasks.append(Task(
            seconds=(info["Finish Time"] - info["Launch Time"]) / 1000,
            run_s=m["Executor Run Time"] / 1000,
            cpu_s=m["Executor CPU Time"] / 1e9,
            gc_s=m["JVM GC Time"] / 1000,
            input_rows=m.get("Input Metrics", {}).get("Records Read", 0),
            output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
            shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0),
            shuffle_read=read.get("Remote Bytes Read", 0)
            + read.get("Local Bytes Read", 0),
            spill=m.get("Disk Bytes Spilled", 0),
        ))

    def _sql_start(self, ev) -> None:
        self.executions[ev["executionId"]] = Execution(
            ev.get("physicalPlanDescription", ""), ev["time"] / 1000)

    def _sql_end(self, ev) -> None:
        ex = self.executions.get(ev["executionId"])
        if ex is not None:
            ex.end = ev["time"] / 1000

    def tasks(self, jobs) -> list[Task]:
        return [t for j in jobs for s in j.stages
                for t in self.stages[s].tasks]


# ---------------------------------------------------------------------------
# fold
# ---------------------------------------------------------------------------


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def is_copytext(plan: str) -> bool:
    return "copytext" in plan.lower()


def fold_run(spans: list[Span], log: EventLog) -> dict:
    """Per-layer metrics of the spans of one traced run."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_span: dict[int, list[Job]] = {}
    for j in log.jobs.values():
        if j.span is not None:
            by_span.setdefault(j.span, []).append(j)

    def subtree(s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x.sid, ()))
        return out

    def jobs_of(ss) -> list[Job]:
        return [j for s in ss for x in subtree(s)
                for j in by_span.get(x.sid, ())]

    def driver_s(ss) -> float:
        return sum(
            s.seconds - _union(_clip([(j.submit, j.end) for j in jobs_of([s])],
                                     s.t0, s.t1))
            for s in ss)

    def layer(name) -> list[Span]:
        return [s for s in spans if s.layer == name]

    def task_sums(tasks, prefix) -> dict:
        return {
            f"{prefix}.exec_cpu_s": sum(t.cpu_s for t in tasks),
            f"{prefix}.offcpu_s": sum(t.run_s - t.cpu_s for t in tasks),
            f"{prefix}.tasks": len(tasks),
        }

    out: dict[str, float] = {}
    cat = layer("catalog")
    out["catalog.calls"] = len(cat)
    out["catalog.driver_s"] = driver_s(cat)
    ddl = layer("ddl")
    out["ddl.statements"] = sum(len(s.result or ()) for s in ddl)
    out["ddl.driver_s"] = driver_s(ddl)

    runs, tables = layer("migrate"), layer("migrate.table")
    secs = [s.seconds for s in tables] or [0.0]
    start = {s.sid: s.t0 for s in runs}
    out["migrate.tables"] = len(tables)
    out["migrate.table_s.p50"] = statistics.median(secs)
    out["migrate.table_s.max"] = max(secs)
    out["migrate.queue_wait_s"] = sum(s.t0 - start[s.parent] for s in tables
                                      if s.parent in start)
    out["migrate.self_s"] = sum(
        s.seconds - _union(_clip([(c.t0, c.t1) for c in
                                  children.get(s.sid, ())], s.t0, s.t1))
        for s in runs)
    out["migrate.failed_tables"] = sum(len(s.result.failed) for s in runs
                                       if s.result is not None)

    side = layer("transforms.side_channel")
    out["transforms.error_rows"] = sum(int(s.result or 0) for s in side)
    out["transforms.side_channel.wall_s"] = sum(s.seconds for s in side)
    out["transforms.side_channel.exec_cpu_s"] = sum(
        t.cpu_s for t in log.tasks(jobs_of(side)))

    # JDBC scans: every stage of a traced job whose RDD chain reads JDBC
    traced = jobs_of([s for s in spans if s.parent is None])
    jdbc_stages = [log.stages[st] for j in traced for st in j.stages
                   if "JDBCRDD" in log.stages[st].rdds]
    jdbc_tasks = [t for st in jdbc_stages for t in st.tasks]
    out["sources.jdbc.calls"] = len(layer("sources.jdbc"))
    out["sources.jdbc.partitions"] = len(jdbc_tasks)
    out["sources.jdbc.rows"] = sum(t.input_rows for t in jdbc_tasks)
    out["sources.jdbc.task_s.max"] = max(
        [t.seconds for t in jdbc_tasks] or [0.0])

    sink = layer("sinks.jdbc")
    st = log.tasks(jobs_of(sink))
    out["sinks.jdbc.wall_s"] = sum(s.seconds for s in sink)
    out.update(task_sums(st, "sinks.jdbc"))
    out["sinks.jdbc.task_s.max"] = max([t.seconds for t in st] or [0.0])
    out["sinks.jdbc.output_bytes"] = sum(t.output_bytes for t in st)
    out["sinks.jdbc.gc_s"] = sum(t.gc_s for t in st)

    val = layer("validate")
    vjobs = jobs_of(val)
    execs = {j.execution for j in vjobs if j.execution is not None}
    ct = {e for e in execs if is_copytext(log.executions[e].plan)}
    ct_jobs = [j for j in vjobs if j.execution in ct]
    ctt = log.tasks(ct_jobs)
    out["sources.copytext.wall_s"] = sum(
        log.executions[e].end - log.executions[e].start for e in ct)
    out.update(task_sums(ctt, "sources.copytext"))
    out["validate.wall_s"] = sum(s.seconds for s in val)
    out["validate.jobs"] = len(vjobs)
    out["validate.src.wall_s"] = sum(
        log.executions[e].end - log.executions[e].start
        for e in execs - ct)
    out["validate.driver_s"] = driver_s(val)

    for name in OPERATOR_LAYERS:
        ops = layer(f"operators.{name}")
        jobs = jobs_of(ops)
        tasks = log.tasks(jobs)
        p = f"operators.{name}"
        out[f"{p}.wall_s"] = sum(s.seconds for s in ops)
        out[f"{p}.driver_s"] = driver_s(ops)
        out[f"{p}.jobs"] = len(jobs)
        out[f"{p}.stages"] = sum(len(j.stages) for j in jobs)
        out[f"{p}.exec_cpu_s"] = sum(t.cpu_s for t in tasks)
        out[f"{p}.shuffle_write_bytes"] = sum(t.shuffle_write for t in tasks)
        out[f"{p}.shuffle_read_bytes"] = sum(t.shuffle_read for t in tasks)
        out[f"{p}.spill_bytes"] = sum(t.spill for t in tasks)
        out[f"{p}.gc_s"] = sum(t.gc_s for t in tasks)
    for entry in CURATE_CHAIN:
        out[f"curate.{entry}.wall_s"] = sum(
            s.seconds for s in spans if s.name == entry)

    all_tasks = log.tasks(traced)
    out["spark.jobs"] = len(traced)
    out["spark.stages"] = sum(len(j.stages) for j in traced)
    out["spark.tasks"] = len(all_tasks)
    out["spark.task_overhead_s"] = sum(max(0.0, t.seconds - t.run_s)
                                       for t in all_tasks)
    out["spark.gc_s"] = sum(t.gc_s for t in all_tasks)
    return out


def _events(paths: list[Path]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def fold(tracer: Tracer, log_paths: list[Path]) -> dict:
    """Median over the traced runs of each per-run layer metric."""
    log = EventLog(log_paths)
    runs = sorted({s.run for s in tracer.spans})
    per_run = [fold_run([s for s in tracer.spans if s.run == r], log)
               for r in runs]
    if not per_run:
        raise RuntimeError("no traced run recorded a span")
    return {k: statistics.median(r[k] for r in per_run) for k in per_run[0]}
