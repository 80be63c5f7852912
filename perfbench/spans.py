"""Spans around the calls into each layer, plus Spark event-log parsing.

Spans are recorded from outside the program: the benchmark wraps the public
functions a pipeline job calls (``pipeline.runner``'s bound references to
``pipeline.config`` and ``io.readers``, ``io.writers.write_table`` and
``upsert_by_key``, and ``spark.sql`` on the session object), and opens its own
spans around the registry builder and the sink. Every span sets the Spark job
group to its id, so each job, stage, task and SQL execution in the event log
names the span that launched it.

Catalyst planning is not timed by a call of its own, which would plan the
query once more than the program does. It is read from the event log for the
SQL executions that ran: a SQL execution's start event is stamped before its
physical plan is built, so the time from that stamp to the execution's first
job (or to its end, or to the next execution under the same root, whichever
comes first) is the planning of the query that ran.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# plan node names counted on the AQE-final plan of every SQL execution
PYTHON_NODES = ("Python", "InPandas", "InArrow")
CONFIG_FUNCS = ("load_config", "pipeline_variables", "interpolate", "resolve_sql_text")


class Tracer:
    """In-memory spans: id, name, parent, run id (the operation's root span),
    pass index, start and end. Inactive tracers record nothing."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.pass_idx: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run": sid if parent is None else self.spans[parent]["run"],
            "pass": self.pass_idx,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer, spark) -> None:
    """Wrap the layer entry points the benchmark's operations reach."""
    import glue_etl_framework_spark.io.writers as writers
    import glue_etl_framework_spark.pipeline.runner as runner

    for name in CONFIG_FUNCS:
        setattr(runner, name, tracer.wrap(getattr(runner, name), f"pipeline.config.{name}"))
    runner.register_views = tracer.wrap(runner.register_views, "io.readers.register_views")

    # runner holds its own reference; staged_write (and so upsert_by_key)
    # resolves the module global
    runner.write_table = writers.write_table = tracer.wrap(writers.write_table,
                                                           "io.writers.write_table")
    writers.upsert_by_key = tracer.wrap(writers.upsert_by_key, "io.writers.upsert_by_key")
    spark.sql = tracer.wrap(spark.sql, "spark.sql")


def self_times(spans: list[dict], plan_s: dict[int, float], key=lambda span: span["name"]) -> dict:
    """Seconds per ``key(span)`` of each span's duration minus the part of
    that interval its child spans cover. The planning the event log found
    under a span (``plan_s``, by span id) is moved from that span to a span
    named ``plan``."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict = defaultdict(float)
    for s in spans:
        own = s["end"] - s["start"] - _union([(c["start"], c["end"]) for c in children[s["id"]]])
        planning = min(own, plan_s.get(s["id"], 0.0))
        out[key(s)] += own - planning
        out[key(dict(s, name="plan"))] += planning
    return dict(out)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


class EventLog:
    """The parts of one application's Spark event log the metrics need,
    keyed by job group (``pb<span id>``)."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.first_job: dict[int, int] = {}  # SQL execution id -> first job's submission (ms)
        self.stage_group: dict[tuple[int, int], str | None] = {}
        self.tasks: list[tuple[str | None, dict]] = []
        self.sql: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "group": ev.get("Properties", {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"],
                        "end": None,
                    }
                    execution = ev.get("Properties", {}).get("spark.sql.execution.id")
                    if execution is not None:
                        self.first_job.setdefault(int(execution), ev["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    self.stage_group[key] = ev.get("Properties", {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    self.tasks.append((self.stage_group.get(key), ev))
                elif kind.endswith("SQLExecutionStart"):
                    names = {
                        m["accumulatorId"]: m["name"]
                        for n in _walk(ev["sparkPlanInfo"])
                        for m in n.get("metrics", [])
                    }
                    self.sql[ev["executionId"]] = {
                        "group": ev.get("jobGroupId"),
                        "root": ev.get("rootExecutionId", ev["executionId"]),
                        "start": ev["time"],
                        "end": None,
                        "plan": ev["sparkPlanInfo"],
                        "acc_names": names,
                        "acc": {},
                    }
                elif kind.endswith("SQLExecutionEnd"):
                    rec = self.sql.get(ev["executionId"])
                    if rec is not None:
                        rec["end"] = ev["time"]
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    rec = self.sql.get(ev["executionId"])
                    if rec is not None:
                        rec["plan"] = ev["sparkPlanInfo"]
                        for n in _walk(ev["sparkPlanInfo"]):
                            for m in n.get("metrics", []):
                                rec["acc_names"][m["accumulatorId"]] = m["name"]
                elif kind.endswith("DriverAccumUpdates"):
                    rec = self.sql.get(ev["executionId"])
                    if rec is not None:
                        for acc_id, value in ev["accumUpdates"]:
                            rec["acc"][acc_id] = value
        # planning seconds per SQL execution: from its start stamp to its
        # first job, its end or the start of the next execution under the
        # same root, whichever comes first
        self.plan_s: dict[int, float] = {}
        for eid, rec in self.sql.items():
            ends = [t for t in (self.first_job.get(eid), rec["end"]) if t is not None]
            ends += [o["start"] for oid, o in self.sql.items()
                     if oid != eid and o["root"] == rec["root"] and o["start"] >= rec["start"]]
            if ends:
                self.plan_s[eid] = (min(ends) - rec["start"]) / 1e3


def span_of(group: str | None) -> int | None:
    """The span id a job group names, or None for groups the tracer did not set."""
    return int(group[2:]) if group and group.startswith("pb") else None


def _task_numbers(ev: dict) -> dict[str, float]:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
    delay = duration - run_ms - m.get("Executor Deserialize Time", 0) \
        - m.get("Result Serialization Time", 0) - getting
    shuffle_read = m.get("Shuffle Read Metrics", {})
    return {
        "run_s": run_ms / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "sched_delay_s": max(delay, 0) / 1e3,
        "input_mib": m.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20,
        "shuffle_read_mib": (shuffle_read.get("Remote Bytes Read", 0)
                             + shuffle_read.get("Local Bytes Read", 0)) / 2**20,
        "shuffle_write_mib": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20,
        "spill_mib": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20,
    }


def plan_by_span(spans: list[dict], log: EventLog) -> dict[int, float]:
    """Planning seconds of the SQL executions each of ``spans`` launched."""
    ids = {s["id"] for s in spans}
    out: dict[int, float] = defaultdict(float)
    for eid, sec in log.plan_s.items():
        sid = span_of(log.sql[eid]["group"])
        if sid in ids:
            out[sid] += sec
    return dict(out)


def pass_metrics(spans: list[dict], log: EventLog, cores: int, changed_rows: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass: ``spans`` are that pass's spans,
    and the event log contributes every job, task and SQL execution whose
    job group is one of them."""
    by_id = {s["id"]: s for s in spans}

    def under(group: str | None, prefix: str) -> bool:
        sid = span_of(group)
        while sid is not None and sid in by_id:
            if by_id[sid]["name"].startswith(prefix):
                return True
            sid = by_id[sid]["parent"]
        return False

    def in_pass(group: str | None) -> bool:
        return span_of(group) in by_id

    def span_s(prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))

    out = {
        "pipeline.config.resolve_s": span_s("pipeline.config."),
        "io.readers.register_views_s": span_s("io.readers.register_views"),
        "pipeline.runner.sql_s": sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "spark.sql" and s["parent"] is not None
            and by_id[s["parent"]]["name"] == "pipeline.run_pipeline"
        ),
        "queries.build_s": span_s("queries.build"),
        "plan.s": sum(plan_by_span(spans, log).values()),
        "io.writers.write_s": span_s("io.writers.write_table"),
        "io.writers.upsert_s": span_s("io.writers.upsert_by_key"),
    }

    jobs = [j for j in log.jobs.values() if in_pass(j["group"])]
    out["exec.jobs"] = len(jobs)
    out["queries.build_jobs"] = sum(under(j["group"], "queries.build") for j in jobs)
    out["io.readers.jobs"] = sum(under(j["group"], "io.readers.") for j in jobs)
    exec_s = _union([(j["start"] / 1e3, (j["end"] or j["start"]) / 1e3) for j in jobs])
    out["exec.s"] = exec_s

    tasks = [(g, ev) for g, ev in log.tasks if in_pass(g)]
    out["exec.stages"] = len({(ev["Stage ID"], ev["Stage Attempt ID"]) for _, ev in tasks})
    out["exec.tasks"] = len(tasks)
    totals: dict[str, float] = defaultdict(float)
    for _, ev in tasks:
        for k, v in _task_numbers(ev).items():
            totals[k] += v
    for k in ("run_s", "cpu_s", "gc_s", "sched_delay_s", "input_mib",
              "shuffle_read_mib", "shuffle_write_mib", "spill_mib"):
        out[f"exec.task_{k}" if k in ("run_s", "cpu_s") else f"exec.{k}"] = totals[k]
    out["exec.core_util"] = totals["run_s"] / (exec_s * cores) if exec_s else 0.0
    out["io.writers.write_tasks"] = sum(
        1 for g, ev in tasks if under(g, "io.writers.") and ev["Task Type"] == "ResultTask"
    )

    counts: dict[str, float] = defaultdict(float)
    for rec in log.sql.values():
        if not in_pass(rec["group"]):
            continue
        for node in _walk(rec["plan"]):
            name = node["nodeName"]
            counts["plan.exchanges"] += name == "Exchange"
            counts["plan.broadcasts"] += name == "BroadcastExchange"
            counts["plan.scans"] += name.startswith("Scan ") or name.endswith("TableScan")
            counts["plan.python_evals"] += any(p in name for p in PYTHON_NODES)
        if under(rec["group"], "io.writers."):
            acc = {rec["acc_names"].get(k): v for k, v in rec["acc"].items()}
            counts["io.writers.files"] += acc.get("number of written files", 0)
            counts["io.writers.partitions"] += acc.get("number of dynamic part", 0)
            counts["io.writers.mib_written"] += acc.get("written output", 0) / 2**20
            if under(rec["group"], "io.writers.upsert_by_key"):
                counts["upsert_rows"] += acc.get("number of output rows", 0)
    for k in ("plan.exchanges", "plan.broadcasts", "plan.scans", "plan.python_evals",
              "io.writers.files", "io.writers.partitions", "io.writers.mib_written"):
        out[k] = counts[k]
    out["io.writers.rewrite_amplification"] = counts["upsert_rows"] / changed_rows if changed_rows else 0.0
    return out
