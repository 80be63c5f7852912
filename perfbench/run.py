"""Benchmark for the config-driven Spark engine in ``glue_etl_framework_spark``.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates its inputs from ``--seed``
under a scratch directory inside the checkout and sets up ``SETUPS`` times,
each in a new JVM (fresh import of the program, input generation,
``session.get_spark``), keeping the last set-up. It then runs one untimed
pass that warms the session and checks outputs against DuckDB, one more
untimed pass, then timed passes until ``--seconds`` have passed (at least ``MIN_PASSES``), checks written
outputs, stops the JVM and deletes the scratch directory.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the Spark
event log, alternates untraced and traced passes, and reports per-layer
numbers from the traced ones (spans around the calls into each layer plus the
event log's per-stage metrics), with the tracing overhead.

Standard output ends with a detail line (session facts, per-operation and
per-job times, self time per layer) and then the result line
``{"correct", "attempted", "failed", "metrics"}``. Exit code 2 means the
program or its inputs could not be found.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3
MIN_PASSES = 3
CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 2 * CORES
# session.py defaults to a 16g heap; pin one that fits a small shared box
DRIVER_MEMORY = "1g"
REQUIRED = ("glue_etl_framework_spark/__init__.py", "examples/sales_by_region.yaml",
            "examples/daily_orders.yaml", "examples/daily_orders.sql", "tests/oracle_harness.py")

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "pipeline.config.resolve_s": "s",
    "io.readers.register_views_s": "s",
    "io.readers.jobs": "count",
    "pipeline.runner.sql_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.scans": "count",
    "plan.python_evals": "count",
    "plan.broadcasts": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.sched_delay_s": "s",
    "exec.input_mib": "MiB",
    "exec.shuffle_read_mib": "MiB",
    "exec.shuffle_write_mib": "MiB",
    "exec.spill_mib": "MiB",
    "exec.core_util": "ratio",
    "io.writers.write_s": "s",
    "io.writers.write_tasks": "count",
    "io.writers.files": "count",
    "io.writers.partitions": "count",
    "io.writers.mib_written": "MiB",
    "io.writers.upsert_s": "s",
    "io.writers.rewrite_amplification": "ratio",
    "ext.dedup.pairs_out": "count",
    "ext.dedup.planted_recall": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
# self time per layer: span name -> metric; their sum is the traced pass wall
# minus the benchmark's own loop
SELF_LAYERS = {
    "op": "self.harness_s",
    "pipeline.run_pipeline": "self.pipeline.runner_s",
    "pipeline.config": "self.pipeline.config_s",
    "io.readers.register_views": "self.io.readers_s",
    "spark.sql": "self.spark.sql_s",
    "queries.build": "self.queries.build_s",
    "plan": "self.plan_s",
    "exec": "self.exec_s",
    "io.writers.write_table": "self.io.writers.write_s",
    "io.writers.upsert_by_key": "self.io.writers.upsert_s",
}
PER_LAYER_UNITS.update({m: "s" for m in SELF_LAYERS.values()})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program files not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    # the program, and the oracle harness the output checks use
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    bench = Bench(args, work)
    try:
        return bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload](ROOT)
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None

    def close(self) -> None:
        """Stop the session and its JVM if they are still running."""
        if self.spark is not None:
            stop(self.spark)
            self.spark = None

    # -- set-up ---------------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed-size heap, so resident memory does not depend on when
            # the collector chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.enabled": "false",
        }
        if self.args.trace:
            (self.work / "eventlog").mkdir(exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup_once(self, i: int):
        """Stop the previous session and its JVM, then time a fresh import of
        the program, the inputs and a session in a new JVM. Returns
        (ctx, seconds, get_spark seconds)."""
        self.close()
        for name in [m for m in sys.modules if m.startswith("glue_etl_framework_spark")]:
            del sys.modules[name]
        t0 = time.perf_counter()
        from glue_etl_framework_spark import session
        from glue_etl_framework_spark.queries import load_registry

        load_registry()
        base = self.work / f"setup{i}"
        ctx = workloads.Ctx(spark=None, root=ROOT, data=base / "data", out=base / "out",
                            seed=self.args.seed, tracer=None)
        ctx.data.mkdir(parents=True)
        ctx.out.mkdir(parents=True)
        self.wl.prepare(ctx)
        tg = time.perf_counter()
        spark = session.get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=self.spark_conf(),
        )
        t1 = time.perf_counter()
        self.spark = ctx.spark = spark
        return ctx, t1 - t0, t1 - tg

    # -- the run --------------------------------------------------------------

    def run(self) -> int:
        tmp = str(self.work / "tmp")
        os.environ.update({"TMPDIR": tmp, "PYTHONDONTWRITEBYTECODE": "1",
                           "PYSPARK_PYTHON": sys.executable,
                           "PYTHONPATH": os.pathsep.join(
                               p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)})
        tempfile.tempdir = tmp
        # pyspark itself is imported once, so that every set-up imports only
        # the program and the first set-up is not the slow one
        import pyspark.sql  # noqa: F401

        ctx, setups, get_spark = None, [], []
        for i in range(SETUPS):
            prev = ctx
            ctx, sec, gs = self.setup_once(i)
            setups.append(sec)
            get_spark.append(gs)
            if prev is not None:
                shutil.rmtree(prev.data.parent, ignore_errors=True)
        spark = self.spark
        ctx.tracer = spans.Tracer(spark.sparkContext)
        if self.args.trace:
            spans.install(ctx.tracer, spark)
        facts = session_facts(spark, self.args.seed)

        t0 = time.perf_counter()
        self.record(self.guard("check", lambda: self.wl.check_pass(ctx)))
        check_pass_s = time.perf_counter() - t0
        # memory is measured over the timed passes only: the checks above
        # hold DuckDB and collected results in this process
        reset_peak_rss(spark)

        ops = self.wl.ops()
        rng = random.Random(self.args.seed)
        # an untimed pass through the timed code path: after the check pass
        # the JVM's compilers still speed the next pass up
        warm_pass_s = self.one_pass(ctx, ops, rng, False, -1)["wall"]
        passes: list[dict] = []
        steal0 = cpu_ticks()
        t_start = time.perf_counter()
        while True:
            # traced runs alternate untraced and traced passes as U T T U ...
            # so that neither side gets the earlier, less warm passes
            traced = bool(self.args.trace) and len(passes) % 4 in (1, 2)
            passes.append(self.one_pass(ctx, ops, rng, traced, len(passes)))
            if time.perf_counter() - t_start >= self.args.seconds and \
                    len(passes) >= (4 if self.args.trace else MIN_PASSES):
                break

        self.record(self.guard("final", lambda: self.wl.final_check(ctx)))
        rss = peak_rss_mib(spark)
        app_id = spark.sparkContext.applicationId
        self.close()

        plain = [p for p in passes if not p["traced"]]
        op_median = {op.name: statistics.median(p["ops"][op.name] for p in plain) for op in ops}
        pass_s = sum(op_median.values())
        detail = {
            "workload": self.args.workload,
            "session": facts,
            "setup_s_samples": [round(s, 4) for s in setups],
            "check_pass_s": round(check_pass_s, 4),
            "check_op_s": ctx.info.get("check_op_s"),
            "warm_pass_s": round(warm_pass_s, 4),
            "pass_wall_s": summary([p["wall"] for p in plain]),
            "pass_cpu_s": summary([p["cpu"] for p in plain]),
            "op_median_s": {k: round(v, 4) for k, v in op_median.items()},
            "cpu_steal_share": round(steal_share(steal0), 4),
            "failed_ops": len(self.failures) / self.attempted,
            "failures": self.failures[:20],
        }
        if self.args.workload == "etl_jobs":
            detail.update({f"job_s.{k}": v for k, v in detail["op_median_s"].items()})
        if "documents" in ctx.info and self.args.workload == "llm_corpus_10x":
            detail["docs_per_s"] = ctx.info["documents"] / pass_s
        metrics = {
            "pass_s": (pass_s, "s"),
            "setup_s": (statistics.median(setups), "s"),
            "peak_rss_mib": (rss, "MiB"),
        }
        if self.args.trace:
            metrics = self.trace_metrics(ctx, passes, app_id, statistics.median(get_spark), detail,
                                         pass_s)
        if self.args.trace:
            t0 = min(s["start"] for s in ctx.tracer.spans)
            print(json.dumps({"spans": [dict(s, start=round(s["start"] - t0, 6),
                                             end=round(s["end"] - t0, 6))
                                        for s in ctx.tracer.spans]}))
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0

    def one_pass(self, ctx, ops, rng, traced: bool, idx: int) -> dict:
        order = list(ops)
        rng.shuffle(order)
        ctx.tracer.active, ctx.tracer.pass_idx = traced, idx
        times = {}
        jvm = jvm_pid(ctx.spark)
        cpu0 = cpu_seconds(jvm)
        t0 = time.perf_counter()
        for op in order:
            a = time.perf_counter()
            self.attempted += 1
            with ctx.tracer.span("op:" + op.name):
                try:
                    op.run(ctx)
                except Exception:  # noqa: BLE001 - a failed operation is a result
                    self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            times[op.name] = time.perf_counter() - a
        wall = time.perf_counter() - t0
        ctx.tracer.active = False
        return {"wall": wall, "cpu": cpu_seconds(jvm) - cpu0, "ops": times, "traced": traced,
                "idx": idx}

    def guard(self, stage: str, fn) -> dict[str, str | None]:
        try:
            return fn()
        except Exception:  # noqa: BLE001 - reported as a failed check
            return {stage: traceback.format_exc(limit=5)}

    def record(self, results: dict[str, str | None]) -> None:
        for name, problem in results.items():
            self.attempted += 1
            if problem is not None:
                self.failures.append(f"{name}: {problem}")

    # -- tracing --------------------------------------------------------------

    def trace_metrics(self, ctx, passes, app_id, get_spark_s, detail, plain) -> dict:
        log = spans.EventLog(self.work / "eventlog" / app_id)
        by_id = {s["id"]: s for s in ctx.tracer.spans}
        rows, per_op = [], {}
        for p in passes:
            if not p["traced"]:
                continue
            recs = [s for s in ctx.tracer.spans if s["pass"] == p["idx"]]
            row = spans.pass_metrics(recs, log, CORES, ctx.info.get("changed_rows", 0))
            row.update(dict.fromkeys(SELF_LAYERS.values(), 0.0))
            plan_s = spans.plan_by_span(recs, log)
            for layer, sec in spans.self_times(recs, plan_s,
                                               key=lambda s: layer_of(s["name"])).items():
                row[SELF_LAYERS[layer]] += sec
            row["trace.pass_s"] = p["wall"]
            rows.append(row)
            # per-operation self time by layer, summed over traced passes
            for (op, layer), sec in spans.self_times(recs, plan_s, key=lambda s: (
                    by_id[s["run"]]["name"][3:], layer_of(s["name"]))).items():
                layers = per_op.setdefault(op, {})
                layers[layer] = layers.get(layer, 0.0) + sec
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out["session.get_spark_s"] = get_spark_s
        out["ext.dedup.pairs_out"] = ctx.info.get("pairs_out", 0)
        out["ext.dedup.planted_recall"] = ctx.info.get("planted_recall", 0.0)
        traced_ops = {op: statistics.median(p["ops"][op] for p in passes if p["traced"])
                      for op in passes[0]["ops"]}
        out["trace.overhead_s"] = sum(traced_ops.values()) - plain
        detail["trace"] = {
            "traced_passes": len(rows),
            "untraced_pass_s": plain,
            "accounted_s": sum(out[m] for m in SELF_LAYERS.values()),
            "spans_per_pass": len(ctx.tracer.spans) // max(len(rows), 1),
            "per_op_self_s": {op: {k: round(v / len(rows), 4) for k, v in layers.items()}
                              for op, layers in per_op.items()},
        }
        return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


def layer_of(span_name: str) -> str:
    if span_name.startswith("op:"):
        return "op"
    if span_name.startswith("pipeline.config."):
        return "pipeline.config"
    return span_name


def cpu_seconds(jvm: int | None) -> float:
    """CPU time used so far by this process, the JVM and the JVM's Python
    workers (user + system, children included), from /proc."""
    ticks = 0
    for pid in [os.getpid()] + ([jvm] + _descendants(jvm) if jvm else []):
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]


def steal_share(before: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``before``: a noisy neighbour shows here."""
    delta = [b - a for a, b in zip(before, cpu_ticks())]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def summary(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values),
            "samples": [round(v, 4) for v in values]}


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _hwm_kib(pid) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def reset_peak_rss(spark) -> None:
    for pid in ("self", jvm_pid(spark)):
        if pid:
            Path(f"/proc/{pid}/clear_refs").write_text("5")


def peak_rss_mib(spark) -> float:
    """High-water RSS of this process plus the JVM, from /proc."""
    pid = jvm_pid(spark)
    return (_hwm_kib("self") + (_hwm_kib(pid) if pid else 0)) / 1024


def session_facts(spark, seed: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    mem_kib = next(int(line.split()[1]) for line in Path("/proc/meminfo").read_text().splitlines()
                   if line.startswith("MemTotal:"))
    return {
        "spark.master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "nproc": len(os.sched_getaffinity(0)),
        "box_ram_gib": round(mem_kib / 2**20, 2),
        "pyspark": pyspark.__version__,
        "seed": seed,
    }


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 15
    while workers and time.time() < deadline:
        workers = [w for w in workers if Path(f"/proc/{w}").exists()]
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
