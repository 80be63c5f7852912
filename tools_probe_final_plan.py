#!/usr/bin/env python
"""Dump the AQE-final physical plans of every SQL execution a registry
query runs: the executions its builder launches (eager ``checkpoint_shared``
materializations) and the noop-sink write that runs the query itself.

The static `.explain("formatted")` dumps committed under plans/ show
`AdaptiveSparkPlan isFinalPlan=false`: AQE's runtime decisions (SMJ ->
BroadcastHashJoin conversions, ReusedExchange dedup, coalesced
AQEShuffleRead) are invisible there. Neither does the DataFrame's own
``queryExecution()`` show them after a write: ``DataFrameWriter.save`` runs
a separate QueryExecution. This tool reads each execution's plan from the
SQL status store (the one the Spark UI's SQL tab shows), which AQE updates
as it re-optimizes, after the listener bus has drained, so every plan it
prints is the final one. Each execution also lists its jobs' stages with
the number of tasks that ran.

Usage:
    python tools_probe_final_plan.py name1,name2 [--sf DIR] [--tag TAG]
Writes probes/final_plan_<tag>_<name>.txt when --tag is given.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def executed_plans(spark, action: Callable[[], object]) -> list[dict]:
    """Run ``action`` and return, for every SQL execution that started
    during it, ``{"id", "description", "plan", "stage_tasks"}``: ``plan`` is
    the formatted AQE-final plan and ``stage_tasks`` maps each stage id of
    the execution's jobs to the number of tasks that completed (0 for a
    stage AQE reused or skipped)."""
    store = spark._jsparkSession.sharedState().statusStore()
    seen = {e.executionId() for e in _scala_iter(store.executionsList())}
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    out = []
    for e in _scala_iter(store.executionsList()):
        if e.executionId() in seen:
            continue
        stage_tasks = {}
        for job in _scala_iter(e.jobs().keys()):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = tracker.getStageInfo(stage)
                stage_tasks[stage] = st.numCompletedTasks if st else None
        out.append({
            "id": e.executionId(),
            "description": e.description(),
            "plan": e.physicalPlanDescription(),
            "stage_tasks": dict(sorted(stage_tasks.items())),
        })
    return sorted(out, key=lambda x: x["id"])


def render(name: str, sf: str, plans: list[dict]) -> str:
    parts = [f"== AQE-final plans of the {len(plans)} SQL executions run by {name} @ {sf} =="]
    for p in plans:
        tasks = ", ".join(f"stage {s}: {n}" for s, n in p["stage_tasks"].items())
        parts.append(
            f"\n--- execution {p['id']}: {p['description']}\n"
            f"--- tasks per stage: {tasks or 'none'}\n{p['plan'].rstrip()}"
        )
    return "\n".join(parts) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default=None)
    args = ap.parse_args()

    from glue_etl_framework_spark import get_spark
    from glue_etl_framework_spark.queries import load_registry

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    spark = get_spark(app_name="final-plan", shuffle_partitions=cpus)
    reg = load_registry()
    for name in [n.strip() for n in args.names.split(",") if n.strip()]:
        def run(name=name):
            df = reg[name].fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()

        spark.sparkContext.setJobDescription(f"final-plan {name}")
        text = render(name, args.sf, executed_plans(spark, run))
        print(text, flush=True)
        if args.tag:
            out = Path(__file__).parent / "probes" / f"final_plan_{args.tag}_{name}.txt"
            out.write_text(text)
            print(f"wrote {out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
