"""Every core on the LLM-corpus path, checked at ``local[2]``.

- ``queries.dedup._shingles`` hash-partitions documents on ``doc_id``
  before the shingle explode, so in the AQE-final plans of every execution
  ``dedup_minhash_verified`` runs there is no ``(doc_id, shingle)``
  exchange, and the shingling runs after the documents shuffle, in a stage
  of one task per core, even though the smoke corpus is one input split.
- ``ext.multimodal.map_rows`` leaves no zipimporter in the worker's
  ``sys.path_importer_cache``, which PySpark re-reads at every task start on
  CPython 3.11/3.12.

One subprocess owns its own ``local[2]`` session, so the in-process
``local[4]`` fixture is not stopped.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys

import pytest

from tests.conftest import REPO, SF_SMOKE

SCRIPT = r"""
import json, sys
repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from glue_etl_framework_spark import get_spark
from glue_etl_framework_spark.ext.multimodal import map_rows
from glue_etl_framework_spark.queries import load_registry
from tools_probe_final_plan import executed_plans

spark = get_spark(app_name="corpus-parallelism", master="local[2]", shuffle_partitions=8)
reg = load_registry()
out = {"default_parallelism": spark.sparkContext.defaultParallelism}


def dedup():
    df = reg["dedup_minhash_verified"].fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()


out["plans"] = executed_plans(spark, dedup)


def n_zip_importers(i):
    import sys as _sys
    import zipimport as _zipimport
    cache = _sys.path_importer_cache.values()
    return (i, sum(isinstance(f, _zipimport.zipimporter) for f in cache))


out["zip_importers"] = [
    [r.n for r in map_rows(spark.range(0, 200, 1, 2), n_zip_importers, "i bigint, n int").collect()]
    for _ in range(2)
]
print("RESULT " + json.dumps(out))
spark.stop()
"""


@pytest.fixture(scope="module")
def result(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("corpus_parallelism")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(REPO), SF_SMOKE],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    return json.loads(lines[-1][len("RESULT "):])


def _final_tree(plan: str) -> list[str]:
    tree = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return [line.strip(" :+-|*") for line in tree.splitlines() if line.strip()]


def test_shingling_runs_doc_partitioned_on_every_core(result):
    plans = result["plans"]
    assert plans and all("isFinalPlan=true" in p["plan"] for p in plans)
    for p in plans:
        assert not re.search(r"hashpartitioning\(doc_id#\d+L?, shingle#", p["plan"]), p["plan"]
    shingling = [p for p in plans if "regexp_extract_all" in p["plan"]]
    assert len(shingling) == 1, [p["description"] for p in plans]
    p = shingling[0]
    tree = _final_tree(p["plan"])
    generate = next(i for i, op in enumerate(tree) if op.startswith("Generate"))
    first_shuffle = next(i for i, op in enumerate(tree) if op.startswith("ShuffleQueryStage"))
    # the explode runs in the stage that reads the doc_id shuffle ...
    assert generate < first_shuffle, "\n".join(tree)
    # ... and that stage (the execution's last) runs one task per core
    result_stage = max(p["stage_tasks"], key=int)
    assert p["stage_tasks"][result_stage] >= result["default_parallelism"] == 2, p["stage_tasks"]


def test_map_rows_leaves_no_zip_importer_for_the_next_task(result):
    runs = result["zip_importers"]
    assert len(runs) == 2 and all(len(r) == 200 for r in runs)
    assert {n for r in runs for n in r} == {0}
