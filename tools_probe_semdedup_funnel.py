#!/usr/bin/env python
"""Scale probe for the semdedup funnel-metrics path (r15: VERDICT r14
item 6) at 10x embedding volume (20k realistic vectors,
tools_scale_probe.py 10 --realistic).

Three checks the 1x tests (tests/test_funnel_metrics.py) cannot give:

1. RECONCILE AT SCALE — metrics-audited run over 20k vectors:
   input_vectors - neardup_removed == output_vectors, and the audited
   result is row-identical to the default (metrics=None) plan.
2. CAP ENGAGEMENT AT SCALE — an explicit (cell, band) bucket cap sized
   from the measured occupancy (p99) actually engages (hot_buckets > 0,
   dropped_band_rows > 0 written into the SAME dict) and the capped
   keep-set is a superset of the uncapped one (capping only loses
   near-dup evidence, never invents drops).
3. EXACT RECALL COST — at this scale the cap's cost is still computable
   exactly (unlike the truth-infeasible 100x simhash regime,
   probes/recall_estimator_100x_r15.txt): lost drops = the uncapped
   dropped set minus the capped dropped set, counted directly.

Usage: python tools_probe_semdedup_funnel.py [sf_dir]
Output: stdout + probes/semdedup_funnel_10x_r15.txt
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from glue_etl_framework_spark import get_spark
from glue_etl_framework_spark.ext.similarity import coarse_cells
from glue_etl_framework_spark.queries.similarity import (
    N_CENTROIDS,
    _quantized,
    _semdedup_band_members,
    dedup_semdedup,
)


def _band_occupancy(spark, sf_dir):
    """(cell, band) bucket histogram through the SAME construction
    dedup_semdedup uses (_semdedup_band_members — shared, not copied,
    so the probe cannot diverge from what the cap acts on)."""
    v = _quantized(spark, sf_dir)
    assign, _ = coarse_cells(v, N_CENTROIDS)
    mem = _semdedup_band_members(v, assign)
    return (
        mem.groupBy("cid", "bidx", "bv")
        .agg(F.count("*").alias("m"))
        .agg(
            F.max("m").alias("max_m"),
            F.expr("percentile_approx(m, 0.99)").alias("p99"),
            F.count("*").alias("buckets"),
        )
        .first()
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_probe_10x_realistic"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        sys.exit(
            f"{sf_dir}/embeddings.parquet missing — build with "
            "`python tools_scale_probe.py 10 --realistic`"
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    spark = get_spark(app_name="semdedup_funnel_probe", shuffle_partitions=cpus)
    lines = [
        "# r15: semdedup funnel metrics + explicit (cell, band) cap at 10x",
        f"# corpus: {sf_dir} embeddings",
    ]

    t0 = time.time()
    m_unc: dict = {}
    audited_rows = dedup_semdedup(spark, sf_dir, metrics=m_unc).collect()
    wall_unc = time.time() - t0
    default_rows = dedup_semdedup(spark, sf_dir).collect()
    reconciles = (
        m_unc["input_vectors"] - m_unc["neardup_removed"] == m_unc["output_vectors"]
    )
    identical = sorted(map(tuple, audited_rows)) == sorted(map(tuple, default_rows))
    lines.append(
        f"[uncapped] wall={wall_unc:.1f}s input={m_unc['input_vectors']} "
        f"removed={m_unc['neardup_removed']} output={m_unc['output_vectors']} "
        f"reconciles={reconciles} audited==default={identical} "
        f"cap_keys_absent={'hot_buckets' not in m_unc}"
    )
    print(lines[-1], flush=True)

    occ = _band_occupancy(spark, sf_dir)
    cap = max(2, int(occ["p99"]))
    lines.append(
        f"[occupancy] buckets={occ['buckets']} max_m={occ['max_m']} "
        f"p99={occ['p99']} -> cap={cap}"
    )
    print(lines[-1], flush=True)

    t1 = time.time()
    m_cap: dict = {}
    capped_rows = dedup_semdedup(
        spark, sf_dir, max_bucket_size=cap, metrics=m_cap
    ).collect()
    wall_cap = time.time() - t1
    unc_dropped = {r["vec_id"] for r in audited_rows if r["kept"] == 0}
    cap_dropped = {r["vec_id"] for r in capped_rows if r["kept"] == 0}
    lost = unc_dropped - cap_dropped
    gained = cap_dropped - unc_dropped
    cap_reconciles = (
        m_cap["input_vectors"] - m_cap["neardup_removed"] == m_cap["output_vectors"]
    )
    lines.append(
        f"[capped cap={cap}] wall={wall_cap:.1f}s hot_buckets={m_cap.get('hot_buckets')} "
        f"dropped_band_rows={m_cap.get('dropped_band_rows')} "
        f"removed={m_cap['neardup_removed']} reconciles={cap_reconciles}"
    )
    print(lines[-1], flush=True)
    lines.append(
        f"[recall cost EXACT] lost_drops={len(lost)} spurious_drops={len(gained)} "
        f"kept_superset={len(gained) == 0} "
        f"uncapped_drops={len(unc_dropped)} capped_drops={len(cap_dropped)}"
    )
    print(lines[-1], flush=True)
    out = Path(__file__).with_name("probes") / "semdedup_funnel_10x_r15.txt"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
