"""Python kernels on workers that cannot import the package.

A vanilla session may put the repo on the DRIVER's sys.path only: executor
Python workers then cannot import ``glue_etl_framework_spark`` and must run
on what ``session.ship_module`` ships. The in-process ``spark`` fixture
cannot show this (its workers inherit a cwd inside the repo), so this test
drives one subprocess with ``cwd`` outside the repo, ``PYTHONPATH`` removed
and the repo inserted into the driver's ``sys.path`` only, at ``local[2]``.
It first proves the workers really cannot import the package, then runs
one registry entry per shipped image codec, the Avro round trip, and
``extract_image_features`` with its default decoder."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import REPO, SF_SMOKE

SCRIPT = r"""
import json, sys
repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
out = {}


def step(name, fn):
    try:
        out[name] = fn()
    except Exception as e:  # reported, asserted by the test
        out[name] = f"ERROR {type(e).__name__}: {e}"[:2000]


def worker_can_import():
    def probe(_):
        import importlib.util
        return importlib.util.find_spec("glue_etl_framework_spark") is not None
    return spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]


step("worker_can_import", worker_can_import)
out["n_docs"] = spark.read.parquet(f"{sf}/documents.parquet").count()
out["n_orders"] = spark.read.parquet(f"{sf}/orders.parquet").count()

from glue_etl_framework_spark.queries import load_registry

reg = load_registry()
for name in ("multimodal_bmp_decode_stats", "multimodal_jpeg_decode_stats",
             "multimodal_png_decode_stats", "multimodal_gif_decode_stats"):
    step(name, lambda name=name: reg[name].fn(spark, sf).count())
step("io_roundtrip_avro_codec", lambda: sum(
    r.n_orders for r in reg["io_roundtrip_avro_codec"].fn(spark, sf).collect()))

from glue_etl_framework_spark.ext.gif_py import encode_gif
from glue_etl_framework_spark.ext.jpeg_py import encode_jpeg
from glue_etl_framework_spark.ext.media_codecs import encode_bmp
from glue_etl_framework_spark.ext.multimodal import default_image_decoder, extract_image_features
from glue_etl_framework_spark.ext.png_py import encode_png

blobs = [
    (1, encode_bmp(4, 3, bytes(range(36)))),
    (2, encode_jpeg(8, 8, bytes([200, 40, 90]) * 64, quality=85)),
    (3, encode_png(3, 2, bytes(range(0, 72, 4)), n_channels=3)),
    (4, encode_gif(4, 2, bytes([10, 20, 30, 40, 50, 60]) * 4)),
]


def features():
    df = spark.createDataFrame(blobs, "doc_id bigint, payload binary")
    got = {r.doc_id: [r.width, r.height, r.n_channels, r.mean_luma]
           for r in extract_image_features(df).collect()}
    want = {i: [f["width"], f["height"], f["n_channels"], f["mean_luma"]]
            for i, f in ((i, default_image_decoder(b)) for i, b in blobs)}
    return {"got": got, "want": want}


step("extract_image_features", features)
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_kernels_run_on_workers_that_cannot_import_the_package(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(REPO), SF_SMOKE],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])

    # otherwise every check below passes without testing the shipping
    assert out["worker_can_import"] is False, out["worker_can_import"]
    for name in (
        "multimodal_bmp_decode_stats",
        "multimodal_jpeg_decode_stats",
        "multimodal_png_decode_stats",
        "multimodal_gif_decode_stats",
    ):
        assert out[name] == out["n_docs"], f"{name}: {out[name]}"
    assert out["io_roundtrip_avro_codec"] == out["n_orders"], out["io_roundtrip_avro_codec"]
    feats = out["extract_image_features"]
    assert isinstance(feats, dict), feats
    assert feats["got"] == feats["want"]
    assert sorted(feats["got"]) == ["1", "2", "3", "4"]
