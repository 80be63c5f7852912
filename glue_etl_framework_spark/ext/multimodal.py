"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed via Arrow-batched pandas UDFs (mapInPandas).

The container has no image/audio libraries, but the decode gate is CLOSED
offline by pure-Python codecs written from the public specs (the avro_py
playbook): ``default_image_decoder`` really decodes 24-bit BMP
(``ext/media_codecs.py``), baseline JPEG (``ext/jpeg_py.py``), PNG
(``ext/png_py.py``) and GIF (``ext/gif_py.py``), and
``default_audio_decoder`` really decodes PCM-16, G.711 mu-law and G.711
A-law WAV (``ext/media_codecs.py``). Other formats (MP3, TIFF, ...) raise
NotImplementedError — inject a decoder for those.

``map_rows`` is the one runner for per-row Python kernels: the registry's
``multimodal_*`` codec entries and ``extract_image_features`` all go
through it, so the oracle-checked entries certify the path users call.
Everything around the kernel — schema, batching, partition sizing,
metadata extraction — is real Spark plumbing and is what actually matters
at 100 TB:

- blobs live in a ``binary`` column (parquet BinaryType) next to a
  ``struct`` metadata column; large assets use the path-reference pattern
  (store a URI, fetch inside the batch kernel).
- mapInPandas streams Arrow record batches: memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` x max blob size, so
  oversized rows need a lower batch cap (set via session config).
- repartition before heavy decode so one task = one roughly-even slice of
  blobs; decode is CPU-bound, so partitions ~ cores.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Mapping
from types import ModuleType

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from glue_etl_framework_spark.session import forget_zip_importers, ship_module

IMAGE_META_SCHEMA = (
    "doc_id bigint, byte_len int, sha256 string, format string"
)

FEATURE_SCHEMA = "doc_id bigint, width int, height int, n_channels int, mean_luma double"

# Magic bytes -> (codec module under ext/, decode function). Plain data, so
# a kernel that reads it pickles it by value.
IMAGE_CODECS: dict[bytes, tuple[str, str]] = {
    b"BM": ("media_codecs", "decode_bmp"),
    b"\xff\xd8\xff": ("jpeg_py", "decode_jpeg"),
    b"\x89PNG\r\n\x1a\n": ("png_py", "decode_png"),
    b"GIF87a": ("gif_py", "decode_gif"),
    b"GIF89a": ("gif_py", "decode_gif"),
}
_IMAGE_MODULES = tuple(dict.fromkeys(module for module, _ in IMAGE_CODECS.values()))


def map_rows(
    df: DataFrame,
    row_fn: Callable[..., tuple],
    schema: str,
    codecs: tuple[str, ...] = (),
) -> DataFrame:
    """Run a per-row Python function over ``df`` as one Arrow-batched
    mapInPandas kernel — the only place this package builds one.

    ``row_fn(*values, *modules)`` receives one row's values in ``df``'s
    column order, then the codec modules named in ``codecs`` (module names
    under ``ext/``, e.g. ``"jpeg_py"``), and returns one tuple in the
    column order of ``schema`` (DDL). Each batch becomes one
    ``pd.DataFrame`` built from those tuples.

    The codecs are shipped with ``session.ship_module``, and the kernel
    imports each one on the worker from the package, falling back to the
    shipped flat module, so it runs on workers that cannot import this
    package (a vanilla session with the repo on the driver's sys.path
    only). The kernel is defined in here so cloudpickle pickles it by
    value; ``row_fn`` must be pickled by value too — define it inside the
    calling function, and let it reach module globals of this package only
    through the modules it is handed.

    Before each batch and at the end, the kernel drops the zipimporters
    from the worker's ``sys.path_importer_cache``
    (``session.forget_zip_importers``). PySpark invalidates the import
    caches at the start of every task, which on CPython 3.11/3.12 re-reads
    every cached zip archive, ~0.2 s a task on a 4-vCPU VM: a 2-task,
    2000-row kernel whose row function does nothing took 0.29-0.38 s with
    the re-reads and 0.19-0.24 s without."""
    package = __package__
    for name in codecs:
        ship_module(df.sparkSession, importlib.import_module(f"{package}.{name}"))
    columns = StructType.fromDDL(schema).fieldNames()

    def kernel(batches):
        import importlib as _importlib

        import pandas as _pd

        modules = []
        for name in codecs:
            try:
                modules.append(_importlib.import_module(f"{package}.{name}"))
            except ImportError:  # worker without the package: the shipped flat module
                modules.append(_importlib.import_module(name))
        for b in batches:
            forget_zip_importers()
            rows = [
                row_fn(*values, *modules)
                for values in zip(*(b[c].tolist() for c in b.columns))
            ]
            yield _pd.DataFrame(rows, columns=columns)
        forget_zip_importers()

    return df.mapInPandas(kernel, schema=schema)


def _image_features_fn() -> Callable[[bytes, Mapping[str, ModuleType]], dict]:
    def image_features(payload: bytes, codecs: Mapping[str, ModuleType]) -> dict:
        """Decode ``payload`` with the IMAGE_CODECS entry its magic bytes
        select (``codecs`` maps module name -> module) and return the
        FEATURE_SCHEMA fields. Anything else raises NotImplementedError: a
        decode gate should fail honest, never guess."""
        for magic, (module, decode) in IMAGE_CODECS.items():
            if payload.startswith(magic):
                img = getattr(codecs[module], decode)(payload)
                px = img["pixels"]
                return {
                    "width": img["width"],
                    "height": img["height"],
                    "n_channels": img["n_channels"],
                    "mean_luma": (sum(px) / len(px)) / 255.0,
                }
        raise NotImplementedError(
            "unrecognized image container: BMP (media_codecs.py), baseline "
            "JPEG (jpeg_py.py), PNG (png_py.py) and GIF (gif_py.py) decode "
            "offline — inject a decoder via extract_image_features(decoder=...) "
            "for other formats"
        )

    return image_features


# Built inside a function so cloudpickle pickles it by value: a module-level
# function pickles by reference, which a worker that cannot import this
# package fails to load.
_image_features = _image_features_fn()


def attach_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fixture helper: materialize an opaque binary column from text (the
    fixtures ship no real blobs). At 100 TB the binary column arrives from
    the source parquet; everything downstream is identical."""
    return df.select(
        id_col,
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.length(F.col(text_col)).alias("orig_len"),
            F.lit("utf-8-fake-image").alias("format"),
        ).alias("meta"),
    )


def binary_metadata(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Cheap JVM-side metadata over blobs (no Python): byte length + sha256
    + declared format. This is the 'inspect 100 TB without decoding it'
    path — stays in whole-stage codegen."""
    return df.select(
        id_col,
        F.octet_length(F.col(payload_col)).alias("byte_len"),
        F.sha2(F.col(payload_col), 256).alias("sha256"),
        F.col("meta.format").alias("format"),
    )


def default_image_decoder(payload: bytes) -> dict:
    """REAL decode for BMP (pure-Python codec from the public spec —
    ext/media_codecs.py, the avro_py playbook), baseline JPEG
    (ext/jpeg_py.py, ITU-T T.81), PNG (ext/png_py.py, RFC 2083 over
    stdlib zlib) and GIF (ext/gif_py.py), selected by magic bytes through
    IMAGE_CODECS. Anything else raises NotImplementedError."""
    return _image_features(
        payload,
        {m: importlib.import_module(f"{__package__}.{m}") for m in _IMAGE_MODULES},
    )


def default_audio_decoder(payload: bytes) -> dict:
    """REAL decode for PCM-16 WAV (ext/media_codecs.py); other audio formats
    raise NotImplementedError (no codec libs in this container)."""
    if payload[:4] == b"RIFF":
        from glue_etl_framework_spark.ext.media_codecs import decode_wav

        wav = decode_wav(payload)
        s = wav["samples"]
        return {
            "sample_rate": wav["sample_rate"],
            "n_channels": wav["n_channels"],
            "n_samples": len(s),
            "sample_sum": sum(s),
            "peak": max((abs(v) for v in s), default=0),
        }
    raise NotImplementedError(
        "only PCM-16 WAV decodes offline (ext/media_codecs.py); other audio "
        "formats need codec libs unavailable in this environment"
    )


def fake_image_decoder(payload: bytes) -> dict:
    """Deterministic fake decoder for tests: derives pseudo-dimensions and a
    luma statistic from the bytes themselves."""
    n = len(payload)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    mean_luma = (sum(payload[:256]) / max(min(n, 256), 1)) / 255.0
    return {"width": width, "height": height, "n_channels": 3, "mean_luma": mean_luma}


def extract_image_features(
    df: DataFrame,
    decoder: Callable[[bytes], dict] | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    partitions: int | None = None,
) -> DataFrame:
    """Decode + feature-extract via ``map_rows`` (Arrow batches); output
    schema is FEATURE_SCHEMA. ``decoder=None`` decodes BMP/JPEG/PNG/GIF
    like ``default_image_decoder`` and ships the four codecs itself, so it
    runs on workers that cannot import this package. An injected
    ``decoder(bytes) -> dict`` returns the FEATURE_SCHEMA fields other
    than the id and must be importable (or picklable by value) on the
    workers."""
    src = df.select(id_col, payload_col)
    if partitions:
        src = src.repartition(partitions)
    codecs = _IMAGE_MODULES if decoder is None else ()

    def features(doc_id, payload, *modules):
        if decoder is None:
            f = _image_features(payload, dict(zip(codecs, modules)))
        else:
            f = decoder(payload)
        return (doc_id, f["width"], f["height"], f["n_channels"], f["mean_luma"])

    return map_rows(src, features, FEATURE_SCHEMA, codecs)


def sample_frames(
    df: DataFrame,
    every_nth: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_size: int = 32,
) -> DataFrame:
    """'Video' frame sampling over a binary payload: split the blob into
    fixed-size chunks, keep every nth — pure JVM expressions (substring on
    binary), one row per sampled frame via posexplode. The real codec-backed
    variant swaps the chunker for a decode kernel; the plumbing (explode
    fan-out, frame indexing) is what this exercises."""
    n_frames = F.floor(F.octet_length(F.col(payload_col)) / frame_size).cast("int")
    idx = F.filter(
        F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
        lambda i: i % every_nth == 0,
    )
    frames = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("frame_index"),
            F.substring(F.col(payload_col), (i * frame_size + 1).cast("int"), frame_size).alias(
                "frame_bytes"
            ),
        ),
    )
    return df.select(id_col, F.explode(frames).alias("fr")).select(
        id_col,
        F.col("fr.frame_index").alias("frame_index"),
        F.col("fr.frame_bytes").alias("frame_bytes"),
    ).withColumn("frame_sha", F.sha2(F.col("frame_bytes"), 256))
