"""Pure-Python Avro object-container codec + Spark integration.

The reference engine reads and writes Avro inputs/outputs
(/root/reference/glue/glue_etl_framework.py:90, README.md:44). Spark ships
avro-core jars but NOT the ``spark-avro`` datasource module, and this
container has no Maven access — so the native ``.format("avro")`` path can
only raise an actionable error (io/readers.py). This module closes the gap
offline: a from-the-spec implementation of the Avro 1.11 **object container
file** format (magic ``Obj\\x01``, metadata map with ``avro.schema`` /
``avro.codec``, sync-marker-delimited blocks) and the Avro **binary
encoding** (zigzag varints, little-endian IEEE floats, length-prefixed
bytes/strings, index-prefixed unions, block-encoded arrays/maps) — public
specification, no Avro library involved.

Scale design: the READ path is fully distributed — ``binaryFile`` scan +
``mapInPandas`` decode, one task per container file (file-granular splits;
Avro block-level splitting needs the native datasource — on a 100 TB avro
dataset the input arrives as many files, so file granularity is the normal
parallelism unit). The WRITE path encodes per partition on the executors
(one ``part-*.avro`` file per partition, written to a shared filesystem —
the same task-writes-its-own-file shape every distributed writer uses).
Both paths are the OFFLINE FALLBACK: on a cluster with the spark-avro jar,
``get_spark(with_avro=True)`` + native ``.format("avro")`` is preferred
(block-splittable reads, JVM-side encode); ``read_avro``/``write_avro``
keep avro pipelines runnable when the jar cannot be fetched.

Supported schema surface (covers the reference's tabular use):
primitives (null/boolean/int/long/float/double/bytes/string), records,
``[null, T]`` unions (nullable columns), arrays, string-keyed maps, enums
(as strings), fixed (as bytes), and the logical types date,
timestamp-millis, timestamp-micros. Decimals and recursive schemas raise
``NotImplementedError`` — loudly, not silently wrong.
"""

from __future__ import annotations

import io
import json
import os
import struct
import sys
import uuid
import zlib
from datetime import date, datetime, timedelta, timezone
from typing import Any, Callable, Iterator

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1, tzinfo=timezone.utc)

# ---------------------------------------------------------------------------
# binary primitives (Avro spec "Binary encoding")
# ---------------------------------------------------------------------------


def _read_long(buf: io.BytesIO) -> int:
    """Zigzag-encoded variable-length long."""
    shift = 0
    accum = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        accum |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (accum >> 1) ^ -(accum & 1)


def _write_long(out: bytearray, value: int) -> None:
    zz = (value << 1) ^ (value >> 63) if value < 0 else value << 1
    zz &= (1 << 64) - 1
    while True:
        bits = zz & 0x7F
        zz >>= 7
        if zz:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _write_bytes(out: bytearray, value: bytes) -> None:
    _write_long(out, len(value))
    out.extend(value)


# ---------------------------------------------------------------------------
# schema -> decoder / encoder closures
# ---------------------------------------------------------------------------


class AvroSchemaError(NotImplementedError):
    pass


def _named_type(schema: Any) -> str:
    return schema["type"] if isinstance(schema, dict) else schema


def _make_decoder(schema: Any) -> Callable[[io.BytesIO], Any]:
    """Compile an avro schema node into a decode(buf) closure."""
    if isinstance(schema, str):
        schema = {"type": schema}
    if isinstance(schema, list):  # union
        branches = [_make_decoder(s) for s in schema]

        def dec_union(buf, _b=branches):
            idx = _read_long(buf)
            return _b[idx](buf)

        return dec_union

    typ = schema["type"]
    logical = schema.get("logicalType")
    if typ == "null":
        return lambda buf: None
    if typ == "boolean":
        return lambda buf: buf.read(1) == b"\x01"
    if typ in ("int", "long"):
        if logical == "date":
            return lambda buf: _EPOCH_DATE + timedelta(days=_read_long(buf))
        if logical == "timestamp-micros":
            return lambda buf: (
                _EPOCH_DT + timedelta(microseconds=_read_long(buf))
            ).replace(tzinfo=None)
        if logical == "timestamp-millis":
            return lambda buf: (
                _EPOCH_DT + timedelta(milliseconds=_read_long(buf))
            ).replace(tzinfo=None)
        return _read_long
    if typ == "float":
        return lambda buf: struct.unpack("<f", buf.read(4))[0]
    if typ == "double":
        return lambda buf: struct.unpack("<d", buf.read(8))[0]
    if typ == "bytes":
        if logical == "decimal":
            raise AvroSchemaError("decimal logical type not supported")
        return _read_bytes
    if typ == "string":
        return lambda buf: _read_bytes(buf).decode("utf-8")
    if typ == "record":
        fields = [(f["name"], _make_decoder(f["type"])) for f in schema["fields"]]

        def dec_record(buf, _f=fields):
            return {name: dec(buf) for name, dec in _f}

        return dec_record
    if typ == "array":
        item = _make_decoder(schema["items"])

        def dec_array(buf, _i=item):
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:  # block with byte size prefix
                    n = -n
                    _read_long(buf)
                for _ in range(n):
                    out.append(_i(buf))

        return dec_array
    if typ == "map":
        val = _make_decoder(schema["values"])

        def dec_map(buf, _v=val):
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(buf)
                for _ in range(n):
                    key = _read_bytes(buf).decode("utf-8")
                    out[key] = _v(buf)

        return dec_map
    if typ == "enum":
        symbols = schema["symbols"]
        return lambda buf, _s=symbols: _s[_read_long(buf)]
    if typ == "fixed":
        size = schema["size"]
        if logical == "decimal":
            raise AvroSchemaError("decimal logical type not supported")
        return lambda buf, _n=size: buf.read(_n)
    raise AvroSchemaError(f"unsupported avro type {typ!r}")


def _make_encoder(schema: Any) -> Callable[[bytearray, Any], None]:
    if isinstance(schema, str):
        schema = {"type": schema}
    if isinstance(schema, list):  # union — only [null, T] is produced by us
        null_idx = next(
            (i for i, s in enumerate(schema) if _named_type(s) == "null"), None
        )
        other_idx = 1 - null_idx if null_idx is not None and len(schema) == 2 else None
        if null_idx is None or other_idx is None:
            raise AvroSchemaError("only [null, T] unions are written")
        enc_other = _make_encoder(schema[other_idx])

        def enc_union(out, value, _n=null_idx, _o=other_idx, _e=enc_other):
            if value is None:
                _write_long(out, _n)
            else:
                _write_long(out, _o)
                _e(out, value)

        return enc_union

    typ = schema["type"]
    logical = schema.get("logicalType")
    if typ == "null":
        return lambda out, value: None
    if typ == "boolean":
        return lambda out, value: out.append(1 if value else 0)
    if typ in ("int", "long"):
        if logical == "date":
            return lambda out, value: _write_long(out, (value - _EPOCH_DATE).days)
        if logical == "timestamp-micros":

            def enc_ts(out, value):
                if value.tzinfo is None:
                    value = value.replace(tzinfo=timezone.utc)
                delta = value - _EPOCH_DT
                micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
                _write_long(out, micros)

            return enc_ts
        return _write_long
    if typ == "float":
        return lambda out, value: out.extend(struct.pack("<f", value))
    if typ == "double":
        return lambda out, value: out.extend(struct.pack("<d", float(value)))
    if typ == "bytes":
        return lambda out, value: _write_bytes(out, bytes(value))
    if typ == "string":
        return lambda out, value: _write_bytes(out, value.encode("utf-8"))
    if typ == "record":
        fields = [(f["name"], _make_encoder(f["type"])) for f in schema["fields"]]

        def enc_record(out, value, _f=fields):
            for name, enc in _f:
                enc(out, value[name])

        return enc_record
    if typ == "array":
        item = _make_encoder(schema["items"])

        def enc_array(out, value, _i=item):
            if value:
                _write_long(out, len(value))
                for v in value:
                    _i(out, v)
            _write_long(out, 0)

        return enc_array
    if typ == "map":
        val = _make_encoder(schema["values"])

        def enc_map(out, value, _v=val):
            if value:
                _write_long(out, len(value))
                for k, v in value.items():
                    _write_bytes(out, k.encode("utf-8"))
                    _v(out, v)
            _write_long(out, 0)

        return enc_map
    raise AvroSchemaError(f"unsupported avro type for writing: {typ!r}")


# ---------------------------------------------------------------------------
# container file read/write
# ---------------------------------------------------------------------------


def _read_header(buf: io.BytesIO) -> tuple[dict[str, bytes], bytes]:
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_long(buf)
        for _ in range(n):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    sync = buf.read(SYNC_SIZE)
    return meta, sync


def decode_container(blob: bytes) -> tuple[dict[str, Any], list[dict[str, Any]]]:
    """Decode one container file -> (parsed avro schema, records).

    Fail-loudly contract (same as the image/audio codecs): corrupt bytes
    raise ValueError; AvroSchemaError stays distinct for honest
    capability gaps (unsupported codec/type). Without the normalization
    below, corruption fuzzing showed raw UnicodeDecodeError /
    JSONDecodeError / zlib.error / KeyError / IndexError / EOFError
    escaping — which a Spark task surfaces as an inscrutable executor
    crash instead of "corrupt avro". One documented limit, inherent to
    the format: Avro containers are block-oriented with no row-count
    footer, so truncation AT a block boundary yields fewer rows with no
    error — mitigate operationally (length/checksum manifests, as the
    multimodal content-address entries do)."""
    try:
        buf = io.BytesIO(blob)
        meta, sync = _read_header(buf)
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
        codec = meta.get("avro.codec", b"null").decode("utf-8")
        if codec not in ("null", "deflate"):
            raise AvroSchemaError(f"unsupported avro codec {codec!r}")
        decode = _make_decoder(schema)
        records: list[dict[str, Any]] = []
        while True:
            head = buf.read(1)
            if not head:
                break
            buf.seek(-1, os.SEEK_CUR)
            count = _read_long(buf)
            size = _read_long(buf)
            payload = buf.read(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, -15)
            block = io.BytesIO(payload)
            for _ in range(count):
                records.append(decode(block))
            if buf.read(SYNC_SIZE) != sync:
                raise ValueError("sync marker mismatch (corrupt avro block)")
        return schema, records
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        # ValueError subclasses, so typed-correct either way — but the raw
        # message ("can't decode byte 0x9a...") hides WHAT is corrupt when
        # it surfaces from a Spark task; name the file format explicitly
        raise ValueError(f"corrupt avro container: {type(e).__name__}: {e}") from e
    except (ValueError, AvroSchemaError):
        raise  # already actionable
    except (EOFError, KeyError, IndexError, TypeError, OverflowError,
            RecursionError, zlib.error, struct.error) as e:
        # RecursionError: a hostile deeply-nested schema in the (untrusted)
        # container header blows the stack inside _make_decoder — still
        # "corrupt input", so it belongs under the fail-loudly contract.
        # MemoryError is deliberately NOT wrapped: a genuine OOM is not
        # corruption, and relabeling it would mislead the operator (and
        # building the wrapping f-string under memory pressure can itself
        # fail) — let it propagate raw (ADVICE r06).
        raise ValueError(f"corrupt avro container: {type(e).__name__}: {e}") from e


def encode_container(
    schema: dict[str, Any],
    records: list[dict[str, Any]],
    codec: str = "deflate",
    block_records: int = 4096,
) -> bytes:
    """Encode records into one container file blob."""
    if codec not in ("null", "deflate"):
        raise AvroSchemaError(f"unsupported avro codec {codec!r}")
    encode = _make_encoder(schema)
    sync = uuid.uuid4().bytes
    out = bytearray()
    out.extend(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_long(out, len(meta))
    for key, value in meta.items():
        _write_bytes(out, key.encode("utf-8"))
        _write_bytes(out, value)
    _write_long(out, 0)
    out.extend(sync)
    for start in range(0, len(records), block_records):
        chunk = records[start : start + block_records]
        body = bytearray()
        for rec in chunk:
            encode(body, rec)
        payload = bytes(body)
        if codec == "deflate":
            comp = zlib.compressobj(level=6, wbits=-15)
            payload = comp.compress(payload) + comp.flush()
        _write_long(out, len(chunk))
        _write_long(out, len(payload))
        out.extend(payload)
        out.extend(sync)
    return bytes(out)


# ---------------------------------------------------------------------------
# schema mapping avro <-> Spark
# ---------------------------------------------------------------------------


def spark_type_of(schema: Any):
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = {"type": schema}
    if isinstance(schema, list):
        non_null = [s for s in schema if _named_type(s) != "null"]
        if len(non_null) != 1:
            raise AvroSchemaError("only [null, T] unions map to Spark")
        return spark_type_of(non_null[0])
    typ = schema["type"]
    logical = schema.get("logicalType")
    if logical == "date":
        return T.DateType()
    if logical in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType()
    prim = {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
        "enum": T.StringType(),
        "fixed": T.BinaryType(),
    }
    if typ in prim:
        return prim[typ]
    if typ == "record":
        return T.StructType(
            [
                T.StructField(f["name"], spark_type_of(f["type"]), True)
                for f in schema["fields"]
            ]
        )
    if typ == "array":
        return T.ArrayType(spark_type_of(schema["items"]), True)
    if typ == "map":
        return T.MapType(T.StringType(), spark_type_of(schema["values"]), True)
    raise AvroSchemaError(f"unsupported avro type {typ!r}")


def avro_schema_of(spark_schema, name: str = "spark_row") -> dict[str, Any]:
    from pyspark.sql import types as T

    def field_type(dt, nullable: bool):
        if isinstance(dt, T.BooleanType):
            base: Any = "boolean"
        elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            base = "int"
        elif isinstance(dt, T.LongType):
            base = "long"
        elif isinstance(dt, T.FloatType):
            base = "float"
        elif isinstance(dt, T.DoubleType):
            base = "double"
        elif isinstance(dt, T.StringType):
            base = "string"
        elif isinstance(dt, T.BinaryType):
            base = "bytes"
        elif isinstance(dt, T.DateType):
            base = {"type": "int", "logicalType": "date"}
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            base = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.ArrayType):
            base = {
                "type": "array",
                "items": field_type(dt.elementType, dt.containsNull),
            }
        elif isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise AvroSchemaError("avro maps require string keys")
            base = {
                "type": "map",
                "values": field_type(dt.valueType, dt.valueContainsNull),
            }
        elif isinstance(dt, T.StructType):
            base = avro_schema_of(dt, name=f"{name}_nested")
        else:
            raise AvroSchemaError(f"unsupported Spark type {dt!r} for avro")
        return ["null", base] if nullable else base

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": field_type(f.dataType, f.nullable)}
            for f in spark_schema.fields
        ],
    }


# ---------------------------------------------------------------------------
# Spark-facing API
# ---------------------------------------------------------------------------

def read_avro(spark, path: str):
    """Distributed Avro read without the spark-avro jar.

    Driver parses ONE file header for the schema (headers are a few hundred
    bytes; container-file schemas are uniform per directory by Avro's own
    write contract), then every file decodes in parallel on the executors
    via ``binaryFile`` + ``mapInPandas`` — the driver never sees row data.
    """
    import glob as _glob

    import pandas as pd

    # imported here, not at module level: workers import this file flat
    from glue_etl_framework_spark.session import forget_zip_importers, ship_module

    if os.path.isdir(path):
        candidates = _glob.glob(os.path.join(path, "**", "*.avro"), recursive=True)
    else:
        candidates = _glob.glob(path)  # direct file path or glob pattern
    matches = sorted(p for p in candidates if os.path.isfile(p))
    if not matches:
        raise FileNotFoundError(f"no .avro files under {path!r}")
    with open(matches[0], "rb") as fh:
        head = io.BytesIO(fh.read(1 << 20))
    try:  # same fail-loudly normalization as decode_container: the sniff
        # parses untrusted header bytes on the driver, and a corrupt
        # schema blob otherwise leaks raw UnicodeDecodeError/KeyError
        meta, _ = _read_header(head)
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
        # inside the try: spark_type_of recurses over the untrusted schema
        # too, so a hostile deeply-nested header RecursionErrors here
        out_type = spark_type_of(schema)
    except (ValueError, AvroSchemaError) as e:
        if isinstance(e, (UnicodeDecodeError, json.JSONDecodeError)):
            raise ValueError(
                f"corrupt avro header in {matches[0]!r}: {type(e).__name__}: {e}"
            ) from e
        raise
    except (EOFError, KeyError, IndexError, RecursionError, struct.error) as e:
        raise ValueError(
            f"corrupt avro header in {matches[0]!r}: {type(e).__name__}: {e}"
        ) from e
    columns = [f.name for f in out_type.fields]
    ship_module(spark, sys.modules[__name__])

    # The closure must reference ONLY stdlib/pandas, plain data and
    # functions cloudpickle pickles by value (``forget_zip_importers``):
    # any reference to this module's globals would make cloudpickle
    # serialize a module pointer the executor workers cannot import
    # (driver-only sys.path). Codec functions are imported inside, from the
    # package if importable, else from the flat module ``ship_module``
    # shipped.
    def decode_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        try:
            from glue_etl_framework_spark.io.avro_py import decode_container as _dec
        except ImportError:
            from avro_py import decode_container as _dec  # shipped by ship_module

        for pdf in batches:
            forget_zip_importers()  # see ext.multimodal.map_rows
            for blob in pdf["content"]:
                _, records = _dec(bytes(blob))
                yield _pd.DataFrame.from_records(records, columns=columns)
        forget_zip_importers()

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("content")
    )
    return binary.mapInPandas(decode_files, schema=out_type)


def write_avro(df, path: str, codec: str = "deflate") -> int:
    """Distributed Avro write without the spark-avro jar: each partition
    encodes its rows and writes one ``part-*.avro`` into ``path`` (shared
    filesystem — the task-writes-its-own-file shape of every distributed
    writer; Python-side encode is the price of jar-less operation, so on a
    jar-equipped cluster prefer native ``.format("avro")``). Returns the
    number of files written."""
    schema = avro_schema_of(df.schema)
    columns = [f.name for f in df.schema.fields]
    os.makedirs(path, exist_ok=True)
    run_tag = uuid.uuid4().hex[:12]
    from glue_etl_framework_spark.session import (  # see read_avro
        forget_zip_importers,
        ship_module,
    )

    ship_module(df.sparkSession, sys.modules[__name__])

    # Stdlib-only closure — see decode_files for why no module globals.
    def write_partition(idx: int, rows) -> Iterator[str]:
        import os as _os

        try:
            from glue_etl_framework_spark.io.avro_py import encode_container as _enc
        except ImportError:
            from avro_py import encode_container as _enc  # shipped by ship_module

        records = [dict(zip(columns, row)) for row in rows]
        forget_zip_importers()  # see ext.multimodal.map_rows
        if not records:
            return
        blob = _enc(schema, records, codec=codec)
        fname = _os.path.join(path, f"part-{idx:05d}-{run_tag}.avro")
        with open(fname, "wb") as fh:
            fh.write(blob)
        yield fname

    files = df.rdd.mapPartitionsWithIndex(write_partition).collect()
    if not files:
        # Zero-row input: write one empty container from the driver so the
        # directory stays schema-readable (mirrors parquet's empty-write
        # behavior; read_avro needs at least one header to map the schema).
        fname = os.path.join(path, f"part-00000-{run_tag}.avro")
        with open(fname, "wb") as fh:
            fh.write(encode_container(schema, [], codec=codec))
        files = [fname]
    return len(files)
