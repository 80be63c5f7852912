"""SparkSession construction with config passthrough.

Maps the reference's ``job.spark_config`` handling
(/root/reference/glue/glue_etl_framework.py:393-401): a list of one-entry
dicts applied to SparkConf before context creation. Here it is a plain dict
applied via ``SparkSession.builder.config``.

Defaults are chosen for the 100 TB design point (AQE on, skew-join handling,
dynamic partition overwrite for incremental refresh) while remaining correct
on ``local[N]``.
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping
from types import ModuleType

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # AQE: runtime shuffle-partition coalescing + skew-join splitting — the
    # primary answer to skew at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (EXT operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock semantics; matches the DuckDB oracle (naive ts).
    "spark.sql.session.timeZone": "UTC",
    # refresh=incremental on partitioned tables: only rewrite touched
    # partitions (UPSERT-by-partition, README.md:68 done honestly).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Quieter local runs.
    "spark.ui.showConsoleProgress": "false",
}


def default_master() -> str:
    """local[N] from $SPARK_GRAFT_CPUS (driver contract), else local[*]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def avro_package() -> str:
    """Maven coordinate of the spark-avro datasource matching this pyspark
    build (the reference reads/writes avro, README.md:44; Spark does not
    bundle the datasource — only avro-core). Scala 2.13 is the only binary
    Spark 4 ships."""
    import pyspark

    return f"org.apache.spark:spark-avro_2.13:{pyspark.__version__}"


def assemble_conf(
    shuffle_partitions: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
    with_avro: bool = False,
) -> dict[str, str]:
    """Final session conf: defaults < avro wiring < extra_conf (user wins)."""
    conf = dict(_DEFAULTS)
    # local-mode Spark defaults to a 1 GiB driver heap; with local[32] all
    # 32 task threads share it and anything past toy scale dies in GC.
    # Size the single-JVM heap for the box (overridable; ignored when a
    # session already exists or on a real cluster where executors own it).
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "16g")
    )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if with_avro:
        pkgs = conf.get("spark.jars.packages", "")
        conf["spark.jars.packages"] = f"{pkgs},{avro_package()}" if pkgs else avro_package()
    if extra_conf:
        conf.update({str(k): str(v) for k, v in extra_conf.items()})
    return conf


# Empirical per-task memory floor for PAIR-EMITTING aggregates (group-by
# over an exploded (doc_a, doc_b) candidate-pair stream): the r9 100x
# ngram-Jaccard probe OOM'd (UNABLE_TO_ACQUIRE_MEMORY) at 16 GiB / 32 cores
# = 0.5 GiB/core — 32 concurrent partial-aggregation buffers starved the
# unified pool before spill could engage — and completed cleanly at 2 GiB/
# core (SCALING.md, sixth probe). Below-floor runs are not wrong, just at
# OOM risk once the pair stream outgrows toy scale.
PAIR_EMITTER_FLOOR_GIB_PER_CORE = 2.0

_MEM_UNIT_GIB = {
    "k": 1 / 1024**2,
    "m": 1 / 1024,
    "g": 1.0,
    "t": 1024.0,
    "p": 1024.0**2,
}


def parse_memory_gib(mem: str) -> float:
    """JVM memory string -> GiB, accepting every suffix Spark's JavaUtils
    does: bare bytes, 'b', and k/m/g/t/p with an optional trailing 'b'
    ('16g', '16gb', '65536m', '1024mb', '2t', '1tb')."""
    s = mem.strip().lower()
    if s.endswith("b"):
        s = s[:-1]  # '16gb' -> '16g'; plain byte count '1073741824b' -> digits
    if not s:
        raise ValueError(f"not a memory size: {mem!r}")
    if s[-1] in _MEM_UNIT_GIB:
        if not s[:-1]:
            raise ValueError(f"not a memory size: {mem!r}")
        return float(s[:-1]) * _MEM_UNIT_GIB[s[-1]]
    return float(s) / 1024**3


def local_core_count(master: str) -> int | None:
    """Task-slot count of a local[N] master; None for cluster masters
    (executors own their memory there — the driver-heap floor is inert)."""
    if master == "local":
        return 1
    m = re.fullmatch(r"local\[(\*|\d+)(,\d+)?\]", master)
    if not m:
        return None
    g = m.group(1)
    return (os.cpu_count() or 1) if g == "*" else int(g)


def pair_emitter_memory_warning(
    master: str, driver_memory: str, query_name: str
) -> str | None:
    """Return a warning string when a pair-emitting query is about to run
    on a local[N] JVM whose heap/core ratio is below
    PAIR_EMITTER_FLOOR_GIB_PER_CORE; None when the floor holds or the
    master is a cluster (mechanical form of the SCALING.md sixth-probe
    finding — VERDICT r09 item 7)."""
    cores = local_core_count(master)
    if cores is None:
        return None
    try:
        gib = parse_memory_gib(driver_memory)
    except ValueError:
        # Advisory path: an unparseable memory string must never abort the
        # caller's run (ADVICE r10 — '16gb' used to crash tools_scale_probe).
        return None
    per_core = gib / max(cores, 1)
    if per_core >= PAIR_EMITTER_FLOOR_GIB_PER_CORE:
        return None
    return (
        f"pair-emitting query {query_name!r} on {master} with "
        f"{gib:.1f} GiB driver heap = {per_core:.2f} GiB/core, below the "
        f"{PAIR_EMITTER_FLOOR_GIB_PER_CORE} GiB/core floor for pair-emitting "
        f"aggregates (SCALING.md sixth probe: 100x run OOM'd at 0.5 GiB/core, "
        f"completed at 2 GiB/core). Raise SPARK_GRAFT_DRIVER_MEMORY or lower "
        f"SPARK_GRAFT_CPUS for beyond-toy-scale inputs."
    )


def warn_if_below_pair_emitter_floor(spark: SparkSession, query_name: str) -> str | None:
    """Emit (and return) the floor warning for a live session, once per
    query name per process. Reads the session's actual master and driver
    memory, so it reflects what the JVM really got."""
    import warnings

    master = spark.conf.get("spark.master", "")
    mem = spark.conf.get("spark.driver.memory", "1g")
    msg = pair_emitter_memory_warning(master, mem, query_name)
    if msg is not None:
        # UserWarning: shown by default warning filters (ResourceWarning is
        # silenced by default, so callers other than the probe tool never
        # saw the advisory — ADVICE r10).
        warnings.warn(msg, UserWarning, stacklevel=2)
    return msg


def get_spark(
    app_name: str = "glue-etl-framework-spark",
    master: str | None = None,
    extra_conf: Mapping[str, str] | None = None,
    shuffle_partitions: int | None = None,
    with_avro: bool = False,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``extra_conf`` is the user-facing equivalent of the reference's
    ``job.spark_config`` passthrough — arbitrary Spark conf keys, applied
    last so they win over defaults.

    ``with_avro=True`` adds the spark-avro datasource to
    ``spark.jars.packages`` (resolved from Maven at session start — needs
    network or a populated ivy cache). Must be set on the FIRST session of
    the JVM: ``spark.jars.packages`` is a context-creation conf, so
    getOrCreate on an already-running session cannot add it."""
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(default_master())
    for k, v in assemble_conf(shuffle_partitions, extra_conf, with_avro).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (applicationId, path) pairs already shipped. Keyed by application, not
# id(sc): a stopped context's id can be reused by the next one.
_SHIPPED: set[tuple[str, str]] = set()


def ship_module(spark: SparkSession, module: ModuleType) -> None:
    """Ship ``module``'s source file to every executor, once per
    SparkContext and path.

    A vanilla session may have this package on the DRIVER's sys.path only:
    executor Python workers spawn with their own path and cannot import
    ``glue_etl_framework_spark``. They can import a shipped file flat, by
    its bare name, so a kernel closure imports its helpers lazily — from
    the package when importable, else from the flat module this call ships
    (``ext.multimodal.map_rows`` and the ``io.avro_py`` closures)."""
    sc = spark.sparkContext
    path = os.path.abspath(module.__file__)
    key = (sc.applicationId, path)
    if key in _SHIPPED:
        return
    sc.addPyFile(path)
    _SHIPPED.add(key)


def _zip_importer_pruner():
    def forget_zip_importers() -> None:
        """Drop the ``zipimport.zipimporter`` entries from
        ``sys.path_importer_cache``. A Python worker calls
        ``importlib.invalidate_caches()`` at the start of every task, and on
        CPython 3.11/3.12 each cached zipimporter then re-parses its whole
        archive (pyspark.zip, the py4j zip, the spark-core jar and one entry
        per imported subpackage: ~0.2 s a task on a 4-vCPU VM); 3.13 made
        that lazy. A later import from an archive rebuilds its entry from
        ``zipimport``'s directory cache without re-reading the file."""
        import sys
        import zipimport

        cache = sys.path_importer_cache
        for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
            del cache[path]

    return forget_zip_importers


# Built inside a function so cloudpickle pickles it by value into kernel
# closures: a worker that cannot import this package could not load a
# by-reference function.
forget_zip_importers = _zip_importer_pruner()


# Spill headroom floor for pair-emitting aggregates: the r11 eleventh
# probe's 100x simhash run filled the box's 252 GB disk with transient
# shuffle spill (java.io.IOException: No space left on device) — for a
# quadratic-output emitter, DISK is the wall that arrives after the memory
# floor is satisfied. Local-mode spill lands under java.io.tmpdir
# (spark.local.dir); at cluster scale the same number is per-executor
# scratch. The floor is advisory, like the memory floor above.
PAIR_EMITTER_MIN_FREE_DISK_GIB = 32.0


def disk_headroom_warning(
    query_name: str, path: str = "/tmp", min_free_gib: float = PAIR_EMITTER_MIN_FREE_DISK_GIB
) -> str | None:
    """Return a warning string when the spill directory's free space is
    below the advisory floor; None when headroom holds or the path can't
    be statted (advisory paths never abort a run)."""
    import shutil

    try:
        free_gib = shutil.disk_usage(path).free / 1024**3
    except OSError:
        return None
    if free_gib >= min_free_gib:
        return None
    return (
        f"pair-emitting query {query_name!r}: only {free_gib:.1f} GiB free "
        f"under {path} (advisory floor {min_free_gib:.0f} GiB). Shuffle "
        f"spill from a pair-emitting aggregate filled this box's disk at "
        f"100x volume (SCALING.md eleventh probe) — free space or point "
        f"spark.local.dir at a larger volume before beyond-toy-scale runs."
    )


def warn_if_low_disk(spark: SparkSession, query_name: str) -> str | None:
    """Emit (and return) the disk-headroom warning for a live session,
    probing the session's actual spill directory in Spark's own order:
    ``SPARK_LOCAL_DIRS`` (which overrides the conf), then
    ``spark.local.dir``, then /tmp. Only the first listed directory is
    probed."""
    import warnings

    path = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or spark.conf.get("spark.local.dir", None)
        or "/tmp"
    )
    msg = disk_headroom_warning(query_name, path.split(",")[0])
    if msg is not None:
        warnings.warn(msg, UserWarning, stacklevel=2)
    return msg
