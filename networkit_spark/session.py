"""SparkSession factory with the engine's default configuration.

Defaults target correctness + the local[N] sandbox; every knob is the one
you'd also set on a real cluster (AQE, Arrow, skew-join handling). On a
1000-executor cluster only parallelism-derived values change
(shuffle.partitions ≈ 2-3× total cores), not the feature flags.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string

_FALLBACK_DRIVER_MEMORY = "4g"  # hosts without /proc/meminfo
_SIZE = re.compile(r"\s*(-?\d+)\s*([kmgtp]?)(b?)\s*", re.IGNORECASE)
_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def size_bytes(text: str, bare_unit: str = "b") -> int:
    """A Spark size string ('10485760b', '1g', '512m', '-1') in bytes.
    A number with no suffix is in `bare_unit`: Spark reads bare memory
    settings (spark.driver.memory, ...) as MiB, bare thresholds as bytes."""
    m = _SIZE.fullmatch(text)
    if m is None:
        raise ValueError(f"not a Spark size: {text!r}")
    num, unit, b = m.groups()
    if not unit and not b:
        unit = bare_unit.lower().rstrip("b")
    return int(num) << _SHIFT[unit.lower()]


def host_memory_bytes(meminfo: str = "/proc/meminfo") -> int | None:
    """The host's MemTotal in bytes, or None without /proc/meminfo."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) << 10
    except OSError:
        pass
    return None


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal, in MiB: the other half stays for the
    Python workers (every applyInPandas/mapInPandas kernel runs there) and
    the page cache. Spark reads spark.driver.memory only when the JVM
    starts, so the default has to be right at the first launch."""
    total = host_memory_bytes(meminfo)
    if total is None:
        return _FALLBACK_DRIVER_MEMORY
    return f"{max(1024, total >> 21)}m"


def get_spark(
    app_name: str = "networkit_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to max(cores, 8) locally; on a real
      cluster set ~2-3x total executor cores.
    The driver heap is $SPARK_DRIVER_MEM, else default_driver_memory().
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n_cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Iterative DataFrame programs checkpoint every superstep; keep the
        # shuffle service from retaining stale state.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _temporal(t: pa.DataType) -> bool:
    return pa.types.is_temporal(t) or any(_temporal(t.field(i).type) for i in range(t.num_fields))


def _arrow_table(rows, struct) -> pa.Table | None:
    """`rows` as an Arrow table in `struct`, or None where createDataFrame
    has to convert them: rows that are not plain tuples, values its type
    check refuses, and temporal columns (the two read naive datetimes in
    different zones)."""
    if not (isinstance(struct, StructType) and isinstance(rows, (list, tuple))
            and all(type(r) in (tuple, list) for r in rows)):
        return None
    try:
        arrow = to_arrow_schema(struct)
        if any(_temporal(f.type) for f in arrow):
            return None
        verify = _make_type_verifier(struct)
        for r in rows:
            verify(r)
        columns = list(zip(*rows)) if rows else [()] * len(arrow)
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
        )
    except (pa.ArrowException, TypeError, ValueError):
        return None


def local_frame(spark: SparkSession, rows, schema=None) -> DataFrame:
    """`spark.createDataFrame(rows, schema)`, held as a local relation.

    createDataFrame backs a frame over a Python list with a Python RDD that
    every job re-reads through a Python worker (~4x the job latency of a
    local relation on small frames); Arrow hands the rows to the JVM once.
    Rows Arrow cannot take as they are go through createDataFrame itself,
    with its conversions and errors."""
    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    if isinstance(rows, Iterator):
        rows = list(rows)
    table = _arrow_table(rows, struct)
    if table is None:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(table, struct)
