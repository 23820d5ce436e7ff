"""Parquet loaders for the driver's tables (SURVEY.md §2.1 S10).

At 100 TB the scan IS the query plan: every query in this engine
projects/filters *before* any join or agg so Catalyst pushes the
predicate and the column list into the Parquet reader
(``PushedFilters`` / ``ReadSchema`` in .explain). Loaders here stay
lazy — no caching, no collect.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5, nation=25 rows; fixed-cardinality catalogs).
BROADCAST_DIMS = ("region", "nation")


def events_ts_unit(sf_dir: str) -> str:
    """Probe events.parquet's footer for the ``ts`` column's time unit.

    The driver has shipped this column both ways across rounds —
    Parquet INT64 TIMESTAMP(NANOS) (which Spark's vectorized reader
    rejects, needing a pinned-long workaround) and plain
    TIMESTAMP(MICROS) (which Spark reads natively). Hard-coding either
    silently corrupts event time when the file format flips (a 30-day
    timeline read with the wrong unit collapses to ~43 minutes), so the
    unit is read from the file itself: ONE driver-side footer read per
    (path, mtime) — no data pages touched. The cache keys on mtime
    (r5 ADVICE item 1): a process-lifetime cache keyed on sf_dir alone
    would reproduce exactly the silent time-collapse bug this probe
    fixes if the driver regenerated events.parquet in-place with a
    different unit inside a long-lived process.

    Units other than us/ns raise immediately: ``load()`` has an
    explicit reader strategy for exactly those two, and falling
    through to schema inference for, say, TIMESTAMP(MILLIS) would
    surface TIMESTAMP_NTZ on Spark 4 and fail later and less clearly.
    """
    import os

    path = f"{sf_dir}/events.parquet"
    return _events_ts_unit_cached(path, os.stat(path).st_mtime_ns)


@lru_cache(maxsize=None)
def _events_ts_unit_cached(path: str, mtime_ns: int) -> str:
    import pyarrow.parquet as pq

    t = pq.ParquetFile(path).schema_arrow.field("ts").type
    # timestamp[us]/timestamp[ns] expose .unit; a raw INT64 with no
    # logical type means driver-written epoch nanos — treat as "ns".
    unit = getattr(t, "unit", "ns")
    if unit not in ("us", "ns"):
        raise ValueError(
            f"events.parquet ts column has unsupported time unit {unit!r} "
            f"(type {t}); sources.tables.load knows how to read us and ns — "
            "add an explicit reader strategy instead of falling through "
            "to schema inference"
        )
    return unit


_EVENTS_TS_DDL = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events" and events_ts_unit(sf_dir) == "us":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false): schema inference
        # would surface TIMESTAMP_NTZ (Spark 4 default), which
        # unix_micros & friends reject and whose epoch reading depends
        # on the session timezone. Pinning TIMESTAMP (LTZ) makes the
        # reader hand back the stored epoch micros as a UTC instant —
        # the same value DuckDB's epoch_us() computes — independent of
        # spark.sql.session.timeZone.
        return spark.read.schema(_EVENTS_TS_DDL).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and events_ts_unit(sf_dir) == "ns":
        # TIMESTAMP(NANOS) path: Spark's vectorized reader rejects the
        # type, so an EXPLICIT long schema reads the raw nanos without
        # touching the session-global
        # spark.sql.legacy.parquet.nanosAsLong flag (which would
        # silently change nanosecond-timestamp semantics for every
        # later read in the session). Truncate to microseconds (same
        # floor truncation DuckDB applies reading the file), restoring
        # TimestampType for event-time semantics — the same
        # schema-pinned pattern the streaming source uses.
        from pyspark.sql import functions as F

        df = spark.read.schema(
            "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
            "value DOUBLE, props STRING"
        ).parquet(f"{sf_dir}/{name}.parquet")
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


# Partition counts spread() has actually used this process — consulted
# by plans.inspect so the shuffle budget excludes ONLY these fixture
# fan-outs, not every RoundRobinPartitioning a future query might add
# (a genuine df.repartition(n) stays inside the budget).
SPREAD_COUNTS: set[int] = set()


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition before compute-heavy per-row stages.

    Parquet splits at row-group granularity, so a small file scans as
    ONE partition — and any expensive per-row pipeline downstream
    (embedding, shingling, scoring) then runs on one core. An explicit
    repartition decouples compute parallelism from file layout; the
    shuffle moves only the scan's projected columns. At cluster scale
    this is the same knob used to spread a small-but-hot input across
    executors.

    The default count is 2×cores+1: finer-grained than one task per
    core (stragglers overlap instead of serializing) and deliberately
    DISTINCTIVE so plans.inspect can recognize spread()'s exchanges by
    count without excluding other round-robin repartitions.
    """
    if parts is None:
        parts = 2 * df.sparkSession.sparkContext.defaultParallelism + 1
    SPREAD_COUNTS.add(parts)
    return df.repartition(parts)


def local_rows(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """Driver-side Python rows (tuples, in ``schema``'s column order)
    as an Arrow-built ``LocalRelation``.

    ``spark.createDataFrame(<python list>, schema)`` pickles the rows
    into a Python RDD (``applySchemaToPythonRDD``), so every plan that
    reads them starts with a stage whose tasks run in Python workers —
    0.21 s to collect 10 question rows on a warm local[4] session vs
    0.013 s for this form, first on the critical path of every
    serving request. An Arrow
    table crosses to the JVM once and plans as ``LocalTableScan``: the
    rows are part of the plan, no worker runs, and Catalyst can fold
    projections over them at optimization time. ``schema`` is a DDL
    string or a ``StructType``; the result's schema (names, types,
    nullability) equals the Python-RDD form's."""
    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


def cluster_by_dirs(df: DataFrame, n_dirs: int, *cols: str) -> DataFrame:
    """Cluster rows by their target directory before a partitioned
    write, with an EXPLICIT partition count = the number of target
    directories (r16 opt pass, guide §2.4/§6).

    ``repartition(cols...)`` without a count takes the session shuffle
    count, and — the count being non-user-specified — AQE's coalescer
    is free to shrink it: at bench scale the few-MB pre-write shuffles
    collapsed to ONE partition, so a single task wrote every cell
    directory sequentially. Measured on the scaled IVF base snapshot
    (71 cells, 32 cores): 1.55 s with the keyless count vs 0.59 s
    with the explicit one, identical file set and checksums — and the
    single-task form can never use a second core however many exist,
    the r15 verdict's anti-scaling finding on
    q_ivf_lifecycle_roundtrip.

    Pinning the count to the DIRECTORY count keeps one file per
    directory per write (each key still hashes wholly into one
    partition) while giving the writer up to one task per directory —
    parallelism that scales with the layout's own geometry (IVF cells
    ~ sqrt(N), LSH tables×2^planes), never with a local core count.
    At 5B vectors / 70k cells each write task carries one ~sqrt(N)-row
    cell (~tens of MB) — the guide's target output-file size."""
    return df.repartition(max(1, int(n_dirs)), *cols)
