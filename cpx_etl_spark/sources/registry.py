"""Table registry over the driver-generated parquet test data.

Capability parity: the reference resolves named inputs to files via its
FileResolver (reference: src/main/FileResolver.js) and reads them with
format-specific converters (src/main/index.js:143). Here the registry
maps logical table names to parquet scans; Catalyst gets the raw scan
so filter/column pushdown happen at the source.

Every input a process reads more than once — the tables here, the
standing indexes and the shard artifact — goes through ``read_parquet``.
``spark.read.parquet`` runs a schema-inference job on every call, even
for one file; ``read_parquet`` infers a path's schema once and hands the
cached ``StructType`` to ``spark.read.schema(...)`` after that, so a
later read builds a plan and runs no job. The cached schema is dropped
and inferred again when either changes:

- the files: for a file its size and mtime; for a directory the
  (relative name, size, mtime) of every file under it that Spark reads,
  walked recursively (partitioned artifacts) and skipping the ``_``/``.``
  names Spark's file index hides;
- a session conf that changes what Spark infers (``_INFER_CONFS``).

A path ``os.stat`` cannot see — a missing path or a remote URI — is
read with plain ``spark.read.parquet``, uncached, so it fails or
succeeds exactly as before.

Rows the driver already holds — a parsed sheet, a listing, a constant
lookup frame — become a DataFrame through ``local_frame``: one Arrow
table whose plan leaf is a ``LocalRelation``, so no action on it starts
a Python worker.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

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
# (TPC-H ratios: region=5, nation=25, supplier/part grow slowly).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


# Session confs that change the schema Spark infers from the same files:
# the parquet type mappings, how partition-directory values are typed, and
# whether the footers of all files are merged.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> (signature, conf values, inferred schema). Each entry is stored
# whole and checked whole, so concurrent readers at worst infer twice.
_SCHEMAS: dict[str, tuple[tuple, tuple, StructType]] = {}


def _hidden(name: str) -> bool:
    # the names Spark's file index skips (InMemoryFileIndex)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _signature(path: str) -> tuple | None:
    """What changes when the parquet at ``path`` is rewritten, or None
    when ``os.stat`` cannot see it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            rel = os.path.relpath(root, path)
            for name in names:
                if not _hidden(name):
                    fst = os.stat(os.path.join(root, name))
                    files.append((os.path.join(rel, name), fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(files))
    except (OSError, ValueError):
        return None


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    (files, inference confs) and reused after that."""
    schema = _cached_schema(spark, path)
    return schema if schema is not None else spark.read.parquet(path).schema


def _cached_schema(spark: SparkSession, path: str) -> StructType | None:
    sig = _signature(path)
    if sig is None:
        return None
    confs = tuple(spark.conf.get(k) for k in _INFER_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == sig and hit[1] == confs:
        return hit[2]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (sig, confs, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that runs a schema-inference job only
    on the first read of a path's current files (module docstring)."""
    schema = _cached_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def local_frame(
    spark: SparkSession, rows: Sequence[tuple] | pa.Table, schema: StructType | str
) -> DataFrame:
    """Driver rows as a DataFrame whose plan leaf is a ``LocalRelation``,
    the leaf a ``VALUES`` clause gives.

    ``rows`` is a sequence of tuples, or a ``pyarrow.Table`` the caller
    already holds; ``schema`` is a ``StructType`` or a DDL string. Tuples
    are laid out in the Arrow schema Spark maps ``schema`` to and handed
    over as one Arrow table. ``spark.createDataFrame(<list>)`` would
    instead parallelize pickled rows into a ``LogicalRDD`` whose every
    action runs Python-worker tasks, and a pandas detour would turn a
    ``long`` column holding a None into float64 and lose integers above
    2^53. A naive ``datetime`` in a timestamp column is read as UTC.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        bad = [r for r in rows if len(r) != len(arrow)]
        if bad:
            raise ValueError(
                f"local_frame: row {bad[0]!r} does not have the "
                f"{len(arrow)} fields of {schema.simpleString()}"
            )
        cols = list(zip(*rows)) if rows else [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(rows, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan of table ``name`` under ``sf_dir``. Reads through
    ``read_parquet``: after a table's first load its schema is reused, so
    a later load builds a plan without running a job, until the file or
    an inference conf changes; a remote or missing path is read
    uncached."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader has no
    # type for: read nanos as long (set here at runtime so ANY session —
    # including the driver's — works) and truncate to microseconds with
    # INTEGER division; double division would lose precision past 2^53.
    # pin the session timezone so timestamp values agree with the
    # (naive-UTC) oracle engine even under a driver-supplied session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # newer corpora store TIMESTAMP(MICROS, not UTC-adjusted);
            # with the session pinned to UTC the cast is value-preserving
            # and gives every downstream op (unix_micros, watermarks) the
            # plain TIMESTAMP they expect
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
