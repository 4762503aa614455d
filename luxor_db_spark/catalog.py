"""Parquet catalog: the 10 fixture tables over a scale-factor directory.

Tables (FIXTURES.md): region nation customer supplier part orders lineitem
events documents embeddings — one Parquet file each under ``{sf_dir}/``.

Every load goes through :func:`load_table`, which re-applies the
correctness-critical runtime confs (UTC timezone, AQE, Arrow) so queries are
correct even on a SparkSession the driver built itself.

Schemas are memoized per file version (:func:`parquet_schema`): the first
load of a file version reads its Parquet footer in one Spark job, and later
loads of the same version start none. Only the ``StructType`` is kept —
every load still builds a fresh relation with fresh attribute IDs.
"""

from __future__ import annotations

import os
import threading
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from luxor_db_spark.session import configure

TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change what Parquet schema inference returns for the
# same bytes; their values are part of every memo key.
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO_MAX = 256
_schema_memo: dict[tuple, StructType] = {}
_schema_memo_lock = threading.Lock()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _file_version(path: str) -> tuple | None:
    """Identity of the bytes at a local ``path``: its inode, size and
    mtime, and for a directory each visible entry's (name, size, mtime).
    Names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files) are
    not data. None when ``path`` is not a local file or directory."""
    try:
        st = os.stat(path)
        version: tuple = (st.st_ino, st.st_size, st.st_mtime_ns)
        if os.path.isdir(path):
            with os.scandir(path) as it:
                entries = []
                for e in it:
                    if e.name.startswith(("_", ".")):
                        continue
                    est = e.stat()
                    entries.append((e.name, est.st_size, est.st_mtime_ns))
            version += tuple(sorted(entries))
        return version
    except OSError:
        return None


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from the
    footer once per file version and memoized.

    The key is the absolute path, the file version (:func:`_file_version`)
    and the session values of the confs that shape inference, so a
    rewritten file or a toggled conf is inferred afresh. Paths that are not
    local files (URIs, globs) are inferred on every call. Two threads may
    race to infer the same key; both get the same, correct schema.
    """
    apath = os.path.abspath(path)
    version = _file_version(apath)
    if version is None:
        return spark.read.parquet(path).schema
    key = (
        apath,
        version,
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _schema_memo_lock:
            while len(_schema_memo) >= _SCHEMA_MEMO_MAX:
                _schema_memo.pop(next(iter(_schema_memo)))
            _schema_memo[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Lazy: the first load of a file version reads
    its Parquet footer in one Spark job; later loads start none."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and isinstance(
        df.schema["ts"].dataType, LongType
    ):
        # Older fixture generations wrote ts as timestamp[ns], which the
        # nanosAsLong conf surfaces as raw nanos (LongType); truncate to µs
        # exactly like DuckDB's ns→µs read of the same file. Current
        # fixtures write timestamp[us] directly (TIMESTAMP_NTZ) — no
        # conversion needed. Schema-sniffing the footer keeps both
        # generations loadable.
        from pyspark.sql import functions as F

        # Integer `div` (not `/`): ns-since-epoch ≈ 1.7e18 exceeds double's
        # 2^53 exact-integer range, so float division would corrupt the µs.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> SimpleNamespace:
    """Load several tables at once: ``t = tables(spark, sf, 'orders', ...)``."""
    wanted = names or TABLES
    return SimpleNamespace(**{n: load_table(spark, sf_dir, n) for n in wanted})


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views (used by SQL-entry queries, e.g. GROUPING SETS)."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
