"""Batch table sources over the driver-generated parquet testdata.

Tables and schemas per FIXTURES.md §1 (TPC-H-ish star schema + events /
documents / embeddings). At 100 TB these would be partitioned/bucketed
tables in a metastore; the loader stays a thin seam so the path→catalog
swap is one function.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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

# Small dimension tables that are always broadcast-joinable. At 100 TB the
# fact tables (lineitem/orders/events/documents/embeddings) scale with the
# data; these stay dimension-sized.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _stamp(path: str) -> str | None:
    """Change stamp of a file: mtime in nanoseconds plus size, or None if
    it cannot be stat'ed. Any rewrite that moves the mtime changes it."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return f"{st.st_mtime_ns}-{st.st_size}"


# Parquet schema per resolved table path, with the stamp it was read at.
# No lock: a thread that loses a race stores a schema for its own stamp,
# so the worst case is one more inference job, never a stale schema.
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema (one Spark job)
    only the first time a given stamp of the file is read."""
    key = os.path.realpath(path)
    stamp = _stamp(key)  # before the read: a racing rewrite only misses
    memo = _SCHEMAS.get(key)
    if memo is not None and memo[0] == stamp:  # stored stamps are never None
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMAS[key] = (stamp, df.schema)
    return df


def cached_dir(sf_dir: str, table: str, kind: str, build) -> str:
    """Crash-safe cached materialization of a derived on-disk layout
    (file-drop streaming dirs, persisted index cells).

    The r2 advisory flagged the old ``_READY``-marker pattern: a crash
    between the parquet write and the marker left a partial dir that a
    rerun APPENDED a second full copy into, and regenerated testdata
    under the same basename silently served stale caches. Here ``build``
    writes into a private temp dir that is atomically ``os.rename``d
    into place (same tmpfs ⇒ atomic; a lost race discards the loser's
    tmp), and the cache key includes the source table's ``_stamp`` so
    new testdata can never alias an old cache."""
    import shutil
    import tempfile
    import uuid

    stamp = _stamp(table_path(sf_dir, table)) or "nosrc"
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    final = os.path.join(
        tempfile.gettempdir(), f"nibbler-{kind}-{tag}-{stamp}"
    )
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp.{uuid.uuid4().hex[:8]}"
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        # Lost a concurrent race — the winner's dir is complete.
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet batch scan (SURVEY §2.3 A1). Declarative read — Catalyst
    handles predicate pushdown / column pruning into the scan.

    ``events.ts`` has shipped both as TIMESTAMP(NANOS) (which Spark 4
    rejects outright — read via the legacy nanos-as-long conf and
    floor-truncated to microseconds, matching DuckDB's truncation) and as
    a native µs timestamp; the shim keys off the actual column type so
    either vintage of the testdata loads to the same µs-timestamp schema.

    The parquet schema is memoized per table file, keyed by its resolved
    path and stamp (mtime in ns plus size): only the first load of a file
    runs Spark's schema-inference job, later loads pass the memoized
    schema and start no job. A table rewritten in place gets a new stamp
    and is inferred afresh. For ``events`` the memo holds the raw ``ts``
    type, so the shim below still sees which vintage it reads.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # Newer testdata writes µs TIMESTAMP_NTZ; everything downstream
        # (window ranges, unix_timestamp, session windows) expects plain
        # TIMESTAMP. Session tz is UTC, so the cast is numerically a no-op.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return _read_parquet(spark, table_path(sf_dir, name))


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
