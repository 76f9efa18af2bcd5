"""Table loading: the engine's source layer for the driver fixtures.

The reference's source layer is a paged Google Analytics Reporting API
pull that manually prunes columns (request lists only configured
dimensions/metrics) and pushes down date-range predicates into the request
body (SURVEY.md §4, [REF-UNVERIFIED]). Our equivalent is a columnar
Parquet scan where Catalyst performs the same pruning/pushdown
automatically — tests assert ``PushedFilters`` / ``ReadSchema`` on the
physical plan.

Timestamp fidelity contract (FIXTURES.md "Timestamp handling", verified):

- ``events.ts`` is parquet ``TIMESTAMP(NANOS)`` which Spark 4 refuses to
  read natively. With ``spark.sql.legacy.parquet.nanosAsLong=true`` it
  loads as int64 nanoseconds; we floor-divide to microseconds
  (``ts div 1000`` — integer division; float division loses precision at
  1.7e18 ns) and convert to ``timestamp_ntz``.
- DuckDB's view of the same file presents ``ts`` as a naive microsecond
  ``TIMESTAMP`` (ns floor-truncated) — so both engines see identical
  values, and ``timestamp_ntz`` ↔ naive-TIMESTAMP aligns the hash
  comparison (no UTC-offset rendering drift).
- The ``timestamp[ms]`` columns (``l_shipdate``, ``o_orderdate``) already
  load as ``TimestampNTZType`` in Spark 4.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

_RUNTIME_CONFS = {
    # Required to read events.parquet (TIMESTAMP(NANOS)); runtime-settable.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle fidelity: fixtures are tz-naive, DuckDB compares naive µs.
    "spark.sql.session.timeZone": "UTC",
    # Scale posture: runtime re-planning, skew splitting, coalescing.
    "spark.sql.adaptive.enabled": "true",
    # Python DataSource predicate pushdown (sources/paged.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Shuffle headroom: start AQE at 8x cores so coalescing (which can
    # only MERGE, never split) does not cap per-task shuffle volume and
    # trigger external-sort spills at scale (the x_exact_substring_dedup
    # x128 cliff, BASELINE.md round-10 scaling). Runtime-settable, so an
    # inherited session — the grading driver's, the exact case this
    # function exists for — gets the same posture as get_spark's builder.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": os.environ.get(
        "SPARK_GRAFT_INIT_PARTS",
        str(
            8
            * (int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4)
        ),
    ),
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable configs this engine requires.

    Safe to call repeatedly; ignores configs the session refuses to set at
    runtime (none of the above are static in Spark 4.1).
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static-conf guard
            pass


# (path, size, mtime_ns, nanosAsLong) -> the schema Spark inferred from
# that file's footer. Inference runs a Spark job on every read; a repeat
# load of the same file version reads with the known schema instead.
# Stale versions of a path are evicted, so the cache holds one entry per
# fixture file.
_SCHEMA_CACHE: dict = {}


def _schema_key(spark: SparkSession, path: str):
    """Cache key for a local regular file; None (no caching) otherwise."""
    try:
        st = os.stat(path)
    except OSError:  # a remote URI or a missing file: let Spark decide
        return None
    if not stat.S_ISREG(st.st_mode):  # a directory can change inside
        return None
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    return (path, st.st_size, st.st_mtime_ns, nanos)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one fixture table as a DataFrame with canonical types.

    ``events.ts`` arrives as int64 nanoseconds (see module docstring) and
    is converted to microsecond ``timestamp_ntz`` matching DuckDB's view.
    """
    ensure_session_confs(spark)
    path = f"{sf_dir}/{table}.parquet"
    key = _schema_key(spark, path)
    schema = _SCHEMA_CACHE.get(key) if key else None
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if key and schema is None:
        for k in [k for k in _SCHEMA_CACHE if k[0] == path]:
            del _SCHEMA_CACHE[k]
        _SCHEMA_CACHE[key] = df.schema
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df
