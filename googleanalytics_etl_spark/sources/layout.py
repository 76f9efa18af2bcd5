"""Data-layout management: clustered writes and small-file compaction.

At 100 TB the difference between a table that answers a selective query
in seconds and one that scans everything is *layout*, not compute:

- **Clustered writes** (``cluster_write``): range-partition on the
  cluster keys and sort within each partition before writing. Every
  parquet row group then covers a narrow min/max span of the keys, so
  engines (Spark, DuckDB, Trino, ...) skip row groups on selective
  predicates — the open-format equivalent of Delta OPTIMIZE ZORDER for
  the single-key/prefix case. The reference's post-load store keeps hits
  ordered by date for the same reason [REF-UNVERIFIED: SURVEY.md §1].
- **Compaction** (``compact_parquet``): streaming/incremental appends
  (sources/sinks.upsert_append, the foreachBatch sync) accumulate many
  small files; metadata pressure and per-file open cost dominate reads
  long before data volume does. Compaction rewrites to ~target-sized
  files with a shuffle-free ``coalesce``.

- **Buckets** (``bucket_of``, ``day_of``, ``bucket_writer``,
  ``bucket_dirs``): the one layout of every keyed incremental write. A
  row goes to a hive ``{column}=K`` directory; a write touches only the
  buckets its rows fall into and gives each exactly one file; a read of
  a row set prunes to its buckets' directories. The bucket is either a
  hash of the key (``bucket_of``, ``bucket=K``: the streaming upsert
  keys (sources/sinks.py), the CDC MERGE state and the durable
  exact-substring fold (ops/streaming.py, ops/round11.py) and the
  persisted band index of x_semdedup_incremental (ops/round9.py)) or
  the day of a watermark (``day_of``, ``wm_day=D``: the
  :class:`~googleanalytics_etl_spark.etl.SyncPipeline` target). How
  each caller merges (append-absent, keep-latest copy-on-write,
  per-epoch overwrite) stays with the caller.

All metadata goes through the Hadoop FileSystem API (``hadoop_fs`` —
works the same on file://, hdfs://, s3a://); sizing is never
row-count-driven: row counts need a scan, sizes are metadata.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the session's Hadoop
    configuration — the store the session writes to, whatever its
    scheme (a driver-local ``os.path`` probe says "absent" for a remote
    store)."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe that never reads data: a read error on an
    existing path must propagate, not pass for "absent"."""
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _tree_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FS (no data scan)."""
    fs, hpath = hadoop_fs(spark, path)
    return fs.getContentSummary(hpath).getLength()


def bucket_of(n_buckets: int, *cols: str | Column) -> Column:
    """The hash bucket of ``cols``: ``pmod(xxhash64(cols), n_buckets)``
    as int. Stored layouts name their directories by this value, so it
    must never change for an existing ``n_buckets``."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


# The directory name of the watermark-day layout (``wm_day=D``); a
# distinct name, so a ``bucket=K`` target is never read as day partitions.
WM_DAY = "wm_day"


def day_of(col: str | Column) -> Column:
    """The watermark-day bucket of ``col``: its date as days since
    1970-01-01 (int; null for a null watermark). Monotone in ``col``,
    so the newest day holds the column's max. Stored layouts name their
    ``wm_day=D`` directories by this value, so it must never change."""
    return F.unix_date(F.to_date(col))


def bucket_writer(
    df: DataFrame, n_touched: int, *outer: str, bucket: str = "bucket"
) -> DataFrameWriter:
    """``df``'s writer, partitioned by ``(*outer, bucket)`` with exactly
    one file per bucket directory; the caller sets mode and path.

    Hash partitioning sends each bucket to one task, so each touched
    bucket gains exactly one file per write, bounding small-file growth
    at any scale. ``n_touched`` (≥ 1) bounds the buckets ``df`` holds;
    capping the tasks at the cores halved a 3.4k-row sync increment's
    write on 4 cores (32 files from 4 tasks: 0.35-0.41 s, from 32
    tasks: 0.71-0.80 s; from one task without the shuffle: 0.43-0.58
    s). Each ``(*outer, bucket)`` directory still gets one file, as all
    of a bucket's rows are in one task.
    """
    parts = min(n_touched, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(parts, bucket).write.partitionBy(*outer, bucket)


# the directory value Spark writes for a null partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def bucket_dirs(
    spark: SparkSession, path: str, column: str = "bucket"
) -> dict[int | None, str]:
    """Bucket id → ``{path}/{column}=K`` for each bucket directory
    directly under ``path`` (an existing directory); the directory of
    null buckets has id None."""
    fs, hpath = hadoop_fs(spark, path)
    dirs: dict[int | None, str] = {}
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        col, _, value = name.partition("=")
        if col == column:
            bucket = None if value == _NULL_PARTITION else int(value)
            dirs[bucket] = f"{path.rstrip('/')}/{name}"
    return dirs


def cluster_write(
    df: DataFrame, path: str, cols: list[str], n_files: int
) -> None:
    """Write ``df`` as parquet range-clustered on ``cols``.

    ``repartitionByRange`` samples the key distribution (one pass over a
    sample, not the data) and assigns contiguous key ranges to the
    ``n_files`` output tasks; ``sortWithinPartitions`` orders rows inside
    each file so every row group's min/max key span is narrow. A later
    ``WHERE key = ...`` scan reads the one file (and the one row group)
    whose span contains the key — verified by row-group statistics in
    tests/test_layout.py. This is the write-side half of predicate
    pushdown: pushdown can only *skip* what layout has *separated*.
    """
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_mb: int = 128,
) -> int:
    """Rewrite a fragmented parquet directory into ~``target_mb`` files.

    Returns the number of output files. Sizing uses filesystem metadata
    only; the rewrite is ``coalesce`` (narrow — merges input splits into
    fewer tasks, no shuffle). Compaction preserves rows, not order —
    callers that need clustering compose with :func:`cluster_write`.
    """
    total = _tree_bytes(spark, src_path)
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    df.coalesce(n).write.mode("overwrite").parquet(dst_path)
    return n


def read_json_tolerant(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON ingest split into (good, quarantine) frames.

    Real feeds contain malformed records; failing the whole 100 TB job
    on one bad line (FAILFAST) or silently dropping (DROPMALFORMED) are
    both wrong for an audited pipeline. PERMISSIVE mode nulls the
    unparseable row and captures its raw text in ``_corrupt_record``;
    we route those rows to a quarantine frame the caller persists for
    replay. Spark requires the corrupt column declared in the schema and
    a cache/checkpoint barrier before filtering on it (SPARK-21610: the
    column is only populated when the row actually fails to parse during
    that scan) — the cache here is of the *raw parse output*, sized by
    the feed batch, not the table.
    """
    full_schema = schema + ", _corrupt_record string"
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    good = raw.where(raw["_corrupt_record"].isNull()).drop("_corrupt_record")
    bad = raw.where(raw["_corrupt_record"].isNotNull()).select("_corrupt_record")
    return good, bad


def morton32(x, y):
    """32-bit Morton (Z-order) code of two 16-bit values, pure Catalyst.

    Classic mask-ladder bit spreading (public-domain bit twiddling):
    each input's 16 bits spread to even positions, y shifted up one —
    interleaved bits make lexicographic order on z a space-filling curve
    over the (x, y) grid, so range predicates on EITHER dimension touch
    few contiguous z-runs. All shifts are literal, so the whole code is
    whole-stage-codegen'd; the identical ladder is expressible in ANSI
    SQL for the oracle.
    """
    from pyspark.sql import functions as F

    def spread(v):
        v = v.bitwiseAND(F.lit(0xFFFF))
        v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF))
        v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x33333333))
        v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x55555555))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))
